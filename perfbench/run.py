"""perfbench: the repository's benchmark of record.

Run from the root of a checkout:

    python3 perfbench/run.py --workload llm_mix --seed 1 --seconds 20 --trace 0

One run is one process, one closed-loop client and one Spark session at
``local[<cores>]``. It generates the workload's inputs from the seed, sets
up (a fresh JVM and session, then one untimed warm-up round), then times a
fixed number of operations (the workload's ``TIMED_OPS``), and keeps
running rounds, checked but not measured, until ``--seconds`` have passed.
Every operation's output is checked. A traced run then runs the workload's
probe. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A fuller record (stamps, samples) and, when tracing, the spans are written
under ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "opensea_datapipeline_spark"

DRIVER_MEMORY = "2g"


def effective_cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One run: its work directory, Spark session, tracer and layer sums."""

    def __init__(self, workload: str, seed: int, trace: bool, scale: str,
                 fingerprints_path: str):
        from spans import Tracer

        self.seed = seed
        self.scale = scale
        self.fingerprints_path = fingerprints_path
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time())}"
        self.work = os.path.join(ROOT, ".perfbench_work", self.run_id)
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.tracer = Tracer(self.run_id, trace)
        self.sums: dict[str, float] = defaultdict(float)
        self.ops: list[dict] = []  # per-operation layer split, traced runs only
        self.spark = None
        self.cores = int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(effective_cores())))
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, self.out_dir):
            os.makedirs(d, exist_ok=True)
        # everything the program and Spark write stays in the work dir
        os.environ["TMPDIR"] = tmp
        # every JVM (the launcher and the driver) keeps its temp files there
        # too, and writes no perf-data file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["PYSPARK_PYTHON"] = sys.executable
        import tempfile

        tempfile.tempdir = tmp

    def add(self, metric: str, value: float) -> None:
        self.sums[metric] += value

    def add_spark(self, ids0: tuple[int, int], ids1: tuple[int, int]) -> None:
        self.add("spark.exec.jobs", ids1[0] - ids0[0])
        self.add("spark.exec.stages", ids1[1] - ids0[1])
        for key, v in self.tracer.stage_totals(ids0[1], ids1[1]).items():
            layer = "sources.readers" if key == "input_bytes" else "spark.exec"
            self.add(f"{layer}.{key}", v)

    def start_session(self) -> float:
        from opensea_datapipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            freeze_gc=True,
            extra_configs={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        wall = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        return wall

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM plus this Python driver."""
        pids = ["self"]
        gateway = self.spark.sparkContext._gateway
        if getattr(gateway, "proc", None) is not None:
            pids.append(str(gateway.proc.pid))
        kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f
                           if line.startswith("VmHWM:"))
        return kb / 1024

    def close(self) -> None:
        """Stop Spark and its JVM, wait for the JVM to exit, drop the work dir."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def run(args) -> dict:
    from workloads import WORKLOADS

    bench = Bench(args.workload, args.seed, bool(args.trace), args.scale,
                  args.fingerprints)
    tr = bench.tracer
    wl = WORKLOADS[args.workload](bench)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "run_id": bench.run_id,
        "python": platform.python_version(), "load_1m_start": os.getloadavg()[0],
    }
    try:
        with tr.span("run"):
            t0 = time.perf_counter()
            with tr.span("inputs"):
                record["inputs"] = wl.prepare()
            record["input_gen_s"] = time.perf_counter() - t0
            with tr.span("setup"):
                with tr.span("session.get_spark"):
                    get_spark_s = bench.start_session()
                t1 = time.perf_counter()
                with tr.span("session.warmup"):
                    r = wl.round(random.Random(args.seed))
                warmup_s = time.perf_counter() - t1
            attempted, failed = r.attempted, r.failed
            bench.sums.clear()
            bench.ops.clear()
            rdds_start = bench.persisted_rdds()
            rng = random.Random(args.seed)
            # The metrics cover the first TIMED_OPS operations, so that every
            # run compares the same calls however fast they are; further
            # rounds only fill --seconds and are checked, not measured.
            samples, busy, timed_wall, tried, extra = [], 0.0, 0.0, 0, 0
            t0 = time.perf_counter()
            with tr.span("timed"):
                while tried < wl.TIMED_OPS:
                    r = wl.round(rng)
                    tried += r.attempted
                    samples += r.samples
                    busy += r.wall
                    attempted += r.attempted
                    failed += r.failed
                timed_wall = time.perf_counter() - t0
                sums = dict(bench.sums)
            with tr.span("fill"):
                while time.perf_counter() - t0 < args.seconds:
                    r = wl.round(rng)
                    extra += r.attempted
                    attempted += r.attempted
                    failed += r.failed
            rdds_end = bench.persisted_rdds()
            probe = {}
            if args.trace:
                with tr.span("probe"):
                    r, probe = wl.probe()
                attempted += r.attempted
                failed += r.failed
            sc = bench.spark.sparkContext
            record.update({
                "spark": bench.spark.version,
                "default_parallelism": sc.defaultParallelism,
                "spark_graft_cpus": bench.cores,
                "get_spark_s": get_spark_s, "warmup_s": warmup_s,
                "samples": samples, "timed_wall_s": timed_wall,
                "unmeasured_ops": extra,
                "persisted_rdds": [rdds_start, rdds_end],
            })
            rss = bench.peak_rss_mb()
    finally:
        bench.close()
    record["load_1m_end"] = os.getloadavg()[0]
    if not samples:
        raise RuntimeError("no operation completed")

    if args.trace:
        ops = len(samples)
        metrics = {
            "session.get_spark_s": (get_spark_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "trace.op_p50_s": (statistics.median(samples), "s"),
            "cache.persisted_rdds_start": (rdds_start, "count"),
            "cache.persisted_rdds_end": (rdds_end, "count"),
            "process.peak_rss_mb": (rss, "MB"),
        }
        for name, unit in PER_OP_METRICS.items():
            metrics[name] = (sums.get(name, 0.0) / ops, unit)
        # shares of the timed operations' wall spent in one layer
        for name, part in SHARES.items():
            metrics[name] = (100 * sums.get(part, 0.0) / busy, "%")
        inp = sums.get("sources.writers.input_bytes", 0.0)
        metrics["sources.writers.write_amp"] = (
            sums.get("sources.writers.bytes_written", 0.0) / inp if inp else 0.0,
            "ratio")
        # layers reached only by the probe; 0 where the workload has none
        for name, unit in PROBE_METRICS.items():
            metrics[name] = (probe.get(name, 0.0), unit)
        tr.write(os.path.join(bench.out_dir, f"spans-{bench.run_id}.jsonl"))
    else:
        metrics = {
            "setup_s": (get_spark_s + warmup_s, "s"),
            "op_p50_s": (statistics.median(samples), "s"),
            "ops_per_s": (len(samples) / timed_wall, "1/s"),
        }
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record["ops"] = bench.ops
    record["result"] = out
    with open(os.path.join(bench.out_dir, f"record-{bench.run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return out


# Per-layer sums reported per timed operation.
PER_OP_METRICS = {
    "spark.exec.jobs": "count",
    "spark.exec.stages": "count",
    "spark.exec.tasks": "count",
    "spark.exec.executor_run_s": "s",
    "spark.exec.executor_cpu_s": "s",
    "spark.exec.jvm_gc_s": "s",
    "spark.exec.shuffle_read_bytes": "B",
    "spark.exec.shuffle_write_bytes": "B",
    "spark.exec.spill_bytes": "B",
    "sources.readers.input_bytes": "B",
    "queries.build_jobs": "count",
    "plans.pipeline.jobs": "count",
    "sources.writers.files_written": "count",
    "sources.writers.bytes_written": "B",
}
SHARES = {
    "queries.build_share": "queries.build_s",
    "spark.plan.plan_share": "spark.plan.plan_s",
    "operators.text.build_share": "operators.text.build_s",
    "operators.text.exec_share": "operators.text.exec_s",
    "operators.dedup.build_share": "operators.dedup.build_s",
    "operators.dedup.exec_share": "operators.dedup.exec_s",
    "operators.graph.build_share": "operators.graph.build_s",
    "operators.graph.exec_share": "operators.graph.exec_s",
    "plans.pipeline.validate_clean_share": "plans.pipeline.validate_clean_s",
    "plans.pipeline.plan_aggregates_share": "plans.pipeline.plan_aggregates_s",
    "plans.pipeline.write_share": "plans.pipeline.write_s",
}
PROBE_METRICS = {
    **{f"operators.{m}.{k}": "s" for m in ("aggregates", "joins", "windows", "similarity")
       for k in ("build_s", "exec_s")},
    "streaming.gold.drain_s": "s",
    "streaming.gold.trigger_s": "s",
    "streaming.gold.add_batch_s": "s",
    "streaming.gold.commit_s": "s",
    "streaming.gold.plan_s": "s",
    "streaming.gold.source_s": "s",
    "streaming.gold.batches": "count",
    "streaming.gold.jobs_per_batch": "count",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's inputs")
    ap.add_argument("--fingerprints",
                    help="oracle fingerprints of the query results "
                         "(default: perfbench/fingerprints.json)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
