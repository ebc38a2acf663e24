"""Self-test of the benchmark on tiny generated inputs (the ``tiny`` sizes
of ``gen.FIXED_SIZES`` and 2,000 raw events). Run from the root of a
checkout:

    python3 perfbench/selftest.py

It checks that
- every metric named in BENCHMARK.json is emitted, with its unit;
- a wrong oracle fingerprint is counted as a failed operation;
- the per-layer counts repeat exactly across two traced runs.
Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from make_fingerprints import make  # noqa: E402

EXACT_COUNTS = ["queries.build_jobs", "spark.exec.jobs", "plans.pipeline.jobs",
                "sources.writers.files_written", "streaming.gold.batches"]


def bench_run(workload: str, trace: int, fingerprints: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", "--fingerprints", fingerprints]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"selftest: {' '.join(cmd[1:])} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    os.makedirs(work, exist_ok=True)
    good = os.path.join(work, "fingerprints.json")
    bad = os.path.join(work, "fingerprints_wrong.json")
    fps = make("tiny")
    with open(good, "w") as f:
        json.dump(fps, f)
    fps["queries"]["dedup_groups"]["hash"] = "0" * 32
    with open(bad, "w") as f:
        json.dump(fps, f)

    problems = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what)
        if not cond:
            problems.append(what)

    for wl in spec["workloads"]:
        name = wl["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            runs = [bench_run(name, trace, good) for _ in range(1 + trace)]
            for out in runs:
                expect(out["correct"] and out["failed"] == 0 and out["attempted"] > 0,
                       f"{name} trace={trace}: every output correct")
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                want = {m["name"]: m["unit"] for m in spec[key]}
                expect(got == want, f"{name} trace={trace}: every {key} metric with its unit")
            if trace:
                a, b = (r["metrics"] for r in runs)
                for c in EXACT_COUNTS:
                    expect(a[c]["value"] == b[c]["value"],
                           f"{name}: {c} repeats ({a[c]['value']} vs {b[c]['value']})")
    out = bench_run("llm_mix", 0, bad)
    expect(out["failed"] >= 1 and not out["correct"],
           f"llm_mix: a wrong fingerprint is counted as failed ({out['failed']}/{out['attempted']})")
    shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
