"""The benchmark's workloads. Each one generates its inputs from the seed,
then runs rounds of operations through the package's public entry points
and checks every operation's output.

A round is the unit the harness repeats: a seeded permutation of the query
list (``llm_mix``) or one pipeline call (``etl_core``). ``Round.samples``
holds the wall time of each timed operation, ``Round.wall`` their sum. An
operation that raises or returns a wrong result is counted as failed; it
never stops the run. A workload's ``probe`` runs once, in traced runs
only, after the timed rounds: it measures layers the timed operations do
not reach.
"""

from __future__ import annotations

import decimal
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


@dataclass
class Round:
    samples: list[float] = field(default_factory=list)
    wall: float = 0.0
    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def _report(what: str) -> None:
    print(f"perfbench: {what} failed", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def _files_and_bytes(root: str) -> tuple[int, int]:
    """Data files (not hidden, not ``_``-prefixed markers) under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(os.path.join(dp, n)).num_rows
               for dp, _, names in os.walk(path)
               for n in names if n.endswith(".parquet"))


def fingerprint(columns: list[str], rows) -> str:
    """``tests.oracle_harness.value_hash`` over native Python cells, so a
    Spark ``collect()`` and a DuckDB ``fetchall()`` hash alike (decimals
    compared as floats)."""
    import pandas as pd

    from tests.oracle_harness import value_hash

    cells = [tuple(float(v) if isinstance(v, decimal.Decimal) else v for v in r)
             for r in rows]
    return value_hash(pd.DataFrame(cells, columns=list(columns), dtype=object))


def run_query(bench, sf_dir: str, name: str, expected: dict, out: Round) -> dict | None:
    """One query call, from ``QUERIES[name](...)`` through ``collect()``,
    checked against its oracle fingerprint. Returns its wall time and, in
    traced runs, its layer split; None when it raised."""
    from opensea_datapipeline_spark.queries import QUERIES

    tr = bench.tracer
    try:
        ids0 = tr.ids() if tr.enabled else None
        with tr.span(f"queries.{name}"):
            t0 = time.perf_counter()
            with tr.span("queries.build"):
                df = QUERIES[name](bench.spark, sf_dir)
            t1 = t1p = t2 = time.perf_counter()
            if tr.enabled:
                ids1 = tr.ids()
                t1p = time.perf_counter()
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
            with tr.span("spark.exec"):
                rows = df.collect()
            t3 = time.perf_counter()
        exp = expected.get(name, {})
        ok = (sorted(df.columns) == exp.get("columns")
              and len(rows) == exp.get("rows")
              and fingerprint(df.columns, rows) == exp.get("hash"))
    except Exception:
        _report(name)
        out.record(False)
        return None
    if not ok:
        print(f"perfbench: {name} output differs from the oracle", file=sys.stderr)
    out.record(ok)
    split = {"op": name, "wall_s": t3 - t0}
    if tr.enabled:
        ids2 = tr.ids()
        split.update(build_s=t1 - t0, plan_s=t2 - t1p, exec_s=t3 - t2,
                     build_jobs=ids1[0] - ids0[0], jobs=ids2[0] - ids0[0],
                     ids=(ids0, ids2))
    return split


class LlmMix:
    """Build-bound LLM-pipeline queries over a fixed 5,000-document corpus."""

    name = "llm_mix"
    QUERIES = [
        "llm_corpus_pipeline", "bpe_train_merges", "bpe_encode_documents",
        "bpe_encode_from_artifact", "dedup_groups", "label_prop_communities",
    ]
    # operator module each query spends its build in
    MODULE = {
        "llm_corpus_pipeline": "text", "bpe_train_merges": "text",
        "bpe_encode_documents": "text", "bpe_encode_from_artifact": "text",
        "dedup_groups": "dedup", "label_prop_communities": "graph",
    }
    TABLES = ["documents"]
    # timed operations per run: one round, every query once
    TIMED_OPS = len(QUERIES)

    def __init__(self, bench):
        self.bench = bench

    def prepare(self) -> dict:
        with open(self.bench.fingerprints_path or FINGERPRINTS) as f:
            fps = json.load(f)
        self.expected = fps["queries"]
        self.sf_dir = os.path.join(self.bench.work, "tables")
        info = gen.write_fixed(self.sf_dir, self.TABLES, self.bench.scale)
        check_tables(info, fps)
        return info

    def round(self, rng) -> Round:
        b = self.bench
        out = Round()
        order = list(self.QUERIES)
        rng.shuffle(order)
        for name in order:
            split = run_query(b, self.sf_dir, name, self.expected, out)
            if split is None:
                continue
            out.samples.append(split["wall_s"])
            out.wall += split["wall_s"]
            if b.tracer.enabled:
                m = self.MODULE[name]
                b.add("queries.build_s", split["build_s"])
                b.add("queries.build_jobs", split["build_jobs"])
                b.add("spark.plan.plan_s", split["plan_s"])
                b.add(f"operators.{m}.build_s", split["build_s"])
                b.add(f"operators.{m}.exec_s", split["plan_s"] + split["exec_s"])
                b.add_spark(*split.pop("ids"))
                b.ops.append(split)
        return out

    def probe(self) -> tuple[Round, dict]:
        return Round(), {}


def check_tables(info: dict, fps: dict) -> None:
    """Warn when a generated table is not the one the fingerprints were made
    from; its queries then fail their checks."""
    for name, t in info.items():
        if t["content_md5"] != fps["tables_md5"].get(name):
            print(f"perfbench: generated {name} differs from the one the "
                  "fingerprints were made from", file=sys.stderr)


# The gold table's distinct users are an HLL estimate (lgConfigK 12, relative
# standard error 1.04 / 2**6 = 1.6%). The merge unions one sketch per
# micro-batch, and the estimate of a union differs from that of a single-pass
# sketch over the same rows, so it is checked against the exact distinct
# count within five standard errors, not against batch_gold_summary's
# estimate.
HLL_TOLERANCE = 5 * 1.04 / 2 ** 6


class EtlCore:
    """The core pipeline over seeded raw events in 32 parquet files, written
    to a fresh output directory on every call. Traced runs then probe the
    layers the pipeline does not reach: one analytics query per operator
    module and a streaming drain of a small backlog."""

    name = "etl_core"
    ROWS = 100_000
    FILES = 32
    # timed operations per run: two pipeline calls
    TIMED_OPS = 2
    # analytics query per operator module; each runs twice, the second
    # (warm) call is reported. The windows module is probed with lead_gap,
    # not sessionization: sessionize measures gaps in whole seconds while
    # its oracle uses fractional ones, so on the full events table it finds
    # one session fewer than the oracle (see README.md).
    PROBE_QUERIES = {"aggregates": "daily_stats", "joins": "peer_window_1h",
                     "windows": "lead_gap", "similarity": "knn_topk"}
    PROBE_TABLES = ["events", "embeddings"]
    BACKLOG_FILES = 5
    BACKLOG_ROWS = (1_000, 3_000)

    def __init__(self, bench):
        self.bench = bench
        self.rows = self.ROWS if bench.scale == "full" else 2_000
        self.calls = 0

    def prepare(self) -> dict:
        b = self.bench
        table = gen.raw_events(b.seed, self.rows)
        self.raw_dir = os.path.join(b.work, "raw_events")
        info = {"raw_events": gen.write_files(table, self.raw_dir, self.FILES)}
        self.input_bytes = info["raw_events"]["bytes"]
        day = pc.cast(table["ts"], "int64").to_numpy() // gen.DAY_US
        users = table["user_id"].to_numpy()
        types = pc.index_in(table["event_type"], value_set=pa.array(gen.EVENT_TYPES))
        # the cleaner keeps one row per (user, type, day); the generator
        # emits no invalid rows, so nothing else is dropped
        _, counts = np.unique(np.stack([users, day, types.to_numpy()]), axis=1,
                              return_counts=True)
        self.expected = {
            "rows_after_clean": int(counts.size),
            "cleaned_events": int(counts.size),
            "daily_stats": int(np.unique(day).size),
            "entity_stats": int(np.unique(users).size),
            "collection_summary": len(gen.EVENT_TYPES),
            "duplicate_report": int((counts > 1).sum()),
        }
        if b.tracer.enabled:
            with open(b.fingerprints_path or FINGERPRINTS) as f:
                fps = json.load(f)
            self.probe_expected = fps["queries"]
            self.probe_dir = os.path.join(b.work, "tables")
            probe = gen.write_fixed(self.probe_dir, self.PROBE_TABLES, b.scale)
            check_tables(probe, fps)
            info.update(probe)
            self.backlog_dir = os.path.join(b.work, "backlog")
            rows = self.BACKLOG_ROWS if b.scale == "full" else (50, 150)
            info["backlog"] = gen.write_backlog(
                table, self.backlog_dir, np.random.default_rng([b.seed, 1]),
                self.BACKLOG_FILES, rows)
        return info

    def round(self, rng) -> Round:
        from opensea_datapipeline_spark.plans.pipeline import run_core_pipeline

        b, tr = self.bench, self.bench.tracer
        out = Round()
        self.calls += 1
        out_dir = os.path.join(b.work, f"etl_out{self.calls}")
        result = None
        try:
            ids0 = tr.ids() if tr.enabled else None
            with tr.span("plans.pipeline.run_core_pipeline"):
                t0 = time.perf_counter()
                events = b.spark.read.parquet(self.raw_dir)
                result = run_core_pipeline(b.spark, events, output_dir=out_dir)
                wall = time.perf_counter() - t0
            ok = self.check(result, out_dir)
        except Exception:
            _report("run_core_pipeline")
            out.record(False)
            shutil.rmtree(out_dir, ignore_errors=True)
            return out
        finally:
            if result is not None:
                result.outputs["cleaned_events"].unpersist()
        out.record(ok)
        out.samples.append(wall)
        out.wall = wall
        if tr.enabled:
            files, size = _files_and_bytes(out_dir)
            ids1 = tr.ids()
            b.add("plans.pipeline.validate_clean_s", result.timings["validate_clean_wall"])
            b.add("plans.pipeline.plan_aggregates_s", result.timings["plan_aggregates"])
            b.add("plans.pipeline.write_s", result.timings["write"])
            b.add("plans.pipeline.jobs", ids1[0] - ids0[0])
            b.add("sources.writers.files_written", files)
            b.add("sources.writers.bytes_written", size)
            b.add("sources.writers.input_bytes", self.input_bytes)
            b.add_spark(ids0, ids1)
            b.ops.append({"op": "run_core_pipeline", "wall_s": wall,
                          "jobs": ids1[0] - ids0[0], **result.timings})
        shutil.rmtree(out_dir, ignore_errors=True)
        return out

    def check(self, result, out_dir: str) -> bool:
        (run_dir,) = [os.path.join(out_dir, d) for d in os.listdir(out_dir)
                      if os.path.isdir(os.path.join(out_dir, d))]
        got = {"rows_after_clean": result.metrics.get("rows_after_clean")}
        for name in result.outputs:
            got[name] = _parquet_rows(os.path.join(run_dir, f"{name}.parquet"))
        if got != self.expected:
            print(f"perfbench: pipeline outputs {got} != {self.expected}",
                  file=sys.stderr)
        return got == self.expected

    def probe(self) -> tuple[Round, dict]:
        """Traced runs only, after the timed calls. Returns the checked
        operations and the per-layer metrics of the probed layers."""
        out = Round()
        metrics = {}
        for module, name in self.PROBE_QUERIES.items():
            for _ in range(2):
                split = run_query(self.bench, self.probe_dir, name,
                                  self.probe_expected, out)
            if split is not None:
                split.pop("ids")
                metrics[f"operators.{module}.build_s"] = split["build_s"]
                metrics[f"operators.{module}.exec_s"] = split["plan_s"] + split["exec_s"]
                self.bench.ops.append({"probe": module, **split})
        metrics.update(self.stream(out))
        return out, metrics

    def stream(self, out: Round) -> dict:
        """Drain the backlog through ``run_incremental_gold_daily``, one file
        per trigger, and check the gold table against ``batch_gold_summary``
        over the same files. Per-batch times come from the query's progress
        events."""
        from pyspark.sql import functions as F

        from opensea_datapipeline_spark.sources.readers import normalize_event_time
        from opensea_datapipeline_spark.streaming.gold import (
            batch_gold_summary,
            run_incremental_gold_daily,
        )

        b, tr = self.bench, self.bench.tracer
        work = os.path.join(b.work, "stream")
        listener = Progress()
        b.spark.streams.addListener(listener)
        try:
            ids0 = tr.ids()
            with tr.span("streaming.gold.run_incremental_gold_daily"):
                t0 = time.perf_counter()
                gold = run_incremental_gold_daily(
                    b.spark, self.backlog_dir, os.path.join(work, "gold"),
                    os.path.join(work, "checkpoint"), max_files_per_trigger=1)
                drain = time.perf_counter() - t0
            ids1 = tr.ids()  # also delivers the last progress events
            got = sorted(gold.collect())
            events = normalize_event_time(b.spark.read.parquet(self.backlog_dir))
            want = sorted(batch_gold_summary(events).select(
                "event_date", "total_transactions",
                F.col("volume_total").cast("double").alias("volume_total"),
                "value_min", "value_max",
            ).collect())
            users = dict(events.groupBy(
                F.date_format("ts", "yyyy-MM-dd")).agg(
                F.countDistinct("user_id")).collect())
            ok = ([tuple(r)[:5] for r in got] == [tuple(r) for r in want]
                  and all(abs(r.approx_unique_users - users[r.event_date])
                          <= HLL_TOLERANCE * users[r.event_date] for r in got))
        except Exception:
            _report("run_incremental_gold_daily")
            out.record(False)
            return {}
        finally:
            b.spark.streams.removeListener(listener)
            shutil.rmtree(work, ignore_errors=True)
        if not ok:
            print("perfbench: gold table differs from batch_gold_summary",
                  file=sys.stderr)
        out.record(ok)
        batches = [d for rows, d in listener.batches if rows > 0]
        b.ops.append({"probe": "streaming.gold", "drain_s": drain,
                      "batches": batches, "jobs": ids1[0] - ids0[0]})
        if not batches:
            return {}

        def p50(*keys: str) -> float:
            return statistics.median(sum(d.get(k, 0) for k in keys) / 1000
                                     for d in batches)

        return {
            "streaming.gold.drain_s": drain,
            "streaming.gold.trigger_s": p50("triggerExecution"),
            "streaming.gold.add_batch_s": p50("addBatch"),
            "streaming.gold.commit_s": p50("walCommit", "commitOffsets"),
            "streaming.gold.plan_s": p50("queryPlanning"),
            "streaming.gold.source_s": p50("latestOffset", "getBatch"),
            "streaming.gold.batches": len(batches),
            "streaming.gold.jobs_per_batch": (ids1[0] - ids0[0]) / len(batches),
        }


class Progress(StreamingQueryListener):
    """Collects (input rows, durationMs) of every micro-batch."""

    def __init__(self):
        self.batches: list[tuple[int, dict]] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append((p.numInputRows, dict(p.durationMs)))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


WORKLOADS = {w.name: w for w in (LlmMix, EtlCore)}
