"""Compare two sets of untraced run records (``record-*.json``, written
under ``.perfbench_out/`` by ``run.py``):

    python3 perfbench/compare.py BASE_DIR NEW_DIR

For each workload and end-to-end metric in BENCHMARK.json it prints the
median and quartiles of both sets and the change against the metric's bound:
``worse`` when the new median is worse by more than the bound, ``unresolved``
when either set's quartile distance exceeds the bound (the sets are too
noisy to tell), ``ok`` otherwise. It exits 1 when a metric is worse or
unresolved, and refuses (exit 2) to compare records taken at different core
counts or scales, or when either side lacks records for a workload or
metric the other side has.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> tuple[dict, set]:
    """{workload: {metric: [values]}} and the set of (cores, parallelism, scale)."""
    values: dict = defaultdict(lambda: defaultdict(list))
    stamps = set()
    for path in glob.glob(os.path.join(directory, "record-*.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec["trace"]:
            continue
        stamps.add((rec["spark_graft_cpus"], rec["default_parallelism"], rec["scale"]))
        for name, m in rec["result"]["metrics"].items():
            values[rec["workload"]][name].append(m["value"])
    return values, stamps


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    base, base_stamps = load(sys.argv[1])
    new, new_stamps = load(sys.argv[2])
    if len(base_stamps | new_stamps) != 1:
        print(f"compare: refusing, records differ in (cores, parallelism, scale): "
              f"base {sorted(base_stamps)} new {sorted(new_stamps)}", file=sys.stderr)
        return 2
    workloads = sorted(set(base) | set(new))
    missing = [f"{wl}/{name}" for wl in workloads for name in spec
               if not base[wl].get(name) or not new[wl].get(name)]
    if not workloads or missing:
        print(f"compare: refusing, a side has no records for "
              f"{', '.join(missing) or 'any workload'}", file=sys.stderr)
        return 2
    bad = 0
    for wl in workloads:
        for name, m in spec.items():
            a, b = base[wl][name], new[wl][name]
            ma, mb = statistics.median(a), statistics.median(b)
            change = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            qa = statistics.quantiles(a, n=4) if len(a) > 1 else [ma, ma, ma]
            qb = statistics.quantiles(b, n=4) if len(b) > 1 else [mb, mb, mb]
            noisy = max((qa[2] - qa[0]) / ma, (qb[2] - qb[0]) / mb) > m["bound"]
            verdict = "unresolved" if noisy else "worse" if change > m["bound"] else "ok"
            bad += verdict != "ok"
            print(f"{wl:10} {name:12} base {ma:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(a)}"
                  f"  new {mb:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(b)}"
                  f"  worse by {change:+.1%} (bound {m['bound']:.0%}) {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
