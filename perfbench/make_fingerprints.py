"""Write the oracle fingerprints of the query results the benchmark checks:
the ``llm_mix`` queries and the queries ``etl_core``'s traced runs probe.

Runs each query's DuckDB ``ORACLE`` SQL over the generated fixed tables and
stores its sorted columns, row count and ``fingerprint``, with a digest of
each table. The Spark results are compared against these during every run,
so regenerate them only when the generator or a query's oracle changes:

    python3 perfbench/make_fingerprints.py [--scale full|tiny] [--out PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402

import gen  # noqa: E402
from workloads import FINGERPRINTS, EtlCore, LlmMix, fingerprint  # noqa: E402


def make(scale: str) -> dict:
    from opensea_datapipeline_spark.queries import ORACLE

    names = LlmMix.QUERIES + list(EtlCore.PROBE_QUERIES.values())
    with tempfile.TemporaryDirectory() as d:
        info = gen.write_fixed(d, LlmMix.TABLES + EtlCore.PROBE_TABLES, scale)
        con = duckdb.connect()
        try:
            for table in info:
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{d}/{table}.parquet'")
            queries = {}
            for name in names:
                cur = con.execute(ORACLE[name])
                cols = [c[0] for c in cur.description]
                rows = cur.fetchall()
                queries[name] = {"columns": sorted(cols), "rows": len(rows),
                                 "hash": fingerprint(cols, rows)}
        finally:
            con.close()
    return {"scale": scale,
            "tables_md5": {t: i["content_md5"] for t, i in info.items()},
            "queries": queries}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--out", default=FINGERPRINTS)
    args = ap.parse_args()
    with open(args.out, "w") as f:
        json.dump(make(args.scale), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
