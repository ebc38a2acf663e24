"""Print the statistics the generators are fitted to, measured on a table
directory of the package's test data and on the generated fixed tables,
side by side:

    python3 perfbench/fit_check.py SF_DIR

``SF_DIR`` holds ``events.parquet``, ``documents.parquet`` and
``embeddings.parquet`` (the sf0.1 test tables). The benchmark never reads
it; this tool only shows how close ``gen.py`` is to it.
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402

import gen  # noqa: E402

STATS = {
    "events": [
        ("rows", "count(*)"),
        ("days spanned", "count(DISTINCT ts::DATE)"),
        ("distinct users", "count(DISTINCT user_id)"),
        ("max user_id", "max(user_id)"),
        ("event types", "count(DISTINCT event_type)"),
        ("least common type share", "min(n) / sum(n) FROM (SELECT count(*) n FROM t GROUP BY event_type)"),
        ("most common type share", "max(n) / sum(n) FROM (SELECT count(*) n FROM t GROUP BY event_type)"),
        ("value mean", "avg(value)"),
        ("value median", "median(value)"),
        ("value p99", "quantile_cont(value, 0.99)"),
        ("share of value > 100", "avg((value > 100)::INT)"),
        ("values with sub-cent digits", "count(*) FILTER (WHERE round(value, 2) <> value)"),
        ("distinct props", "count(DISTINCT props)"),
        ("(user, type, day) groups", "count(*) FROM (SELECT 1 FROM t GROUP BY user_id, event_type, ts::DATE)"),
        ("groups with duplicates", "count(*) FROM (SELECT 1 FROM t GROUP BY user_id, event_type, ts::DATE HAVING count(*) > 1)"),
        ("largest group", "max(n) FROM (SELECT count(*) n FROM t GROUP BY user_id, event_type, ts::DATE)"),
        ("event_id out of time order", "count(*) FROM (SELECT event_id, row_number() OVER (ORDER BY ts) - 1 r FROM t) WHERE event_id <> r"),
    ],
    "documents": [
        ("rows", "count(*)"),
        ("share en", "avg((lang = 'en')::INT)"),
        ("share zh", "avg((lang = 'zh')::INT)"),
        ("languages", "count(DISTINCT lang)"),
        ("sources", "count(DISTINCT source)"),
        ("docs per source (max)", "max(n) FROM (SELECT count(*) n FROM t GROUP BY source)"),
        ("words per doc, min", "min(len(string_split(text, ' ')))"),
        ("words per doc, median", "median(len(string_split(text, ' ')))"),
        ("words per doc, max", "max(len(string_split(text, ' ')))"),
        ("vocabulary", "count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM t)"),
        ("docs ending ' dup'", "count(*) FILTER (WHERE text LIKE '% dup')"),
        ("distinct texts", "count(DISTINCT text)"),
        ("n_chars = length(text)", "bool_and(n_chars = length(text))"),
    ],
    "embeddings": [
        ("rows", "count(*)"),
        ("dimensions", "max(len(embedding))"),
        ("labels", "count(DISTINCT label)"),
        ("min norm", "min(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))"),
        ("max norm", "max(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))"),
        ("largest label share", "max(n) / sum(n) FROM (SELECT count(*) n FROM t GROUP BY label)"),
    ],
}


def measure(con, path: str, table: str) -> list:
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM '{path}'")
    out = []
    for _, expr in STATS[table]:
        sql = f"SELECT {expr}" if " FROM " in expr else f"SELECT {expr} FROM t"
        out.append(con.execute(sql).fetchone()[0])
    if table == "embeddings":
        # norm of each label's mean vector: ~1/sqrt(rows per label) when
        # directions are uniformly random, near 1 for tight clusters
        rows = con.execute("SELECT embedding, label FROM t").fetchall()
        vecs = np.array([r[0] for r in rows])
        labels = np.array([r[1] for r in rows])
        out.append(float(np.mean([np.linalg.norm(vecs[labels == k].mean(0))
                                  for k in np.unique(labels)])))
    return out


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = sys.argv[1]
    con = duckdb.connect()
    with tempfile.TemporaryDirectory() as d:
        gen.write_fixed(d, list(STATS), "full")
        for table, stats in STATS.items():
            ref = measure(con, os.path.join(sf_dir, f"{table}.parquet"), table)
            got = measure(con, os.path.join(d, f"{table}.parquet"), table)
            names = [n for n, _ in stats]
            if table == "embeddings":
                names.append("mean norm of a label's centroid")
            print(f"\n{table:40} {'test data':>14} {'generated':>14}")
            for name, a, b in zip(names, ref, got):
                fmt = (lambda v: f"{v:14.4g}") if isinstance(a, float) else (lambda v: f"{v!s:>14}")
                print(f"  {name:38} {fmt(a)} {fmt(b)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
