"""Compare the generated query tables with a directory of reference data.

    python3 perfbench/calibrate.py REFERENCE_DIR [--sf 0.01] [--seed 1]

``REFERENCE_DIR`` holds the engine's test data at one scale factor (one
parquet file per table). The script generates the same scale factor with
``gen.write_tables`` and prints, per statistic, the reference value and
the generated one. These are the statistics the generator's docstring
says it matches.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]
import gen  # noqa: E402

STATS = {
    "lineitem rows": "SELECT count(*) FROM lineitem",
    "orders rows": "SELECT count(*) FROM orders",
    "events rows": "SELECT count(*) FROM events",
    "documents rows": "SELECT count(*) FROM documents",
    "distinct l_orderkey": "SELECT count(DISTINCT l_orderkey) FROM lineitem",
    "distinct o_custkey": "SELECT count(DISTINCT o_custkey) FROM orders",
    "distinct events.user_id": "SELECT count(DISTINCT user_id) FROM events",
    "documents = earlier one + ' dup'":
        "SELECT count(*) FROM documents a, documents b "
        "WHERE b.text = a.text || ' dup'",
    "distinct document texts": "SELECT count(DISTINCT text) FROM documents",
    "words per document (min, max)":
        "SELECT min(len(string_split(text, ' '))), max(len(string_split(text, ' '))) "
        "FROM documents WHERE text NOT LIKE '% dup'",
    "vocabulary size":
        "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w "
        "FROM documents) WHERE w <> 'dup'",
    "event gap median / mean (exponential: 0.69)":
        "SELECT round(median(g) / avg(g), 2) FROM (SELECT epoch_us(ts) - "
        "lag(epoch_us(ts)) OVER (ORDER BY ts) g FROM events)",
    "event span in days":
        "SELECT date_diff('day', min(ts), max(ts)) + 1 FROM events",
    "timestamp types (TIMESTAMP is microseconds)":
        "SELECT typeof(ts) || ', ' || typeof(l_shipdate) FROM events, lineitem LIMIT 1",
}


def stats(directory: str) -> dict[str, object]:
    con = duckdb.connect()
    for table in ("lineitem", "orders", "events", "documents"):
        path = os.path.join(directory, f"{table}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name, sql in STATS.items():
        row = con.execute(sql).fetchone()
        out[name] = row[0] if len(row) == 1 else row
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    work = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        ours = stats(gen.write_tables(tmp, args.seed, args.sf))
    theirs = stats(args.reference)
    width = max(map(len, STATS))
    print(f"{'statistic':{width}}  reference  generated")
    for name in STATS:
        print(f"{name:{width}}  {theirs[name]!s:>9}  {ours[name]!s:>9}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
