"""Compare the generated input tables with a directory of reference tables.

Prints a Markdown table of the statistics the generator is calibrated
to (row counts, fan-out, ranges, shares, document duplicates), one
column for the reference directory and one for ``datagen.generate``
at the same scale:

    python3 perfbench/datastats.py --ref <dir with the ten .parquet files> \\
        --scale 0.01 --seed 1
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import datagen  # noqa: E402

STATS = {
    "orders rows": "SELECT count(*) FROM orders",
    "lineitem rows": "SELECT count(*) FROM lineitem",
    "customer / part / supplier rows":
        "SELECT (SELECT count(*) FROM customer) || ' / ' || "
        "(SELECT count(*) FROM part) || ' / ' || (SELECT count(*) FROM supplier)",
    "events / documents / embeddings rows":
        "SELECT (SELECT count(*) FROM events) || ' / ' || "
        "(SELECT count(*) FROM documents) || ' / ' || (SELECT count(*) FROM embeddings)",
    "lines per order: mean / max":
        "SELECT round(avg(n), 2) || ' / ' || max(n) FROM "
        "(SELECT count(*) n FROM lineitem GROUP BY l_orderkey)",
    "share of orders without lines":
        "SELECT round(avg((o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))::INT), 4) "
        "FROM orders",
    "orders per customer: median / max":
        "SELECT median(n) || ' / ' || max(n) FROM "
        "(SELECT count(*) n FROM orders GROUP BY o_custkey)",
    "o_orderdate range":
        "SELECT min(o_orderdate)::DATE || ' .. ' || max(o_orderdate)::DATE FROM orders",
    "l_shipdate range":
        "SELECT min(l_shipdate)::DATE || ' .. ' || max(l_shipdate)::DATE FROM lineitem",
    "ship - order days: mean":
        "SELECT round(avg(datediff('day', o_orderdate, l_shipdate)), 0) "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    "o_totalprice p10 / p50 / p90":
        "SELECT list_transform(quantile_cont(o_totalprice, [0.1, 0.5, 0.9]), "
        "x -> round(x, -3)) FROM orders",
    "l_extendedprice p10 / p50 / p90":
        "SELECT list_transform(quantile_cont(l_extendedprice, [0.1, 0.5, 0.9]), "
        "x -> round(x, -3)) FROM lineitem",
    "corr(l_extendedprice, l_quantity)":
        "SELECT round(corr(l_extendedprice, l_quantity), 2) FROM lineitem",
    "l_quantity / l_discount / l_tax distinct":
        "SELECT count(DISTINCT l_quantity) || ' / ' || count(DISTINCT l_discount) "
        "|| ' / ' || count(DISTINCT l_tax) FROM lineitem",
    "returnflag x linestatus groups, max share":
        "SELECT count(*) || ', ' || round(max(n) / sum(n), 3) FROM "
        "(SELECT count(*) n FROM lineitem GROUP BY l_returnflag, l_linestatus)",
    "c_mktsegment / o_orderpriority / p_type values":
        "SELECT (SELECT count(DISTINCT c_mktsegment) FROM customer) || ' / ' || "
        "(SELECT count(DISTINCT o_orderpriority) FROM orders) || ' / ' || "
        "(SELECT count(DISTINCT p_type) FROM part)",
    "distinct p_name":
        "SELECT count(DISTINCT p_name) FROM part",
    "events: users / types":
        "SELECT count(DISTINCT user_id) || ' / ' || count(DISTINCT event_type) FROM events",
    "events value p50 / mean":
        "SELECT round(median(value), 1) || ' / ' || round(avg(value), 1) FROM events",
    "events span days":
        "SELECT round((epoch(max(ts)) - epoch(min(ts))) / 86400, 1) FROM events",
    "document words min / mean / max":
        "SELECT min(n) || ' / ' || round(avg(n), 1) || ' / ' || max(n) FROM "
        "(SELECT len(string_split(text, ' ')) n FROM documents)",
    "vocabulary size":
        "SELECT count(DISTINCT w) FROM "
        "(SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "near-duplicate share (ends in ' dup')":
        "SELECT round(avg((text LIKE '% dup')::INT), 3) FROM documents",
    "exact duplicate copies":
        "SELECT count(*) - count(DISTINCT text) FROM documents",
    "share of lang = en":
        "SELECT round(avg((lang = 'en')::INT), 2) FROM documents",
    "embedding dim / element stddev / labels":
        "SELECT (SELECT min(len(embedding)) FROM embeddings) || ' / ' || "
        "(SELECT round(stddev(e), 3) FROM (SELECT unnest(embedding) e FROM embeddings)) "
        "|| ' / ' || (SELECT count(DISTINCT label) FROM embeddings)",
}


def stats(con: duckdb.DuckDBPyConnection) -> dict[str, str]:
    return {name: str(con.sql(sql).fetchone()[0]) for name, sql in STATS.items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--ref", required=True, help="directory of <table>.parquet files")
    p.add_argument("--scale", type=float, required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()

    ref = duckdb.connect()
    for name in datagen.TABLES:
        path = os.path.join(args.ref, f"{name}.parquet")
        ref.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    gen = duckdb.connect()
    for name, tbl in datagen.generate(args.scale, args.seed).items():
        gen.register(name, tbl)
    a, b = stats(ref), stats(gen)
    print(f"| statistic | reference | generated (scale {args.scale}, seed {args.seed}) |")
    print("|---|---|---|")
    for name in STATS:
        print(f"| {name} | {a[name]} | {b[name]} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
