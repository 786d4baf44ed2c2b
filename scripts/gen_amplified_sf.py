#!/usr/bin/env python
"""Deterministic 10x amplification of /root/testdata/sf0.1 -> an "sf1a"
corpus for the larger-SF bench point (VERDICT r10 item 3: at sf0.1 every
parquet file is one row group, so 62/73 queries don't scale past 8 cores
and the bench can't discriminate distributed-plan quality).

Replica r (0..9) shifts every fact-table key by r * OFFSET (offsets above
each table's max key, so replicas never collide and all FK joins stay
consistent within a replica). Dimensions (nation, region) and the
low-cardinality nation FKs are left alone, so dimensional fan-out grows
10x — the realistic "corpus grew, dimensions didn't" shape. Document text
gets a per-replica suffix token and embeddings a per-replica first-component
nudge so the dedup/similarity tiers don't see 10 exact copies of everything
(which would measure a degenerate workload, not scale).

Every fact table is written as a DIRECTORY of part files (key-ordered
contiguous chunks), because Spark's scan parallelism comes from file/byte
-range boundaries, not parquet row groups inside one small file: the
first cut wrote one file per table and the doc tier ran its heavy per-row
expressions on one of 32 cores (probe: idle 96% on a 32-core box) —
measuring the sf0.1 single-task pathology again, just bigger. Tens of
modest part files per table is exactly how a 100 TB table presents to a
scan, minus the zeros.

Usage: python scripts/gen_amplified_sf.py [dest_dir]   (default /root/testdata_amp/sf1a)
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
REPLICAS = 10

# key offsets: > max key in sf0.1 (max custkey 15k, orderkey 600k,
# partkey 20k, suppkey 1k, event 100k, doc 5k, vec 2k) and round so
# shifted ids stay readable
OFF = {
    "cust": 1_000_000,
    "order": 10_000_000,
    "part": 1_000_000,
    "supp": 1_000_000,
    "event": 10_000_000,
    "user": 10_000_000,
    "doc": 1_000_000,
    "vec": 1_000_000,
}

TABLES: dict[str, str] = {
    "nation": "SELECT * FROM src",
    "region": "SELECT * FROM src",
    "customer": (
        "SELECT c_custkey + r * {cust} AS c_custkey, c_name, c_nationkey,"
        " c_acctbal, c_mktsegment FROM src CROSS JOIN reps"
    ),
    "supplier": (
        "SELECT s_suppkey + r * {supp} AS s_suppkey, s_name, s_nationkey,"
        " s_acctbal FROM src CROSS JOIN reps"
    ),
    "part": (
        "SELECT p_partkey + r * {part} AS p_partkey, p_name, p_brand, p_type,"
        " p_size, p_retailprice FROM src CROSS JOIN reps"
    ),
    "orders": (
        "SELECT o_orderkey + r * {order} AS o_orderkey,"
        " o_custkey + r * {cust} AS o_custkey, o_orderstatus, o_totalprice,"
        " o_orderdate, o_orderpriority FROM src CROSS JOIN reps"
    ),
    "lineitem": (
        "SELECT l_orderkey + r * {order} AS l_orderkey,"
        " l_partkey + r * {part} AS l_partkey,"
        " l_suppkey + r * {supp} AS l_suppkey,"
        " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate FROM src CROSS JOIN reps"
    ),
    "events": (
        "SELECT event_id + r * {event} AS event_id, ts,"
        " user_id + r * {user} AS user_id, event_type, value, props"
        " FROM src CROSS JOIN reps"
    ),
    "documents": (
        "SELECT doc_id + r * {doc} AS doc_id,"
        " CASE WHEN r = 0 THEN text ELSE text || ' rep' || r END AS text,"
        " lang, source, n_chars FROM src CROSS JOIN reps"
    ),
    "embeddings": (
        "SELECT vec_id + r * {vec} AS vec_id,"
        " CASE WHEN r = 0 THEN embedding ELSE"
        "   ([embedding[1] + r * 0.001] || embedding[2:])::FLOAT[] END"
        "   AS embedding,"
        " label FROM src CROSS JOIN reps"
    ),
}


#: part files per fact table (dimensions stay single-file)
N_FILES = 32


def main() -> None:
    dest = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata_amp/sf1a"
    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE reps AS SELECT range::BIGINT AS r FROM range({REPLICAS})")
    for name, sql in TABLES.items():
        src = os.path.join(SRC, f"{name}.parquet")
        out = os.path.join(dest, f"{name}.parquet")
        q = sql.format(**OFF).replace("FROM src", f"FROM '{src}' src")
        if name in ("nation", "region"):
            con.execute(f"COPY ({q}) TO '{out}' (FORMAT PARQUET)")
            n = con.execute(f"SELECT count(*) FROM '{out}'").fetchone()[0]
            print(f"{name}: {n} rows -> {out} (1 file)")
            continue
        # the row number is stored once, so the chunks below are disjoint
        # and cover every row whatever order DuckDB scans the table in
        key = con.execute(f"SELECT * FROM ({q}) LIMIT 0").description[0][0]
        con.execute(f"CREATE OR REPLACE TABLE amp AS SELECT *, row_number() OVER (ORDER BY {key}) AS _rn FROM ({q})")
        n = con.execute("SELECT count(*) FROM amp").fetchone()[0]
        chunk = -(-n // N_FILES)
        os.makedirs(out, exist_ok=True)
        for i in range(N_FILES):
            lo = i * chunk
            con.execute(
                f"COPY (SELECT * EXCLUDE (_rn) FROM amp WHERE _rn > {lo} AND _rn <= {lo + chunk} ORDER BY _rn)"
                f" TO '{out}/part-{i:05d}.parquet' (FORMAT PARQUET)"
            )
        print(f"{name}: {n} rows -> {out} ({N_FILES} files)")


if __name__ == "__main__":
    main()
