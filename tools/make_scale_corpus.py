#!/usr/bin/env python3
"""Build a key-shifted scale corpus from a testdata SF directory.

Usage: make_scale_corpus.py <src_sf_dir> <out_dir> <copies>

Each table is replicated <copies> times with per-copy key strides so
cardinalities scale honestly (no duplicate keys; r13 learned that
copy-synthesized corpora must key-shift EVERY table an audit touches or
pair-emitting operators inflate quadratically). Foreign keys keep
pointing into copy 0 so join fan-outs stay constant per row.

A table's stride is the smallest power of ten above the largest of its
shifted keys, and never below 10_000_000, so copies cannot overlap:

- lineitem: l_orderkey += copy * stride
- orders:   o_orderkey += copy * stride (FK o_custkey untouched)
- documents: doc_id += copy * stride (doc_id arithmetic in the web
  corpus derives from doc_id % k, invariant under multiples of 1e7)
- embeddings: vec_id += copy * stride
- events: event_id += copy * stride, user_id += copy * stride (sessions
  stay within a copy; item ids in props untouched = FK to copy 0)
- dimension tables (customer/supplier/part/nation/region): copied once
  verbatim (bounded dimensions).

The driver-contract mains then run against <out_dir> via
SPARK_GRAFT_SF_DIR; size shuffle partitions to the data with
SPARK_GRAFT_SHUFFLE_PARTITIONS (the r13/r14 audits used 256 at 100x).
"""
import sys

import duckdb


def stride(con, path: str, keys: list) -> int:
    """Smallest power of ten above every shifted key, at least 10_000_000."""
    lo, hi = con.execute(
        f"SELECT least({', '.join(f'min({k})' for k in keys)}), "
        f"greatest({', '.join(f'max({k})' for k in keys)}) FROM '{path}'"
    ).fetchone()
    if lo is not None and lo < 0:
        sys.exit(f"{path}: negative key {lo}; shifted copies would overlap")
    s = 10_000_000
    while hi is not None and s <= hi:
        s *= 10
    return s


def main() -> None:
    src, out, copies = sys.argv[1], sys.argv[2], int(sys.argv[3])
    con = duckdb.connect()
    con.execute(f"SET threads TO 16")
    shifted = {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
        "events": ["event_id", "user_id"],
    }
    verbatim = ["customer", "supplier", "part", "nation", "region"]
    import os
    os.makedirs(out, exist_ok=True)
    for t, keys in shifted.items():
        step = stride(con, f"{src}/{t}.parquet", keys)
        sel = ", ".join(
            f"{k} + CAST(c.copy AS BIGINT) * {step} AS {k}" for k in keys
        )
        others = f"* EXCLUDE ({', '.join(keys)})"
        con.execute(
            f"""COPY (
              SELECT {sel}, {others}
              FROM '{src}/{t}.parquet'
              CROSS JOIN (SELECT UNNEST(range({copies})) AS copy) c
            ) TO '{out}/{t}.parquet' (FORMAT PARQUET, COMPRESSION ZSTD)"""
        )
        n = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows ({copies} copies, stride {step})")
    for t in verbatim:
        con.execute(
            f"""COPY (SELECT * FROM '{src}/{t}.parquet')
                TO '{out}/{t}.parquet' (FORMAT PARQUET, COMPRESSION ZSTD)"""
        )
        print(f"{t}: copied verbatim")


if __name__ == "__main__":
    main()
