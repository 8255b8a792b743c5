#!/usr/bin/env python3
"""Synthesize an sf1-scale timing fixture (VERDICT r18 #9) by
replicating the sf0.1 `documents` / `embeddings` tables 10x with
shifted ids into a writable dir (default /tmp/sf1).

TIMING ONLY: /root/testdata is read-only and the driver owns fixture
generation, so this is NOT oracle data — replicas share text/vector
payloads (per-row decode/encode work is identical, which is exactly
what a core-scaling measurement needs) and ids never collide.  It fed
the compute-bound measurement under SCALE.md's core-scaling claims
(scripts/sf1_scaling_report*.json).
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
DST = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
COPIES = int(os.environ.get("SF1_COPIES", "10"))


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for table, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        src = f"{SRC}/{table}.parquet"
        out = f"{DST}/{table}.parquet"
        (off,) = con.execute(
            f"SELECT MAX({id_col}) + 1 FROM read_parquet('{src}')"
        ).fetchone()
        con.execute(
            f"""
            COPY (
                SELECT {id_col} + g.i * {off} AS {id_col},
                       * EXCLUDE ({id_col})
                FROM read_parquet('{src}')
                CROSS JOIN generate_series(0, {COPIES - 1}) g(i)
                ORDER BY {id_col}
            ) TO '{out}' (FORMAT PARQUET)
            """
        )
        (n,) = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{out}')"
        ).fetchone()
        print(f"{out}: {n} rows (offset {off}, {COPIES} copies)")


if __name__ == "__main__":
    main()
