#!/usr/bin/env python3
"""Write the benchmark's input tables into perfbench/data/.

    python3 perfbench/make_data.py SRC_DIR

SRC_DIR holds the generated ``sf0.1`` and ``sf0.001`` table directories
(one parquet file per table, seed 42).  Only the tables and columns the
headline queries read are kept, so the copies stay small; row content and
row order are unchanged.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

COLUMNS = {
    "documents": None,  # every column: curation reads several
    "lineitem": ["l_partkey", "l_suppkey", "l_linenumber"],
    "orders": ["o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_type", "user_id"],
}


def main(src: str) -> None:
    out_root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
    for sf in ("sf0.1", "sf0.001"):
        os.makedirs(os.path.join(out_root, sf), exist_ok=True)
        for table, cols in COLUMNS.items():
            t = pq.read_table(os.path.join(src, sf, f"{table}.parquet"), columns=cols)
            pq.write_table(t, os.path.join(out_root, sf, f"{table}.parquet"),
                           compression="snappy")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
