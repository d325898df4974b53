"""Cut the fixed training-query tables in perfbench/data/ from the
engine's TPC-H-ish test tables at scale factor 0.1:

    python3 perfbench/extract_tables.py <sf0.1 table dir> perfbench/data

``documents`` and ``embeddings`` are copied whole, so the text and
vector queries see the same rows as at sf0.1.  ``orders`` keeps the
orders with ``o_orderkey < ORDER_KEYS`` and ``lineitem`` the line items
of those orders: one fifth of each table, which keeps the files small.
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

ORDER_KEYS = 30_000

KEEP = {"documents": None, "embeddings": None,
        "orders": "o_orderkey", "lineitem": "l_orderkey"}


def main(src: str, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for name, key in KEEP.items():
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if key is not None:
            table = table.filter(pc.less(table[key], ORDER_KEYS))
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        print(name, table.num_rows)


if __name__ == "__main__":
    main(*sys.argv[1:3])
