#!/usr/bin/env python3
"""Seeded lineitem in the shape of the engine's TPC-H-like test data, holding
the three columns basket derivation reads.

Usage: python3 perfbench/gen_lineitem.py SEED SCALE_FACTOR OUT_DIR

The test data draws every column independently and uniformly: at scale
factor sf, 6,000,000 * sf rows, l_orderkey in [0, 1,500,000 * sf), l_partkey
in [0, 200,000 * sf), l_linenumber in [1, 7] (not unique within an order).
Grouping by order gives baskets of about four items (at sf0.1, 147,000
baskets of 1-17 items) whose window pairs are almost all distinct, so the
pair aggregate barely combines. One snappy row group, as in the original.
Prints one JSON line of input stats.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINES = 7


def generate(seed, sf, out_dir):
    rows, orders, parts = (round(n * sf) for n in (6_000_000, 1_500_000, 200_000))
    rng = np.random.default_rng(seed)
    orderkey = rng.integers(0, orders, rows, dtype=np.int64)
    table = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, parts, rows, dtype=np.int64),
        "l_linenumber": rng.integers(1, LINES + 1, rows, dtype=np.int32),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "lineitem.parquet"),
                   compression="snappy", row_group_size=rows)
    return {"scale_factor": sf, "rows": rows, "baskets": int(np.unique(orderkey).size),
            "seed": seed}


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(json.dumps(generate(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])))
