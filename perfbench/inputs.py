"""Seeded benchmark inputs.

The tables are a snapshot of the engine's synthetic test tables (the
TPC-H-shaped tables `bench.py`, `tools/check_parity.py` and the tests
read; see TESTDATA.md), kept under `perfbench/data/sf<sf>/` with only the
columns the workloads read, so the benchmark needs nothing outside its
checkout. The benchmark seed permutes the row order of every table and
the cut points that split it into parquet files; the contents are the
same for every seed, so every seed does the same work. Every workload's
result is independent of row order, and its DuckDB oracle reads the same
files.

Refresh the snapshot from a test-data directory with

    python3 perfbench/inputs.py <sf_dir> <sf>
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
FILES_PER_TABLE = 4
# table -> the columns any workload step or oracle reads (None: all)
COLUMNS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_linenumber"],
    "orders": ["o_orderkey", "o_totalprice", "o_orderdate"],
    "part": None,
    "nation": None,
    "documents": None,
    "embeddings": None,
}


def write_inputs(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every snapshot table as `<out_dir>/<table>.parquet/part-*.parquet`,
    rows permuted and split by `seed`. Returns the row count per table."""
    src = os.path.join(DATA, f"sf{sf:g}")
    if not os.path.isdir(src):
        raise FileNotFoundError(f"no input snapshot at {src}")
    rng = np.random.default_rng(seed)
    rows = {}
    for name in sorted(COLUMNS):
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        n = table.num_rows
        table = table.take(rng.permutation(n))
        # near-even files (each cut moves by up to 5% of the table), so the
        # split reorders rows without making one scan task a straggler
        even = np.arange(1, FILES_PER_TABLE) / FILES_PER_TABLE
        cuts = (n * (even + rng.uniform(-0.05, 0.05, FILES_PER_TABLE - 1))).astype(int)
        bounds = [0, *cuts.tolist(), n]
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        for i in range(FILES_PER_TABLE):
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(tdir, f"part-{i:05d}.parquet"))
        rows[name] = n
    return rows


if __name__ == "__main__":
    sf_dir, sf = sys.argv[1], float(sys.argv[2])
    dst = os.path.join(DATA, f"sf{sf:g}")
    os.makedirs(dst, exist_ok=True)
    for name, cols in COLUMNS.items():
        pq.write_table(pq.read_table(os.path.join(sf_dir, f"{name}.parquet"), columns=cols),
                       os.path.join(dst, f"{name}.parquet"))
