"""Seeded benchmark input.

The base tables under perfbench/data are a verbatim copy of the
generator's sf0.001 output (seed 42). A run never reads them directly: it
writes a seeded permutation of each table's row order, split at a seeded
row into two parquet part files, under the run's own directory. No row is
added or dropped, so output sizes stay comparable across seeds, while file
contents, row order and every order-sensitive code path change with the
seed. The part count is fixed so that task counts, which dominate at this
scale, do not.
"""
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data")
PART_MIN_ROWS = 200
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def make(seed, out_dir, base=BASE):
    """Write the seeded input for `seed` to `out_dir`; return its fingerprint.

    The fingerprint is a sha256 over each base table's bytes, its part
    bounds and its row permutation, so two runs with the same seed and
    base data share it.
    """
    rng = np.random.default_rng(seed)
    digest = hashlib.sha256()
    for name in TABLES:
        path = os.path.join(base, f"{name}.parquet")
        with open(path, "rb") as f:
            digest.update(f.read())
        table = pq.read_table(path)
        perm = rng.permutation(table.num_rows)
        table = table.take(perm)
        # two part files per table past a few hundred rows, cut at a
        # seeded row: the split moves with the seed, the task count not
        cut = [int(rng.integers(table.num_rows // 4, 3 * table.num_rows // 4))] \
            if table.num_rows >= PART_MIN_ROWS else []
        bounds = [0, *cut, table.num_rows]
        tdir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(tdir)
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            pq.write_table(table.slice(lo, hi - lo), os.path.join(tdir, f"part-{i:05d}.parquet"))
        digest.update(f"{name}:{bounds}:".encode())
        digest.update(perm.tobytes())
    return digest.hexdigest()[:16]
