#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Every input is derived from a read-only fixture directory (the
TPC-H-style tables plus `documents` and `embeddings`, one parquet file
per table). The seed decides everything that varies:

  tables  (sql_mix, graph_fixpoint): every table in a seeded row order,
          written as one file per table with a seeded row-group split.
          One file per table keeps `tools/check_oracle.py` able to read
          the same files through DuckDB.
  etl     (etl_snapshot): a seeded sample of part keys as the category
          list the `graft-api` source is asked for.

Outputs are cached on disk under
<work>/inputs/<VERSION>/<fixture>/<kind>-<size>/seed-<n>, so a second
run with the same seed skips generation. run.py calls `generate`.
"""
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "v1"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CATEGORIES = 16    # etl category list length
TINY_CATEGORIES = 4


def _write(table, path, rng):
    """One file, seeded row order, seeded row-group split."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    groups = int(rng.integers(2, 6))
    rows_per_group = max(1, -(-table.num_rows // groups))
    pq.write_table(table, path, row_group_size=rows_per_group)


def _generate(kind, seed, fixture, out, tiny):
    rng = np.random.default_rng(seed)
    if kind == "etl":
        keys = pq.read_table(os.path.join(fixture, "part.parquet"),
                             columns=["p_partkey"])["p_partkey"].to_pylist()
        n = TINY_CATEGORIES if tiny else CATEGORIES
        picked = sorted(rng.choice(keys, size=min(n, len(keys)), replace=False))
        with open(os.path.join(out, "categories.txt"), "w") as f:
            f.write("\n".join(f"MLA{k}" for k in picked) + "\n")
        return
    for name in TABLES:
        table = pq.read_table(os.path.join(fixture, f"{name}.parquet"))
        _write(table, os.path.join(out, f"{name}.parquet"), rng)


def generate(kind, seed, fixture, work, tiny=False):
    """Return (input dir, seconds spent, cached?)."""
    if kind not in ("tables", "etl"):
        raise ValueError(f"unknown input kind {kind}")
    size = "tiny" if tiny else "full"
    source = os.path.basename(os.path.normpath(fixture))
    out = os.path.join(work, "inputs", VERSION, source, f"{kind}-{size}", f"seed-{seed}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out, 0.0, True
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _generate(kind, seed, fixture, tmp, tiny)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, time.perf_counter() - t0, False
