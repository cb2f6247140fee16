"""Seeded hive-partitioned lake for the ``lake_ddl`` workload.

Cuts the ``lineitem`` table into many small part-files under
``year=YYYY/month=MM`` directories (two partition keys taken from the ship
date).  The seed decides how many files each partition gets, which rows go
into each file, which partitions of the drifted copy widen a column, and
the contents of the partitions appended during the run.

Run as a script (the benchmark runs it in a child process, so that reading
the source table does not count towards the measured process's memory):

    python3 perfbench/lakegen.py --sf sf0.1 --out DIR --seed 1 --files 2000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DRIFT_COLUMN = "l_linenumber"  # int32 in the source; widened to int64
DRIFT_SHARE = 0.03
N_STAGED = 8  # distinct partitions appended in turn during the run


def _write_partition(table: pa.Table, rows: np.ndarray, part_dir: str,
                     n_files: int, rng: np.random.Generator) -> int:
    os.makedirs(part_dir, exist_ok=True)
    part = table.take(rng.permutation(rows))
    n_files = max(1, min(n_files, len(rows)))
    cuts = np.sort(rng.choice(np.arange(1, len(rows)), n_files - 1, replace=False))
    for i, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, len(rows)])):
        pq.write_table(part.slice(lo, hi - lo), os.path.join(part_dir, f"part-{i:05d}.parquet"))
    return n_files


def build(source: str, out: str, seed: int, n_files: int) -> dict:
    rng = np.random.default_rng(seed)
    table = pq.read_table(source).replace_schema_metadata(None).combine_chunks()
    ship = table.column("l_shipdate")
    keys = (
        pc.multiply(pc.year(ship), 100).to_numpy().astype(np.int64)
        + pc.month(ship).to_numpy().astype(np.int64)
    )
    parts = np.unique(keys)
    counts = np.array([(keys == k).sum() for k in parts])
    # seeded layout: each partition's share of the files is its share of the
    # rows, jittered by up to +-30%
    weights = counts * rng.uniform(0.7, 1.3, len(parts))
    files_per = np.maximum(1, np.round(n_files * weights / weights.sum())).astype(int)

    base = os.path.join(out, "lake")
    drifted = os.path.join(out, "drifted")
    staged = os.path.join(out, "staged")
    for d in (base, drifted, staged):
        shutil.rmtree(d, ignore_errors=True)
    n_drift = max(1, round(DRIFT_SHARE * len(parts)))
    drift_parts = set(rng.choice(parts, n_drift, replace=False).tolist())
    widened = table.set_column(
        table.schema.get_field_index(DRIFT_COLUMN),
        DRIFT_COLUMN,
        pc.cast(table.column(DRIFT_COLUMN), pa.int64()),
    )

    total = 0
    for k, nf in zip(parts.tolist(), files_per.tolist()):
        rel = f"year={k // 100}/month={k % 100:02d}"
        rows = np.flatnonzero(keys == k)
        # same generator state for both copies: the drifted partitions hold
        # the same rows as the base ones, only with the wider type
        state = rng.bit_generator.state
        total += _write_partition(table, rows, os.path.join(base, rel), nf, rng)
        if k in drift_parts:
            rng.bit_generator.state = state
            _write_partition(widened, rows, os.path.join(drifted, rel), nf, rng)
        else:
            os.makedirs(os.path.join(drifted, rel))
            for name in os.listdir(os.path.join(base, rel)):
                os.link(os.path.join(base, rel, name), os.path.join(drifted, rel, name))

    typical = int(np.median(files_per))
    per_part_rows = int(np.median(counts))
    for i in range(N_STAGED):
        rows = rng.choice(table.num_rows, per_part_rows, replace=False)
        _write_partition(table, rows, os.path.join(staged, f"year=2030/month={i + 1:02d}"),
                         typical, rng)
    meta = {
        "seed": seed,
        "files": total,
        "partitions": len(parts),
        "drifted_partitions": sorted(f"year={k // 100}/month={k % 100:02d}" for k in drift_parts),
        "staged": [f"year=2030/month={i + 1:02d}" for i in range(N_STAGED)],
    }
    with open(os.path.join(out, "lake.json"), "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    return meta


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    a = ap.parse_args()
    from common import testdata_dir

    source = os.path.join(testdata_dir(a.sf), "lineitem.parquet")
    print(json.dumps(build(source, a.out, a.seed, a.files)))
