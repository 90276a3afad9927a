"""Seeded input generator for the dp_large_skewed workload.

Writes the contribution table ``(unit, key, value)``, a pure function of
the seed: key popularity is Zipf, the number of distinct keys per unit
(fan-out) is heavy-tailed, and the rows per (unit, key) cell are
geometric, so both the L0 cap (keys per unit) and the Linf cap (rows per
cell) bind on a measured share of the input. ``stats.json`` records that
share. ``truth.parquet`` holds, per key, the exact figures the benchmark
checks releases against: rows, value sum, and the most rows and clipped
value sum the Linf cap lets the key keep; ``stats.json`` also holds the most
rows the L0 and Linf caps together let a release keep.

Usage: python3 perfbench/gendata.py <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Caps the dp_large_skewed releases use; the generator reports how much of
# the input exceeds them.
L0_CAP = 4
LINF_CAP = 2
MAX_VALUE = 50.0           # releases clip values to [0, MAX_VALUE]
CONTRIB_UNITS = 200_000
CONTRIB_KEYS = 20_000


def rank_within(groups):
    """0, 1, 2, ... within each run of equal values of a sorted array."""
    starts = np.flatnonzero(np.r_[True, groups[1:] != groups[:-1]])
    return np.arange(groups.size) - np.repeat(starts, np.diff(np.r_[starts, groups.size]))


def gen_contrib(rng, out):
    os.makedirs(out, exist_ok=True)
    # fan-out: distinct keys per unit, Zipf(2) capped at 500 (mean ~4)
    fanout = np.minimum(rng.zipf(2.0, CONTRIB_UNITS), 500)
    unit = np.repeat(np.arange(CONTRIB_UNITS, dtype=np.int64), fanout)
    # key popularity: Zipf(1.1) over the key domain
    ranks = np.arange(1, CONTRIB_KEYS + 1)
    p = ranks ** -1.1
    key = rng.choice(CONTRIB_KEYS, unit.size, p=p / p.sum()).astype(np.int64)
    cells = np.unique(unit * CONTRIB_KEYS + key)   # a unit draws a key once
    cell_unit, cell_key = cells // CONTRIB_KEYS, cells % CONTRIB_KEYS
    rows_per_cell = rng.geometric(0.5, cells.size)  # mean 2
    u = np.repeat(cell_unit, rows_per_cell)
    k = np.repeat(cell_key, rows_per_cell)
    order = rng.permutation(u.size)
    u, k = u[order], k[order]
    cell_of_row = np.repeat(np.arange(cells.size), rows_per_cell)[order]
    value = np.round(rng.exponential(20.0, u.size), 2)
    # a handful of row groups so the scan has one split per core
    table = pa.table({"unit": u, "key": k, "value": value})
    pq.write_table(table, f"{out}/contrib.parquet", row_group_size=max(1, u.size // 8))
    # the warm-up input: every tenth unit's rows, same schema and plans
    warm = table.filter(pa.array(u % 10 == 0))
    pq.write_table(warm, f"{out}/warm.parquet", row_group_size=max(1, warm.num_rows // 8))
    keys_per_unit = np.bincount(cell_unit, minlength=CONTRIB_UNITS)

    # Per cell, what the Linf cap lets it keep: min(rows, Linf) rows, and at
    # most the sum of its Linf largest clipped values.
    count_cap = np.minimum(rows_per_cell, LINF_CAP)
    clipped = np.clip(value, 0.0, MAX_VALUE)
    by_cell = np.lexsort((-clipped, cell_of_row))
    top = by_cell[rank_within(cell_of_row[by_cell]) < LINF_CAP]
    sum_cap = np.bincount(cell_of_row[top], weights=clipped[top], minlength=cells.size)
    keys = np.unique(cell_key)
    key_ix = np.searchsorted(keys, cell_key)
    pq.write_table(pa.table({
        "key": keys,
        "rows": np.bincount(key_ix, weights=rows_per_cell).astype(np.int64),
        "exact_sum": np.bincount(key_ix[cell_of_row], weights=value),
        "count_cap": np.bincount(key_ix, weights=count_cap).astype(np.int64),
        "sum_cap": np.bincount(key_ix, weights=sum_cap)}), f"{out}/truth.parquet")
    # Per unit, the L0 cells with the most rows after the Linf cap.
    by_unit = np.lexsort((-count_cap, cell_unit))
    kept = by_unit[rank_within(cell_unit[by_unit]) < L0_CAP]
    stats = {
        "rows": int(u.size),
        "units": int(np.count_nonzero(keys_per_unit)),
        "keys": int(np.unique(cell_key).size),
        "cells": int(cells.size),
        "l0_cap": L0_CAP,
        "linf_cap": LINF_CAP,
        "units_fanout_above_l0_frac": float(np.mean(keys_per_unit[keys_per_unit > 0] > L0_CAP)),
        "cells_above_linf_frac": float(np.mean(rows_per_cell > LINF_CAP)),
        "rows_in_units_above_l0_frac": float(
            np.isin(u, np.flatnonzero(keys_per_unit > L0_CAP)).mean()),
        "total_count_cap": int(count_cap[kept].sum()),
    }
    with open(f"{out}/stats.json", "w") as f:
        json.dump(stats, f, indent=1)
    return stats


def main(seed, out):
    print(json.dumps(gen_contrib(np.random.default_rng(seed), out)))


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2])
