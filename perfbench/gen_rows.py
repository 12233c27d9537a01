#!/usr/bin/env python3
"""Seeded multi-file dataset in the reference row reader's test shape.

Fields are named field_1..field_N; each field has one of five types, each
type used equally often and placed by the seed: string, int64, float64, a struct
<sub_field_1: string, sub_field_2: int64, sub_field_3: double,
sub_field_4: list<int64> (1-9 elements)> and a list (1-4 elements) of that
struct. Every row is distinct: strings are numbered, ints and floats span
negative and positive values. One row group per file. Writes _meta.json (a name
Parquet readers skip) with the field types next to the files.

Usage: gen_rows.py <out_dir> <seed> <files> <rows_per_file> <fields>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHAPES = ["string", "int", "float", "struct", "list_struct"]


def struct_array(rng, base, n):
    lens = rng.integers(1, 10, n)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    inner = pa.array(rng.integers(-1000, 1000, int(offsets[-1])), pa.int64())
    return pa.StructArray.from_arrays(
        [pa.array([f"sub_{i}" for i in base]),
         pa.array(base - 500_000, pa.int64()),
         pa.array(base / 3.0, pa.float64()),
         pa.ListArray.from_arrays(pa.array(offsets), inner)],
        ["sub_field_1", "sub_field_2", "sub_field_3", "sub_field_4"])


def column(rng, shape, ids):
    n = len(ids)
    if shape == "string":
        return pa.array([f"string_field_{i}" for i in ids])
    if shape == "int":
        return pa.array(ids * 7 - 3_500_000, pa.int64())
    if shape == "float":
        return pa.array((ids - 500_000) / 3.0, pa.float64())
    if shape == "struct":
        return struct_array(rng, ids, n)
    lens = rng.integers(1, 5, n)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    base = np.repeat(ids, lens) * 4 + np.concatenate([np.arange(k) for k in lens])
    return pa.ListArray.from_arrays(pa.array(offsets), struct_array(rng, base, len(base)))


def main():
    out, seed, files, rows, fields = sys.argv[1], *map(int, sys.argv[2:6])
    rng = np.random.default_rng(seed)
    # every shape equally often, in an order drawn from the seed, so that
    # datasets of different seeds cost the same to read
    shapes = [SHAPES[i % len(SHAPES)] for i in rng.permutation(fields)]
    os.makedirs(out, exist_ok=True)
    for f in range(files):
        ids = np.arange(f * rows, (f + 1) * rows, dtype=np.int64)
        cols = {f"field_{j + 1}": column(rng, s, ids) for j, s in enumerate(shapes)}
        pq.write_table(pa.table(cols), os.path.join(out, f"part-{f:05d}.parquet"),
                       row_group_size=rows)
    with open(os.path.join(out, "_meta.json"), "w") as fh:
        json.dump({"fields": {f"field_{j + 1}": s for j, s in enumerate(shapes)},
                   "files": files, "rows_per_file": rows}, fh)


if __name__ == "__main__":
    main()
