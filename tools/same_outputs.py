#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps query by query.

usage: tools/same_outputs.py <dirA> <dirB>

For every query directory in either dump, the parquet output is read
with pyarrow and compared: first the schema, then the rows in order
(NaN equals NaN). `oracle_sql.json` is compared byte for byte. Raw
parquet bytes cannot show that two outputs are the same, because
parquet-mr orders column-chunk encodings unstably between runs.

A query without an ORDER BY may emit its rows in another order from
one run to the next on the same code (q126_sql_semdedup does, after a
shuffle). When the rows differ in order only, the query is listed as a
note and counted equal; the oracle compare sorts rows too.

Prints the name of each query (or file) that differs and exits 1 if
any does; otherwise prints the count and exits 0.
"""
import math
import os
import sys

import pyarrow.parquet as pq


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return type(a) is type(b) and a == b


def read(path):
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if not files:
        return None
    return pq.read_table([os.path.join(path, f) for f in files])


REORDERED = "same rows, other order"


def compare(path_a, path_b):
    """None when the two outputs agree, else a one-line reason."""
    a, b = read(path_a), read(path_b)
    if a is None or b is None:
        return None if a is None and b is None else "output missing on one side"
    if not a.schema.equals(b.schema, check_metadata=False):
        return f"schema {a.schema.names} vs {b.schema.names}"
    if a.num_rows != b.num_rows:
        return f"rows {a.num_rows} vs {b.num_rows}"
    ra, rb = a.to_pylist(), b.to_pylist()
    for i, (x, y) in enumerate(zip(ra, rb)):
        if not same(x, y):
            if sorted(map(repr, ra)) == sorted(map(repr, rb)):
                return REORDERED
            return f"row {i} differs"
    return None


def main(dir_a, dir_b):
    def queries(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}

    qa, qb = queries(dir_a), queries(dir_b)
    diffs = [f"{n}: only in {dir_a if n in qa else dir_b}"
             for n in sorted(qa ^ qb)]
    for n in sorted(qa & qb):
        why = compare(os.path.join(dir_a, n), os.path.join(dir_b, n))
        if why == REORDERED:
            print(f"note: {n}: {why}")
        elif why:
            diffs.append(f"{n}: {why}")
    oracle = "oracle_sql.json"
    with open(os.path.join(dir_a, oracle), "rb") as fa, \
            open(os.path.join(dir_b, oracle), "rb") as fb:
        oracle_same = fa.read() == fb.read()
    for d in diffs:
        print(d)
    print(f"--- {len(qa | qb) - len(diffs)}/{len(qa | qb)} outputs equal, "
          f"{oracle} {'identical' if oracle_same else 'differs'}")
    return 0 if not diffs and oracle_same else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    sys.exit(main(sys.argv[1], sys.argv[2]))
