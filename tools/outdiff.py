#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query.

Usage: python3 tools/outdiff.py <outA> <outB> [name ...]

A query is the SAME when both dirs hold its output and the two pandas
frames (pandas.read_parquet, rows in their stored order) have identical
column names and dtypes and equal values: NaN equals NaN, list and struct
cells compare element by element. Without names, every query dir in
either output is compared. Also prints the names whose oracle_sql.json
text differs after whitespace normalization (informational only).

Exit status: 0 when every compared query is the same, 1 otherwise.
"""
import json
import math
import os
import sys

import numpy as np
import pandas as pd


def query_dirs(out):
    return {n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n))}


def same_cell(x, y):
    if isinstance(x, np.ndarray) or isinstance(y, np.ndarray):
        return (isinstance(x, np.ndarray) and isinstance(y, np.ndarray)
                and len(x) == len(y) and all(map(same_cell, x, y)))
    if isinstance(x, dict) or isinstance(y, dict):
        return (isinstance(x, dict) and isinstance(y, dict) and x.keys() == y.keys()
                and all(same_cell(x[k], y[k]) for k in x))
    if x is None or y is None:
        return x is None and y is None
    if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
        return True
    return type(x) is type(y) and x == y


def frame_diff(a, b):
    """None when the frames are the same, else the first difference."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    dtypes = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns
              if str(a[c].dtype) != str(b[c].dtype)]
    if dtypes:
        return "dtypes " + ", ".join(f"{c}: {x} vs {y}" for c, x, y in dtypes)
    if len(a) != len(b):
        return f"{len(a)} vs {len(b)} rows"
    for c in a.columns:
        if a[c].dtype == object:
            for i, (x, y) in enumerate(zip(a[c], b[c])):
                if not same_cell(x, y):
                    return f"col {c} row {i}: {x!r} vs {y!r}"
        elif not a[c].equals(b[c]):
            i = int(np.argmin(((a[c] == b[c]) | (a[c].isna() & b[c].isna())).values))
            return f"col {c} row {i}: {a[c].iloc[i]!r} vs {b[c].iloc[i]!r}"
    return None


def oracle_texts(out):
    path = os.path.join(out, "oracle_sql.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {k: " ".join(v.split()) for k, v in json.load(f).items()}


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_a, out_b, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    have_a, have_b = query_dirs(out_a), query_dirs(out_b)
    n_same = n_diff = 0
    for name in sorted(names or have_a | have_b):
        if name not in have_a or name not in have_b:
            diff = f"only in {out_a if name in have_a else out_b}"
        else:
            try:
                diff = frame_diff(pd.read_parquet(os.path.join(out_a, name)),
                                  pd.read_parquet(os.path.join(out_b, name)))
            except Exception as e:  # unreadable output counts as a difference
                diff = f"read error: {e}"
        if diff is None:
            n_same += 1
        else:
            n_diff += 1
            print(f"DIFF  {name}: {diff}")
    print(f"{n_same} same, {n_diff} differ")
    ta, tb = oracle_texts(out_a), oracle_texts(out_b)
    changed = sorted(n for n in ta.keys() | tb.keys() if ta.get(n) != tb.get(n))
    print(f"oracle text changed ({len(changed)}): {' '.join(changed)}")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
