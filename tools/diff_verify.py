#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/diff_verify.py <verifyOutA> <verifyOutB>

For each query directory (one parquet table per declared query) this
compares the schema (column names, order and types), then the rows as
sorted multisets, the way check_oracle.py's `canon` does. Some queries
write the same rows in a different order from run to run, so a
row-for-row diff would report changes that are not there. Those are
reported apart as order-only differences and do not fail the run.

Exits 1 if any query is missing on one side, differs in schema, or
differs in its multiset of rows; 0 otherwise.
"""
import math
import os
import sys
from collections import Counter

import pyarrow.parquet as pq


def queries(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def canon(v):
    """A hashable, exactly comparable form of one cell value."""
    if isinstance(v, float):
        # repr keeps -0.0 apart from 0.0 and makes NaN equal to NaN
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    return v


def rows(table):
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return [repr(tuple(canon(c[r]) for c in cols)) for r in range(table.num_rows)]


def schema(table):
    return ", ".join(f"{f.name} {f.type}{'' if f.nullable else ' not null'}"
                     for f in table.schema)


def compare(a_dir, b_dir):
    """('equal' | 'order' | 'schema' | 'rows', detail) for one query."""
    ta, tb = pq.read_table(a_dir), pq.read_table(b_dir)
    if schema(ta) != schema(tb):
        return "schema", f"({schema(ta)}) vs ({schema(tb)})"
    ra, rb = rows(ta), rows(tb)
    if ra == rb:
        return "equal", ""
    ca, cb = Counter(ra), Counter(rb)
    if ca == cb:
        return "order", f"{len(ra)} rows"
    only_a, only_b = ca - cb, cb - ca
    return "rows", (f"{len(ra)} vs {len(rb)} rows; "
                    f"{sum(only_a.values())} only in A, e.g. {next(iter(only_a), None)}; "
                    f"{sum(only_b.values())} only in B, e.g. {next(iter(only_b), None)}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    qa, qb = queries(a), queries(b)
    failed = 0
    for name in sorted(qa ^ qb):
        print(f"MISSING {name}: only in {'A' if name in qa else 'B'}")
        failed += 1
    order_only = []
    n_equal = 0
    for name in sorted(qa & qb):
        kind, detail = compare(os.path.join(a, name), os.path.join(b, name))
        if kind == "equal":
            n_equal += 1
        elif kind == "order":
            order_only.append(name)
            print(f"ORDER {name}: same rows, different order ({detail})")
        else:
            failed += 1
            print(f"DIFF {name}: {kind}: {detail}")
    print(f"{n_equal + len(order_only)}/{len(qa | qb)} equal in schema and rows "
          f"({len(order_only)} in a different order), {failed} differ")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
