#!/usr/bin/env python3
"""Compare two graft.Verify output dirs row by row: for each query, the
decoded rows (in order) and the column names and types must match.

Differences that do not change a value are reported but do not fail:
  - nullability-only: same names, types and rows, a field's nullable
    flag differs;
  - footer-only: schema and rows identical, the part files' bytes differ
    (Spark's parquet footers are not byte-stable between runs).
Exits 1 on any value, type, row-count or column difference, or a query
missing from one side.

Usage: python3 tools/compare_outputs.py <dirA> <dirB> [rows]
  rows: comma-separated query names (default: every query dir in A or B)
"""
import math, os, sys
import pyarrow.parquet as pq


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def part_bytes(d):
    return [open(os.path.join(d, f), "rb").read()
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in v.items()}
    return v


def compare(a_dir, b_dir):
    """(status, detail) for one query: status is one of
    identical / footer-only / nullability-only / DIFF."""
    a, b = pq.read_table(a_dir), pq.read_table(b_dir)
    sa, sb = a.schema, b.schema
    if sa.names != sb.names:
        return "DIFF", f"columns {sa.names} vs {sb.names}"
    types = [f"{x.name}: {x.type} vs {y.type}" for x, y in zip(sa, sb) if x.type != y.type]
    if types:
        return "DIFF", "types " + "; ".join(types)
    if a.num_rows != b.num_rows:
        return "DIFF", f"rows {a.num_rows} vs {b.num_rows}"
    for name in sa.names:
        ca, cb = norm(a.column(name).to_pylist()), norm(b.column(name).to_pylist())
        if ca != cb:
            i = next(i for i, (x, y) in enumerate(zip(ca, cb)) if x != y)
            return "DIFF", f"column {name} row {i}: {ca[i]!r} vs {cb[i]!r}"
    nulls = [f"{x.name}: nullable {x.nullable} vs {y.nullable}"
             for x, y in zip(sa, sb) if x.nullable != y.nullable]
    if nulls:
        return "nullability-only", "; ".join(nulls)
    if part_bytes(a_dir) != part_bytes(b_dir):
        return "footer-only", f"{a.num_rows} rows equal, part file bytes differ"
    return "identical", f"{a.num_rows} rows"


def main():
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    a_root, b_root = sys.argv[1], sys.argv[2]
    names = (sys.argv[3].split(",") if len(sys.argv) == 4
             else sorted(queries(a_root) | queries(b_root)))
    failed = 0
    for n in names:
        a_dir, b_dir = os.path.join(a_root, n), os.path.join(b_root, n)
        if not (os.path.isdir(a_dir) and os.path.isdir(b_dir)):
            status, detail = "DIFF", "missing in " + (b_root if os.path.isdir(a_dir) else a_root)
        else:
            status, detail = compare(a_dir, b_dir)
        failed += status == "DIFF"
        print(f"{status:16} {n}: {detail}")
    print(f"{len(names) - failed} match, {failed} differ")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
