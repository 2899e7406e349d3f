#!/usr/bin/env python3
"""Compare two `graft.Verify` output trees query by query.

Usage: compare_verify.py <dirA> <dirB> [--only q1,q2,...]

Each query's parquet output (<dir>/<name>/part-*.parquet) is read as a
pyarrow table on both sides and compared on three things: the Arrow
schema (names, types, nullability), the parquet key-value metadata of
its footers (Spark's stored row schema and version), and its rows as a
multiset, since a query without ORDER BY may return its rows in any
order. `oracle_sql.json` is compared as parsed JSON (skipped with
--only).

Files are not compared byte for byte: parquet-mr writes each column
chunk's `encodings` list in hash order, so equal outputs of two JVM runs
can differ in their bytes.

Prints EQUAL or DIFF (with the first reason) per query and exits 1 when
any query differs or is missing on one side.
"""
import argparse
import json
import sys
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq


def data_files(d: Path):
    """The visible parquet files of one query's output, name-sorted."""
    return sorted(f for f in d.iterdir()
                  if f.is_file() and f.suffix == ".parquet"
                  and not f.name.startswith(("_", ".")))


def load(d: Path):
    """(table, key-value metadata) of one query's output directory."""
    files = data_files(d)
    if not files:
        raise ValueError("no parquet data files")
    kv = {}
    for f in files:
        kv.update(pq.read_metadata(f).metadata or {})
    tables = [pq.read_table(f) for f in files]
    schema = tables[0].schema.remove_metadata()
    table = pa.concat_tables([t.cast(schema) for t in tables])
    return table.replace_schema_metadata(None), kv


def row_keys(t: pa.Table):
    return [repr(sorted(r.items())) for r in t.to_pylist()]


def compare(a: Path, b: Path):
    """None when equal, else the first difference found."""
    ta, ka = load(a)
    tb, kb = load(b)
    if ta.schema != tb.schema:
        return f"schema: {ta.schema} != {tb.schema}"
    if ka != kb:
        keys = sorted(k for k in set(ka) | set(kb) if ka.get(k) != kb.get(k))
        return "key-value metadata differs on " + ", ".join(
            k.decode(errors="replace") for k in keys)
    if ta.num_rows != tb.num_rows:
        return f"rows: {ta.num_rows} != {tb.num_rows}"
    ra, rb = Counter(row_keys(ta)), Counter(row_keys(tb))
    if ra != rb:
        return f"rows differ, e.g. {next(iter(ra - rb))} only in A"
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir_a", type=Path)
    ap.add_argument("dir_b", type=Path)
    ap.add_argument("--only", help="comma-separated query names")
    args = ap.parse_args()

    def queries(d: Path):
        return {q.name for q in d.iterdir() if q.is_dir()}

    names = queries(args.dir_a) | queries(args.dir_b)
    if args.only:
        names = {n.strip() for n in args.only.split(",") if n.strip()}
    diffs = 0
    for name in sorted(names):
        a, b = args.dir_a / name, args.dir_b / name
        try:
            if not a.is_dir() or not b.is_dir():
                why = f"missing in {'A' if not a.is_dir() else 'B'}"
            else:
                why = compare(a, b)
        except Exception as e:  # unreadable output is a difference
            why = f"{type(e).__name__}: {e}"
        print(f"{'EQUAL' if why is None else 'DIFF '} {name}"
              + ("" if why is None else f"  {why}"))
        diffs += why is not None
    print(f"{len(names) - diffs}/{len(names)} queries equal")
    oa, ob = args.dir_a / "oracle_sql.json", args.dir_b / "oracle_sql.json"
    if not args.only and (oa.exists() or ob.exists()):
        same = (oa.exists() and ob.exists()
                and json.loads(oa.read_text()) == json.loads(ob.read_text()))
        print(f"{'EQUAL' if same else 'DIFF '} oracle_sql.json")
        diffs += not same
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
