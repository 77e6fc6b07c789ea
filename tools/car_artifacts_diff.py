#!/usr/bin/env python3
"""Row-for-row diff of two car lifecycle result directories.

Usage: python3 tools/car_artifacts_diff.py <resultA> <resultB>

A result directory is what `graft.Run preprocess`, `first` and `second`
write under one `--result-dir`. The nine parquet artifacts are compared
as multisets with DuckDB `EXCEPT ALL`, both ways. The submission (a
headerless TSV directory) is compared as sorted lines and
`dictionary.json` byte for byte. Prints one line per artifact and exits
0 iff every artifact is identical; a missing artifact counts as a
difference.
"""
import glob
import os
import sys

import duckdb

PARQUET = ["train_dataset", "dev_dataset", "triplets", "entity_vocab",
           "relation_vocab", "embedding/entity", "embedding/relation",
           "deal_scored", "date_price"]


def parquet_diff(con, a, b):
    """(rows of a, rows only in a, rows only in b), counted with duplicates."""
    ra, rb = (f"read_parquet('{os.path.join(d, '*.parquet')}')" for d in (a, b))
    n = con.execute(f"SELECT count(*) FROM {ra}").fetchone()[0]
    only_a = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb})").fetchone()[0]
    only_b = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra})").fetchone()[0]
    return n, only_a, only_b


def submission_lines(d):
    lines = []
    for p in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(p, encoding="utf-8") as fh:
            lines += fh.read().splitlines()
    return sorted(lines)


def main(a, b):
    con = duckdb.connect()
    same = True
    for name in PARQUET:
        pa, pb = os.path.join(a, name), os.path.join(b, name)
        if not (glob.glob(os.path.join(pa, "*.parquet")) and glob.glob(os.path.join(pb, "*.parquet"))):
            print(f"MISSING {name}")
            same = False
            continue
        n, only_a, only_b = parquet_diff(con, pa, pb)
        ok = only_a == 0 and only_b == 0
        same &= ok
        print(f"{'SAME' if ok else 'DIFF'} {name}: {n} rows, {only_a} only in A, {only_b} only in B")
    sa, sb = (submission_lines(os.path.join(d, "submission")) for d in (a, b))
    ok = bool(sa) and sa == sb
    same &= ok
    print(f"{'SAME' if ok else 'DIFF'} submission: {len(sa)} lines in A, {len(sb)} in B")
    da, db = (os.path.join(d, "dictionary.json") for d in (a, b))
    if os.path.isfile(da) and os.path.isfile(db):
        with open(da, "rb") as fa, open(db, "rb") as fb:
            ok = fa.read() == fb.read()
        print(f"{'SAME' if ok else 'DIFF'} dictionary.json")
    else:
        ok = False
        print("MISSING dictionary.json")
    same &= ok
    print("identical" if same else "different")
    return 0 if same else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    sys.exit(main(sys.argv[1], sys.argv[2]))
