#!/usr/bin/env python3
"""Row count and digest of each query output that graft.Verify wrote.

    python3 scripts/digest.py <verifyOutDir> [query ...]

Reads <verifyOutDir>/<query>/*.parquet as check_oracles.py does, with the
columns in name order. DuckDB casts every value to VARCHAR; a row is its
values joined by tabs (NULL for a null), and the digest is the first 16 hex
digits of the sha256 of the sorted rows joined by newlines. The digest
depends on the rows only, not on their order or on the part files, so two
Verify runs give the same digest exactly when they give the same answers.
With no query named, every query dir is digested. Prints one line per query:

    <query> <rows> <digest>
"""
import glob
import hashlib
import os
import sys

import duckdb


def digest(con, qdir):
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return 0, "-"
    rel = con.read_parquet(files)
    cols = sorted(rel.columns)
    sel = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    rows = con.sql(f"SELECT {sel} FROM rel").fetchall()
    lines = sorted("\t".join("NULL" if v is None else v for v in r) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    out_dir, queries = argv[1], argv[2:]
    if not queries:
        queries = sorted(d for d in os.listdir(out_dir)
                         if os.path.isdir(os.path.join(out_dir, d)))
    con = duckdb.connect()
    missing = False
    for q in queries:
        qdir = os.path.join(out_dir, q)
        if not os.path.isdir(qdir):
            print(f"{q} missing", file=sys.stderr)
            missing = True
            continue
        n, h = digest(con, qdir)
        print(f"{q} {n} {h}")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
