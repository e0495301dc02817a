#!/usr/bin/env python3
"""Compare graft.Verify query outputs against their DuckDB oracles.

Usage:
    python3 tools/oracle_compare.py <sfDir> <verifyOutDir>

<verifyOutDir> is the output of
`sbt "runMain graft.Verify <sfDir> <verifyOutDir>"`: one parquet directory
per query plus oracle_sql.json (query name -> DuckDB SQL; the kg_* oracles
read the kernel intermediates Verify dumps to the sibling
<verifyOutDir>__inputs).

Every <sfDir>/<name>.parquet is registered as a DuckDB view <name>. Each
oracle runs, and its rows are compared with the query's rows as multisets:
columns sorted by name, each row reduced to a hash of its values. Prints
one line per failing query and then "N/M OK"; exits 1 if any query fails.
"""
import collections
import decimal
import glob
import hashlib
import json
import os
import sys

import duckdb


def norm(v):
    """A hashable, engine-neutral form of one value. Doubles compare
    exactly: the oracles are written to reproduce the engine's bits."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def row_hashes(con, sql):
    """Multiset of row hashes, columns sorted by name."""
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    hashes = collections.Counter()
    for row in rel.fetchall():
        key = repr(tuple(norm(row[i]) for i in order))
        hashes[hashlib.md5(key.encode("utf-8")).hexdigest()] += 1
    return sorted(cols), hashes


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    sf_dir, out_dir = (os.path.abspath(a) for a in argv[1:])
    with open(os.path.join(out_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracles = json.load(f)

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW \"{name}\" AS SELECT * FROM read_parquet('{path}')")

    failed = []
    for name in sorted(oracles):
        files = os.path.join(out_dir, name, "*.parquet")
        try:
            if not glob.glob(files):
                raise RuntimeError("no query output")
            got_cols, got = row_hashes(con, f"SELECT * FROM read_parquet('{files}')")
            want_cols, want = row_hashes(con, oracles[name])
            if got_cols != want_cols:
                raise RuntimeError(f"columns {got_cols} != oracle {want_cols}")
            if got != want:
                n_got, n_want = sum(got.values()), sum(want.values())
                diff = sum(((got - want) + (want - got)).values())
                raise RuntimeError(f"{diff} rows differ ({n_got} rows vs oracle {n_want})")
        except Exception as e:  # one failing oracle must not hide the rest
            failed.append(name)
            print(f"FAIL {name}: {str(e).splitlines()[0][:300]}")
    print(f"{len(oracles) - len(failed)}/{len(oracles)} OK")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
