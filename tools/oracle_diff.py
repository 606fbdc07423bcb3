#!/usr/bin/env python3
"""List the queries whose DuckDB oracle SQL differs between two dumps.

A dump is the `oracle_sql.json` that `graft.Verify <sf dir> <out> zz`
writes (the `zz` filter runs no query, so only the dump is written).
Two values count as equal when they match with whitespace runs
collapsed. With --sf DIR, each differing pair also runs in DuckDB over
the tables at DIR (tools/check.py's `connect`), and the two results are
compared as the driver sees them: column names, DuckDB types and every
value rendered to VARCHAR (check.py's `rendered`), as a multiset of
rows.

Run: python3 tools/oracle_diff.py A.json B.json [--sf DIR]
Prints one line per differing key: the key alone, or with --sf the key
and `equal`, `UNEQUAL` or `ERROR <message>`. Exit 0 iff no pair is
UNEQUAL or ERROR.
"""
import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import connect, rendered  # noqa: E402


def load(path):
    with open(path) as f:
        return {k: re.sub(r"\s+", " ", v).strip()
                for k, v in json.load(f).items()}


def result(con, sql):
    """(column names and types, sorted rendered rows) of `sql`."""
    schema = [(r[0], r[1]) for r in
              con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()]
    df = rendered(con, sql, [c for c, _ in schema])
    rows = sorted(tuple(v if isinstance(v, str) else "\0NULL" for v in r)
                  for r in df.itertuples(index=False))
    return schema, rows


def diff_dumps(a_path, b_path, sf=None):
    """[(key, verdict)] for every key whose SQL differs; verdict is None
    without `sf`."""
    a, b = load(a_path), load(b_path)
    keys = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
    if sf is None:
        return [(k, None) for k in keys]
    con = connect(sf)
    out = []
    for k in keys:
        if k not in a or k not in b:
            out.append((k, "ERROR only in " + ("B" if k in b else "A")))
            continue
        try:
            same = result(con, a[k]) == result(con, b[k])
            out.append((k, "equal" if same else "UNEQUAL"))
        except Exception as e:  # a failing oracle is reported, not fatal
            out.append((k, "ERROR " + str(e).splitlines()[0]))
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("a")
    p.add_argument("b")
    p.add_argument("--sf", help="scale-factor dir to run differing pairs on")
    args = p.parse_args()
    rows = diff_dumps(args.a, args.b, args.sf)
    for k, verdict in rows:
        print(k if verdict is None else f"{k} {verdict}", flush=True)
    bad = [k for k, v in rows if v is not None and v != "equal"]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
