#!/usr/bin/env python3
"""Check query outputs against their DuckDB oracles.

    python3 perfbench/oracle.py <checkDir> <embeddingsDir>

<checkDir> holds oracle_sql.json ({query: sql}) and one parquet dir per
query with the engine's output. Each output is compared with its oracle
as a sorted multiset of rows (columns sorted by name), values compared
by exact repr, as the repository's oracle gate does. Prints one line per
query, "<name> OK" or "<name> FAIL <reason>".
"""
import glob
import json
import re
import sys

import duckdb


def norm(v):
    if isinstance(v, float) and v == 0.0:
        v = 0.0  # -0.0 and 0.0 compare equal
    return repr(v)


def rows(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm(r[i]) for i in order) for r in cur.fetchall())


def materialize_shared_ctes(sql):
    """Mark each non-recursive CTE that is read more than once as
    MATERIALIZED. DuckDB otherwise inlines a CTE at every reference, so
    a shared expensive CTE (the raw-html link extraction the q68/q90
    oracles read once per iteration) is recomputed each time. The
    result is the same; only the evaluation count changes."""
    if re.search(r"\bWITH\s+RECURSIVE\b", sql, re.I):
        return sql
    for name in re.findall(r"(?:\bWITH\s+|,\s*)(\w+)\s+AS\s+\(\s*SELECT\b", sql, re.I):
        if len(re.findall(rf"\b{name}\b", sql)) > 2:
            sql = re.sub(rf"\b{name}\s+AS\s+\(", f"{name} AS MATERIALIZED (", sql, count=1)
    return sql


def main(check_dir, emb_dir):
    con = duckdb.connect()
    con.execute(f"create view embeddings as select * from read_parquet('{emb_dir}/*.parquet')")
    with open(f"{check_dir}/oracle_sql.json") as fh:
        oracle = json.load(fh)
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{check_dir}/{name}/*.parquet")
        try:
            got_cols, got = rows(con.execute(f"select * from read_parquet({files!r})"))
            want_cols, want = rows(con.execute(materialize_shared_ctes(sql)))
        except Exception as e:  # a failing oracle is a failed check, not a crash
            print(f"{name} FAIL {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            continue
        if got_cols != want_cols:
            print(f"{name} FAIL columns {got_cols} != {want_cols}")
        elif got != want:
            print(f"{name} FAIL {len(got)} rows vs {len(want)} oracle rows, "
                  f"{len(set(got) - set(want))} engine-only")
        elif not got:
            print(f"{name} FAIL empty output")
        else:
            print(f"{name} OK {len(got)} rows")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
