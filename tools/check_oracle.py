#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query output
parquet written by `graft.Verify`, run the corresponding oracle SQL from
oracle_sql.json in DuckDB over the same sf-dir parquet tables and compare
as sorted multisets (columns sorted by name, rows sorted by string repr).

Some oracles also read stage dumps under /tmp/graft_*_cache (the build-once
tables the queries read). A dump path that matches no file is reported as
`MISSING <query>: <path>` and that query counts as failed, so a partial cache
set names what is absent instead of failing inside DuckDB.

Usage: python3 tools/check_oracle.py <verifyOutDir> <sfDir>
"""
import sys, os, json, glob, re
import duckdb

STAGE_PATH = re.compile(r"'(/tmp/graft_[^']*)'")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        # mirror a value-hash compare: exact repr, but canonicalize -0.0
        if v == 0.0: v = 0.0
        return repr(v)
    return repr(v)

def load_rows(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return sorted(cols), sorted(rows)

def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    missing = 0
    for name, sql in sorted(oracle.items()):
        absent = sorted({p for p in STAGE_PATH.findall(sql) if not glob.glob(p)})
        for p in absent:
            print(f"MISSING {name}: {p}")
        if absent:
            missing += len(absent)
            failures += 1
            continue
        pdir = f"{out_dir}/{name}"
        files = glob.glob(f"{pdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output at {pdir}")
            failures += 1
            continue
        try:
            got_cols, got = load_rows(con.execute(
                f"select * from read_parquet({files!r})"))
            want_cols, want = load_rows(con.execute(sql))
        except Exception as e:
            print(f"FAIL {name}: {e}")
            failures += 1
            continue
        if got_cols != want_cols:
            print(f"FAIL {name}: columns {got_cols} != {want_cols}")
            failures += 1
        elif got != want:
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
            gs, ws = set(got), set(want)
            for r in list(gs - ws)[:3]: print(f"   spark-only: {r}")
            for r in list(ws - gs)[:3]: print(f"   oracle-only: {r}")
            failures += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
    # queries without oracle: rows-only check
    for pdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(pdir.rstrip("/"))
        if name in oracle: continue
        files = glob.glob(f"{pdir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no output"); failures += 1; continue
        n = con.execute(f"select count(*) from read_parquet({files!r})").fetchone()[0]
        print(f"ROWS {name}: {n} rows {'OK' if n > 0 else 'FAIL (empty)'}")
        if n == 0: failures += 1
    print("=" * 40)
    if missing:
        print(f"{missing} stage dumps MISSING (queries reading them counted as failures)")
    print("ALL OK" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
