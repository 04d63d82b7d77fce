#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate (dev tool only — the
shipped library is pure Scala/Spark; this script just pre-checks that
each SparkEntry.queries result parquet matches its DuckDB oracle).

Usage: python3 scripts/check.py <sfDir> <outDir>
(outDir = what `sbt "runMain graft.Verify <sfDir> <outDir>"` wrote)
"""
import sys, os, json, glob, shutil, tempfile
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamp columns to ns for compare
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)

def connect():
    """DuckDB with its memory_limit at half of MemTotal (its own default
    is 80% of RAM, which took q249's oracle past what a 15 GB machine
    could give) and a temp_directory under /tmp, so a large oracle
    spills to disk instead of failing. Returns (connection, spill dir)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    spill = tempfile.mkdtemp(prefix="duckdb_oracle_", dir="/tmp")
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{kb // 2 // 1024}MB'")
    con.execute(f"SET temp_directory='{spill}'")
    return con, spill

def main(sf_dir, out_dir):
    con, spill = connect()
    try:
        return run(con, sf_dir, out_dir)
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)

def run(con, sf_dir, out_dir):
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no result parquet"); n_fail += 1; continue
        try:
            got = norm(con.execute(
                f"SELECT * FROM read_parquet({files!r})").df())
            exp = norm(con.execute(oracles[name]).df())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        ok, msg = compare(got, exp)
        if ok:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
        else:
            print(f"FAIL {name}: {msg}"); n_fail += 1
    # queries without oracle: just check rows>0
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name in oracles: continue
        files = glob.glob(f"{d}/*.parquet")
        n = len(con.execute(f"SELECT * FROM read_parquet({files!r})").df()) if files else 0
        print(f"INFO {name}: no oracle, rows={n}")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

def compare(got, exp):
    if list(got.columns) != list(exp.columns):
        return False, f"columns differ: got {list(got.columns)} vs oracle {list(exp.columns)}"
    if len(got) != len(exp):
        return False, f"row count: got {len(got)} vs oracle {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        # The driver's hasher is dtype-sensitive (round 9: DuckDB HUGEINT
        # vs Spark int64 hashed differently despite equal values). A dtype
        # mismatch is therefore a hard FAIL here too — no string fallback.
        if g.dtype != e.dtype:
            return False, f"col {c} dtype mismatch: got {g.dtype} vs oracle {e.dtype}"
        if g.dtype == object and len(g) and isinstance(g.iloc[0], np.ndarray):
            eq = all(np.array_equal(a, b) for a, b in zip(g, e))
        else:
            try:
                eq = g.equals(e) or bool((g.fillna(-1e307) == e.fillna(-1e307)).all())
            except Exception:
                eq = bool((g.astype(str) == e.astype(str)).all())
        if not eq:
            bad = None
            for i in range(len(g)):
                gv, ev = g.iloc[i], e.iloc[i]
                try:
                    same = (pd.isna(gv) and pd.isna(ev)) or \
                        (np.array_equal(gv, ev) if isinstance(gv, np.ndarray) else gv == ev)
                except Exception:
                    same = False
                if not same:
                    bad = (i, gv, ev); break
            if bad is None:  # vectorized compare tripped on dtype only; values equal
                continue
            return False, f"col {c} differs at row {bad[0]}: got {bad[1]!r} vs oracle {bad[2]!r} (dtype {g.dtype} vs {e.dtype})"
    return True, ""

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
