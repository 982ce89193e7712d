#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet
outputs against the DuckDB oracle SQL and compare (sorted rows, columns
sorted by name). Each PASS/FAIL line ends with the query's elapsed
seconds (reading both sides and comparing); the five slowest queries
are listed at the end. Usage: local_check.py <sfDir> <verifyOutDir>"""
import json, sys, glob, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    timings = []
    for name in sorted(oracle):
        t0 = time.perf_counter()
        def say(msg):
            secs = time.perf_counter() - t0
            timings.append((secs, name))
            print(f"{msg} [{secs:.2f} s]")
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            say(f"FAIL {name}: no spark output"); failures += 1; continue
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            say(f"FAIL {name}: oracle error {e}"); failures += 1; continue
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            say(f"FAIL {name}: columns {list(s.columns)} vs {list(d.columns)}")
            failures += 1; continue
        if len(s) != len(d):
            say(f"FAIL {name}: rows {len(s)} vs {len(d)}"); failures += 1; continue
        if list(s.dtypes) != list(d.dtypes):
            bad = [(c, str(s.dtypes[c]), str(d.dtypes[c]))
                   for c in s.columns if s.dtypes[c] != d.dtypes[c]]
            say(f"FAIL {name}: dtype mismatch {bad}"); failures += 1; continue
        if not s.equals(d):
            neq = (s != d) & ~(s.isna() & d.isna())
            bad_cols = [c for c in s.columns if neq[c].any()]
            say(f"FAIL {name}: value mismatch in {bad_cols}")
            for c in bad_cols[:3]:
                i = neq[c].idxmax()
                print(f"   {c}[{i}]: spark={s[c][i]!r} duck={d[c][i]!r}")
            failures += 1; continue
        say(f"PASS {name} ({len(s)} rows, {len(s.columns)} cols)")
    extra = [q for q in glob.glob(f"{out_dir}/*/") if q.split('/')[-2] not in oracle]
    for q in sorted(extra):
        n = q.split('/')[-2]
        files = glob.glob(f"{q}*.parquet")
        rows = con.execute(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0] if files else 0
        print(f"INFO {n}: no oracle, rows={rows}")
    print("slowest:")
    for secs, name in sorted(timings, reverse=True)[:5]:
        print(f"  {name} {secs:.2f} s")
    print(f"{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return failures

if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
