#!/usr/bin/env python3
"""Local pre-validation of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [budget_s]

Mimics the driver: for each query in oracle_sql.json, run the SQL in DuckDB
over views named after the parquet tables, load the Spark parquet result,
sort columns by name, and compare values (exact for ints/strings, tight
tolerance report for doubles so we can see *how* they differ).

With budget_s, an oracle still running after that many seconds is
interrupted and reported as TIMEOUT, not as a failure. Scale-up sweeps
(sf0.1) need it: a few definitional oracles (recursive dedup closures, full
wedge enumerations) are quadratic in DuckDB and would run for hours.

DuckDB's spill (its temp directory) is capped at half the disk free when
the checker starts: an oracle that would spill more fails with an ORACLE
SQL ERROR line instead of filling the disk within its time budget.
"""
import json, sys, glob, os, shutil, threading
import duckdb
import pandas as pd
import numpy as np

sf_dir, out_dir = sys.argv[1], sys.argv[2]
budget = float(sys.argv[3]) if len(sys.argv) > 3 else None
con = duckdb.connect()
tmp_dir = con.execute("SELECT current_setting('temp_directory')").fetchone()[0]
free = shutil.disk_usage(os.path.dirname(os.path.abspath(tmp_dir))).free
con.execute(f"SET max_temp_directory_size = '{free // 2}B'")
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")


def oracle_df(sql):
    # con.interrupt() cancels the running query (InterruptException) and
    # leaves the connection usable; an interrupt that lands after the
    # query finished does not cancel the next one.
    if not budget:
        return con.execute(sql).df()
    timer = threading.Timer(budget, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    finally:
        timer.cancel()


oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
n_pass = n_fail = n_to = 0
for name, sql in sorted(oracle.items()):
    spark_dir = f"{out_dir}/{name}"
    if not os.path.isdir(spark_dir):
        print(f"MISSING SPARK OUT: {name}")
        n_fail += 1
        continue
    try:
        odf = oracle_df(sql)
    except duckdb.InterruptException:
        print(f"TIMEOUT {name} (> {budget:g}s oracle — skipped)")
        n_to += 1
        continue
    except Exception as e:
        print(f"ORACLE SQL ERROR {name}: {e}")
        n_fail += 1
        continue
    sdf = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{spark_dir}/*.parquet"))],
                    ignore_index=True)
    odf = odf[sorted(odf.columns)]
    if sorted(sdf.columns) != sorted(odf.columns):
        print(f"FAIL {name}: columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        n_fail += 1
        continue
    sdf = sdf[sorted(sdf.columns)]
    if len(sdf) != len(odf):
        print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
        n_fail += 1
        continue
    ok = True
    for c in odf.columns:
        a, b = sdf[c].to_numpy(), odf[c].to_numpy()
        # Driver hashes stringified values, so an int64 Spark column vs a
        # float64 oracle column (e.g. DuckDB HUGEINT from SUM(BIGINT)) hash-
        # mismatches even when numerically equal ("1" vs "1.0"). The float-
        # tolerant compare below hides exactly that, so fail on kind skew
        # first (r04 lesson: q_session_gap.session_id).
        if (a.dtype.kind in 'iu') != (b.dtype.kind in 'iu') and \
           {a.dtype.kind, b.dtype.kind} <= set('iuf'):
            print(f"FAIL {name}.{c}: dtype kind skew spark={a.dtype} oracle={b.dtype} "
                  f"(driver hashes stringified values: int vs float never match)")
            ok = False
            continue
        if a.dtype.kind == 'f' or b.dtype.kind == 'f':
            aa = a.astype(float); bb = b.astype(float)
            both_nan = np.isnan(aa) & np.isnan(bb)
            eq = both_nan | (aa == bb)
            if not eq.all():
                i = int(np.argmin(eq))
                print(f"FAIL {name}.{c}: first diff row {i}: spark={aa[i]!r} oracle={bb[i]!r} "
                      f"(maxabs={np.nanmax(np.abs(aa-bb)):.3g}, ndiff={int((~eq).sum())})")
                ok = False
        else:
            eq = (pd.Series(a).astype(str).fillna('<NA>') == pd.Series(b).astype(str).fillna('<NA>'))
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                print(f"FAIL {name}.{c}: first diff row {i}: spark={a[i]!r} oracle={b[i]!r} "
                      f"(ndiff={int((~eq).sum())})")
                ok = False
    if ok:
        n_pass += 1
        print(f"PASS {name} ({len(sdf)} rows)")
    else:
        n_fail += 1

# rows-only entries (no oracle): mirror the driver's sort+hash anyway, so a
# column type pandas can't sort (arrays, structs) fails HERE, not in the
# driver (round-3 lesson: ml_feature_pipeline's array<double> column).
for d in sorted(glob.glob(f"{out_dir}/*/")):
    nm = os.path.basename(d.rstrip('/'))
    if nm not in oracle:
        files = sorted(glob.glob(f"{d}/*.parquet"))
        if not files:
            print(f"ROWS-ONLY {nm}: MISSING OUTPUT")
            n_fail += 1
            continue
        df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            df = df[sorted(df.columns)]
            df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
            pd.util.hash_pandas_object(df, index=False)
            print(f"ROWS-ONLY {nm}: {len(df)} rows (driver-sortable)")
            if len(df) == 0:
                print(f"  WARNING {nm}: 0 rows — driver smoke wants rows>0")
                n_fail += 1
        except Exception as e:
            print(f"ROWS-ONLY {nm}: {len(df)} rows — DRIVER-UNSORTABLE: {type(e).__name__}: {e}")
            n_fail += 1
print(f"\n{n_pass} pass / {n_fail} fail / {n_to} oracle-timeout")
