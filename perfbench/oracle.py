"""DuckDB oracle digests for the olap_slice queries.

Runs each query's oracle SQL (`SparkEntry.oracleSql`, dumped by the
harness's OracleSql main) over the generated tables and writes one
`name<TAB>digest` line per query. The digest is the row count plus the
wrapping 64-bit sum of each row's MD5 prefix, with values rendered exactly
as `Digest.render` renders Spark's rows (Stats.scala), so the two agree
when the answers do.

Usage: python3 oracle.py <data_dir> <oracle_sql.json> <out.tsv>
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import sys

import duckdb

EPOCH = datetime.datetime(1970, 1, 1)


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return str(int(math.floor(v * 1e4 + 0.5)))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t" + str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "d" + str((v - EPOCH.date()).days)
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "(" + ",".join(render(x) for x in v.values()) + ")"
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        s = "\x01".join(f"{cols[i]}={render(r[i])}" for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{total % (1 << 64):016x}"


def digests(data_dir, sql_by_query):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, 'duckdb_tmp')}'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for q, sql in sql_by_query.items():
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[q] = digest(cols, cur.fetchall())
    return out


if __name__ == "__main__":
    data_dir, sql_path, out_path = sys.argv[1:4]
    with open(sql_path) as f:
        res = digests(data_dir, json.load(f))
    with open(out_path, "w") as f:
        f.writelines(f"{q}\t{d}\n" for q, d in res.items())
