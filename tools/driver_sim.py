"""Simulates the spark-graft driver: import __spark_entry__, smoke entry(),
run queries() vs oracle_sql(), order-insensitive value-hash compare.

Usage:
    python3 tools/driver_sim.py [sf_dir] [name ...]

``sf_dir`` defaults to /root/testdata/sf0.01; with query names, only those
run. On a hash mismatch the first spark-only and duck-only rows print."""
import hashlib, math, sys, time
import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import __spark_entry__ as e
from pyspark.sql import SparkSession

args = sys.argv[1:]
SF = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
spark = (SparkSession.builder.master("local[8]").appName("driver-sim")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# smoke: entry()
df = e.entry(spark)
rows = df.collect()
print(f"ENTRY: rows={len(rows)} schema={[f.name for f in df.schema.fields]}")

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def cell(v):
    if v is None: return "NULL"
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        if v == int(v) and abs(v) < 1e15: return repr(float(v))
        return repr(v)
    return str(v)

def lines(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(cell(r[i]) for i in order) for r in rows)

def table_hash(cols, rows):
    return hashlib.sha256("\n".join(lines(cols, rows)).encode()).hexdigest()[:16]

qs, oracles = e.queries(), e.oracle_sql()
names = args or sorted(qs)
fail = 0
for name in names:
    if name not in qs:
        print(f"UNKNOWN         {name}")
        fail += 1
        continue
    t0 = time.time()
    sdf = qs[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    status, detail = "ROWS-ONLY", f"{len(srows)} rows"
    if name in oracles:
        dres = con.execute(oracles[name])
        dcols = [d[0] for d in dres.description]
        drows = dres.fetchall()
        if sorted(scols) != sorted(dcols):
            status, detail = "SCHEMA-MISMATCH", f"spark={sorted(scols)} duck={sorted(dcols)}"
        elif len(srows) != len(drows):
            status, detail = "COUNT-MISMATCH", f"spark={len(srows)} duck={len(drows)}"
        else:
            h1, h2 = table_hash(scols, srows), table_hash(dcols, drows)
            status = "MATCH" if h1 == h2 else "HASH-MISMATCH"
            detail = f"{len(srows)} rows hash={h1}"
            if status == "HASH-MISMATCH":
                s_set, d_set = set(lines(scols, srows)), set(lines(dcols, drows))
                for x in sorted(s_set - d_set)[:3]:
                    print("  spark-only:", x)
                for x in sorted(d_set - s_set)[:3]:
                    print("  duck-only: ", x)
    if status not in ("MATCH", "ROWS-ONLY"): fail += 1
    print(f"{status:15s} {name:28s} {detail}  ({time.time()-t0:.1f}s)")
print("RESULT:", "FAIL" if fail else "PASS", f"({len(names)} queries, {sum(n in oracles for n in names)} oracle-checked)")
spark.stop()
sys.exit(1 if fail else 0)
