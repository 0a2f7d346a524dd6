"""Replica of the round driver: plain SparkSession (driver's own config,
NOT our factory), entry() smoke at sf0.001, queries vs oracle at sf0.01."""
import sys, time, math, os, datetime as dt, decimal
from collections import Counter
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
import duckdb

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

# 1) smoke
df = e.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={df.columns}")
print("  top1:", rows[0])

# 2) correctness at sf0.01 (driver scale)
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, dt.datetime): return v.isoformat()
    if isinstance(v, (list, tuple)):  # array/struct columns (rows-only
        return tuple(norm(x) for x in v)  # queries) must hash for --twice
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, decimal.Decimal): return round(float(v), 9)
    return v

qs, oracles = e.queries(), e.oracle_sql()
args = [a for a in sys.argv[1:] if a != "--twice"]
# --twice (r7, VERDICT r6 item 7): run every query TWICE back-to-back
# in one session and require byte-identical value multisets — the
# cross-run determinism pin behind retry/AQE stability (md5-derived
# randomness, rounding before rank cuts). A query whose two passes
# differ is flagged NONDETERMINISTIC even if both happen to match the
# oracle.
TWICE = "--twice" in sys.argv[1:]
if args:
    qs = {k: v for k, v in qs.items() if k in args}
ok = bad = 0
vacuous = []
nondet = []
canon_err = []
from tools.driver_canon import driver_canon  # noqa: E402

for name, fn in sorted(qs.items()):
    t0 = time.time()
    sdf = fn(spark, SF)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    # Fidelity gate (VERDICT r7 item 2): run EVERY query — rows-only
    # included — through the driver's own pandas canonicalization.
    # A top-level array/map column raises here exactly as it ERRs at
    # the real driver (the r7 cluster-query episode).
    try:
        driver_canon(s_cols, s_rows)
    except Exception as ex:
        canon_err.append(name)
        bad += 1
        print(f"  {name}: DRIVER-CANON ERROR — would ERR at the real "
              f"driver ({type(ex).__name__}: {ex})")
        continue
    if TWICE:
        r2 = [tuple(r) for r in fn(spark, SF).collect()]
        h1 = Counter(tuple(norm(v) for v in r) for r in s_rows)
        h2 = Counter(tuple(norm(v) for v in r) for r in r2)
        if h1 != h2:
            nondet.append(name)
            print(f"  {name}: NONDETERMINISTIC across back-to-back runs "
                  f"({len(s_rows)} vs {len(r2)} rows)")
    if name not in oracles:
        print(f"  {name}: rows-only, {len(s_rows)} rows ({time.time()-t0:.1f}s)")
        continue
    cur = con.execute(oracles[name]); o_cols=[d[0] for d in cur.description]; o_rows=cur.fetchall()
    so = sorted(range(len(s_cols)), key=lambda i: s_cols[i]); oo = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    sh = Counter(tuple(norm(r[i]) for i in so) for r in s_rows)
    oh = Counter(tuple(norm(r[i]) for i in oo) for r in o_rows)
    match = sorted(s_cols)==sorted(o_cols) and sh==oh
    ok += match; bad += (not match)
    vac = " [VACUOUS: 0 rows]" if len(s_rows) == 0 else ""
    print(f"  {name}: {'MATCH' if match else 'MISMATCH'} {len(s_rows)} rows ({time.time()-t0:.1f}s){vac}")
    if not match:
        print("   oracle-only:", list((oh-sh).items())[:2]); print("   spark-only:", list((sh-oh).items())[:2])
    if len(s_rows) == 0:
        vacuous.append(name)
print(f"RESULT: {ok} match, {bad} mismatch")
if canon_err:
    print(f"CANON ERRORS ({len(canon_err)} queries would ERR at the "
          f"real driver): {canon_err}")
if vacuous:
    print(f"WARNING: {len(vacuous)} zero-row (vacuously matching) queries: {vacuous}")
if TWICE:
    print(f"DETERMINISM: {len(nondet)} nondeterministic queries"
          + (f": {nondet}" if nondet else " (all byte-identical across runs)"))
