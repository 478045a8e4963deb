"""Driver simulation: vanilla session, cwd outside the repo, full contract."""
import importlib.util
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[32]").getOrCreate()

df = mod.entry(spark)
rows = df.collect()
print(f"entry: {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) >= 0

from sparkstreaming_quickstart_spark.oracle import compare

sf_dir = "/root/testdata/sf0.01"
qs = mod.queries()
oracles = mod.oracle_sql()
names = sys.argv[1:] or sorted(qs)
failures = 0
for name in names:
    t0 = time.time()
    try:
        if name not in oracles:
            n = qs[name](spark, sf_dir).count()
            print(f"  {name:<32} ROWS-ONLY rows={n} ({time.time()-t0:.1f}s)")
            continue
        res = compare(spark, sf_dir, qs[name], oracles[name])
        if res["ok"]:
            print(f"  {name:<32} OK rows={res['spark_rows']} ({time.time()-t0:.1f}s)")
        else:
            failures += 1
            print(f"  {name:<32} FAIL {res.get('why')}")
    except Exception as e:
        failures += 1
        print(f"  {name:<32} ERROR {type(e).__name__}: {str(e)[:200]}")
print("FAILURES:", failures)
sys.exit(1 if failures else 0)
