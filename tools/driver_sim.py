"""Simulate the verify driver: fresh vanilla SparkSession (no engine confs),
call the public contract exactly as the driver would."""
import sys
import os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

# vanilla session — deliberately NOT our tuned factory; the driver owns it
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .appName("driver-sim").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as em

# 1. entry() smoke on sf0.001 (driver contract: rows > 0, stable schema)
df = em.entry(spark)
rows = df.collect()
print("entry rows:", len(rows), "schema:", [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields])
assert len(rows) > 0

# 2. run entry() twice — schema stability / idempotency probe
df2 = em.entry(spark)
assert df2.schema == df.schema and len(df2.collect()) == len(rows)
print("entry idempotent: OK")

# 3. queries() at a DIFFERENT sf than the oracle sweep used (sf0.001) —
#    probes that nothing is hardwired to one directory
q = em.queries()
for name in ["cdc_materialize", "cdc_materialize_tx", "join_star_revenue",
             "stream_session_windows", "dedup_exact", "sim_cosine_topk",
             "multimodal_features"]:
    n = q[name](spark, "/root/testdata/sf0.001").count()
    print(f"{name} @sf0.001 -> {n} rows")
    assert n > 0, name

# 4. oracle_sql() strings are all non-empty and keys subset of queries()
o = em.oracle_sql()
assert set(o) <= set(q) and all(s.strip() for s in o.values())
print(f"contract: {len(q)} queries / {len(o)} oracles")
spark.stop()
print("DRIVER-SIM PASS")
