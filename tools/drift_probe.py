"""Small-query drift probe (BENCH/BASELINE.md round-4 watchlist closure):
times the five watchlist queries in a fresh JVM under a named config.
Usage: python tools/drift_probe.py warm32|warm10|cold32"""
import json, sys, time
sys.path.insert(0, ".")

mode = sys.argv[1]  # warm32 | warm10 | cold32
import __spark_entry__ as entry_mod
from pyspark.sql import functions as F
from ocr_lib_spark.session import get_spark

SF = "/root/testdata/sf0.1"
extra = {"spark.sql.execution.arrow.maxRecordsPerBatch": "10000"} if mode == "warm10" else None
spark = get_spark(app=f"drift-{mode}", cores=32, shuffle_partitions=32, extra=extra)
if mode != "cold32":
    from ocr_lib_spark.pipeline import extract_turns
    from ocr_lib_spark.sources.synth import transcripts_from_documents
    extract_turns(transcripts_from_documents(spark, SF).repartition(32), repartition=False).agg(F.count("*")).collect()

qs = entry_mod.queries()
out = {}
for name in ["q1_scan_agg", "top1_argmax", "gap_sessionize", "window_agg_5min", "range_band_join", "rollup_revenue"]:
    runs = []
    for _ in range(3):
        t0 = time.monotonic()
        qs[name](spark, SF).write.format("noop").mode("overwrite").save()
        runs.append(round(time.monotonic() - t0, 3))
    out[name] = runs
print("RESULT " + json.dumps({"mode": mode, "runs": out}))
spark.stop()
