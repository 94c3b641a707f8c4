"""Skew demo: measure auto vs salted extraction on a SKEWED layout.

The scaling bench's corpus is balanced, where the salted shuffle is pure
overhead. This demo builds the layout the north rule names — one file
per conversation with a mega-conversation holding half the corpus — and
measures both paths at one parallelism level. Expected: auto inherits
the skewed file layout (one task owns half the data → straggler-bound
wall time); the salted (conv_id, turn_idx) repartition spreads the
mega-conversation across all partitions.

    python tools/skew_demo.py <sf_dir> [cores]

The skewed corpus is derived from ``<sf_dir>``'s documents into a fresh
temporary directory per run and removed at exit, so a change to the
transcript derivation or to the recipe below is never masked by an
older corpus.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    sf_dir = sys.argv[1]
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    sys.path.insert(0, ".")
    from ocr_lib_spark.session import get_spark

    spark = get_spark(app=f"skew-demo-{cores}", cores=cores, shuffle_partitions=cores)
    tmp = tempfile.mkdtemp(prefix="ocr_skew_corpus_")
    try:
        _run(spark, sf_dir, f"{tmp}/corpus", cores)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def _run(spark, sf_dir: str, path: str, cores: int) -> None:
    from pyspark.sql import functions as F

    from ocr_lib_spark.pipeline import extract_turns
    from ocr_lib_spark.sources.synth import transcripts_from_documents

    tr = transcripts_from_documents(spark, sf_dir)
    # 100 replicas into ONE mega-conversation + 100 replicas spread
    # over 10,000 small conversations; one output file per group ->
    # the skewed one-file-per-conversation layout
    big = (
        tr.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(199))))
        .withColumn(
            "conv_id",
            F.when(F.col("rep") < 100, F.lit("conv-mega")).otherwise(
                F.concat_ws("-", F.lit("c"), (F.hash("conv_id", "rep") % 10000).cast("string"))
            ),
        )
        .withColumn("grp", F.when(F.col("conv_id") == "conv-mega", F.lit("mega")).otherwise(F.lit("rest")))
        .drop("rep")
    )
    big.repartition("grp").write.mode("overwrite").partitionBy("grp").parquet(path)
    df = spark.read.parquet(path).drop("grp")

    # warm python workers + codegen
    extract_turns(df.sample(0.02, seed=1), partitions=cores).agg(F.count("*")).collect()

    out = {"cores": cores, "layout": "one huge file (50% of turns) + balanced rest"}
    for name, rep in (("auto_inherits_layout", False), ("salted_spread", True)):
        best = None
        for _ in range(3):
            t0 = time.monotonic()
            n = (
                extract_turns(df, partitions=cores, repartition=rep)
                .agg(F.count("*").alias("n"))
                .collect()[0]["n"]
            )
            secs = time.monotonic() - t0
            best = secs if best is None else min(best, secs)
        out[name] = {"secs": round(best, 2), "tps": round(n / best)}
    out["salted_speedup"] = round(
        out["auto_inherits_layout"]["secs"] / out["salted_spread"]["secs"], 2
    )

    print(json.dumps(out))


if __name__ == "__main__":
    main()
