"""spark-submit entry point for the extraction pipeline.

The deployment shape the north rule names: the package ships as a zip
via ``--py-files`` and the job runs on whatever cluster the submitter
points at (master/executors come from spark-submit, never from code —
the local-mode session factory in ``ocr_lib_spark.session`` is the
test/bench harness only).

    python tools/make_pyfiles.py                         # -> dist/ocr_lib_spark.zip
    spark-submit --master local[8] \
        --py-files dist/ocr_lib_spark.zip \
        tools/submit_extract.py \
        --input /root/testdata/sf0.01 --output /tmp/extracted

On a real cluster the same command with ``--master yarn``/k8s and
``--num-executors N`` is the N-vs-4N scaling setup; per-executor env
must pin BLAS pools exactly like the harness does
(``spark.executorEnv.OMP_NUM_THREADS=1`` etc., see
``session._pin_blas_threads``).

This session does not set ``spark.python.daemon.module``, which
``get_spark`` sets to ``ocr_lib_spark.pydaemon``: the python daemon
starts before ``--py-files`` are added, so with the conf every Python
task fails with ``No module named 'ocr_lib_spark'`` (measured at
``--master local[2]``). Using it on a cluster would need the package
installed on the executors, which this repository does not test.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir or transcripts parquet")
    ap.add_argument("--output", required=True, help="output parquet path")
    ap.add_argument("--salted-shuffle", action="store_true",
                    help="force the conv_id-salted repartition (skewed input)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("ocr-lib-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .getOrCreate()
    )

    from ocr_lib_spark.pipeline import extract_turns
    from ocr_lib_spark.sources.synth import transcripts_from_documents

    if args.input.endswith(".parquet"):
        tr = spark.read.parquet(args.input)
    else:
        tr = transcripts_from_documents(spark, args.input)

    t0 = time.monotonic()
    out = extract_turns(tr, repartition=True if args.salted_shuffle else "auto")
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    secs = time.monotonic() - t0
    print(json.dumps({"turns": n, "secs": round(secs, 2), "tps": round(n / secs, 1),
                      "output": args.output}))
    spark.stop()


if __name__ == "__main__":
    main()
