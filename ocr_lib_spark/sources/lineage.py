"""Checkpointed, resumable extraction runs with per-partition lineage.

The reference tracks progress in mutable atoms (core.clj:15-19, 87-106)
that vanish with the process. This engine makes progress durable: work
is split into deterministic hash buckets of conv_id; each completed
bucket commits (a) its extracted output partition and (b) one lineage
row (FIXTURES.md §4 schema). A re-run skips buckets that already have a
committed lineage row FOR THE SAME INPUT SNAPSHOT — idempotent
checkpoint-resume (north_rule), the same idea as Structured Streaming's
idempotent sinks but for batch.

Snapshot semantics: ``input_snapshot_id`` keys every resume decision.
When none is passed, ``snapshot_id_of`` derives it from the files the
frame reads (``inputFiles()``: path, size and modification time of
each, through the Hadoop ``FileSystem``), so re-running over a changed
input invalidates both the staging layout and every committed bucket —
exactly what an Iceberg snapshot id gives, realized on plain files. A
frame that reads no files (cached or generated) needs an explicit id.

Iceberg status (verified this sandbox): no iceberg-spark-runtime jar is
baked in and the container has no network, so the catalog path cannot
be exercised here; ``try_iceberg()`` gates it. On a real cluster, flip
it on with

    spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog

and pass the table's ``snapshot_id()`` as ``input_snapshot_id`` — the
resume contract (snapshot+bucket keyed lineage rows) is identical.

Layout (``out_dir`` is a local directory):

    out_dir/
      staging/                    __bucket-partitioned one-pass shuffle
      staging_snapshot.txt        snapshot id the staging was built from
      data/bucket=K/*.parquet     one overwrite per bucket
      lineage/bucket=K.parquet    one-row lineage commit marker

A marker is written on the driver with pyarrow to a hidden temporary
name, fsynced and renamed into place (``os.replace``), so a marker is
either whole or absent; a bucket whose data was written but whose
marker was not is simply run again.

Per-stage timing (lineage schema v2): each lineage row carries
segment_ms / classify_ms / assemble_ms (kernel-phase CPU time summed
across tasks via accumulators) alongside total wall_ms — the durable,
MEASURED recast of the reference's hard-coded stage-progress weights
(core.clj:108-165: grouping 46% / matching 36% / ...).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_lib_spark.config import DEFAULT_CONFIG, ExtractionConfig
from ocr_lib_spark.pipeline import extract_turns

_LONGS = ("turn_count", "bytes_processed", "wall_ms", "segment_ms", "classify_ms", "assemble_ms")
LINEAGE_SCHEMA = pa.schema(
    [("input_snapshot_id", pa.string()), ("partition_hash", pa.string()), ("bucket", pa.int32())]
    + [(c, pa.int64()) for c in _LONGS]
    + [("status", pa.string())]
)


def try_iceberg(spark) -> bool:
    """True when an Iceberg catalog is on the classpath (not in this
    image — SURVEY.md §1.4 keeps the design Iceberg-shaped; parquet
    directories stand in for snapshots here)."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


def snapshot_id_of(df: DataFrame) -> str:
    """Snapshot id of the files ``df`` reads: sha256 over each input
    file's path, size and modification time, read through the Hadoop
    ``FileSystem`` so any scheme the session can read works. Any
    append/rewrite/compaction changes the id. Raises ``ValueError`` for
    a frame that reads no files (cached, generated, in-memory)."""
    files = sorted(df.inputFiles())
    if not files:
        raise ValueError("frame reads no input files: pass input_snapshot_id")
    spark = df.sparkSession
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    h = hashlib.sha256()
    for f in files:
        path = jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        h.update(f"{f}\0{st.getLen()}\0{st.getModificationTime()}\n".encode())
    return f"files:{h.hexdigest()[:16]}"


def bucket_of(conv_id_col, n_buckets: int):
    """Deterministic bucket: positive mod of a stable hash of conv_id.
    Salting-compatible: bucketing keys the *checkpoint* unit; the heavy
    stage still spreads turns via (conv_id, turn_idx) repartitioning."""
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_buckets)).cast("int")


def _marker_files(out_dir: str) -> list[Path]:
    return sorted((Path(out_dir) / "lineage").glob("bucket=*.parquet"))


def committed_buckets(out_dir: str, input_snapshot_id: str) -> set[int]:
    """Buckets with a committed lineage row for ``input_snapshot_id``
    (rows committed against a different snapshot are stale and do not
    block re-processing). Reads the markers on the driver; temporary
    marker names never match."""
    return {
        r["bucket"]
        for p in _marker_files(out_dir)
        for r in pq.read_table(p).to_pylist()
        if r["status"] == "committed" and r["input_snapshot_id"] == input_snapshot_id
    }


def _write_marker(path: Path, row: dict) -> None:
    """Write one lineage row atomically: hidden temporary name, fsync,
    then rename onto ``path``."""
    tmp = path.with_name(f".{path.name}.tmp")
    with open(tmp, "wb") as f:
        pq.write_table(pa.Table.from_pylist([row], schema=LINEAGE_SCHEMA), f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def run_with_resume(
    transcripts: DataFrame,
    out_dir: str,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    n_buckets: int | None = None,
    input_snapshot_id: str | None = None,
    fail_after: int | None = None,
) -> int:
    """Run extraction bucket-by-bucket, committing lineage per bucket.

    Returns the number of buckets processed in THIS run (buckets already
    committed *for this input snapshot* are skipped; a changed snapshot
    reprocesses everything, including rebuilding the staging layout).
    ``input_snapshot_id`` defaults to ``snapshot_id_of(transcripts)``;
    a frame that reads no files must pass one. ``fail_after`` injects a
    crash after N bucket commits — used by the resume tests.

    The source is scanned ONCE — scale-critical: a per-bucket filter on
    ``hash(conv_id) % N`` cannot push down to a parquet scan, so looping
    buckets directly over the source would re-scan the FULL corpus once
    per bucket (4096 full scans at 100 TB). Instead:

      1. ONE staging pass shuffles the source into a
         ``__bucket``-partitioned parquet layout (resume-safe: skipped
         when its _SUCCESS marker exists AND it was built from this
         snapshot);
      2. ONE aggregate over the pending buckets' staging partitions
         gives every bucket's turn_count and bytes_processed;
      3. each bucket is then exactly one Spark job: it reads ONLY its
         partition directory (partition pruning on ``__bucket``),
         extracts and overwrites ``data/bucket=K``; its lineage marker
         is written on the driver, without a job.

    A no-op resume starts no Spark job. Each lineage row's ``wall_ms``
    and ``*_ms`` are that bucket's own extraction job.
    """
    spark = transcripts.sparkSession
    n_buckets = n_buckets or cfg.lineage_buckets
    snapshot = input_snapshot_id or snapshot_id_of(transcripts)
    out = Path(out_dir)

    staging = out / "staging"
    marker = out / "staging_snapshot.txt"
    staging_current = (
        (staging / "_SUCCESS").exists()
        and marker.exists()
        and marker.read_text() == snapshot
    )
    if not staging_current:
        # Snapshot changed (or first run): every committed bucket is
        # stale BY DEFINITION (resume within one snapshot never rebuilds
        # staging). A bucket with rows under the old snapshot and ZERO
        # rows under this one must not keep its stale data files behind
        # a fresh committed lineage row — truncate data + lineage first.
        shutil.rmtree(out / "data", ignore_errors=True)
        shutil.rmtree(out / "lineage", ignore_errors=True)
    done = committed_buckets(out_dir, snapshot)
    (out / "lineage").mkdir(parents=True, exist_ok=True)
    staged = transcripts.withColumn("__bucket", bucket_of(F.col("conv_id"), n_buckets))
    if not staging_current:
        staged.write.mode("overwrite").partitionBy("__bucket").parquet(str(staging))
        marker.write_text(snapshot)
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return 0
    # the staging schema is known: passing it skips an inference job
    src = spark.read.schema(staged.schema).parquet(str(staging))
    stats = {
        r["__bucket"]: (r["n"], r["nbytes"])
        for r in src.where(F.col("__bucket").isin(pending))
        .groupBy("__bucket")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("nbytes"),
        )
        .collect()
    }
    # kernel-phase accumulators: tasks add segment/classify/assemble CPU
    # seconds; per-bucket deltas land in the lineage row — the measured
    # twin of the reference's hard-coded stage weights (core.clj:153-164)
    acc = {
        k: spark.sparkContext.accumulator(0.0)
        for k in ("segment", "classify", "assemble")
    }
    for i, b in enumerate(pending, 1):
        t0 = time.monotonic()
        before = {k: a.value for k, a in acc.items()}
        part = src.where(F.col("__bucket") == b)
        extract_turns(part, cfg, repartition=False, stage_acc=acc).write.mode(
            "overwrite"
        ).parquet(str(out / "data" / f"bucket={b}"))
        n, nbytes = stats.get(b, (0, 0))
        row = {
            "input_snapshot_id": snapshot,
            "partition_hash": f"xxhash64(conv_id)%{n_buckets}={b}",
            "bucket": b,
            "turn_count": n,
            "bytes_processed": nbytes,
            "wall_ms": int((time.monotonic() - t0) * 1000),
            **{f"{k}_ms": int((a.value - before[k]) * 1000) for k, a in acc.items()},
            "status": "committed",
        }
        _write_marker(out / "lineage" / f"bucket={b}.parquet", row)
        if fail_after is not None and i >= fail_after:
            raise RuntimeError(f"injected failure after {i} buckets")
    return len(pending)


def read_output(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(str(Path(out_dir) / "data" / "bucket=*"))


def read_lineage(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(*(str(p) for p in _marker_files(out_dir)))
