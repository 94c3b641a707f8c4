"""Stage-width policy: how many tasks a scan or a kernel stage runs on.

This module is the one place that decides stage width. ``get_spark``
sizes file scans with ``SCAN_WAVES``; ``extract_turns`` and every
Arrow kernel stage ask ``spread_width`` whether their input is too
small to have been split by bytes. The values are constants: a
session-level Spark conf they feed (scan split count) stays
overridable per session through ``get_spark(extra=...)``.

Guide §2/§4: a per-row Python kernel (MinHash, SimHash, image decode,
IVF assignment) is CPU-bound per ROW, but Spark sizes scan splits and
AQE-coalesced shuffle reads by BYTES. A small input (one parquet split,
or a post-shuffle stage coalesced to ~1 partition) therefore runs the
kernel on 1-2 tasks while every other core idles — measured 589 ms on
ONE task for the sf0.1 MinHash signature stage at local[32], ~8x the
parallel cost.

``spread_small`` inserts one round-robin repartition to
``spread_width`` ONLY when the optimizer's size estimate says the
input is far too small to have been split by bytes anyway
(< width x SPREAD_BYTES_PER_TASK, 4 MB — the scan packer's default
openCostInBytes, i.e. "inputs the scan itself would never
parallelize"). At production scale the estimate exceeds the threshold
and the plan is UNCHANGED — no shuffle is ever added to a big input
(the kernels stay zero-shuffle there); results are identical either
way because every kernel is row-pure (partitioning only changes batch
composition, pinned by tests).

Join outputs carry multiplicative size estimates (measured: a 254 KB
self-join estimating 353 GB), so callers spreading a post-join kernel
input pass ``probe=`` a base-table frame whose estimate is honest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: even scan-split waves per core. ``get_spark`` asks the file scan for
#: SCAN_WAVES x cores splits (spark.sql.files.minPartitionNum), and
#: ``extract_turns`` coalesces only inputs split more than twice that.
#: Same-session A/B at 4 vs 8 waves: level-2 201k->211k turns/s,
#: level-8 731k->780k, last-stage task-time quantiles [1671..2160]ms vs
#: [3988..12528]ms unsized — finer even splits shrink the straggler
#: wave tail faster than the per-task fixed cost grows (tasks stay
#: ~1.8s at bench scale; at 100 TB they are minutes, so 8 waves is pure
#: margin). The per-task fixed cost here was measured while every
#: python task still re-parsed SPARK_HOME's zips at start (~0.2 s, see
#: ``pydaemon``); re-tuning against the cheaper task is its own claim.
#: The waves only even out work while every split is at least a row
#: group: parquet hands each row group to the one split holding its
#: midpoint, so the other splits of the file read no rows yet still run
#: a task (a python round trip in a kernel stage). Spark's default
#: 4 MB openCostInBytes floors split size, which keeps splits that big
#: for the single-row-group files of the fixtures and the benchmark; a
#: single-row-group file larger than the floor still yields empty splits.
SCAN_WAVES = 8

#: per-task byte budget under which an input is considered "too small
#: for byte-based splitting" — matches spark.sql.files.openCostInBytes'
#: default
SPREAD_BYTES_PER_TASK = 4 << 20

#: cap on how many partitions a spread fans out to. An input small
#: enough to trigger a spread has per-task kernel work in the tens of
#: ms, and tasks carry a fixed scheduling/python-roundtrip cost, so
#: past a handful of tasks the overhead eats the parallelism (measured
#: on the sf0.1 MinHash stage at local[32]: 1 task 0.40s, 8 tasks
#: 0.23s, 32 tasks 0.27s — and every downstream narrow stage inherits
#: the partition count, multiplying the 32-task tax). 8 is the
#: local-mode sweet spot; on a cluster the spread only fires for
#: similarly tiny inputs, where the same logic holds per executor.
#: The python-roundtrip cost was measured with the per-task zip re-read
#: that ``pydaemon`` removes; the cap is left as measured until it is
#: re-tuned under its own claim.
SPREAD_MAX_PARTITIONS = 8


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the frame's optimized plan (bytes);
    -1 when the estimate is unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return -1


def spread_width(df: DataFrame, probe: DataFrame | None = None) -> int | None:
    """The width a spread of ``df`` runs at — defaultParallelism capped
    at SPREAD_MAX_PARTITIONS — iff the size estimate of ``probe``
    (default ``df``) is under width x SPREAD_BYTES_PER_TASK; None when
    the input is big enough that the scan already splits it by bytes."""
    p = min(df.sparkSession.sparkContext.defaultParallelism, SPREAD_MAX_PARTITIONS)
    size = plan_size_bytes(probe if probe is not None else df)
    return p if 0 <= size < p * SPREAD_BYTES_PER_TASK else None


def spread_small(df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Round-robin repartition ``df`` to ``spread_width`` when it is
    small; otherwise return ``df`` unchanged. AQE never coalesces an
    explicit numbered repartition, so the kernel stage keeps its
    parallelism."""
    p = spread_width(df, probe)
    return df if p is None else df.repartition(p)
