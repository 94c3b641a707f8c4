"""Replay a batch frame as a bounded file stream into a memory sink.

The stream == batch gates stage their input as parquet part files,
replay those files as a Structured Streaming file source (micro-batches
of ``files_per_trigger`` files), and drain the streaming plan into a
memory sink synchronously. Each call stages into a fresh temporary
directory and removes it before returning, whether the plan succeeded
or raised: no staged copy outlives the call, so none can go stale.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame


def replay_to_memory(
    name: str,
    frame: DataFrame,
    plan: Callable[[DataFrame], DataFrame],
    *,
    files_per_trigger: int,
    mode: str,
    poke: DataFrame | None = None,
) -> DataFrame:
    """Write ``frame`` (already laid out: its partitions become the part
    files), stream it through ``plan`` into the memory sink ``name`` in
    output ``mode``, and return the sink table.

    ``poke``: optional watermark-poke rows (event time past every data
    row), appended as ONE part file whose mtime is forced strictly above
    every data file's. The file source replays in modification-time
    order; a poke read in an early micro-batch would move the watermark
    past every data row and append mode would drop them all as late.
    Appending normally yields a later mtime, but filesystem timestamp
    granularity can tie.

    The returned table stays readable after the staged files are gone
    and after a later call reuses ``name``: the sink holds its rows."""
    spark = frame.sparkSession
    root = Path(tempfile.mkdtemp(prefix="ocr_stream_"))
    data = str(root / "data")
    try:
        frame.write.parquet(data)
        if poke is not None:
            data_parts = set(Path(data).glob("*.parquet"))
            # coalesce(1): a 1-row createDataFrame parallelizes into
            # defaultParallelism slices and can emit >1 part file
            poke.select(*frame.columns).coalesce(1).write.mode("append").parquet(data)
            last = max((p.stat().st_mtime for p in data_parts), default=0.0) + 10.0
            for p in Path(data).glob("*.parquet"):
                if p not in data_parts:
                    os.utime(p, (last, last))
        stream = (
            spark.readStream.schema(frame.schema)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(data)
        )
        q = (
            plan(stream)
            .writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            # inside the staged dir, so a failed run's checkpoint goes too
            .option("checkpointLocation", str(root / "checkpoint"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name)
    finally:
        shutil.rmtree(root)
