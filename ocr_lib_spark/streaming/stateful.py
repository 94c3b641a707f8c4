"""Custom stateful streaming operator: incremental near-dup detection
over a fingerprint stream with ``applyInPandasWithState``.

Streamed conversation assembly needs no custom state: it runs the batch
aggregate (pipeline.assemble_conversations) per conv_id and event-time
session window, and Spark's streaming aggregation keeps the state.
The near-dup index below cannot be written as an aggregate: each
arriving fingerprint is compared against every prior member of its
band buckets and emits pairs at once, so it keeps its own per-bucket
state (transformWithStateInPandas is unavailable here: its driver
worker needs protobuf).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as _np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("hamming", T.IntegerType()),
    ]
)

#: per-bucket state: the (doc_id, fingerprint) members seen so far
BUCKET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("hashes", T.ArrayType(T.LongType())),
    ]
)


#: default per-bucket state cap: bounded state is the production
#: posture (an unbounded template bucket would grow state forever);
#: pass None explicitly for exact stream==batch parity (the driver
#: gate does — a stream cannot retroactively un-emit pairs, so parity
#: with the uncapped batch oracle requires uncapped state)
DEFAULT_MAX_BUCKET_MEMBERS = 256

#: byte-wise popcount LUT: numpy 1.26 has no bitwise_count; viewing the
#: uint64 xor as uint8 and summing LUT hits per 8-byte row is the
#: standard vectorized popcount
_POP8 = _np.array([bin(i).count("1") for i in range(256)], dtype=_np.uint16)


def _hamming_vec(hashes_u64: "_np.ndarray", h: int) -> "_np.ndarray":
    """Vectorized hamming distance of one uint64 against an array."""
    x = hashes_u64 ^ _np.uint64(h)
    return _POP8[x.view(_np.uint8)].reshape(len(x), 8).sum(axis=1).astype(_np.int64)


def simhash_near_dup_stateful(
    fp_stream: DataFrame,
    n_bits: int = 20,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_members: int | None = DEFAULT_MAX_BUCKET_MEMBERS,
) -> DataFrame:
    """Incremental SimHash near-dup over a fingerprint STREAM — the
    streaming frontier piece batch ``simhash_near_dup_pairs``
    (operators/dedup.py) leaves open: as documents arrive across
    micro-batches, each new fingerprint is checked against the prior
    members of its ``bands`` hamming-band buckets and (id_a, id_b,
    hamming) pairs are emitted append-only, so near-dups are flagged
    AT INGEST, not in a nightly batch. Pigeonhole completeness is the
    batch operator's (max_hamming < bands enforced there; bands are
    bit-slices of the same fingerprint), state is per-bucket and keyed
    by (band_idx, band_val) — the same shuffle key as the batch band
    join, so skew behavior matches.

    A pair colliding in several bands is emitted once per colliding
    band (the same duplication the batch DISTINCT removes) — callers
    dedupe at the sink (`.distinct()` on the result table). With
    ``max_bucket_members`` set (the DEFAULT, 256 — bounded state is
    the production posture), a full bucket stops ACCUMULATING members;
    new arrivals still compare against the retained prefix — bounded
    state at the cost of recall on degenerate template buckets,
    mirroring the batch hot-bucket cap's intent. Pass ``None``
    explicitly for exact stream==batch parity (the gate query does).
    The in-bucket compare is vectorized (uint64 xor + LUT popcount
    over the whole member array per arriving doc), so per-doc work is
    O(|bucket|) numpy, not a python loop.
    """
    if not 0 <= max_hamming < bands:
        raise ValueError(f"max_hamming ({max_hamming}) must be in [0, bands)")
    if n_bits % bands != 0:
        raise ValueError(f"n_bits ({n_bits}) not divisible by bands ({bands})")
    width = n_bits // bands
    mask = (1 << width) - 1

    from pyspark.sql import functions as F

    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(f"shiftright(simhash, {b * width}) & {mask}").alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    banded = fp_stream.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("simhash").cast("long").alias("simhash"),
        F.explode(slices).alias("s"),
    ).select("doc_id", "simhash", F.col("s.band_idx").alias("band_idx"), F.col("s.band_val").alias("band_val"))

    def index_bucket(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover - NoTimeout configured
            state.remove()
            return
        import numpy as np

        ids, hashes = state.get if state.exists else ([], [])
        ids_arr = np.asarray(ids, dtype=np.int64)
        hash_arr = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        out_a: list[int] = []
        out_b: list[int] = []
        out_h: list[int] = []
        for pdf in pdfs:
            # deterministic in-batch order; the emitted SET is order-
            # independent anyway (every pair meets exactly once per bucket)
            for did, h in sorted(zip(pdf["doc_id"], pdf["simhash"]), key=lambda x: x[0]):
                did, h = int(did), int(h)
                if len(ids_arr):
                    # one vectorized xor+popcount against ALL members
                    d = _hamming_vec(hash_arr, np.int64(h).view(np.uint64))
                    hit = np.flatnonzero((d <= max_hamming) & (ids_arr != did))
                    for i in hit:
                        pid, dist = int(ids_arr[i]), int(d[i])
                        a, b = (pid, did) if pid < did else (did, pid)
                        out_a.append(a)
                        out_b.append(b)
                        out_h.append(dist)
                if max_bucket_members is None or len(ids_arr) < max_bucket_members:
                    ids_arr = np.append(ids_arr, np.int64(did))
                    hash_arr = np.append(hash_arr, np.int64(h).view(np.uint64))
        state.update((ids_arr.tolist(), hash_arr.view(np.int64).tolist()))
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "hamming": out_h})

    return banded.groupBy("band_idx", "band_val").applyInPandasWithState(
        index_bucket,
        outputStructType=PAIR_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
