"""Deduplication operators for training-data pipelines.

The reference's collections are sets — every insert is an implicit
DISTINCT (SURVEY.md §2.3) and Jaccard |∩|/|∪| is its matching kernel
(check-matching-fn core.clj:1020-1069). These operators lift exactly
those primitives to corpus scale:

  exact_duplicates      hash-groupBy (one shuffle on the digest)
  minhash_signatures    k independent min-hashes over shingle sets
  lsh_candidate_pairs   banded LSH bucketing -> same-bucket pair join
  simhash64             bitwise majority fingerprint over token hashes
  embedding_near_dup    cosine-threshold near-dup over vector columns

Scale notes (100 TB): every operator shuffles once on a bounded-width
key (digest / band hash / bucket); candidate-pair joins never go
quadratic — LSH bands bound the comparison set, the exact-Jaccard
verifier runs only on candidates. AQE skew-join splits hot buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_lib_spark.functions.text import char_shingles, stable_hash64
from ocr_lib_spark.partitioning import spread_small


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: one map-side-combinable groupBy.
    Returns one row per distinct content: (digest, n_docs, keep_id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


#: Affine minhash family constants (Kirsch-Mitzenmacher style): one
#: expensive base hash per shingle, n cheap affine recombinations
#: h_i = (A_i·x_lo + B_i·x_hi + C_i) mod P. Products stay < 2^60 so the
#: arithmetic is exact int64 in both Spark and the DuckDB oracle (which
#: errors on overflow — the constants are sized for that contract).
MINHASH_A = [788455883, 894818247, 153204545, 410930883, 511101823, 626284755, 969583393, 142946401]
MINHASH_B = [308201859, 587225963, 252971131, 931847323, 823367797, 676943273, 394840923, 556851369]
MINHASH_C = [601313247, 980529077, 140441297, 813843031, 434687933, 297594491, 722395633, 188136679]
MINHASH_P = (1 << 61) - 1  # Mersenne prime 2^61-1
_M30 = (1 << 30) - 1


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    k: int = 5,
    vectorized: bool = True,
) -> DataFrame:
    """k-min-hash signature per document.

    One md5-prefix base hash per shingle (cross-engine deterministic),
    then n_hashes affine recombinations over its 30-bit halves —
    8× fewer digest computations than hashing (shingle, i) pairs, same
    minhash guarantees (pairwise-independent family mod 2^61-1).

    Default path (``vectorized=True``): signatures computed per row in
    an Arrow-batched ``mapInArrow`` — ZERO shuffles (a signature needs
    only its own document) and measured 1.7× faster than the relational
    build. ``vectorized=False`` keeps the pure-Catalyst twin
    (explode → map-side-combinable min aggregate; one narrow shuffle of
    n_docs × n_hashes longs); both are bit-identical to the DuckDB
    oracle."""
    if n_hashes > len(MINHASH_A):
        raise ValueError(f"n_hashes > {len(MINHASH_A)} needs more family constants")
    if vectorized:
        return _minhash_vectorized(df, text_col, id_col, n_hashes, k)
    # NULL-text docs are dropped (both paths): char_shingles(NULL) is
    # [NULL], which would otherwise survive as an all-NULL signature row
    sh = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(char_shingles(F.col(text_col), k)).alias("sh")
    )
    x = stable_hash64(F.col("sh"))
    x_lo = x.bitwiseAND(F.lit(_M30))
    x_hi = F.shiftright(x, 30)
    aggs = [
        F.min(
            (F.lit(MINHASH_A[i]) * x_lo + F.lit(MINHASH_B[i]) * x_hi + F.lit(MINHASH_C[i]))
            % F.lit(MINHASH_P)
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _md5_prefix60(s: str) -> int:
    """First 15 hex digits of md5 as int64 — identical to
    ``int(hexdigest()[:15], 16)`` and DuckDB's
    ``('0x'||substr(md5(x),1,15))::BIGINT``, but via the raw digest
    bytes (no hex-string round trip: measured ~2x on shingle workloads)."""
    import hashlib

    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") >> 4


def _md5_prefix64(s: str) -> int:
    """First 64 bits of md5 as a SIGNED int64 (two's complement) — the
    full production hash width, with bit 63 (the int64 sign bit) live.
    DuckDB twin: 60-bit prefix + 16th-nibble recombination (a hex
    literal >= 2^63 can't cast to BIGINT directly; see
    ``_simhash_near_dup_oracle(n_bits=64)``)."""
    import hashlib

    v = int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")
    return v - (1 << 64) if v >= (1 << 63) else v


def _minhash_vectorized(df, text_col, id_col, n_hashes, k) -> DataFrame:
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from ocr_lib_spark.operators.shingling import batch_minhash

    A = np.array(MINHASH_A[:n_hashes], dtype=np.int64)
    B = np.array(MINHASH_B[:n_hashes], dtype=np.int64)
    C = np.array(MINHASH_C[:n_hashes], dtype=np.int64)
    hs = [f"h{i}" for i in range(n_hashes)]

    def run(batches):
        for batch in batches:
            # NULL-text docs are DROPPED, matching the relational twin
            # (explode of a null shingle array emits no row); empty-string
            # docs keep their single '' shingle in both paths.
            #
            # Shingling + batch-global dedup + per-doc minima run as
            # numpy over packed byte windows (operators/shingling.py);
            # each UNIQUE shingle is md5'd once per batch. Bit-identical
            # to the per-row Python-set path (min over a multiset == min
            # over its distinct values), ~3x faster per batch.
            keep = pc.is_valid(batch.column(text_col))
            kept = batch.filter(keep)
            mins = batch_minhash(kept.column(text_col).to_pylist(), A, B, C, k, MINHASH_P, _M30)
            yield pa.RecordBatch.from_arrays(
                [kept.column(id_col)] + [pa.array(mins[:, i]) for i in range(n_hashes)],
                names=[id_col] + hs,
            )

    id_type = df.schema[id_col].dataType.simpleString()
    schema = ", ".join([f"{id_col} {id_type}"] + [f"{h} long" for h in hs])
    return spread_small(df.select(id_col, text_col)).mapInArrow(run, schema)


def lsh_band_table(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_rows: int = 2,
) -> DataFrame:
    """Unpivot minhash signatures into the banded-LSH shuffle table
    ``(id, band_idx, band_hash)`` — the shared front half of every LSH
    join shape (self-join in ``lsh_candidate_pairs``; asymmetric
    new-batch × old-corpus join in ``plans/curation.incremental_dedup``).

    Every band comes from ONE pass over the signatures (a per-band
    union would re-run the whole signature computation once per band —
    measured 16 shuffles vs 6 for the full candidate query)."""
    n_bands = n_hashes // band_rows
    band_structs = []
    for b in range(n_bands):
        cols = [F.col(f"h{b * band_rows + r}").cast("string") for r in range(band_rows)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *cols)).alias("band_hash"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("band")
    ).select(
        id_col,
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_hash").alias("band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    band_rows: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become a candidate
    pair. Shuffle key = (band_idx, band_hash); within-bucket self-join
    is bounded by bucket size (near-dup clusters), never corpus size.

    ``max_bucket_size`` drops hot buckets entirely — the standard
    corpus-scale skew control: a bucket holding B docs yields B²/2
    pairs, and template/boilerplate-driven mega-buckets (measured here:
    one bucket holding 57% of the corpus → 7M+ candidate pairs from a
    5000-doc table) are degenerate "everything matches" signals better
    handled by exact dedup upstream. Deterministic and reproduced
    exactly by the SQL oracle (a count over the bucket key)."""
    allb = lsh_band_table(signatures, id_col=id_col, n_hashes=n_hashes, band_rows=band_rows)
    if max_bucket_size is not None:
        # bucket sizes via groupBy + semi join, NOT a count-over-window:
        # a window partition materializes its whole bucket in one task,
        # and the very mega-buckets this cap exists to drop (57% of the
        # corpus in one bucket, measured) would blow that task up first.
        # groupBy partial-aggregates map-side; the semi join never
        # multiplies rows (heavy keys simply probe and drop). The
        # banding frame is checkpointed first, and NOT lazily: under AQE
        # localCheckpoint(eager=False) runs the plan's shuffle stages
        # (the minhash spread exchange) as their own job while the query
        # is built; only the final stage waits for the first action. The
        # size agg, the semi probe, and the downstream self-join sides
        # all read the materialized narrow blocks, so the signature UDF
        # runs ONCE
        # (without it, the diverging exchanges defeat Spark's
        # exchange-reuse and the kernel runs per branch — measured 2x).
        # On a real cluster point sparkContext.setCheckpointDir at
        # durable storage and use .checkpoint() for executor-loss
        # resilience.
        allb = allb.localCheckpoint(eager=False)
        kept = (
            allb.groupBy("band_idx", "band_hash")
            .agg(F.count("*").alias("__bsz"))
            .where(F.col("__bsz") <= max_bucket_size)
            .select("band_idx", "band_hash")
        )
        allb = allb.join(kept, ["band_idx", "band_hash"], "left_semi")
    a = allb.alias("a")
    b_ = allb.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash_bits(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 60,
    spread: bool = True,
) -> DataFrame:
    """SimHash fingerprint, vectorized: per-row Arrow batches, zero
    shuffles (a fingerprint needs only its own document). Bit j of the
    fingerprint is the majority vote of md5-prefix token-hash bit j —
    identical values to the relational ``simhash64`` twin and the
    DuckDB oracle (same md5 prefix, same ±1 vote, same >0 rule).

    ``n_bits`` up to 64: at 64 the token hash is the full md5 64-bit
    prefix and bit 63 of the fingerprint is the int64 sign bit — the
    production width. Packing relies on int64 wrap-around (numpy's
    element 63 of ``1 << arange`` IS INT64_MIN, and the sum of distinct
    powers wraps to exactly the two's-complement bit pattern DuckDB's
    explicit sign-term pack produces; pinned by the simhash64_near_dup
    gate and test_simhash64_full_width)."""
    import numpy as np
    import pyarrow as pa

    import re as _re

    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits ({n_bits}) must be in [1, 64]")
    hash_fn = _md5_prefix64 if n_bits > 60 else _md5_prefix60
    ws = _re.compile(r"\s+")
    powers = (1 << np.arange(n_bits, dtype=np.int64))

    def run(batches):
        for batch in batches:
            # token-less docs (NULL/empty/whitespace-only) are DROPPED,
            # matching the relational twin (explode + tok<>'' filter
            # leaves no group to aggregate) and the DuckDB oracle.
            # Each UNIQUE token is md5'd once per batch (natural-language
            # batches repeat tokens heavily); votes keep multiplicity —
            # bit-identical to hashing every occurrence.
            keep = np.zeros(batch.num_rows, dtype=bool)
            fps = np.zeros(batch.num_rows, dtype=np.int64)
            uid: dict[str, int] = {}
            doc_rows: list[tuple[int, np.ndarray]] = []
            for ri, t in enumerate(batch.column(text_col).to_pylist()):
                toks = ws.split(t.strip()) if isinstance(t, str) and t.strip() else []
                toks = [x for x in toks if x]
                if not toks:
                    continue
                keep[ri] = True
                ids = np.empty(len(toks), dtype=np.int64)
                for j, x in enumerate(toks):
                    v = uid.get(x)
                    if v is None:
                        v = len(uid)
                        uid[x] = v
                    ids[j] = v
                doc_rows.append((ri, ids))
            xs = np.empty(len(uid), dtype=np.int64)
            for s, i in uid.items():
                xs[i] = hash_fn(s)
            bits_u = (2 * ((xs[:, None] >> np.arange(n_bits)) & 1) - 1).astype(np.int64)
            for ri, ids in doc_rows:
                votes = bits_u[ids].sum(axis=0)
                fps[ri] = int(powers[votes > 0].sum())
            yield pa.RecordBatch.from_arrays(
                [batch.column(id_col).filter(pa.array(keep)), pa.array(fps[keep])],
                names=[id_col, "simhash"],
            )

    schema = f"{id_col} {df.schema[id_col].dataType.simpleString()}, simhash long"
    src = df.select(id_col, text_col)
    if spread:
        # ``spread=False`` is for callers whose frame is known to be a
        # handful of rows (e.g. conversation-level fingerprints behind a
        # checkpoint): the kernel is ~ms there and the byte estimate
        # cannot see row counts, so a spread exchange is pure overhead
        src = spread_small(src)
    return src.mapInArrow(run, schema)


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit j of the fingerprint is
    the majority vote of token-hash bit j. Expressed relationally
    (explode -> per-bit sum of ±1 -> bit pack) so Catalyst keeps it in
    codegen; the shuffle is one groupBy on the doc id. See
    ``simhash_bits`` for the zero-shuffle Arrow twin."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    h = toks.withColumn("th", stable_hash64(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(60)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    fp = F.lit(0).cast("long")
    for j in range(60):
        fp = fp + F.when(F.col(f"v{j}") > 0, F.lit(1).cast("long") * (2**j)).otherwise(0)
    return agg.select(F.col(id_col), fp.alias("simhash"))


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lsh_bits: int = 8,
    round_decimals: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup: coordinate-hyperplane LSH bucket
    (sign of the first n bits) prunes candidates, exact cosine verifies.
    At corpus scale the bucket join replaces the quadratic cross join.

    ``round_decimals`` rounds the cosine BEFORE thresholding (and in the
    output) so cross-engine summation-order ulps can't flip membership
    of pairs sitting exactly on the threshold.

    The norm is a per-ROW quantity, so it is computed once below the
    self-join (same left-fold expression on the same cast array —
    bit-identical to folding it per pair) and the per-pair verify pays
    one array fold (the dot), not three; the verify stage is quadratic
    in bucket occupancy, so per-pair cost is the scale lever."""
    vexp = F.col(vec_col).cast("array<double>")
    withb = df.select(
        F.col(id_col),
        vexp.alias("v"),
        _sign_bucket(F.col(vec_col), n_lsh_bits).alias("bucket"),
        F.sqrt(F.aggregate(vexp, F.lit(0.0), lambda acc, x: acc + x * x)).alias("nrm"),
    )
    a, b = withb.alias("a"), withb.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosine = dot / (F.col("a.nrm") * F.col("b.nrm"))
    if round_decimals is not None:
        cosine = F.round(cosine, round_decimals)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _sign_bucket(vec, n_bits: int):
    """Integer bucket from the signs of the first n_bits coordinates —
    a deterministic, cross-engine LSH family (axis hyperplanes)."""
    b = F.lit(0)
    for i in range(n_bits):
        b = b + F.when(F.element_at(vec, i + 1) > 0, F.lit(2**i)).otherwise(0)
    return b.cast("int")


def simhash_near_dup_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    n_bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via banded hamming blocking: split the
    fingerprint into ``bands`` equal bit-slices; by pigeonhole, two
    hashes within ``max_hamming`` (< bands) differ in at most
    ``bands - 1`` slices, so they COLLIDE on at least one band — the
    band equi-join generates every candidate, and an exact
    ``bit_count(xor)`` filter keeps true pairs. The simhash analog of
    MinHash banded LSH; all pure Catalyst (shift/mask/xor/popcount are
    codegen), the only shuffle is the band-key join. Band width is the
    scale knob: production uses a 64-bit hash with 4x16-bit bands
    (65,536 values per band keep buckets small); the fixture runs
    narrower bands purely because the vote-per-bit oracle SQL grows
    with n_bits. ``max_bucket_size`` is the same hot-bucket skew cap as
    ``lsh_candidate_pairs`` (degenerate template buckets emit B**2/2
    pairs), mirrored exactly by the SQL oracle."""
    # the pigeonhole completeness argument above REQUIRES these; a
    # violating caller would get silent recall loss (max_hamming >=
    # bands) or bits excluded from every band (n_bits % bands != 0)
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be in [0, bands) — bands={bands}; "
            "banded blocking is only complete below the band count"
        )
    if n_bits % bands != 0:
        raise ValueError(
            f"n_bits ({n_bits}) must be divisible by bands ({bands}); "
            "otherwise the top n_bits % bands bits are in no band"
        )
    width = n_bits // bands
    mask = (1 << width) - 1
    slices = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.expr(f"shiftright({hash_col}, {b * width}) & {mask}").alias("band_val"),
        )
        for b in range(bands)
    ]
    allb = fp.select(
        F.col(id_col), F.col(hash_col).alias("h"), F.explode(F.array(*slices)).alias("s")
    ).select(
        id_col, "h", F.col("s.band_idx").alias("band_idx"), F.col("s.band_val").alias("band_val")
    )
    if max_bucket_size is not None:
        # checkpointed so the kernel upstream runs once; under AQE this runs
        # the plan's shuffle stages now, while the query is built (see
        # lsh_candidate_pairs)
        allb = allb.localCheckpoint(eager=False)
        kept = (
            allb.groupBy("band_idx", "band_val")
            .agg(F.count("*").alias("__bsz"))
            .where(F.col("__bsz") <= max_bucket_size)
            .select("band_idx", "band_val")
        )
        allb = allb.join(kept, ["band_idx", "band_val"], "left_semi")
    a, b_ = allb.alias("a"), allb.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr("bit_count(a.h ^ b.h)").cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Transitive closure over verified near-dup pairs → one canonical
    keep-id per duplicate cluster: (doc_id, cluster_id, keep_id,
    n_members), cluster_id = the component's minimum doc id.

    The corpus-scale recast of the reference's flood fill
    (find-sign-dots-fn core.clj:574-638: grow a component, consuming
    members from the remaining set), as the large-star/small-star
    reduction of Kiveris et al. (SoCC'14): components are labeled inside
    each partition first, and only what straddles partitions is
    propagated.

    1. Both edge orientations come from one pass over ``pairs``,
       deduplicated by one ``distinct()`` exchange.
    2. One ``mapInArrow`` kernel (``_union_find_partition``) runs
       union-find with iterative path compression over each partition's
       edges. Roots are linked smaller-id-wins, so every root is its
       local component's minimum id. It emits (doc_id, cluster_id,
       n_members) for every node of the partition. The output is
       localCheckpointed once: under AQE that runs the upstream shuffle
       stages now (the LSH+verify pipeline and the edge exchange), so
       they run once; only the kernel's own stage waits for the action.
    3. The checkpoint's partition count is read, which costs no job.
       With ONE partition the kernel saw every edge, so its labeling is
       global and exact: each local component is a whole component, its
       root is the component's MIN(reachable id) — the oracle's meaning
       — and its size is n_members. It is returned as-is, with no
       driver round, count or size join. That is every measured case
       (sf0.001-sf0.1, local[4] and local[16]): AQE coalesces the edge
       exchange to one partition while the edges fit under its minimum
       partition size.
    4. With more partitions (coalescing off, or edges past AQE's size
       floor) a node can sit in several partitions with a different
       local root in each: ``_merge_local_components`` links each
       node's roots into a contracted graph over local roots only and
       runs bounded min-label propagation with hooking and pointer
       jumping over it (``_propagate_min_labels``: O(log n) rounds,
       at most ``max_rounds``, RuntimeError on overrun — never a
       half-converged labeling), then recounts n_members.

    A null endpoint raises ``ValueError``: a null id has no place in a
    min-id labeling.
    """
    local = _label_partitions(pairs, id_a, id_b)
    if local.rdd.getNumPartitions() <= 1:
        return local.select(
            "doc_id", "cluster_id", F.col("cluster_id").alias("keep_id"), "n_members"
        )
    return _merge_local_components(local, max_rounds)


def _label_partitions(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Checkpointed per-partition labeling (doc_id, cluster_id,
    n_members) of the pair graph's edges; global iff one partition."""
    edges = _both_orientations(pairs, id_a, id_b)
    id_type = edges.schema["s"].dataType.simpleString()
    return edges.mapInArrow(
        _union_find_partition, f"doc_id {id_type}, cluster_id {id_type}, n_members long"
    ).localCheckpoint(eager=False)


def _both_orientations(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Distinct (s, d) edges in both orientations, from ONE pass over
    ``pairs``: a union of the pairs with their swap would copy the whole
    upstream plan (e.g. the LSH+verify kernel) into a second branch and
    run it twice."""
    a, b = F.col(id_a), F.col(id_b)
    return (
        pairs.select(
            F.explode(
                F.array(F.struct(a.alias("s"), b.alias("d")), F.struct(b.alias("s"), a.alias("d")))
            ).alias("e")
        )
        .select("e.s", "e.d")
        .distinct()
    )


def _union_find_partition(batches):
    """``mapInArrow`` kernel: connected components of one partition's
    (s, d) edges → one (doc_id, cluster_id, n_members) row per node,
    cluster_id the local component's minimum id. Fails fast on a null
    endpoint instead of labeling it arbitrarily."""
    import numpy as np
    import pyarrow as pa

    src, dst, typ = [], [], None
    for batch in batches:
        s, d = batch.column("s"), batch.column("d")
        if s.null_count or d.null_count:
            raise ValueError("null near-dup pair endpoint; every pair needs two non-null ids")
        typ = s.type
        src.append(s.to_numpy(zero_copy_only=False))
        dst.append(d.to_numpy(zero_copy_only=False))
    if typ is None:  # empty partition
        return
    ends = np.concatenate(src + dst)
    # dense node indices in ascending id order: the smaller index is
    # the smaller id, so smaller-index-wins linking keeps each root its
    # component's minimum id
    ids, node = np.unique(ends, return_inverse=True)
    parent = list(range(len(ids)))

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    half = len(ends) // 2
    for x, y in zip(node[:half].tolist(), node[half:].tolist()):
        rx, ry = find(x), find(y)
        if rx < ry:
            parent[ry] = rx
        elif ry < rx:
            parent[rx] = ry
    roots = np.fromiter(map(find, range(len(ids))), dtype=np.int64, count=len(ids))
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids, typ), pa.array(ids[roots], typ), pa.array(np.bincount(roots)[roots])],
        names=["doc_id", "cluster_id", "n_members"],
    )


def _merge_local_components(local: DataFrame, max_rounds: int) -> DataFrame:
    """Global labeling from per-partition labelings (near_dup_clusters'
    more-than-one-partition path). A node seen in k partitions has up
    to k local roots, all in its component; linking each to the node's
    least root contracts the straddling nodes into root-to-root edges,
    so propagation runs over local roots only. The global minimum of a
    component is the least of its local roots, hence its label."""
    per_node = local.groupBy("doc_id").agg(
        F.min("cluster_id").alias("least"), F.collect_set("cluster_id").alias("roots")
    )
    links = per_node.select(F.explode("roots").alias("root"), "least").where(
        F.col("root") != F.col("least")
    )
    # checkpointed so the groupBy upstream runs once, not once per round
    labels = _propagate_min_labels(
        _both_orientations(links, "root", "least").localCheckpoint(eager=False), max_rounds
    )
    # a root outside the contracted graph labels its whole component
    final = per_node.join(labels.withColumnRenamed("id", "least"), "least", "left").select(
        "doc_id", F.coalesce("lbl", "least").alias("lbl")
    )
    # member counts via groupBy + join, NOT a count-over-window: a
    # window partitioned by cluster label materializes each cluster in
    # ONE task, and a degenerate giant cluster (boilerplate-heavy
    # corpus) is exactly when that breaks. The groupBy partial-
    # aggregates map-side; the join back is AQE-skew-splittable.
    sizes = final.groupBy("lbl").agg(F.count("*").alias("n_members"))
    return final.join(sizes, "lbl").select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        F.col("lbl").alias("keep_id"),
        "n_members",
    )


def _propagate_min_labels(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Bounded-round MIN-LABEL PROPAGATION over checkpointed
    both-orientation ``edges`` (s, d) → (id, lbl), lbl the component's
    minimum id. Labels are node ids, so they form a pointer forest.
    Every node starts labeled min(own id, min neighbor id); each round,
    for every edge (s, d), d AND d's label node take lbl(s) if smaller
    (propagate + HOOK), then every node POINTER-JUMPS to its label's
    label — Shiloach-Vishkin style hooking and shortcutting. The hook
    is what makes this O(log n) rounds: without it a label node never
    learns what its followers saw, and a chain of shuffled ids needs
    O(diameter) rounds (replaying the rounds in plain Python on a
    2,000-node chain: no fixpoint in 500 rounds without the hook, 10
    rounds with it). All per-round work is joins + groupBy on the id key; per-round
    state is checkpointed (``_round_checkpoint``) so plan lineage stays
    flat. Convergence is detected by counting CHANGED labels —
    overflow-free at any id magnitude, unlike a SUM(label) fixpoint.
    Overrunning ``max_rounds`` raises instead of silently emitting a
    half-converged labeling."""
    # seed labels with min(id, min neighbor) — the first propagation
    # round comes free with the seeding scan
    labels = (
        edges.groupBy("s")
        .agg(F.least(F.min("d"), F.col("s")).alias("lbl"))
        .select(F.col("s").alias("id"), "lbl")
    )
    # under AQE this runs the groupBy's shuffle stage at this call
    labels = _round_checkpoint(labels)
    lbl_type = dict(labels.dtypes)["lbl"]
    for _ in range(max_rounds):
        prop = edges.join(labels.withColumnRenamed("id", "s"), "s")
        # the hook: d's label node hears lbl(s) too
        hook = prop.join(
            labels.select(F.col("id").alias("d"), F.col("lbl").alias("root")), "d"
        ).select(F.col("root").alias("id"), "lbl")
        # carry each id's previous label THROUGH the merge aggregation
        # (prev is non-null on exactly the one labels-row per id — every
        # prop id is an edge destination, hence also a seeded source,
        # and every hook id is a label, hence a node — so max(prev)
        # recovers it) instead of re-joining labels after the pointer
        # jump: one shuffle join fewer per round, identical convergence
        # test.
        no_prev = F.lit(None).cast(lbl_type).alias("prev")
        tagged = labels.select("id", "lbl", F.col("lbl").alias("prev")).unionByName(
            prop.select(F.col("d").alias("id"), "lbl", no_prev)
        ).unionByName(hook.select("id", "lbl", no_prev))
        # runs the groupBy's shuffle stages at this call; the count
        # below runs only the final stage
        merged = _round_checkpoint(
            tagged.groupBy("id").agg(F.min("lbl").alias("lbl"), F.max("prev").alias("prev_lbl"))
        )
        # changed-label count BEFORE the pointer jump: labels only ever
        # decrease, so zero changed rows == propagation fixpoint, and at
        # the fixpoint every edge has equal endpoint labels (labels are
        # constant per component), so the jump would be the identity —
        # the converged (always-run final) round skips its join shuffle
        # outright. Overflow-free vs a SUM(lbl) probe.
        changed = merged.where(F.col("lbl") != F.col("prev_lbl")).count()
        if changed == 0:
            labels = merged.select("id", "lbl")
            break
        # pointer jump: adopt the label of your label (labels are ids);
        # lazy — it materializes as part of the NEXT round's count over
        # the next checkpoint, so lineage stays one join deep per round.
        lab2 = merged.select(F.col("id").alias("lbl"), F.col("lbl").alias("lbl2"))
        labels = merged.join(lab2, "lbl", "left").select(
            "id", F.least("lbl", F.coalesce("lbl2", "lbl")).alias("lbl")
        )
    else:
        raise RuntimeError(f"near_dup_clusters did not converge in {max_rounds} rounds")
    return labels


def _round_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint(eager=False) for loop state that drops the origin
    plan's size estimate. A checkpoint keeps its origin's estimate, and
    without CBO a join's estimate is the product of its sides', so a
    loop that joins last round's checkpoint multiplies the estimate's
    digit count every round; on a long chain's rounds the planner spent
    minutes multiplying million-digit integers. Re-wrapping the checkpointed
    rows as a new relation (JVM-side, no job, no Python) resets the
    estimate to spark.sql.defaultSizeInBytes every round."""
    ck = df.localCheckpoint(eager=False)._jdf
    spark = df.sparkSession
    return DataFrame(spark._jsparkSession.createDataFrame(ck.javaRDD(), ck.schema()), spark)
