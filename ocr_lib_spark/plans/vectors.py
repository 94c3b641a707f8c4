"""Similarity-search queries over ``embeddings`` (array<float>, dim 64).

Brute-force exact cosine is the baseline (broadcast nested-loop argmax —
check-matching-fn core.clj:1020-1069 lifted to vectors); sign-bucket LSH
is the corpus-scale path. Cosine values are rounded to 6 decimals on
both sides to absorb summation-order ulps; ranks are computed on the
unrounded values with a pinned (cosine DESC, neighbor_id ASC) tie-break.
"""

from __future__ import annotations

from pyspark.sql import functions as F



from ocr_lib_spark.operators.dedup import _sign_bucket
from ocr_lib_spark.operators.similarity import brute_force_topk, knn_label_vote
from ocr_lib_spark.plans import QueryDef, load

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 10
LSH_BITS = 8


def _emb(spark, sf_dir):
    return load(spark, sf_dir, "embeddings")


def _vectors(spark, sf_dir):
    return _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _cosine_topk(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES)
    out = brute_force_topk(e, q, k=TOP_K)
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine_r6")
    )


_O_COSINE = f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
       round(cosine, 6) AS cosine_r6
FROM ranked WHERE rank <= {TOP_K}
"""


def _lsh_buckets(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return (
        e.select(_sign_bucket(F.col("embedding"), LSH_BITS).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


_O_LSH_BUCKETS = f"""
SELECT ({" + ".join(f"(CASE WHEN embedding[{i + 1}] > 0 THEN {2**i} ELSE 0 END)" for i in range(LSH_BITS))})::INT AS bucket,
       COUNT(*) AS n
FROM embeddings GROUP BY 1
"""


def _knn_vote(spark, sf_dir):
    e = _emb(spark, sf_dir)
    q = e.where(F.col("vec_id") < N_QUERIES)
    return knn_label_vote(e, q, k=5)


_O_KNN = f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nlabel,
         list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id),
topk AS (
  SELECT query_id, nlabel FROM (
    SELECT query_id, nlabel, cosine, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM pairs) WHERE rank <= 5),
votes AS (
  SELECT query_id, nlabel, COUNT(*) AS n FROM topk GROUP BY query_id, nlabel)
SELECT query_id, nlabel AS pred_label, n AS votes FROM (
  SELECT query_id, nlabel, n,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n DESC, nlabel ASC) AS r
  FROM votes) WHERE r = 1
"""


NEAR_DUP_T = 0.30  # synthetic embeddings have no true near-dups (max
# in-bucket cosine ≈ 0.43); the threshold exercises the semantics on
# a non-trivial pair set. Production default stays 0.95.


def _near_dup(spark, sf_dir):
    from ocr_lib_spark.operators.dedup import embedding_near_dup

    return embedding_near_dup(
        _emb(spark, sf_dir),
        threshold=NEAR_DUP_T,
        n_lsh_bits=LSH_BITS,
        round_decimals=6,
    )


_O_NEAR_DUP = f"""
WITH wb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         ({" + ".join(f"(CASE WHEN embedding[{i + 1}] > 0 THEN {2**i} ELSE 0 END)" for i in range(LSH_BITS))})::INT AS bucket
  FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= {NEAR_DUP_T}
"""


# --- IVF top-k: coarse quantizer -> inverted-list equi-join -> exact rank ----
# The corpus-scale ANN path beyond sign-bucket LSH: assignment and probe
# both join against a small broadcast centroid set; the candidate join is
# an equi-join on centroid_id (the inverted list), never a cross join.
# Centroid choice is a deterministic data rule (vec_id % 64 == 1) so the
# DuckDB twin reproduces it exactly — a trained k-means quantizer would
# slot into the same plan as a broadcast table.

IVF_NPROBE = 2
IVF_K = 5


def _pinned_norms(X):
    """Row norms of ``X`` (n x dim): sqrt of the left-to-right fold of
    squares, one vectorized add per dim — the element order of
    ``aggregate(v, 0.0, (acc, x) -> acc + x * x)``, so every norm is
    IEEE-identical to the Catalyst/DuckDB twins (sequential per
    element, C-speed across rows)."""
    import numpy as np

    sq = np.zeros(len(X))
    for d in range(X.shape[1]):
        sq = sq + X[:, d] * X[:, d]
    return np.sqrt(sq)


def _pinned_cos(V, C, cnorm):
    """Cosine of every row of ``V`` against every row of ``C`` (norms
    ``cnorm``), the dot folded in the same element order as
    ``aggregate(zip_with(a, b, x * y), 0.0, +)``: ``dot / (|v| * |c|)``
    is then bit-identical to the twins' per-pair cosine.

    A zero denominator (a zero-norm vector) is NULL in DuckDB and an
    error in Spark under ANSI; it comes back as -inf, which ranks last
    as DuckDB's NULLS LAST does and never wins an argmax over a real
    score. NaN (a NaN element) stays NaN: the greatest double in
    both engines' ordering, and np.argmax's pick too."""
    import numpy as np

    S = np.zeros((len(V), len(C)))
    for d in range(V.shape[1]):
        S = S + V[:, d, None] * C[None, :, d]
    den = _pinned_norms(V)[:, None] * cnorm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = S / den
    cos[den == 0] = -np.inf
    return cos


def _desc_nan_first(cos, ids):
    """Row order (cosine DESC, id ASC) with NaN ranked FIRST, as in
    Spark's ``desc`` and DuckDB's ``ORDER BY ... DESC`` (NaN is the
    greatest double in both). ``np.lexsort`` on ``-cos`` alone would
    rank NaN last; -0.0 and 0.0 compare equal, as in both engines."""
    import numpy as np

    nan = np.isnan(cos)
    return np.lexsort((ids, np.where(nan, 0.0, -cos), ~nan))


def _codebook_matrix(cent_rows):
    """[(centroid_id, vector)] -> (ids ascending, k x dim matrix)."""
    import numpy as np

    if not cent_rows:
        raise ValueError(
            "empty codebook: no centroids survive for this input; "
            "IVF needs at least one centroid (check the seed rule / corpus size)"
        )
    cent_rows = sorted(cent_rows, key=lambda r: r[0])
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    return cids, np.array([v for _, v in cent_rows], dtype=np.float64)


def _batch_vectors(batch, dim):
    """The Arrow batch's ``v`` column as an n x dim float64 matrix,
    read straight from the list's child buffer. Fails fast on malformed
    vectors instead of silently dropping the whole Arrow batch (which
    would diverge from the per-row relational twin)."""
    import pyarrow.compute as pc

    lst = batch.column("v")
    flat = lst.flatten()
    lengths = pc.min_max(pc.list_value_length(lst))
    if (
        lst.null_count
        or flat.null_count
        or lengths["min"].as_py() != dim
        or lengths["max"].as_py() != dim
    ):
        bad = [
            i
            for i, r in enumerate(lst.to_pylist())
            if r is None or len(r) != dim or None in r
        ]
        raise ValueError(
            f"null/ragged embedding vectors at batch rows {bad[:5]} "
            f"(expected non-null dim={dim}); clean upstream"
        )
    return flat.to_numpy().reshape(len(lst), dim)


def _assign_centroids_arrow(e, cent_rows):
    """Nearest-centroid assignment as a zero-shuffle Arrow kernel: the
    (tiny, bounded) centroid matrix rides the closure and every batch
    scores all its vectors against all centroids in numpy.

    Bit-identity contract with the Catalyst/DuckDB twins: cosines use
    the pinned fold order (``_pinned_cos``), and the argmax tie-break
    (score DESC, centroid_id ASC — centroids pre-sorted ascending,
    np.argmax keeps the first max, NaN included) matches
    max_by(struct(score, -id)).

    vs the relational twin (crossJoin → max_by): no n×k row
    materialization, no interpreted higher-order functions — the same
    reduction BLAS-shaped (one fused loop instead of 390k array rows at
    sf0.1)."""
    import pyarrow as pa

    cids, C = _codebook_matrix(cent_rows)
    cnorm = _pinned_norms(C)
    dim = C.shape[1]

    def run(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            V = _batch_vectors(batch, dim)
            best = cids[_pinned_cos(V, C, cnorm).argmax(axis=1)]
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), batch.column("v"), pa.array(best)],
                names=["vec_id", "v", "centroid_id"],
            )

    # no spread in front of this kernel, the Lloyd partials or the recall
    # pass: on a small scan the round-robin exchange costs more than the
    # idle cores (sf0.1, local[4]: ivf_recall build+run 1.61/1.51 s with
    # it, 1.23/1.29 s without)
    return e.select("vec_id", "v").mapInArrow(
        run, "vec_id long, v array<double>, centroid_id long"
    )


def _lloyd_partial_stats_arrow(e, cent_rows):
    """One Lloyd step's sufficient statistics as MAP-SIDE PARTIALS: the
    same nearest-centroid assignment as ``_assign_centroids_arrow``,
    fused with the per-(centroid, dim) integer-scaled sums INSIDE the
    kernel. Each task emits at most k x dim partial rows instead of
    n x dim element rows. Bit-identical by construction: elements
    enter fixed point as floor(v * 1e6) BEFORE summation (the
    TRAIN_SCALE contract), and integer addition is associative, so
    partial-then-final sums equal the flat sum."""
    import numpy as np
    import pyarrow as pa

    cids, C = _codebook_matrix(cent_rows)
    cnorm = _pinned_norms(C)
    k, dim = C.shape

    def run(batches):
        sums = np.zeros((k, dim), dtype=np.int64)
        ns = np.zeros(k, dtype=np.int64)
        for batch in batches:
            if not batch.num_rows:
                continue
            V = _batch_vectors(batch, dim)
            best = _pinned_cos(V, C, cnorm).argmax(axis=1)
            np.add.at(sums, best, np.floor(V * TRAIN_SCALE).astype(np.int64))
            np.add.at(ns, best, 1)
        mask = ns > 0
        if mask.any():
            nm = int(mask.sum())
            yield pa.RecordBatch.from_pydict(
                {
                    "centroid_id": np.repeat(cids[mask], dim),
                    "dim": np.tile(np.arange(dim, dtype=np.int32), nm),
                    "sum_scaled": sums[mask].ravel(),
                    "n": np.repeat(ns[mask], dim),
                }
            )

    # the integer partial sums are partitioning-invariant by construction
    return e.select("vec_id", "v").mapInArrow(
        run, "centroid_id long, dim int, sum_scaled long, n long"
    )


def _codebook_values_df(spark, cent_rows):
    """Driver-side codebook -> LocalRelation (SQL VALUES literal with
    array() + exact repr double literals — see relational._values_df for
    why not createDataFrame: a python-list DataFrame is Scan ExistingRDD
    and re-runs a python stage per action). repr() round-trips IEEE-754,
    so the literals parse back to the identical doubles."""
    if not cent_rows:
        # an empty VALUES list is a SQL parse error, not an empty result
        # (ADVICE r4); reachable via a tiny input with no seed-rule hit
        # or every centroid losing its members across Lloyd iterations
        raise ValueError(
            "empty codebook: no centroids survive for this input; "
            "IVF needs at least one centroid (check the seed rule / corpus size)"
        )
    rows = ", ".join(
        f"({cid}L, array({', '.join(f'CAST({x!r} AS DOUBLE)' for x in vec)}))"
        for cid, vec in cent_rows
    )
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(centroid_id, cv)")


def _ivf_topk(
    spark,
    sf_dir,
    vectorized_assign: bool = True,
    trained: bool = False,
    nprobe: int | None = None,
):
    nprobe = IVF_NPROBE if nprobe is None else nprobe
    from pyspark.sql import Window

    from ocr_lib_spark.operators.similarity import _dot, _norm, _topk_two_phase

    e = _vectors(spark, sf_dir)
    if trained:
        # production shape: the codebook is the k-means training output
        # (a bounded k×dim table), shipped as a LocalRelation + broadcast
        cent_rows = _train_codebook(e, _seed_and_queries(e)[0], IVF_TRAIN_ITERS)
        cent_plain = _codebook_values_df(spark, cent_rows)
    else:
        # seed-rule codebook (untrained stand-in; kept as the cheap twin)
        cent_plain = e.where(F.col("vec_id") % 64 == 1).select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    # cosine denominators: one norm per row (vector, centroid, query),
    # never per pair — `dot / (|a| * |b|)` with the same folds as the
    # per-pair form, so the values are unchanged
    vn = _norm(F.col("v")).alias("vn")
    cent = F.broadcast(cent_plain.select("*", _norm(F.col("cv")).alias("cn")))
    if vectorized_assign:
        # the quantizer is a small bounded table — score in Arrow
        # against the driver-side codebook rows (the VALUES literals
        # round-trip IEEE-754, so they are the same doubles)
        if not trained:
            cent_rows = _seed_and_queries(e)[0]
        assign = _assign_centroids_arrow(e, cent_rows).select("*", vn)
    else:
        # relational twin: assignment via max_by aggregation, not a
        # window sort — map-side combinable, shuffle carries one row per
        # vector, never the (vector × centroid) cross product. Tie order
        # pinned via the (score, -centroid_id) struct.
        assign = (
            e.select("vec_id", "v", vn)
            .crossJoin(cent)
            .withColumn("acos", _dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn")))
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    "centroid_id",
                    F.struct(F.col("acos"), (-F.col("centroid_id")).alias("nid")),
                ).alias("centroid_id"),
                F.first("v").alias("v"),
                F.first("vn").alias("vn"),
            )
            .select("vec_id", "v", "centroid_id", "vn")
        )
    # probes: NPROBE nearest centroids per query vector
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(cent)
        .withColumn("pcos", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
        .withColumn("rn", F.row_number().over(wp))
        .where(f"rn <= {nprobe}")
        .select("query_id", "qv", "qn", "centroid_id")
    )
    # inverted-list candidates: equi-join on centroid_id, exact rerank.
    # Rank via the two-phase local-then-merge top-k — a hot inverted
    # list (skewed quantizer cell) never lands in one ranking task.
    cand = (
        probes.join(assign, "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn"))).alias("cosine"),
        )
    )
    return _topk_two_phase(cand, IVF_K).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        F.round("cosine", 6).alias("cosine_r6"),
    )


_DD_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})))"
)

_O_IVF = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 64 = 1),
assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_DD_COS.format(a="e.v", b="cent.cv")} DESC, cent.centroid_id) AS rn
    FROM e CROSS JOIN cent) WHERE rn = 1),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.v AS qv, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_DD_COS.format(a="e.v", b="cent.cv")} DESC, cent.centroid_id) AS rn
    FROM e CROSS JOIN cent WHERE e.vec_id < {N_QUERIES}) WHERE rn <= {IVF_NPROBE}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_DD_COS.format(a="p.qv", b="a.v")} AS cosine
  FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cosine, 6) AS cosine_r6
FROM (SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
      FROM cand)
WHERE rank <= {IVF_K}
"""


# --- IVF codebook training: one distributed Lloyd step -----------------------
# The index-BUILDING path production ANN needs (ivf_topk consumes a
# trained codebook; this is how it trains at corpus scale): assign every
# vector to its nearest current centroid (broadcast codebook, one pass),
# then reduce per-(centroid, dim) sufficient statistics of the new
# means. Statistics are emitted as INTEGER-SCALED sums + counts — each
# element is floor(v*1e6) BEFORE summation, so the sum is
# order-independent and bit-identical across engines, partitionings and
# cluster sizes (float sums are not: summation order drifts ulps). The
# new mean is sum_scaled/(n*1e6) downstream; iterate to convergence.

TRAIN_SCALE = 1_000_000


def _ivf_train_step(spark, sf_dir):
    """One distributed Lloyd step off the seed-rule codebook, via the
    fused Arrow assignment+partial-stats kernel (see ``_lloyd_stats``).
    The previous relational shape (crossJoin + max_by assignment, then
    posexplode + groupBy over n x dim element rows) computes the same
    values — the Arrow kernel's pinned fold order and (cos DESC, cid
    ASC) argmax are the documented bit-identity contract with the
    max_by(struct(acos, -cid)) twin — but shuffled the whole exploded
    corpus where the kernel ships bounded codebook-sized partials."""
    e = _vectors(spark, sf_dir)
    return _lloyd_stats(e, _seed_and_queries(e)[0])


_O_IVF_TRAIN = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 64 = 1),
assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_DD_COS.format(a="e.v", b="cent.cv")} DESC, cent.centroid_id) AS rn
    FROM e CROSS JOIN cent) WHERE rn = 1),
ex AS (
  SELECT a.centroid_id, d.i::INT AS dim,
         FLOOR(a.v[d.i + 1] * {TRAIN_SCALE})::BIGINT AS scaled
  FROM assign a CROSS JOIN (SELECT unnest(range(len((SELECT v FROM e LIMIT 1)))) AS i) d)
SELECT centroid_id, dim, SUM(scaled)::BIGINT AS sum_scaled, COUNT(*)::BIGINT AS n
FROM ex GROUP BY centroid_id, dim
"""


# --- full k-means training loop + trained-codebook IVF search ----------------
# Iterate the Lloyd step a FIXED number of times and feed the trained
# codebook into ivf_topk, replacing the vec_id % 64 seed-rule stand-in.
# Each round is ONE action: the fused kernel's per-task partials (at most
# tasks x k x dim rows) are collected and summed on the driver, and the
# new codebook (a bounded k×dim table — the one legitimately
# driver-sized object in the ANN path) rides the next round's closure;
# all per-vector work stays distributed. Determinism across engines:
#   * per-(centroid, dim) statistics are integer-scaled sums
#     (floor(v*1e6) summed exactly — order-independent),
#   * the new mean is sum_scaled / (n * 1e6): both operands are exactly
#     representable doubles (< 2^53), so the correctly-rounded IEEE
#     quotient is bit-identical in Python, Spark, and DuckDB,
#   * assignment cosine uses the pinned sequential fold order
#     (_pinned_cos), tie-break (cos DESC, cid ASC),
#   * a centroid that loses all members simply drops out of the next
#     round's codebook in BOTH engines (no rows -> no centroid).
# A fixed iteration count (not an epsilon test) keeps the DuckDB twin
# expressible as an unrolled CTE chain and needs no convergence action.

IVF_TRAIN_ITERS = 3


def _lloyd_stats(e, cent_rows):
    """One Lloyd step given a driver-side codebook, as a frame: the
    fused Arrow assignment+partial-stats kernel
    (``_lloyd_partial_stats_arrow``), then one tiny groupBy over
    (tasks x k x dim) partial rows."""
    part = _lloyd_partial_stats_arrow(e, cent_rows)
    return (
        part.groupBy("centroid_id", "dim")
        .agg(
            F.sum("sum_scaled").cast("long").alias("sum_scaled"),
            F.sum("n").cast("long").alias("n"),
        )
        .select("centroid_id", "dim", "sum_scaled", "n")
    )


def _lloyd_round(e, cent_rows):
    """One Lloyd step as ONE action: the kernel's per-task partials are
    collected and summed on the driver in exact Python ints — the same
    (centroid_id, dim, sum_scaled, n) rows as ``_lloyd_stats``, sorted,
    without its shuffle stage."""
    acc: dict = {}
    for r in _lloyd_partial_stats_arrow(e, cent_rows).collect():
        key = (r["centroid_id"], r["dim"])
        s, n = acc.get(key, (0, 0))
        acc[key] = (s + r["sum_scaled"], n + r["n"])
    return [(cid, d, s, n) for (cid, d), (s, n) in sorted(acc.items())]


def _rebuild_codebook(stat_rows):
    """(centroid_id, dim, sum_scaled, n) rows -> [(centroid_id,
    mean_vector)] with the exact sum_scaled/(n*SCALE) division both
    engines reproduce."""
    by_cid: dict[int, dict[int, float]] = {}
    for cid, d, s, n in stat_rows:
        by_cid.setdefault(cid, {})[d] = s / (n * TRAIN_SCALE)
    return sorted(
        (cid, [dims[d] for d in sorted(dims)]) for cid, dims in by_cid.items()
    )


def _seed_and_queries(e):
    """One collect for the driver-side inputs of every IVF query: the
    seed-rule codebook (vec_id % 64 == 1) and the query vectors
    (vec_id < N_QUERIES), each as sorted [(id, vector)]."""
    rows = (
        e.where((F.col("vec_id") % 64 == 1) | (F.col("vec_id") < N_QUERIES))
        .select("vec_id", "v", (F.col("vec_id") % 64 == 1).alias("seed"))
        .collect()
    )
    seed = sorted((r["vec_id"], list(r["v"])) for r in rows if r["seed"])
    queries = sorted((r["vec_id"], list(r["v"])) for r in rows if r["vec_id"] < N_QUERIES)
    return seed, queries


def _train_codebook(e, cent_rows, iters: int):
    """Run ``iters`` Lloyd rounds from ``cent_rows``, one action each. The
    collect per round is the partials only — never per-vector data."""
    for _ in range(iters):
        cent_rows = _rebuild_codebook(_lloyd_round(e, cent_rows))
    return cent_rows


def _ivf_train_loop(spark, sf_dir):
    """The last round's statistics frame: rounds 1..ITERS-1 run on the
    driver, the last stays lazy so the caller's action runs it once."""
    e = _vectors(spark, sf_dir)
    cent_rows = _train_codebook(e, _seed_and_queries(e)[0], IVF_TRAIN_ITERS - 1)
    return _lloyd_stats(e, cent_rows)


def _train_cte_chain(iters: int) -> str:
    """Unrolled DuckDB twin of the training loop: cent0 = seed rule,
    then assign{i} -> stats{i} -> cent{i} per iteration."""
    sql = (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
        "cent0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id % 64 = 1)"
    )
    for i in range(1, iters + 1):
        sql += f""",
assign{i} AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_DD_COS.format(a="e.v", b="c.cv")} DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN cent{i - 1} c) WHERE rn = 1),
stats{i} AS (
  SELECT a.centroid_id, d.i::INT AS dim,
         SUM(FLOOR(a.v[d.i + 1] * {TRAIN_SCALE})::BIGINT)::BIGINT AS sum_scaled,
         COUNT(*)::BIGINT AS n
  FROM assign{i} a
  CROSS JOIN (SELECT unnest(range(len((SELECT v FROM e LIMIT 1)))) AS i) d
  GROUP BY a.centroid_id, d.i),
cent{i} AS (
  SELECT centroid_id,
         list(sum_scaled::DOUBLE / (n::DOUBLE * {TRAIN_SCALE}) ORDER BY dim) AS cv
  FROM stats{i} GROUP BY centroid_id)"""
    return sql


_O_IVF_TRAIN_LOOP = (
    _train_cte_chain(IVF_TRAIN_ITERS)
    + f"\nSELECT centroid_id, dim, sum_scaled, n FROM stats{IVF_TRAIN_ITERS}"
)


def _ivf_search_sql(cent: str) -> str:
    """Probe/assign/rerank tail of the IVF oracle against centroid CTE
    ``cent`` (shared by the seed-rule and trained-codebook twins)."""
    return f""",
s_assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_DD_COS.format(a="e.v", b="c.cv")} DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cent} c) WHERE rn = 1),
s_probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.v AS qv, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_DD_COS.format(a="e.v", b="c.cv")} DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cent} c WHERE e.vec_id < {N_QUERIES}) WHERE rn <= {IVF_NPROBE}),
s_cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_DD_COS.format(a="p.qv", b="a.v")} AS cosine
  FROM s_probes p JOIN s_assign a ON a.centroid_id = p.centroid_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, round(cosine, 6) AS cosine_r6
FROM (SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
      FROM s_cand)
WHERE rank <= {IVF_K}"""


_O_IVF_TRAINED = _train_cte_chain(IVF_TRAIN_ITERS) + _ivf_search_sql(
    f"cent{IVF_TRAIN_ITERS}"
)


# --- gated IVF retrieval quality (VERDICT r05 item 5) -------------------------
# ivf_topk/_trained are exactness-gated against their own plans; the
# REASON to train a codebook is recall vs brute force. This query puts
# the recall table (previously BENCH/BASELINE.md evidence only,
# tools/ivf_recall.py) under the external gate: n_hit is computed
# EXACTLY in both engines (pair-set intersection with the brute-force
# truth), and recall_within_bounds is pinned TRUE by the oracle, so a
# codebook/quantizer regression that drops recall below the floor fails
# CORRECTNESS, not just a doc table.

#: recall_ppm floors, keyed by (variant, nprobe). Measured tri-scale
#: (sf0.001 / 0.01 / 0.1, 2026-08-17):
#:   seed@2    550000 / 500000 / 350000
#:   seed@4    825000 / 625000 / 550000
#:   trained@2 600000 / 525000 / 375000
#:   trained@4 775000 / 850000 / 525000
#: floor = observed minimum - 50_000 ppm (= 2 truth neighbors on the
#: 40-pair fixture): a regression that loses 3+ neighbors below the
#: worst observed scale fails the external gate. (trained@4 is NOT
#: uniformly >= seed@4 across scales — sf0.001/0.1 flip it — so no
#: cross-variant ordering is pinned, only per-variant floors.)
IVF_RECALL_FLOOR_PPM: dict = {
    ("seed", 2): 300_000,
    ("seed", 4): 500_000,
    ("trained", 2): 325_000,
    ("trained", 4): 475_000,
}


def _recall_topk(ev, queries, books):
    """Top-IVF_K (tag, query_id, rank, neighbor_id, cosine) for the
    exact truth and every (codebook, nprobe) variant of ``books`` — a
    list of (name, codebook rows, nprobes) — in ONE Arrow pass over the
    corpus plus one window merge.

    The queries, the codebooks and each query's probe ranks (computed
    on the driver with the same pinned fold) ride the closure. Per batch
    the kernel scores every vector against the queries and all
    centroids in one ``_pinned_cos`` fold, assigns it to its nearest
    centroid under each codebook (np.argmax: first max, NaN included —
    the ``_assign_centroids_arrow`` contract), and keeps at most IVF_K
    survivors per (tag, query) in (cosine DESC NaN first, neighbor_id
    ASC) order. Tags are ``truth`` (every vector but the query) and
    ``{name}|{nprobe}`` (vectors whose centroid is among the query's
    nprobe best). That order is total, so any global top-k row is in
    its own batch's top-k and the window merge is exact: truth equals
    ``brute_force_topk`` and ``{name}|{nprobe}`` equals ``_ivf_topk``
    bit for bit."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import Window

    qids, Q = _codebook_matrix(queries)
    dim = Q.shape[1]
    mats, pranks = [Q], []
    tags = [("truth", None, 0)]  # (tag, book index or None, nprobe)
    for b, (name, rows, nprobes) in enumerate(books):
        cids, C = _codebook_matrix(rows)
        pcos = _pinned_cos(Q, C, _pinned_norms(C))
        prank = np.empty(pcos.shape, dtype=np.int64)
        for j in range(len(qids)):
            prank[j, _desc_nan_first(pcos[j], cids)] = np.arange(len(cids))
        mats.append(C)
        pranks.append(prank)
        tags.extend((f"{name}|{nprobe}", b, nprobe) for nprobe in nprobes)
    M = np.vstack(mats)
    mnorm = _pinned_norms(M)
    splits = np.cumsum([len(m) for m in mats])[:-1]

    def run(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            V = _batch_vectors(batch, dim)
            ids = batch.column("vec_id").to_numpy()
            qcos, *ccos = np.split(_pinned_cos(V, M, mnorm), splits, axis=1)
            assigned = [c.argmax(axis=1) for c in ccos]
            out_tag, out_q, out_row = [], [], []
            for j, qid in enumerate(qids):
                order = _desc_nan_first(qcos[:, j], ids)
                order = order[ids[order] != qid]
                for tag, b, nprobe in tags:
                    keep = order
                    if b is not None:
                        keep = order[pranks[b][j, assigned[b][order]] < nprobe]
                    keep = keep[:IVF_K]
                    out_tag += [tag] * len(keep)
                    out_q.append(np.full(len(keep), j))
                    out_row.append(keep)
            qj, rows = np.concatenate(out_q), np.concatenate(out_row)
            cos = qcos[rows, qj]
            # pa.array keeps NaN a NaN (pandas would turn it into NULL);
            # the zero-norm -inf goes out as the NULL it stands for
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_tag, pa.string()),
                    pa.array(qids[qj]),
                    pa.array(ids[rows]),
                    pa.array(cos, mask=np.isneginf(cos)),
                ],
                names=["tag", "query_id", "neighbor_id", "cosine"],
            )

    w = Window.partitionBy("tag", "query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    # hash on query_id alone: the window merge here and any later
    # per-query window share this one exchange
    return (
        ev.select("vec_id", "v")
        .mapInArrow(run, "tag string, query_id long, neighbor_id long, cosine double")
        .repartition("query_id")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= IVF_K)
    )


def _ivf_recall(spark, sf_dir):
    """Recall table for the four (codebook, nprobe) variants: one
    collect (seed codebook + queries), IVF_TRAIN_ITERS Lloyd actions, then
    ``_recall_topk``'s single pass scores the truth and all four
    variants together; a per-query truth-membership window and one
    global count per tag finish it."""
    from pyspark.sql import Window

    from ocr_lib_spark.plans.relational import _values_df

    ev = _vectors(spark, sf_dir)
    seed, queries = _seed_and_queries(ev)
    books = [
        (name, rows, [p for v, p in IVF_RECALL_FLOOR_PPM if v == name])
        for name, rows in (
            ("seed", seed),
            ("trained", _train_codebook(ev, seed, IVF_TRAIN_ITERS)),
        )
    ]
    tags = [f"{v}|{p}" for v, p in IVF_RECALL_FLOOR_PPM]
    top = _recall_topk(ev, queries, books)
    # every frame below reads ``top`` once: a self-join would run the
    # Arrow pass once per side (the tag filters are pushed below the
    # window merge, so no exchange is shared)
    tag = F.col("tag")
    truth_ids = F.collect_set(F.when(tag == "truth", F.col("neighbor_id"))).over(
        Window.partitionBy("query_id")
    )
    hit = F.array_contains(truth_ids, F.col("neighbor_id"))
    counts = top.select("tag", hit.alias("hit")).agg(
        F.count(F.when(tag == "truth", 1)).alias("n_truth"),
        *(F.count(F.when((tag == t) & F.col("hit"), 1)).alias(t) for t in tags),
    )
    vdf = _values_df(
        spark,
        [(t, v, p, floor) for t, ((v, p), floor) in zip(tags, IVF_RECALL_FLOOR_PPM.items())],
        "tag string, variant string, nprobe int, floor_ppm bigint",
    )
    ppm = F.expr("n_hit * 1000000 DIV n_truth")
    return (
        vdf.join(counts.unpivot("n_truth", tags, "tag", "n_hit"), "tag")
        .select(
            "variant",
            "nprobe",
            "n_truth",
            "n_hit",
            ppm.alias("recall_ppm"),
            (ppm >= F.col("floor_ppm")).alias("recall_within_bounds"),
        )
    )


def _search_pairs_cte(cent: str, nprobe: int, tag: str) -> str:
    """Top-IVF_K (query_id, neighbor_id) pairs for codebook CTE ``cent``
    at ``nprobe``, as a CTE named ``{tag}_pairs`` (composable variant of
    _ivf_search_sql for multi-codebook statements)."""
    return f""",
{tag}_assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, e.v, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_DD_COS.format(a="e.v", b="c.cv")} DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cent} c) WHERE rn = 1),
{tag}_probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT e.vec_id AS query_id, e.v AS qv, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY {_DD_COS.format(a="e.v", b="c.cv")} DESC, c.centroid_id) AS rn
    FROM e CROSS JOIN {cent} c WHERE e.vec_id < {N_QUERIES}) WHERE rn <= {nprobe}),
{tag}_pairs AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (SELECT p.query_id, a.vec_id AS neighbor_id,
                 {_DD_COS.format(a="p.qv", b="a.v")} AS cosine
          FROM {tag}_probes p JOIN {tag}_assign a ON a.centroid_id = p.centroid_id
          WHERE a.vec_id <> p.query_id))
  WHERE rank <= {IVF_K})"""


def _ivf_recall_oracle() -> str:
    sql = _train_cte_chain(IVF_TRAIN_ITERS)
    sql += f""",
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_DD_COS.format(a="q.v", b="c.v")} DESC, c.vec_id) AS rank
    FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id)
  WHERE rank <= {IVF_K})"""
    selects = []
    for variant, nprobe in IVF_RECALL_FLOOR_PPM:
        cent = f"cent{IVF_TRAIN_ITERS}" if variant == "trained" else "cent0"
        tag = f"{variant}{nprobe}"
        sql += _search_pairs_cte(cent, nprobe, tag)
        selects.append(
            f"""SELECT '{variant}' AS variant, {nprobe}::INT AS nprobe,
       (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth,
       (SELECT COUNT(*) FROM (SELECT * FROM {tag}_pairs INTERSECT SELECT * FROM truth))::BIGINT AS n_hit,
       ((SELECT COUNT(*) FROM (SELECT * FROM {tag}_pairs INTERSECT SELECT * FROM truth))::BIGINT * 1000000
          // (SELECT COUNT(*) FROM truth)::BIGINT)::BIGINT AS recall_ppm,
       TRUE AS recall_within_bounds"""
        )
    return sql + "\n" + "\nUNION ALL\n".join(selects)


# --- int8 symmetric quantization (embedding storage/IO compression) ---------
# At 100 TB the embedding column dominates storage and shuffle width:
# int8 quantization cuts it 4-8x before ANN indexing. The contract is
# integer-exact end-to-end so a DuckDB oracle pins every code: elements
# enter fixed point as floor(v * 1e6) (TRAIN_SCALE, the k-means
# convention), the per-vector scale is max|vi|, codes are
# q = sign(vi) * ((|vi| * 127) DIV max|vi|) in [-127, 127] — sign-split
# so only NON-NEGATIVE integer division runs on either engine (Spark
# DIV and DuckDB // both truncate toward zero, but why rely on it) —
# and the per-vector summary pins the whole code vector through a
# position-weighted linear checksum (sum (dim+1)*q) plus reconstruction
# error stats, all scalars.

QUANT_LEVELS = 127


def _q_embedding_quantize(spark, sf_dir):
    """Per-vector int8 quantization summary. Scale shape: posexplode ->
    ONE combinable groupBy for the scale -> equi-join back on vec_id
    (64 rows per key, skew-free by construction) -> ONE combinable
    groupBy for the summary. No window, no collect, no UDF."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.posexplode("embedding").alias("dim0", "val")
    )
    vi = e.select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("val").cast("double") * TRAIN_SCALE).cast("long").alias("vi"),
    )
    scale = vi.groupBy("vec_id").agg(F.max(F.abs("vi")).cast("long").alias("maxabs"))
    q = vi.join(scale, "vec_id").select(
        "vec_id",
        "dim",
        "vi",
        "maxabs",
        F.when(F.col("maxabs") == 0, F.lit(0))
        .otherwise(
            F.signum("vi").cast("long")
            * F.expr(f"(abs(vi) * {QUANT_LEVELS}) DIV maxabs")
        )
        .cast("long")
        .alias("q"),
    )
    recon = F.when(F.col("maxabs") == 0, F.lit(0)).otherwise(
        F.signum("q").cast("long")
        * F.expr(f"(abs(q) * maxabs) DIV {QUANT_LEVELS}")
    )
    return (
        q.withColumn("err", F.abs(F.col("vi") - recon))
        .groupBy("vec_id")
        .agg(
            F.max("maxabs").cast("long").alias("maxabs"),
            F.min("q").cast("long").alias("q_min"),
            F.max("q").cast("long").alias("q_max"),
            F.sum(F.col("dim") * F.col("q")).cast("long").alias("q_dot"),
            F.sum((F.abs("q") == QUANT_LEVELS).cast("int"))
            .cast("long")
            .alias("n_saturated"),
            F.sum("err").cast("long").alias("err_sum"),
            F.max("err").cast("long").alias("err_max"),
        )
    )


_O_QUANT = f"""
WITH vi AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         floor(unnest(embedding::DOUBLE[]) * {TRAIN_SCALE})::BIGINT AS vi
  FROM embeddings),
s AS (SELECT vec_id, MAX(abs(vi))::BIGINT AS maxabs FROM vi GROUP BY vec_id),
q AS (
  SELECT vi.vec_id, dim, vi, maxabs,
         CASE WHEN maxabs = 0 THEN 0
              ELSE sign(vi)::BIGINT * ((abs(vi) * {QUANT_LEVELS}) // maxabs)
         END::BIGINT AS q
  FROM vi JOIN s ON vi.vec_id = s.vec_id),
e AS (
  SELECT *, abs(vi - CASE WHEN maxabs = 0 THEN 0
                          ELSE sign(q)::BIGINT * ((abs(q) * maxabs) // {QUANT_LEVELS})
                     END) AS err
  FROM q)
SELECT vec_id, MAX(maxabs)::BIGINT AS maxabs,
       MIN(q)::BIGINT AS q_min, MAX(q)::BIGINT AS q_max,
       SUM(dim * q)::BIGINT AS q_dot,
       SUM((abs(q) = {QUANT_LEVELS})::INT)::BIGINT AS n_saturated,
       SUM(err)::BIGINT AS err_sum, MAX(err)::BIGINT AS err_max
FROM e GROUP BY vec_id
"""


QUERIES = {
    "cosine_topk": QueryDef(_cosine_topk, _O_COSINE, "exact brute-force cosine top-k (broadcast argmax)"),
    "embedding_quantize": QueryDef(
        _q_embedding_quantize,
        _O_QUANT,
        "int8 symmetric embedding quantization, integer-exact codes + reconstruction-error summary",
    ),
    "ivf_topk": QueryDef(_ivf_topk, _O_IVF, "IVF ANN: coarse quantize -> inverted-list join -> exact rerank"),
    "ivf_train_loop": QueryDef(
        lambda spark, sf_dir: _ivf_train_loop(spark, sf_dir),
        _O_IVF_TRAIN_LOOP,
        f"{IVF_TRAIN_ITERS}-iteration distributed k-means (integer-scaled stats; unrolled CTE oracle)",
    ),
    "ivf_topk_trained": QueryDef(
        lambda spark, sf_dir: _ivf_topk(spark, sf_dir, trained=True),
        _O_IVF_TRAINED,
        "IVF ANN over the TRAINED codebook (k-means output as LocalRelation broadcast)",
    ),
    "ivf_train_step": QueryDef(
        _ivf_train_step,
        _O_IVF_TRAIN,
        "one distributed Lloyd step: assign + integer-scaled per-(centroid,dim) mean statistics",
    ),
    "ivf_recall": QueryDef(
        _ivf_recall,
        _ivf_recall_oracle(),
        "recall@k vs brute force for seed/trained codebooks at nprobe 2 and 4; floors oracle-pinned",
    ),
    "ann_lsh_buckets": QueryDef(_lsh_buckets, _O_LSH_BUCKETS, "sign-bucket LSH histogram (ANN scale path)"),
    "knn_label_vote": QueryDef(_knn_vote, _O_KNN, "kNN majority-vote classification, pinned ties"),
    "embedding_near_dup": QueryDef(_near_dup, _O_NEAR_DUP, "LSH-bucketed cosine near-dup (bucket prune + exact verify)"),
}
