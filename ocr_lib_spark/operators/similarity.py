"""Similarity search over embedding columns (array<float>).

The reference's matcher is a broadcast nested-loop argmax: every
unknown sign scored against every prototype (check-matching-fn,
core.clj:1020-1069). Lifted to vectors:

  brute_force_topk  — broadcast the (small) query set against the corpus,
                      exact cosine, per-query top-k.

Cosine is computed with built-in higher-order array functions
(zip_with/aggregate → JVM codegen, no Python); top-k is TWO-PHASE:
local top-k inside each scan partition, then a global merge over the
P×k survivors per query — the reference's argmax is a running fold
(core.clj:1027-1068), never a full sort, and neither is this. A
single window over query_id would materialize the whole corpus in ONE
task per query (the count-over-degenerate-key scale-killer class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _norm(v):
    """sqrt of the left-fold sum of squares — the cosine denominator's
    per-vector factor, computed once per ROW below the join instead of
    per pair (IEEE-754 `a*b` is commutative, so the denominator product
    is the same either way). Per-pair verify cost drops from three
    array folds to one (the dot)."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def _dot(av, bv):
    return F.aggregate(F.zip_with(av, bv, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


def _topk_two_phase(scored: DataFrame, k: int) -> DataFrame:
    """Exact top-k per query over (query_id, neighbor_id, cosine) rows,
    scale-safe: phase 1 ranks within (query_id, scan partition) — P×Q
    groups, all parallel, each holding |corpus|/P rows — and keeps k;
    phase 2 merges the ≤ P×k survivors per query (tiny) into the final
    rank. (cosine DESC, neighbor_id ASC) is a total order (ids are
    unique), so any global top-k row is also in its own partition's
    top-k: the two-phase result is exactly the single-window result,
    independent of partitioning. Window twin pinned in tests."""
    order = (F.desc("cosine"), F.asc("neighbor_id"))
    local = scored.withColumn("part", F.spark_partition_id())
    w_local = Window.partitionBy("query_id", "part").orderBy(*order)
    survivors = (
        local.withColumn("lr", F.row_number().over(w_local))
        .where(F.col("lr") <= k)
        .drop("lr", "part")
    )
    w_merge = Window.partitionBy("query_id").orderBy(*order)
    return survivors.withColumn("rank", F.row_number().over(w_merge)).where(
        F.col("rank") <= k
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast(queries) × corpus, cosine, two-phase
    local-then-merge top-k (no task ever ranks the whole corpus).
    Deterministic rank tie-break by neighbor id ascending."""
    from ocr_lib_spark.partitioning import spread_small

    qv = F.col(vec_col).cast("array<double>")
    q = queries.select(
        F.col(id_col).alias("query_id"), qv.alias("qv"), _norm(qv).alias("qn")
    )
    # spread: the cosine fold is CPU-dense per row and the broadcast
    # join keeps the corpus side's partitioning — a small
    # single-row-group scan would score every (query, neighbor) pair on
    # one task (no-op at real corpus sizes)
    cv = F.col(vec_col).cast("array<double>")
    c = spread_small(corpus, probe=corpus).select(
        F.col(id_col).alias("neighbor_id"), cv.alias("cv"), _norm(cv).alias("cn")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    return _topk_two_phase(scored, k).select("query_id", "rank", "neighbor_id", "cosine")


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN classification: majority label among the exact top-k
    neighbors; ties broken by (count desc, label asc) — pinned like the
    reference's first-wins argmax (core.clj:1051-1057)."""
    topk = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    lab = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nlabel"))
    votes = topk.join(lab, "neighbor_id").groupBy(
        "query_id", "nlabel"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("query_id").orderBy(F.desc("n"), F.asc("nlabel"))
    return (
        votes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("query_id", F.col("nlabel").alias("pred_label"), F.col("n").alias("votes"))
    )
