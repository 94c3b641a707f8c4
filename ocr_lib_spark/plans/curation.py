"""Corpus-curation planning queries (round 6): n-gram novelty,
mix rebalancing, quality curriculum.

The steps a pretraining-data pipeline runs AFTER cleaning and BEFORE
packing: how much of each document is new to the corpus (novelty),
what per-source sampling rates hit a target mix (rebalance), and how
documents stratify into quality deciles for curriculum ordering. All
integer-exact (ppm floor division, md5-prefix hashing, histogram-based
order statistics) per the repo determinism contract; every query has a
bit-exact DuckDB twin.

Scale notes are per query; the common discipline: shuffles keyed on
well-distributed hashes, dimension tables broadcast, and the one
ordered scan (the decile histogram) bounded by CONSTRUCTION at
score-domain size, never corpus size.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_lib_spark.functions.text import hex_bucket, stable_hash64, word_grams, word_segments
from ocr_lib_spark.plans import QueryDef, documents, load
from ocr_lib_spark.streaming.replay import replay_to_memory

#: word-K-gram window shared with the decontamination gate
#: (plans/textops.py DECON_K) — same definition of "an n-gram"
NOVELTY_K = 8

#: ppm resolution shared by every rate/score in this module
_PPM = 1_000_000


def _gram_hash_pairs(d):
    """Distinct (doc_id, gram_hash) pairs over word NOVELTY_K-grams.

    Grams are hashed to 60-bit ints with the repo's md5-prefix twin
    BEFORE the shuffle: at corpus scale the shuffle carries 8 bytes per
    gram instead of the ~50-byte gram string. Both engines apply the
    SAME hash, so a (astronomically unlikely) 60-bit collision merges
    the same two grams on both sides — cross-engine exactness is
    unconditional; novelty itself degrades by at most the collision
    count."""
    toks = F.split(F.trim("text"), " ")
    from ocr_lib_spark.partitioning import spread_small

    # spread: the gram build + md5 stage measured 1.15 s on one working
    # task at local[32] (small single-row-group scan); no-op at scale
    return (
        spread_small(d)
        .select("doc_id", toks.alias("t"))
        .select("doc_id", F.explode(word_grams("t", NOVELTY_K)).alias("g"))
        .select("doc_id", stable_hash64("g").alias("gh"))
        .distinct()
    )


def _q_ngram_novelty(spark, sf_dir):
    """Per-document novelty vs the corpus: of a doc's distinct word
    8-grams, how many FIRST appear in this doc (corpus-wide minimum
    doc_id owns the gram — the deterministic arrival order a dated
    crawl has). The novelty curve is the standard dedup-adjacent signal
    for crawl snapshots: a doc whose grams all appeared earlier is a
    re-crawl even when no single near-dup pair fires.

    Shape: distinct (doc, gram-hash) pairs -> groupBy(gh).min(doc_id)
    -> hash join back on gh (both sides partitioned by the same key
    from the same exchange — exchange reuse, no second scan) ->
    groupBy(doc). Two gram-keyed shuffles, both map-side combinable,
    keys md5-uniform (no skew); docs with < K tokens surface with
    zeros via the left join from the doc scan."""
    d = documents(spark, sf_dir)
    pairs = _gram_hash_pairs(d).localCheckpoint(eager=False)
    firsts = pairs.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        pairs.join(firsts, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams_distinct"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_first_here"),
        )
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams_distinct", F.lit(0)).cast("long").alias(
                "n_grams_distinct"
            ),
            F.coalesce("n_first_here", F.lit(0)).cast("long").alias("n_first_here"),
            F.when(
                F.coalesce("n_grams_distinct", F.lit(0)) > 0,
                F.expr(f"n_first_here * {_PPM} DIV n_grams_distinct"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


_O_NGRAM_NOVELTY = f"""
WITH t AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
pairs AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(unnest(list_transform(range(len(t) - {NOVELTY_K} + 1),
                i -> array_to_string(list_slice(t, i + 1, i + {NOVELTY_K}), ' ')))), 1, 15))::BIGINT AS gh
  FROM t WHERE len(t) >= {NOVELTY_K}),
firsts AS (SELECT gh, MIN(doc_id) AS first_doc FROM pairs GROUP BY gh),
per_doc AS (
  SELECT p.doc_id,
         COUNT(*)::BIGINT AS n_grams_distinct,
         SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_first_here
  FROM pairs p JOIN firsts f ON p.gh = f.gh
  GROUP BY p.doc_id)
SELECT d.doc_id,
       COALESCE(n_grams_distinct, 0)::BIGINT AS n_grams_distinct,
       COALESCE(n_first_here, 0)::BIGINT AS n_first_here,
       CASE WHEN COALESCE(n_grams_distinct, 0) > 0
            THEN (n_first_here * {_PPM}) // n_grams_distinct
            ELSE 0 END::BIGINT AS novelty_ppm
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def _q_mix_rebalance(spark, sf_dir):
    """Source-mix rebalancing plan + deterministic application: compute
    per-source sampling rates that equalize the mix at the largest
    uniform size the smallest source supports (keep_n = min stratum
    size for every source), then APPLY the rate with the content-hash
    rule (md5-prefix bucket < rate_ppm — the stratified_sample
    primitive), reporting how many docs each source actually keeps.
    Deterministic across engines, runs, and cluster sizes: no RNG.

    Shape: one groupBy(source) for the census; the 20-row rate table
    broadcast-joins back onto the scan; one more groupBy(source) for
    the applied counts. n_kept tracks rate_ppm * n_docs only in
    expectation (the hash is uniform, not stratified-exact) — both
    numbers are emitted so the plan/apply gap is visible."""
    d = documents(spark, sf_dir).select(
        "source",
        hex_bucket("text", _PPM).alias("h"),
    )
    census = (
        d.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"))
        # the #sources-row census feeds both the rate table and the
        # scalar min; materialize once so the corpus groupBy runs once
        .localCheckpoint(eager=False)
    )
    rates = census.crossJoin(
        census.agg(F.min("n_docs").alias("keep_n"))
    ).select(
        "source",
        "n_docs",
        F.col("keep_n").cast("long").alias("keep_n"),
        # DECIMAL(38,0) + integral DIV: keep_n * 1e6 wraps BIGINT past
        # ~9.2e12 docs in the smallest source (the compaction_plan
        # overflow class); DIV, never FLOOR(/) — decimal `/` rounds
        # before floor
        F.expr(f"CAST(CAST(keep_n AS DECIMAL(38,0)) * {_PPM} DIV n_docs AS BIGINT)")
        .alias("rate_ppm"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("keep_n").alias("keep_n"),
            F.first("rate_ppm").alias("rate_ppm"),
            F.sum(F.when(F.col("h") < F.col("rate_ppm"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )


_O_MIX_REBALANCE = f"""
WITH d AS (
  SELECT source, ('0x' || substr(md5(text), 1, 15))::BIGINT % {_PPM} AS h
  FROM documents),
census AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM d GROUP BY source),
rates AS (
  SELECT source, n_docs,
         (SELECT MIN(n_docs) FROM census)::BIGINT AS keep_n,
         ((SELECT MIN(n_docs) FROM census)::HUGEINT * {_PPM} // n_docs)::BIGINT AS rate_ppm
  FROM census)
SELECT r.source, r.n_docs, r.keep_n, r.rate_ppm,
       SUM(CASE WHEN d.h < r.rate_ppm THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM d JOIN rates r ON d.source = r.source
GROUP BY r.source, r.n_docs, r.keep_n, r.rate_ppm
"""

#: curriculum decile count
_N_BUCKETS = 10


def _q_quality_curriculum(spark, sf_dir):
    """Quality-decile curriculum: stratify documents by an integer
    lexical-diversity score (distinct tokens per token, ppm) into 10
    buckets cut at exact order statistics, and report each bucket's
    census — the ordering step of curriculum training (low-diversity
    boilerplate early / high-diversity text late, or the reverse).

    Exactness: cut k (k=1..9) is the score at 1-based rank
    ((N-1)*k)//10 + 1 under ORDER BY score — the repo's pinned
    no-interpolation percentile semantics. Bucket of a doc = number of
    cuts <= its score (ties collapse into one bucket deterministically
    on both engines).

    Scale shape: NO corpus-wide window/sort. The score domain is ppm
    integers — at most 1e6+1 distinct values REGARDLESS of corpus size —
    so cuts come from a cumulative walk over the score HISTOGRAM
    (groupBy score, map-side combinable; the single-task ordered walk
    is bounded by the domain, the same bounded-by-construction argument
    as percentile_pick's final stage). The 9 cuts collapse to one
    broadcast array row; bucketing is a pure map."""
    score = F.expr(
        "CASE WHEN n_tokens > 0 THEN "
        f"n_distinct * {_PPM} DIV n_tokens ELSE 0 END"
    )
    toks = F.split(F.trim("text"), " ")
    d = (
        documents(spark, sf_dir)
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        )
        .select("doc_id", score.cast("long").alias("score_ppm"))
        .localCheckpoint(eager=False)
    )
    hist = d.groupBy("score_ppm").agg(F.count("*").alias("c"))
    from pyspark.sql import Window

    # ordered walk over the HISTOGRAM (<= 1e6+1 rows by construction)
    cum = hist.select(
        "score_ppm",
        F.sum("c").over(Window.orderBy("score_ppm")).alias("cum"),
    ).crossJoin(F.broadcast(hist.agg(F.sum("c").alias("n"))))
    ranks = spark.sql(
        "SELECT explode(sequence(1, {k})) AS k".format(k=_N_BUCKETS - 1)
    )
    cuts = (
        cum.crossJoin(F.broadcast(ranks))
        .where(F.col("cum") >= F.expr(f"(n - 1) * k DIV {_N_BUCKETS} + 1"))
        .groupBy("k")
        .agg(F.min("score_ppm").alias("cut"))
        .agg(F.sort_array(F.collect_list("cut")).alias("cuts"))
    )
    bucketed = d.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "score_ppm",
        F.expr("size(filter(cuts, c -> c <= score_ppm))").cast("int").alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("score_ppm").cast("long").alias("min_score"),
        F.max("score_ppm").cast("long").alias("max_score"),
    )


_O_QUALITY_CURRICULUM = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN len(string_split(trim(text), ' ')) > 0
              THEN (len(list_distinct(string_split(trim(text), ' '))) * {_PPM})
                   // len(string_split(trim(text), ' '))
              ELSE 0 END::BIGINT AS score_ppm
  FROM documents),
hist AS (SELECT score_ppm, COUNT(*) AS c FROM d GROUP BY score_ppm),
cum AS (
  SELECT score_ppm,
         SUM(c) OVER (ORDER BY score_ppm) AS cum,
         SUM(c) OVER () AS n
  FROM hist),
cuts AS (
  SELECT k, MIN(score_ppm) AS cut
  FROM cum CROSS JOIN range(1, {_N_BUCKETS}) AS r(k)
  WHERE cum >= (n - 1) * k // {_N_BUCKETS} + 1
  GROUP BY k),
bucketed AS (
  SELECT doc_id, score_ppm,
         (SELECT COUNT(*) FROM cuts WHERE cut <= d.score_ppm)::INT AS bucket
  FROM d)
SELECT bucket, COUNT(*)::BIGINT AS n_docs,
       MIN(score_ppm)::BIGINT AS min_score,
       MAX(score_ppm)::BIGINT AS max_score
FROM bucketed GROUP BY bucket
"""


def exact_isqrt(x):
    """Exact floor(√x) for a BIGINT column with x < 2⁵³: floor of the
    IEEE-double sqrt, then two integer corrections (+1 if (s+1)² ≤ x,
    −1 if s² > x). The double sqrt of an exactly-representable x is off
    by at most one ulp, so floor lands within ±1 of the true isqrt and
    one correction each way suffices; both engines run the identical
    corrections, so cross-engine agreement is unconditional in-domain
    (the DuckDB twin is the same three steps — see _O_TEMPERATURE_MIX)."""
    s0 = F.floor(F.sqrt(x.cast("double"))).cast("long")
    s1 = F.when((s0 + 1) * (s0 + 1) <= x, s0 + 1).otherwise(s0)
    return F.when(s1 * s1 > x, s1 - 1).otherwise(s1)


def _q_temperature_mix(spark, sf_dir):
    """Temperature-based source mixing (α = 0.5): per-source sampling
    rate ∝ n_s^(α−1) = 1/√n_s, normalized so the smallest source keeps
    everything — the standard multilingual/multi-source rebalance that
    upweights small sources without flattening the mix entirely (the
    α→0 limit is ``mix_rebalance``'s uniform mix; α=1 is no-op).

    Exactness: rate_ppm = isqrt(n_min · PPM² ÷ n_s) with ÷ integer
    division, and isqrt computed as floor(√x) in IEEE double followed
    by two integer corrections (+1 if (s+1)² ≤ x, −1 if s² > x) — exact
    for x < 2⁵³, and both engines run the identical correction, so the
    agreement is unconditional: x = n_min·PPM² ÷ n_s ≤ PPM² < 2⁵³ at
    ANY corpus size (n_min ≤ n_s), and the intermediate product — the
    only term that can overflow — is widened to DECIMAL(38,0)/HUGEINT
    on both engines (round-6 overflow audit).
    Application is the same no-RNG content-hash keep rule as
    ``mix_rebalance``; ``expect_kept`` = n_s·rate ÷ PPM is emitted next
    to the applied ``n_kept`` so the hash-uniformity gap is visible.

    Scale shape: one groupBy(source) census; the per-source rate table
    (rows = #sources) broadcasts back onto the scan. No other shuffle."""
    d = documents(spark, sf_dir).select(
        "source",
        hex_bucket("text", _PPM).alias("h"),
    )
    census = (
        d.groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"))
        # the #sources-row census feeds both the rate table and the
        # scalar min; materialize once so the corpus groupBy runs once
        .localCheckpoint(eager=False)
    )
    # the isqrt INPUT x = n_min*PPM² DIV n_docs is always <= PPM²
    # (n_min <= n_docs), safely inside isqrt's 2^53 exactness domain at
    # ANY corpus size — only the INTERMEDIATE product overflows BIGINT
    # (past ~9.2e6 docs in the smallest source), so it widens to
    # DECIMAL(38,0)/HUGEINT and lands back in BIGINT (the
    # compaction_plan overflow class; integral DIV, never FLOOR(/))
    isqrt = exact_isqrt(
        F.expr(
            f"CAST(CAST(n_min AS DECIMAL(38,0)) * {_PPM} * {_PPM}"
            " DIV n_docs AS BIGINT)"
        )
    )
    rates = census.crossJoin(
        F.broadcast(census.agg(F.min("n_docs").alias("n_min")))
    ).select(
        "source",
        "n_docs",
        isqrt.cast("long").alias("rate_ppm"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("rate_ppm").alias("rate_ppm"),
            F.expr(
                f"first(CAST(CAST(n_docs AS DECIMAL(38,0)) * rate_ppm"
                f" DIV {_PPM} AS BIGINT))"
            ).alias("expect_kept"),
            F.sum(F.when(F.col("h") < F.col("rate_ppm"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )


_O_TEMPERATURE_MIX = f"""
WITH d AS (
  SELECT source, ('0x' || substr(md5(text), 1, 15))::BIGINT % {_PPM} AS h
  FROM documents),
census AS (SELECT source, COUNT(*)::BIGINT AS n_docs FROM d GROUP BY source),
r1 AS (
  SELECT source, n_docs,
         ((SELECT MIN(n_docs) FROM census)::HUGEINT * {_PPM} * {_PPM}
          // n_docs)::BIGINT AS x
  FROM census),
r2 AS (SELECT *, CAST(FLOOR(SQRT(x::DOUBLE)) AS BIGINT) AS s0 FROM r1),
r3 AS (SELECT *, CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN s0 + 1 ELSE s0 END AS s1 FROM r2),
rates AS (
  SELECT source, n_docs,
         CASE WHEN s1 * s1 > x THEN s1 - 1 ELSE s1 END::BIGINT AS rate_ppm
  FROM r3)
SELECT r.source, r.n_docs, r.rate_ppm,
       (r.n_docs::HUGEINT * r.rate_ppm // {_PPM})::BIGINT AS expect_kept,
       SUM(CASE WHEN d.h < r.rate_ppm THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM d JOIN rates r ON d.source = r.source
GROUP BY r.source, r.n_docs, r.rate_ppm
"""


def _q_dedup_keep_best(spark, sf_dir):
    """Cluster-collapse with the PRODUCTION keep rule: within each
    verified near-dup cluster keep the highest-quality member (ties →
    lowest doc_id), not the lowest-id member. ``near_dup_clusters``'s
    keep_id = cluster min-label is the algorithmically convenient
    canonical; a real pipeline keeps the best page of the duplicate
    set (longest, richest) and drops the truncated mirrors. Composes
    two independently-gated operators: the transitive-closure cluster
    table × ``quality_score``.

    Scale shape: the member table is O(duplicates), not corpus-size;
    the (max quality, then min doc_id) keep rule is ONE groupBy on
    cluster_id — max(struct(q, -doc_id)) IS that lexicographic argmax
    — deliberately NOT a row_number window partitioned by cluster
    label (a mega-cluster would materialize in one window task; the
    groupBy partial-aggregates map-side). Previously: a max-quality
    census groupBy plus a join-back plus a second groupBy (the
    _bpe_pair_argmax precedent, collapsed the same way)."""
    from ocr_lib_spark.functions.text import quality_score
    from ocr_lib_spark.plans.textops import _near_dup_clusters

    from ocr_lib_spark.partitioning import spread_small

    # spread: quality_score tokenizes every doc; single-task otherwise
    # on a small single-row-group scan (no-op at scale)
    q = spread_small(documents(spark, sf_dir)).select(
        "doc_id", quality_score("text").cast("long").alias("q")
    )
    m = (
        _near_dup_clusters(spark, sf_dir)
        .select("doc_id", "cluster_id")
        .join(q, "doc_id")
    )
    b = m.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("q").alias("q"), (-F.col("doc_id")).alias("nid"))
        ).alias("b"),
        F.count("*").cast("long").alias("n_members"),
    )
    return b.select(
        "cluster_id",
        (-F.col("b.nid")).cast("long").alias("keep_best_id"),
        F.col("b.q").cast("long").alias("best_q"),
        "n_members",
    )


def _dedup_keep_best_oracle() -> str:
    from ocr_lib_spark.plans.textops import _near_dup_verified_oracle

    return f"""
WITH RECURSIVE vp AS ({_near_dup_verified_oracle()}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM vp
  UNION
  SELECT id_b AS s, id_a AS d FROM vp),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
lab AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
q AS (
  SELECT doc_id,
         (least(CAST(FLOOR(length(text) / 10) AS BIGINT), 40)
          + least(len(string_split(trim(text), ' ')), 30)::BIGINT
          + least(len(list_distinct(string_split(trim(text), ' '))) * 2, 30)::BIGINT
         ) AS q
  FROM documents),
m AS (SELECT lab.doc_id, lab.cluster_id, q.q FROM lab JOIN q ON lab.doc_id = q.doc_id),
best AS (
  SELECT cluster_id, MAX(q) AS best_q, COUNT(*)::BIGINT AS n_members
  FROM m GROUP BY cluster_id)
SELECT m.cluster_id,
       MIN(m.doc_id)::BIGINT AS keep_best_id,
       MIN(best.best_q)::BIGINT AS best_q,
       MIN(best.n_members)::BIGINT AS n_members
FROM m JOIN best ON m.cluster_id = best.cluster_id
WHERE m.q = best.best_q
GROUP BY m.cluster_id
"""


#: incremental split: doc_id % INC_MOD == INC_NEW_RES is "today's batch"
INC_MOD = 10
INC_NEW_RES = 7


def _q_incremental_dedup(spark, sf_dir):
    """Incremental (new-batch × old-corpus) dedup — the shape a daily
    crawl ingest actually runs at 100 TB: the standing corpus is never
    re-paired against itself; only the new batch probes it. Tier 1:
    exact — new digests left-join the old corpus's distinct-digest
    table (at scale that table is a precomputed bucketed artifact; here
    both sides derive from one scan). Tier 2: near — minhash band table
    (shared ``lsh_band_table`` front half), split into sides, and the
    asymmetric new×old bucket join replaces ``lsh_candidate_pairs``'s
    self-join, so candidate count is bounded by |new| · bucket-size,
    never |corpus|². Hot-bucket cap applies to the OLD side census
    (groupBy + semi-join, not count-over-window — mega-buckets must not
    materialize in one task). Candidates verify with the exact
    char-shingle Jaccard ≥ τ in pure Catalyst (bounded candidate set —
    no kernel needed). Within-batch (new×new) duplicates are exact
    dedup's job upstream and deliberately out of scope here.

    Verdict per new doc: 'exact' (digest seen before) beats 'near'
    (≥1 verified neighbor) beats 'novel'; match_id = matched old id
    (min), −1 for novel. The near tier still reports n_near_matches for
    exact dups — an exact mirror usually also near-matches its
    neighborhood, and the census is the dashboard number."""
    from ocr_lib_spark.operators.dedup import lsh_band_table, minhash_signatures
    from ocr_lib_spark.plans.textops import (
        N_HASHES,
        NEAR_DUP_BAND_ROWS,
        NEAR_DUP_JACCARD_T,
        NEAR_DUP_MAX_BUCKET,
        SHINGLE_K,
    )

    d = documents(spark, sf_dir)
    is_new = (F.col("doc_id") % INC_MOD) == INC_NEW_RES
    dg = d.select("doc_id", F.md5("text").alias("dig"), is_new.alias("is_new"))
    old_dig = (
        dg.where(~F.col("is_new"))
        .groupBy("dig")
        .agg(F.min("doc_id").alias("exact_match_id"))
    )
    exact = (
        dg.where("is_new")
        .select("doc_id", "dig")
        .join(old_dig, "dig", "left")
        .select("doc_id", "exact_match_id")
    )

    sig = minhash_signatures(d, n_hashes=N_HASHES, k=SHINGLE_K)
    bands = lsh_band_table(
        sig, n_hashes=N_HASHES, band_rows=NEAR_DUP_BAND_ROWS
    ).withColumn("is_new", (F.col("doc_id") % INC_MOD) == INC_NEW_RES)
    # one materialization: the old-side census, the old-side probe and
    # the new-side probe all read these narrow blocks, so the signature
    # kernel runs once (diverging exchanges would re-run it per branch)
    bands = bands.localCheckpoint(eager=False)
    old_b = bands.where(~F.col("is_new")).select(
        F.col("doc_id").alias("old_id"), "band_idx", "band_hash"
    )
    old_ok = (
        old_b.groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("__bsz"))
        .where(F.col("__bsz") <= NEAR_DUP_MAX_BUCKET)
        .select("band_idx", "band_hash")
    )
    cand = (
        bands.where("is_new")
        .select(F.col("doc_id").alias("new_id"), "band_idx", "band_hash")
        .join(
            old_b.join(old_ok, ["band_idx", "band_hash"], "left_semi"),
            ["band_idx", "band_hash"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    # verification via the vectorized Arrow shingle kernel over the
    # NARROW texts (operators/shingling.py) — the char_shingles +
    # array_intersect/array_union Catalyst form this replaces joined
    # pre-shingled fat arrays (~200x the bytes through the candidate
    # join) and measured ~4x slower on this shape; |∩|/|∪| and the
    # >= τ verdicts are identical
    from ocr_lib_spark.operators.shingling import pair_set_counts
    from ocr_lib_spark.partitioning import spread_small

    tx = d.select("doc_id", "text")
    ver = (
        pair_set_counts(
            spread_small(
                cand.join(
                    tx.select(F.col("doc_id").alias("new_id"), F.col("text").alias("ta")),
                    "new_id",
                ).join(
                    tx.select(F.col("doc_id").alias("old_id"), F.col("text").alias("tb")),
                    "old_id",
                ),
                probe=d,
            ),
            SHINGLE_K,
        )
        .withColumn("jac", F.col("n_inter") / F.col("n_union"))
        .where(F.col("jac") >= NEAR_DUP_JACCARD_T)
        .groupBy("new_id")
        .agg(
            F.min("old_id").alias("near_match_id"),
            F.count("*").cast("long").alias("n_near_matches"),
        )
        .withColumnRenamed("new_id", "doc_id")
    )
    return exact.join(ver, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("exact_match_id").isNotNull(), F.lit("exact"))
        .when(F.col("near_match_id").isNotNull(), F.lit("near"))
        .otherwise(F.lit("novel"))
        .alias("verdict"),
        F.coalesce("exact_match_id", "near_match_id", F.lit(-1))
        .cast("long")
        .alias("match_id"),
        F.coalesce("n_near_matches", F.lit(0)).cast("long").alias("n_near_matches"),
    )


def _incremental_dedup_oracle() -> str:
    from ocr_lib_spark.plans.textops import (
        N_HASHES,
        NEAR_DUP_BAND_ROWS,
        NEAR_DUP_JACCARD_T,
        NEAR_DUP_MAX_BUCKET,
        SHINGLE_K,
        _minhash_sql_mins,
    )

    n_bands = N_HASHES // NEAR_DUP_BAND_ROWS
    bands = "\nUNION ALL\n".join(
        "SELECT doc_id, %d AS band_idx, md5(%s) AS band_hash FROM sig"
        % (
            b,
            " || '|' || ".join(
                f"h{b * NEAR_DUP_BAND_ROWS + r}::VARCHAR"
                for r in range(NEAR_DUP_BAND_ROWS)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH dg AS (
  SELECT doc_id, md5(text) AS dig, (doc_id % {INC_MOD} = {INC_NEW_RES}) AS is_new
  FROM documents),
old_dig AS (
  SELECT dig, MIN(doc_id) AS exact_match_id FROM dg WHERE NOT is_new GROUP BY dig),
sh AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS x FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, greatest(length(text) - {SHINGLE_K - 1}, 1) + 1),
                                               i -> substring(text, i, {SHINGLE_K})))) AS s
    FROM documents)),
sig AS (
  SELECT doc_id, {_minhash_sql_mins()}
  FROM sh GROUP BY doc_id),
bands AS ({bands}),
old_b AS (
  SELECT doc_id AS old_id, band_idx, band_hash FROM bands
  WHERE doc_id % {INC_MOD} != {INC_NEW_RES}),
old_ok AS (
  SELECT band_idx, band_hash FROM old_b
  GROUP BY band_idx, band_hash HAVING COUNT(*) <= {NEAR_DUP_MAX_BUCKET}),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.old_id
  FROM bands n
  JOIN old_b o ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
  JOIN old_ok k ON o.band_idx = k.band_idx AND o.band_hash = k.band_hash
  WHERE n.doc_id % {INC_MOD} = {INC_NEW_RES}),
shs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length(text) - {SHINGLE_K - 1}, 1) + 1),
                                      i -> substring(text, i, {SHINGLE_K}))) AS s
  FROM documents),
ver AS (
  SELECT new_id, MIN(old_id) AS near_match_id, COUNT(*)::BIGINT AS n_near_matches
  FROM (
    SELECT c.new_id, c.old_id,
           len(list_intersect(x.s, y.s))::DOUBLE
             / len(list_distinct(list_concat(x.s, y.s))) AS jac
    FROM cand c JOIN shs x ON x.doc_id = c.new_id JOIN shs y ON y.doc_id = c.old_id)
  WHERE jac >= {NEAR_DUP_JACCARD_T}
  GROUP BY new_id)
SELECT n.doc_id,
       CASE WHEN o.exact_match_id IS NOT NULL THEN 'exact'
            WHEN v.near_match_id IS NOT NULL THEN 'near'
            ELSE 'novel' END AS verdict,
       COALESCE(o.exact_match_id, v.near_match_id, -1)::BIGINT AS match_id,
       COALESCE(v.n_near_matches, 0)::BIGINT AS n_near_matches
FROM dg n
LEFT JOIN old_dig o ON n.dig = o.dig
LEFT JOIN ver v ON v.new_id = n.doc_id
WHERE n.is_new
"""


def _q_segment_scrub(spark, sf_dir):
    """Segment-level scrub WITH reconstruction — the C4/CCNet transform
    ``segment_dedup`` only censuses: drop every non-first occurrence of
    each SEG_K-word segment corpus-wide and rebuild the document from
    its surviving segments (+ the sub-segment tail, always kept).
    Output text is defined as the single-space rejoin of the kept token
    stream, so the transform is closed-form on both engines regardless
    of source whitespace.

    Scale shape mirrors ``segment_dedup`` (same keeper = groupBy(h)
    MIN(struct) — no window over the hash key, template segments are
    the hot case) plus one groupBy(doc_id) rebuild. The per-doc
    collect_list is bounded by segments-per-document (~n_tokens/SEG_K
    of a bounded web document), not by anything corpus-sized — the
    document analog of the conversation assembler's bounded chunks.
    The segment table is lazily checkpointed: keeper census and join
    probe read the same materialization."""
    from ocr_lib_spark.plans.textops import SEG_K

    t = documents(spark, sf_dir).select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    )
    seg = (
        t.select(
            "doc_id",
            F.posexplode(
                word_segments("toks", SEG_K)
            ).alias("seg_idx", "seg"),
        )
        .select(
            "doc_id",
            F.col("seg_idx").cast("int").alias("seg_idx"),
            "seg",
            F.md5("seg").alias("h"),
        )
        .localCheckpoint(eager=False)
    )
    keeper = seg.groupBy("h").agg(F.min(F.struct("doc_id", "seg_idx")).alias("k"))
    kept_flag = (
        (F.col("doc_id") == F.col("k.doc_id"))
        & (F.col("seg_idx") == F.col("k.seg_idx"))
    )
    per = (
        seg.join(keeper, "h")
        .select("doc_id", "seg_idx", "seg", kept_flag.alias("kept"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept_segments"),
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sort_array(collect_list("
                    "CASE WHEN kept THEN struct(seg_idx, seg) END)), x -> x.seg)"
                ),
            ).alias("body"),
        )
    )
    tail = F.expr(
        f"concat_ws(' ', slice(toks, (size(toks) div {SEG_K}) * {SEG_K} + 1, "
        f"size(toks) % {SEG_K}))"
    )
    return (
        t.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.trim(F.concat_ws(" ", F.coalesce("body", F.lit("")), tail)).alias(
                "scrubbed_text"
            ),
            F.coalesce("n_segments", F.lit(0)).cast("long").alias("n_segments"),
            F.coalesce("n_kept_segments", F.lit(0))
            .cast("long")
            .alias("n_kept_segments"),
        )
    )


def _segment_scrub_oracle() -> str:
    from ocr_lib_spark.plans.textops import SEG_K

    return f"""
WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
seg AS (
  SELECT doc_id, unnest(range(len(toks) // {SEG_K}))::INT AS seg_idx, toks
  FROM t WHERE len(toks) >= {SEG_K}),
sh AS (
  SELECT doc_id, seg_idx,
         array_to_string(list_slice(toks, seg_idx * {SEG_K} + 1, seg_idx * {SEG_K} + {SEG_K}), ' ') AS seg
  FROM seg),
r AS (
  SELECT doc_id, seg_idx, seg,
         ROW_NUMBER() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
  FROM sh),
per AS (
  SELECT doc_id,
         COUNT(*)::BIGINT AS n_segments,
         SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept_segments,
         COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1), '') AS body
  FROM r GROUP BY doc_id)
SELECT t.doc_id,
       trim(COALESCE(per.body, '') || ' ' ||
            COALESCE(array_to_string(list_slice(toks, (len(toks) // {SEG_K}) * {SEG_K} + 1, len(toks)), ' '), '')) AS scrubbed_text,
       COALESCE(per.n_segments, 0)::BIGINT AS n_segments,
       COALESCE(per.n_kept_segments, 0)::BIGINT AS n_kept_segments
FROM t LEFT JOIN per ON t.doc_id = per.doc_id
"""


# --- exact substring scrub (suffix-array class, Lee et al. 2022) -------------
# Cross-document repeated-SUBSTRING removal at K-token granularity —
# the dedup tier ``segment_scrub`` cannot reach: that operator hashes
# non-overlapping SEG_K-aligned segments, so a repeated run that
# straddles a segment boundary (an UNALIGNED repeat) survives it.
# Here every doc emits its full sliding window of K-token grams
# (the distributed stand-in for the suffix-array scan of
# "Deduplicating Training Data Makes Language Models Better",
# Lee et al. 2022, at K-token match granularity); the globally FIRST
# occurrence of each gram (MIN(doc_id, pos)) is the keeper, every
# other occurrence marks its K token positions for removal, and each
# affected document is rebuilt from its surviving token stream.
# Contract (deterministic, closed form on both engines): a token is
# removed iff it is covered by at least one non-first-occurrence gram;
# scrubbed_text is the single-space rejoin of the kept tokens.
#
# Scale shape: the gram table is ~n_tokens rows (one per token, fixed
# width: 32-hex md5 + two ids) — linear in corpus size, ONE shuffle on
# the gram hash; the keeper is a groupBy(h) MIN(struct) — map-side
# combinable, never a window over the hash key (template boilerplate
# is exactly the hot-key case; the g⋈keeper equi-join is AQE
# skew-splittable). Everything after the marked set is bounded by the
# DUPLICATION RATE, not the corpus: only docs with ≥1 marked gram
# enter the token-explode/rebuild path (left-semi gate), their
# coverage explode is K× the marked-gram count, and the per-doc
# rebuild collect_list is bounded by document length — untouched docs
# take the pure-map fast path. No driver collect anywhere.
#
# Derived fixture (closed form on both engines — fixture texts are
# unique, the boilerplate convention): docs with doc_id % SCRUB_MOD ==
# SCRUB_RES are prefixed with (doc_id % SCRUB_PAD_MOD) pad tokens and
# then a shared SCRUB_RUN_N-token run, so the same ≥K-token substring
# recurs across docs at VARYING token offsets — unaligned by
# construction, which is the exact case segment-level hashing misses.

#: production match granularity per Lee et al. is ~50 tokens; the
#: gated constant sits inside the fixture's 0-99-token doc range so
#: multi-gram coverage and the rebuild branch are genuinely exercised
SCRUB_K = 25
SCRUB_MOD = 11
SCRUB_RES = 5
SCRUB_PAD_MOD = 4  # 0-3 pad tokens -> distinct (unaligned) run offsets
SCRUB_RUN_N = 30
SCRUB_RUN_TEXT = " ".join(f"shared run token {i:02d}" for i in range(0, SCRUB_RUN_N, 4))
#: oracle-side escaped twin (the _SQL convention — see FUNNEL_BOILER_TEXT_SQL)
SCRUB_RUN_TEXT_SQL = SCRUB_RUN_TEXT.replace("'", "''")


def _scrub_docs(spark, sf_dir):
    """documents with the derived shared-run injection applied; the
    common scan for _q_substring_scrub (tokenized, checkpointed once)."""
    base = documents(spark, sf_dir)
    padded = F.concat(
        F.expr(f"repeat('pad ', cast(doc_id % {SCRUB_PAD_MOD} as int))"),
        F.lit(SCRUB_RUN_TEXT),
        F.lit(" "),
        F.coalesce("text", F.lit("")),
    )
    txt = F.when(F.col("doc_id") % SCRUB_MOD == SCRUB_RES, padded).otherwise(
        F.coalesce("text", F.lit(""))
    )
    return base.select("doc_id", F.split(F.trim(txt), " ").alias("toks"))


def _q_substring_scrub(spark, sf_dir):
    """One row per document: text with every non-first-occurrence
    K-token substring removed, plus token-conservation counters
    (n_tokens = kept + removed; pinned by test_substring_scrub)."""
    return substring_scrub_frame(_scrub_docs(spark, sf_dir))


def substring_scrub_frame(t, K: int = SCRUB_K):
    """(doc_id, toks) frame -> per-doc scrub output; see
    _q_substring_scrub. Split out so degenerate inputs (within-doc
    overlapping self-repeats, fully-covered docs, short/empty text)
    are unit-testable off-fixture."""
    from ocr_lib_spark.partitioning import spread_small

    # the K-gram stage below md5-hashes ~(tokens - K) sliding windows
    # per doc — CPU-dense relative to input bytes, so a small corpus
    # packed into 1-2 scan splits runs it nearly serially (measured
    # 1.11 s on ONE task at local[32] in the r9 battery profile).
    # spread_small round-robins ONLY under-split small inputs
    # (scale-inert; results partition-invariant — every downstream
    # consumer keys on doc_id/h)
    t = spread_small(t)
    t = t.localCheckpoint(eager=False)
    # sliding K-gram hashes; pos is the 0-based token offset
    g = (
        t.where(F.size("toks") >= K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {K}), "
                    f"p -> md5(concat_ws(' ', slice(toks, p + 1, {K}))))"
                )
            ).alias("pos", "h"),
        )
        .localCheckpoint(eager=False)
    )
    keeper = g.groupBy("h").agg(F.min(F.struct("doc_id", "pos")).alias("k"))
    marked = (
        g.join(keeper, "h")
        .where(
            (F.col("doc_id") != F.col("k.doc_id"))
            | (F.col("pos") != F.col("k.pos"))
        )
        .select("doc_id", "pos")
    )
    # covered token indices (distinct: overlapping marked grams)
    cov = marked.select(
        "doc_id", F.explode(F.expr(f"sequence(pos, pos + {K} - 1)")).alias("ti")
    ).distinct()
    cov = cov.localCheckpoint(eager=False)
    rem = cov.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_removed"))
    # rebuild ONLY affected docs (duplication-rate bounded)
    tokd = (
        t.join(cov.select("doc_id").distinct(), "doc_id", "left_semi")
        .select("doc_id", F.posexplode("toks").alias("ti", "tok"))
    )
    reb = (
        tokd.join(cov, ["doc_id", "ti"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr("transform(sort_array(collect_list(struct(ti, tok))), x -> x.tok)"),
            ).alias("scrubbed")
        )
    )
    return (
        t.join(rem, "doc_id", "left")
        .join(reb, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("n_removed").isNull(), F.concat_ws(" ", "toks"))
            .otherwise(F.coalesce("scrubbed", F.lit("")))
            .alias("scrubbed_text"),
            F.size("toks").cast("long").alias("n_tokens"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def _substring_scrub_oracle() -> str:
    K = SCRUB_K
    return f"""
WITH d0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {SCRUB_MOD} = {SCRUB_RES}
              THEN repeat('pad ', (doc_id % {SCRUB_PAD_MOD})::INT)
                   || '{SCRUB_RUN_TEXT_SQL}' || ' ' || COALESCE(text, '')
              ELSE COALESCE(text, '') END AS txt
  FROM documents),
t AS (SELECT doc_id, string_split(trim(txt), ' ') AS toks FROM d0),
g AS (
  SELECT doc_id, u.k::INT AS pos,
         md5(array_to_string(list_slice(toks, u.k + 1, u.k + {K}), ' ')) AS h
  FROM t, LATERAL unnest(range(len(toks) - {K} + 1)) AS u(k)
  WHERE len(toks) >= {K}),
r AS (SELECT doc_id, pos,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM g),
cov AS (SELECT DISTINCT doc_id, pos + u.k AS ti
        FROM r, LATERAL unnest(range({K})) AS u(k) WHERE rn > 1),
rem AS (SELECT doc_id, COUNT(*)::BIGINT AS n_removed FROM cov GROUP BY doc_id),
tok AS (SELECT t.doc_id, u.k AS ti, toks[u.k::INT + 1] AS tok
        FROM t, LATERAL unnest(range(len(toks))) AS u(k)
        WHERE t.doc_id IN (SELECT doc_id FROM cov)),
kept AS (SELECT tok.doc_id, tok.ti, tok.tok
         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.ti = cov.ti
         WHERE cov.doc_id IS NULL),
reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY ti) AS scrubbed
        FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       CASE WHEN rem.doc_id IS NULL THEN array_to_string(toks, ' ')
            ELSE COALESCE(reb.scrubbed, '') END AS scrubbed_text,
       len(toks)::BIGINT AS n_tokens,
       COALESCE(rem.n_removed, 0)::BIGINT AS n_removed
FROM t
LEFT JOIN rem ON t.doc_id = rem.doc_id
LEFT JOIN reb ON t.doc_id = reb.doc_id
"""


def _q_shard_manifest(spark, sf_dir):
    """Output-shard manifest — the integrity record the write side of a
    training-data pipeline emits next to each shard (the durable-sink
    completion of the packing story; ``token_packing`` assigns the same
    ``doc_id % PACK_SHARDS`` shards). Per shard: document census, total
    whitespace + BPE-ish token budgets, id range, and an
    ORDER-INDEPENDENT content checksum = bit_xor of each doc's 60-bit
    digest hash. XOR (not md5-of-sorted-digests) is the deliberate
    scale choice: it is map-side combinable with O(1) state per agg row
    — a digest-of-sorted-digests would collect corpus/shards strings
    into one task. Any dropped, duplicated, or altered document flips
    the checksum, which is what a re-run / resume compares against.

    Scale shape: ONE groupBy(shard) over a pure-codegen projection;
    every aggregate is partial-aggregatable. No window, no collect, no
    second pass."""
    from ocr_lib_spark.functions.text import bpe_token_count, token_count
    from ocr_lib_spark.plans.textops import PACK_SHARDS

    d = documents(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        token_count("text").cast("long").alias("ws"),
        bpe_token_count("text").cast("long").alias("bpe"),
        stable_hash64(F.md5("text")).alias("dh"),
    )
    return d.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ws").cast("long").alias("n_ws_tokens"),
        F.sum("bpe").cast("long").alias("n_bpe_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.expr("bit_xor(dh)").cast("long").alias("content_xor"),
    )


def _shard_manifest_oracle() -> str:
    from ocr_lib_spark.functions.text import BPE_ISH_PATTERN
    from ocr_lib_spark.plans.textops import PACK_SHARDS

    bpe_sql = BPE_ISH_PATTERN.replace("'", "''")
    return f"""
WITH d AS (
  SELECT doc_id, (doc_id % {PACK_SHARDS})::INT AS shard,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split(trim(text), ' ')) END::BIGINT AS ws,
         len(regexp_extract_all(text, '{bpe_sql}'))::BIGINT AS bpe,
         ('0x' || substr(md5(md5(text)), 1, 15))::BIGINT AS dh
  FROM documents)
SELECT shard, COUNT(*)::BIGINT AS n_docs,
       SUM(ws)::BIGINT AS n_ws_tokens,
       SUM(bpe)::BIGINT AS n_bpe_tokens,
       MIN(doc_id)::BIGINT AS min_doc_id,
       MAX(doc_id)::BIGINT AS max_doc_id,
       BIT_XOR(dh)::BIGINT AS content_xor
FROM d GROUP BY shard
"""


def _q_stream_incremental_dedup(spark, sf_dir):
    """STREAM-STATIC twin of ``incremental_dedup``'s exact tier — the
    posture a daily ingest actually deploys: today's batch arrives as a
    STREAM of files; the standing corpus's digest table is a STATIC
    precomputed artifact it probes. Structured Streaming's
    stream-static join is stateless (the static side is re-planned per
    micro-batch, no state store grows with the stream), so this holds
    at any stream length — the state-bound complement to the stateful
    streaming near-dup index. Verdict per new doc: 'exact' (digest in
    the standing corpus, match_id = min old doc) or 'novel'; the near
    tier deliberately stays batch (``incremental_dedup``) / stateful
    streaming (``stream_near_dup``) — mixing it in here would re-derive
    the band table per micro-batch.

    Scale shape: at 100 TB the static side is a bucketed digest
    artifact and the per-micro-batch join is a broadcast or
    bucket-local probe; nothing here keys state on the stream. Gate
    determinism: output rows are a pure per-row function of the input
    (no dedup across the stream), so file replay order is irrelevant.

    Ref analog: the daily re-run of read-signs-fn's load→probe split
    (core.clj:957-997) with the probe side streamed."""
    d = documents(spark, sf_dir)
    old_dig = (
        d.where(F.col("doc_id") % INC_MOD != INC_NEW_RES)
        .groupBy(F.md5("text").alias("dig"))
        .agg(F.min("doc_id").cast("long").alias("exact_match_id"))
    )

    def verdicts(sdf):
        return (
            sdf.select("doc_id", F.md5("text").alias("dig"))
            .join(old_dig, "dig", "left")
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.when(F.col("exact_match_id").isNotNull(), F.lit("exact"))
                .otherwise(F.lit("novel"))
                .alias("verdict"),
                F.coalesce("exact_match_id", F.lit(-1)).cast("long").alias("match_id"),
            )
        )

    return replay_to_memory(
        "stream_incremental_dedup",
        d.where(F.col("doc_id") % INC_MOD == INC_NEW_RES).repartitionByRange(4, "doc_id"),
        verdicts,
        files_per_trigger=1,
        mode="append",
    )


def _stream_incremental_dedup_oracle() -> str:
    return f"""
WITH old_dig AS (
  SELECT md5(text) AS dig, MIN(doc_id)::BIGINT AS exact_match_id
  FROM documents WHERE doc_id % {INC_MOD} != {INC_NEW_RES} GROUP BY 1)
SELECT n.doc_id::BIGINT AS doc_id,
       CASE WHEN o.exact_match_id IS NOT NULL THEN 'exact' ELSE 'novel' END AS verdict,
       COALESCE(o.exact_match_id, -1)::BIGINT AS match_id
FROM documents n LEFT JOIN old_dig o ON md5(n.text) = o.dig
WHERE n.doc_id % {INC_MOD} = {INC_NEW_RES}
"""


# --- small-shard compaction planning -----------------------------------------
# The write-side maintenance step every table format schedules (Iceberg
# rewrite_data_files, Delta OPTIMIZE): coalesce small output shards
# into ~target-byte merge groups. The plan rule is cumulative-quota
# grouping over the shard census in shard-id order: group(shard) =
# (bytes of all earlier shards) DIV target — a pure exclusive-cumsum
# rule, so it is deterministic, order-stable, and exactly mirrorable in
# SQL (a greedy reset-at-target fold is not); each group's fill lands
# within one shard of target. target derives from the census itself
# (ceil(total / COMPACT_GROUPS)) so the rule is scale-free across sf.

COMPACT_GROUPS = 3


def _q_compaction_plan(spark, sf_dir):
    """Merge-group plan over the ``token_packing``/``shard_manifest``
    shard layout: per group, the shards it coalesces, their doc/byte
    census, and the fill ratio vs target in ppm.

    Scale shape: ONE map-side-combinable groupBy(shard) over the corpus
    -> a census of exactly PACK_SHARDS rows; the ordered cumsum walk
    runs on that domain-bounded table (same bounded-by-construction
    argument as quality_curriculum's histogram walk — shard count is a
    layout constant, never corpus-sized), and the scalar total/target
    ride a broadcast. No corpus-wide window or sort anywhere."""
    from pyspark.sql import Window

    from ocr_lib_spark.plans.textops import PACK_SHARDS

    census = (
        documents(spark, sf_dir)
        .groupBy((F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.octet_length("text")).cast("long").alias("n_bytes"),
        )
        .localCheckpoint(eager=False)
    )
    tot = census.agg(F.sum("n_bytes").cast("long").alias("total"))
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    planned = (
        census.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "n_bytes",
            F.coalesce(F.sum("n_bytes").over(w), F.lit(0)).alias("cum_before"),
            F.expr(f"(total + {COMPACT_GROUPS} - 1) DIV {COMPACT_GROUPS}").alias(
                "target"
            ),
        )
        .select(
            "shard",
            "n_docs",
            "n_bytes",
            "target",
            F.expr("cum_before DIV target").cast("int").alias("grp"),
        )
    )
    return planned.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_shards"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
        F.min("shard").cast("int").alias("min_shard"),
        F.max("shard").cast("int").alias("max_shard"),
        # the one corpus-scale product in this module: group bytes at
        # 100 TB x 1e6 overflows BIGINT (2^63 ~ 9.2e18 = 9.2 TB x 1e6),
        # so the ppm ratio widens to DECIMAL(38,0) (Spark) / HUGEINT
        # (DuckDB twin) before the multiply. MUST be integral DIV, not
        # FLOOR(a / b): Spark's decimal `/` rounds to the result scale
        # BEFORE floor (measured: 1199999.99998 -> 1200000), while DIV
        # is exact integer floor division in both engines
        F.expr(
            f"CAST(CAST(sum(n_bytes) AS DECIMAL(38,0)) * {_PPM}"
            " DIV first(target) AS BIGINT)"
        ).alias("fill_ppm"),
    )


def _compaction_plan_oracle() -> str:
    from ocr_lib_spark.plans.textops import PACK_SHARDS

    return f"""
WITH census AS (
  SELECT (doc_id % {PACK_SHARDS})::INT AS shard,
         COUNT(*)::BIGINT AS n_docs,
         SUM(strlen(text))::BIGINT AS n_bytes
  FROM documents GROUP BY 1),
planned AS (
  SELECT shard, n_docs, n_bytes,
         COALESCE(SUM(n_bytes) OVER (ORDER BY shard
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
         (SUM(n_bytes) OVER () + {COMPACT_GROUPS} - 1) // {COMPACT_GROUPS} AS target
  FROM census)
SELECT (cum_before // target)::INT AS grp,
       COUNT(*)::BIGINT AS n_shards,
       SUM(n_docs)::BIGINT AS n_docs,
       SUM(n_bytes)::BIGINT AS n_bytes,
       MIN(shard)::INT AS min_shard,
       MAX(shard)::INT AS max_shard,
       (SUM(n_bytes)::HUGEINT * {_PPM} // ANY_VALUE(target))::BIGINT AS fill_ppm
FROM planned GROUP BY 1
"""


# --- semantic (embedding-cosine) eval decontamination ------------------------
# The vector-space complement of the 8-gram `decontaminate` gate
# (plans/textops.py): benchmark questions paraphrased into training
# data share no 8-gram but sit close in embedding space. Holdout =
# vec_id % SEMDECON_MOD == 0 (deterministic fixture subset standing in
# for an eval suite, the same convention as DECON_HOLDOUT_MOD); corpus
# = the rest. Same two-phase shape as embedding_near_dup: axis-sign
# LSH bucket prunes the corpus×holdout product to an equi-join, exact
# cosine (rounded BEFORE thresholding so summation-order ulps can't
# flip threshold-edge pairs) verifies.

SEMDECON_MOD = 13
SEMDECON_BITS = 8
#: synthetic embeddings have no true near-dups (max in-bucket cosine
#: ~0.43) — this exercises the semantics on a non-trivial hit set; the
#: production default for real eval contamination is ~0.9
SEMDECON_T = 0.20


def _q_semantic_decontaminate(spark, sf_dir):
    """Per corpus vector: how many holdout (eval-suite) vectors are
    cosine-similar above SEMDECON_T, and the closest such cosine.

    Scale shape: the holdout side is SMALL by nature (eval suites are
    thousands of rows against a trillion-row corpus) — it broadcasts;
    the corpus side streams through the bucket equi-join with no
    shuffle of its own. The bucket key bounds candidates per corpus row
    to holdout vectors in ONE of 2**SEMDECON_BITS buckets, so per-row
    work is |holdout| / 2**bits in expectation, independent of corpus
    size. Ref analog: check-matching-fn's broadcast prototype match
    (core.clj:1020-1069) with the prototype set replaced by the eval
    suite."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = F.lit(0)
    for i in range(SEMDECON_BITS):
        bucket = bucket + F.when(F.element_at("v", i + 1) > 0, F.lit(2**i)).otherwise(0)
    # per-ROW norm below the join (same left-fold expression on the
    # same cast array as folding it per pair — bit-identical; the
    # per-candidate verify then pays one fold, the dot, not three)
    e = e.withColumn("bucket", bucket.cast("int")).withColumn(
        "nrm",
        F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)),
    )
    holdout = e.where(F.col("vec_id") % SEMDECON_MOD == 0)
    corpus = e.where(F.col("vec_id") % SEMDECON_MOD != 0)
    a, h = corpus.alias("a"), holdout.alias("h")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("h.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosine = F.round(dot / (F.col("a.nrm") * F.col("h.nrm")), 6)
    return (
        a.join(F.broadcast(h), F.col("a.bucket") == F.col("h.bucket"))
        .select(F.col("a.vec_id").alias("vec_id"), cosine.alias("c"))
        .where(F.col("c") >= SEMDECON_T)
        .groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("n_eval_hits"),
            F.max("c").alias("max_cosine"),
        )
    )


def _semantic_decontaminate_oracle() -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(SEMDECON_BITS)
    )
    return f"""
WITH wb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket})::INT AS bucket
  FROM embeddings),
hits AS (
  SELECT a.vec_id,
         round(list_dot_product(a.v, h.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(h.v, h.v))), 6) AS c
  FROM wb a JOIN wb h ON a.bucket = h.bucket
  WHERE a.vec_id % {SEMDECON_MOD} != 0 AND h.vec_id % {SEMDECON_MOD} = 0)
SELECT vec_id, COUNT(*)::BIGINT AS n_eval_hits, MAX(c) AS max_cosine
FROM hits WHERE c >= {SEMDECON_T} GROUP BY vec_id
"""


# --- DSIR-style importance selection (hashed-unigram LR scoring) -------------
# Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169), integer-exact: score each raw-pool document by its
# log-likelihood ratio under hashed-unigram models of a TARGET corpus
# vs the RAW pool, then keep docs scoring at or above the corpus
# token-weighted mean. Recast for the determinism contract:
#
# - features: md5-prefix token hash % DSIR_BUCKETS (DSIR's hashed
#   n-gram buckets; the bucket model is <= DSIR_BUCKETS rows AT ANY
#   CORPUS SIZE, so it broadcasts and no token-keyed shuffle exists).
# - per-bucket signed floor-log2 LR with Laplace smoothing, via
#   integer cross-multiplication: num = (n_t+1)*(T_r+B), den =
#   (n_r+1)*(T_t+B); bits = +floor_log2(num DIV den) when num >= den
#   else -floor_log2(den DIV num) — length(bin(q))-1 is floor-log2 on
#   both engines, and floor(log2(floor(x))) == floor(log2(x)) for
#   x >= 1 since integer-power-of-2 thresholds commute with floor. The
#   corpus-scale products widen to DECIMAL(38,0)/HUGEINT (~1e28 at
#   10^14 tokens; quotients <= T_r fit BIGINT before bin()).
# - selection pivot: the corpus token-weighted mean score — ONE scalar
#   aggregate, so the split is nontrivial at every scale factor with
#   no fixture-tuned threshold. Signed floor division is engine-exact
#   via the +DSIR_BITS_OFFSET shift: Spark DIV truncates toward zero
#   and DuckDB // floors, which differ on negatives, so both sides
#   compute floor((x + OFF*n)*ppm / n) - OFF*ppm on a guaranteed
#   non-negative numerator (|bits| <= 47 < OFF at any corpus size).
#
# Target = docs from DSIR_TARGET_SOURCE (the deterministic stand-in
# for "the Wikipedia-like target corpus"; the derived-fixture
# convention). Ref analog: check-matching-fn's broadcast prototype
# score table (core.clj:1020-1069) with glyph prototypes replaced by
# the target-vs-raw bucket LR model.

DSIR_BUCKETS = 65536
DSIR_TARGET_SOURCE = "src0"
DSIR_BITS_OFFSET = 64


def _q_dsir_select(spark, sf_dir):
    """Per-doc DSIR importance score + above-corpus-mean keep flag.

    Scale shape: one documents scan explodes to (doc, bucket) counts
    (map-side combinable, doc-keyed uniform shuffle); the bucket model
    is a <= DSIR_BUCKETS-row aggregate (combinable; bounded key count)
    that BROADCASTS back — the skew-prone token-frequency join never
    materializes as a shuffle. pd and per are lazily checkpointed
    (each feeds two consumers — the exchange-reuse convention). The
    pivot is a scalar crossJoin broadcast. Zero-token docs surface
    with zeros via the left join from the doc scan and are never
    selected."""
    B, OFF = DSIR_BUCKETS, DSIR_BITS_OFFSET
    from ocr_lib_spark.partitioning import spread_small

    # spread: the tokenize+explode+md5 hashed-bigram stage is CPU-dense
    # and would run on a small single-row-group scan's one task
    d = spread_small(documents(spark, sf_dir))
    toks = F.explode(F.split(F.trim("text"), " ")).alias("tok")
    tb = (
        d.select(
            "doc_id",
            F.when(F.col("source") == DSIR_TARGET_SOURCE, F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_t"),
            toks,
        )
        .where(F.col("tok") != "")
        .select(
            "doc_id",
            "is_t",
            hex_bucket("tok", B).alias("b"),
        )
    )
    pd_counts = (
        tb.groupBy("doc_id", "b")
        .agg(F.min("is_t").alias("is_t"), F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    occ = pd_counts.groupBy("b").agg(
        F.sum("c").cast("long").alias("n_r"),
        F.sum(F.col("c") * F.col("is_t")).cast("long").alias("n_t"),
    )
    tot = occ.agg(
        F.sum("n_r").cast("long").alias("t_r"), F.sum("n_t").cast("long").alias("t_t")
    )
    # fully parenthesized: DIV and * share precedence left-assoc in
    # Spark SQL, so an unparenthesized `num DIV a * b` misgroups
    num = f"(CAST(n_t + 1 AS DECIMAL(38,0)) * (t_r + {B}))"
    den = f"(CAST(n_r + 1 AS DECIMAL(38,0)) * (t_t + {B}))"
    model = occ.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"CASE WHEN {num} >= {den}"
            f" THEN CAST(length(bin(CAST({num} DIV {den} AS BIGINT))) - 1 AS BIGINT)"
            f" ELSE -CAST(length(bin(CAST({den} DIV {num} AS BIGINT))) - 1 AS BIGINT)"
            " END"
        ).alias("bits"),
    )
    per = (
        pd_counts.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("bits")).cast("long").alias("lr_bits"),
        )
        .localCheckpoint(eager=False)
    )
    pivot = per.agg(
        F.expr(
            f"CAST((CAST(sum(lr_bits) AS DECIMAL(38,0)) + {OFF} * sum(n_tokens))"
            f" * {_PPM} DIV sum(n_tokens) - {OFF} * {_PPM} AS BIGINT)"
        ).alias("pivot_mlr")
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .crossJoin(F.broadcast(pivot))
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("lr_bits", F.lit(0)).cast("long").alias("lr_bits"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.expr(
                    f"(lr_bits + {OFF} * n_tokens) * {_PPM} DIV n_tokens"
                    f" - {OFF} * {_PPM}"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_mlr"),
            "pivot_mlr",
        )
        .withColumn(
            "selected",
            F.when(
                (F.col("n_tokens") > 0) & (F.col("mean_mlr") >= F.col("pivot_mlr")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )


_O_DSIR_SELECT = f"""
WITH tk AS (
  SELECT doc_id, CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END AS is_t,
         unnest(string_split(trim(text), ' ')) AS tok
  FROM documents),
tb AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT % {DSIR_BUCKETS} AS b
  FROM tk WHERE tok <> ''),
pd AS (SELECT doc_id, MIN(is_t) AS is_t, b, COUNT(*)::BIGINT AS c
       FROM tb GROUP BY doc_id, b),
occ AS (SELECT b, SUM(c)::BIGINT AS n_r, SUM(c * is_t)::BIGINT AS n_t
        FROM pd GROUP BY b),
tot AS (SELECT SUM(n_r)::BIGINT AS t_r, SUM(n_t)::BIGINT AS t_t FROM occ),
model AS (
  SELECT b,
    CASE WHEN (n_t + 1)::HUGEINT * (t_r + {DSIR_BUCKETS})
           >= (n_r + 1)::HUGEINT * (t_t + {DSIR_BUCKETS})
      THEN (length(bin(((n_t + 1)::HUGEINT * (t_r + {DSIR_BUCKETS})
            // ((n_r + 1)::HUGEINT * (t_t + {DSIR_BUCKETS})))::BIGINT)) - 1)::BIGINT
      ELSE -(length(bin(((n_r + 1)::HUGEINT * (t_t + {DSIR_BUCKETS})
            // ((n_t + 1)::HUGEINT * (t_r + {DSIR_BUCKETS})))::BIGINT)) - 1)::BIGINT
    END AS bits
  FROM occ, tot),
per AS (
  SELECT pd.doc_id, SUM(pd.c)::BIGINT AS n_tokens,
         SUM(pd.c * m.bits)::BIGINT AS lr_bits
  FROM pd JOIN model m USING (b) GROUP BY pd.doc_id),
pv AS (
  SELECT ((SUM(lr_bits)::HUGEINT + {DSIR_BITS_OFFSET} * SUM(n_tokens)) * {_PPM}
          // SUM(n_tokens) - {DSIR_BITS_OFFSET} * {_PPM})::BIGINT AS pivot_mlr
  FROM per)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0)::BIGINT AS n_tokens,
       COALESCE(p.lr_bits, 0)::BIGINT AS lr_bits,
       CASE WHEN COALESCE(p.n_tokens, 0) > 0
            THEN ((p.lr_bits + {DSIR_BITS_OFFSET} * p.n_tokens) * {_PPM}
                  // p.n_tokens - {DSIR_BITS_OFFSET} * {_PPM})::BIGINT
            ELSE 0 END AS mean_mlr,
       (SELECT pivot_mlr FROM pv) AS pivot_mlr,
       CASE WHEN COALESCE(p.n_tokens, 0) > 0
             AND ((p.lr_bits + {DSIR_BITS_OFFSET} * p.n_tokens) * {_PPM}
                  // p.n_tokens - {DSIR_BITS_OFFSET} * {_PPM})
                 >= (SELECT pivot_mlr FROM pv)
            THEN 1 ELSE 0 END::BIGINT AS selected
FROM documents d LEFT JOIN per p USING (doc_id)
"""


# --- curation funnel: per-doc first-failing-stage attribution ----------------
# The observability query a 100 TB cleaning run needs: not just "what
# survived" (training_mix) but WHY each document left — which gate
# dropped it first. One corpus scan computes every rule bit, a
# priority CASE encodes the first failing stage, and the census twin
# reports per-stage doc/word totals. Stage order mirrors the
# production gauntlet: eval-holdout removal -> exact dedup keep-first
# -> quality rule bits -> 8-gram decontamination -> kept.
#
# Fixture realism (the derived-fixture convention — unique synthetic
# texts never collide, so duplicates are DERIVED in closed form on
# BOTH engines): docs with doc_id % FUNNEL_BOILER_MOD ==
# FUNNEL_BOILER_RES carry a fixed boilerplate text, so the duplicate
# stage genuinely drops non-first members, and the surviving keeper
# then fails the word-count quality gate (boilerplate is 9 words) —
# the cascade the funnel exists to explain. Every stage is populated
# at every sf: holdout ~1/7, duplicate ~1/9, quality and contaminated
# from the fixture's own distribution.
#
# Ref analog: the reference's staged pixel gauntlet (binarize ->
# noise-floor -> grouping -> classify, core.clj:332-638) reports only
# survivors; the funnel is the per-candidate drop-attribution that
# engine never had.

FUNNEL_BOILER_MOD = 9
FUNNEL_BOILER_RES = 4
FUNNEL_BOILER_TEXT = "Thanks for your request. Please see the attached summary."
#: oracle-side escaped twin (ADVICE r6): the constant is interpolated
#: into SQL string literals; an apostrophe in a future edit must not
#: break (or silently alter) the oracle while the Spark side keeps
#: working. Always interpolate the _SQL twin into oracle text.
FUNNEL_BOILER_TEXT_SQL = FUNNEL_BOILER_TEXT.replace("'", "''")
#: frequency-split threshold for the dup keep-first join-back (shared
#: convention with unigram_surprisal): digests with count * DENOM >
#: corpus size are "hot" — by pigeonhole there are <= DENOM of them, so
#: the hot keeper map BROADCASTS and the boilerplate mega-digest never
#: lands its n/9 rows in one shuffle task; tail keys carry <=
#: total/DENOM rows each.
FUNNEL_DENOM = 256
#: stages in priority order (first failing wins)
FUNNEL_STAGES = ("eval_holdout", "duplicate", "quality", "contaminated", "kept")


def _funnel_txt(d):
    return d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % FUNNEL_BOILER_MOD == FUNNEL_BOILER_RES,
            F.lit(FUNNEL_BOILER_TEXT),
        )
        .otherwise(F.coalesce("text", F.lit("")))
        .alias("txt"),
    )


def _funnel_frame(spark, sf_dir):
    """Per-doc rule bits + first-failing-stage label over the derived
    fixture text; see funnel_attribution_frame for the shape."""
    return funnel_attribution_frame(_funnel_txt(documents(spark, sf_dir)))


def funnel_attribution_frame(d):
    """(doc_id, txt) frame -> per-doc rule bits + first-failing-stage
    label. Split out so stage-BOUNDARY overlaps (a doc violating two
    gates at once) are unit-testable off-fixture — a stage-order
    regression must fail those Ts, not hide behind aggregate counts.
    Scale shape: the digest keep-first uses the FREQUENCY-SPLIT join
    (hot digests broadcast, tail digests bounded per key — see
    FUNNEL_DENOM); the quality bits are one pure-codegen pass
    (gopher_bits_frame); the contamination tier is the
    broadcast-holdout gram join of `decontaminate`. Every join back to
    the doc spine is keyed on doc_id (uniform). The derived-text spine
    is lazily checkpointed — it feeds the digest, quality, and gram
    branches."""
    from ocr_lib_spark.plans.textops import (
        DECON_HOLDOUT_MOD,
        DECON_K,
        frequency_split_join,
        gopher_bits_frame,
        holdout_hits,
    )

    d = d.localCheckpoint(eager=False)
    dig = d.select("doc_id", F.md5("txt").alias("digest")).localCheckpoint(
        eager=False
    )
    grp = (
        dig.groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = grp.agg(F.sum("c").alias("n_total"))
    keep = frequency_split_join(
        dig, grp.crossJoin(F.broadcast(tot)), "digest", "c", "n_total", FUNNEL_DENOM
    ).select("doc_id", "keep_id")
    qual = gopher_bits_frame(d.select("doc_id", F.col("txt").alias("text"))).select(
        "doc_id", "n_words", "pass_all"
    )
    toks = F.split(F.trim("txt"), " ")
    g = d.select("doc_id", toks.alias("t")).select(
        "doc_id", F.explode(word_grams("t", DECON_K)).alias("g")
    )
    in_holdout = F.col("doc_id") % DECON_HOLDOUT_MOD == 0
    hits = holdout_hits(g, "doc_id", in_holdout)
    is_holdout = in_holdout.cast("long")
    is_dup = (F.col("doc_id") != F.col("keep_id")).cast("long")
    return (
        d.select("doc_id")
        .join(keep, "doc_id")
        .join(qual, "doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            is_holdout.alias("is_holdout"),
            is_dup.alias("is_duplicate"),
            F.col("pass_all").alias("pass_quality"),
            F.coalesce("n_hit_grams", F.lit(0)).cast("long").alias("n_hit_grams"),
        )
        .withColumn(
            "stage",
            F.when(F.col("is_holdout") == 1, FUNNEL_STAGES[0])
            .when(F.col("is_duplicate") == 1, FUNNEL_STAGES[1])
            .when(~F.col("pass_quality"), FUNNEL_STAGES[2])
            .when(F.col("n_hit_grams") >= 1, FUNNEL_STAGES[3])
            .otherwise(FUNNEL_STAGES[4]),
        )
    )


def _q_curation_funnel(spark, sf_dir):
    """Per-doc drop attribution: rule bits + first-failing stage."""
    return _funnel_frame(spark, sf_dir)


def _q_curation_funnel_census(spark, sf_dir):
    """Per-stage funnel census: docs, words, first doc id. One
    combinable groupBy over the funnel frame — 5 output rows at any
    corpus size."""
    return _funnel_frame(spark, sf_dir).groupBy("stage").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words_total"),
        F.min("doc_id").cast("long").alias("first_doc_id"),
    )


def _q_curation_funnel_by_source(spark, sf_dir):
    """The mixture-health view: funnel stage census per SOURCE — which
    corpora are duplicate-heavy, which fail quality, what survives —
    plus an integer keep rate. One doc_id-keyed join onto the funnel
    frame and one combinable groupBy; output rows = #sources (a layout
    constant, never corpus-scale)."""
    f = _funnel_frame(spark, sf_dir)
    src = documents(spark, sf_dir).select("doc_id", "source")
    stage_n = [
        F.sum((F.col("stage") == st).cast("int")).cast("long").alias(f"n_{st}")
        for st in FUNNEL_STAGES
    ]
    return (
        f.join(src, "doc_id")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"), *stage_n)
        .withColumn(
            "kept_ppm",
            F.expr(f"CAST(n_kept * {_PPM} DIV n_docs AS BIGINT)"),
        )
    )


def _funnel_oracle_ctes() -> str:
    from ocr_lib_spark.plans.textops import (
        DECON_HOLDOUT_MOD,
        DECON_K,
        GQ_MAX_WORDS,
        GQ_MIN_WORDS,
    )

    return f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % {FUNNEL_BOILER_MOD} = {FUNNEL_BOILER_RES}
              THEN '{FUNNEL_BOILER_TEXT_SQL}' ELSE COALESCE(text, '') END AS txt
  FROM documents),
keep AS (
  SELECT md5(txt) AS digest, MIN(doc_id) AS keep_id FROM d GROUP BY md5(txt)),
kd AS (SELECT d.doc_id, k.keep_id FROM d JOIN keep k ON md5(d.txt) = k.digest),
t AS (SELECT doc_id, string_split(trim(txt), ' ') AS t FROM d),
qbase AS (
  SELECT doc_id,
         len(t)::BIGINT AS n_words,
         COALESCE(list_sum(list_transform(t, x -> length(x))), 0)::BIGINT AS total_chars,
         len(list_filter(t, x -> regexp_full_match(x, '[A-Za-z]+')))::BIGINT AS n_alpha_words
  FROM t),
qtop AS (
  SELECT doc_id, MAX(c)::BIGINT AS top_word_n FROM (
    SELECT doc_id, w, COUNT(*) AS c FROM (
      SELECT doc_id, unnest(t) AS w FROM t) WHERE w <> '' GROUP BY doc_id, w)
  GROUP BY doc_id),
q AS (
  SELECT b.doc_id, b.n_words,
         ((b.n_words BETWEEN {GQ_MIN_WORDS} AND {GQ_MAX_WORDS})
          AND (3 * b.n_words <= b.total_chars AND b.total_chars <= 10 * b.n_words)
          AND (5 * b.n_alpha_words >= 4 * b.n_words)
          AND (5 * COALESCE(p.top_word_n, 0) <= b.n_words)) AS pass_all
  FROM qbase b LEFT JOIN qtop p USING (doc_id)),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(len(t) - {DECON_K} + 1),
                i -> array_to_string(list_slice(t, i + 1, i + {DECON_K}), ' '))) AS g
  FROM t WHERE len(t) >= {DECON_K}),
holdout AS (SELECT DISTINCT g FROM g WHERE doc_id % {DECON_HOLDOUT_MOD} = 0),
hits AS (
  SELECT c.doc_id, COUNT(DISTINCT c.g)::BIGINT AS n_hit_grams
  FROM g c JOIN holdout h ON c.g = h.g
  WHERE c.doc_id % {DECON_HOLDOUT_MOD} != 0 GROUP BY c.doc_id),
funnel AS (
  SELECT d.doc_id, q.n_words,
         (d.doc_id % {DECON_HOLDOUT_MOD} = 0)::BIGINT AS is_holdout,
         (d.doc_id != kd.keep_id)::BIGINT AS is_duplicate,
         q.pass_all AS pass_quality,
         COALESCE(h.n_hit_grams, 0)::BIGINT AS n_hit_grams,
         CASE WHEN d.doc_id % {DECON_HOLDOUT_MOD} = 0 THEN '{FUNNEL_STAGES[0]}'
              WHEN d.doc_id != kd.keep_id THEN '{FUNNEL_STAGES[1]}'
              WHEN NOT q.pass_all THEN '{FUNNEL_STAGES[2]}'
              WHEN COALESCE(h.n_hit_grams, 0) >= 1 THEN '{FUNNEL_STAGES[3]}'
              ELSE '{FUNNEL_STAGES[4]}' END AS stage
  FROM d
  JOIN kd ON d.doc_id = kd.doc_id
  JOIN q ON d.doc_id = q.doc_id
  LEFT JOIN hits h ON d.doc_id = h.doc_id)
"""


def _curation_funnel_oracle() -> str:
    return (
        _funnel_oracle_ctes()
        + """
SELECT doc_id, n_words, is_holdout, is_duplicate, pass_quality, n_hit_grams, stage
FROM funnel
"""
    )


def _curation_funnel_census_oracle() -> str:
    return (
        _funnel_oracle_ctes()
        + """
SELECT stage, COUNT(*)::BIGINT AS n_docs, SUM(n_words)::BIGINT AS n_words_total,
       MIN(doc_id)::BIGINT AS first_doc_id
FROM funnel GROUP BY stage
"""
    )


def _curation_funnel_by_source_oracle() -> str:
    stage_cols = ",\n       ".join(
        f"SUM((stage = '{st}')::INT)::BIGINT AS n_{st}" for st in FUNNEL_STAGES
    )
    return (
        _funnel_oracle_ctes()
        + f"""
SELECT s.source, COUNT(*)::BIGINT AS n_docs,
       {stage_cols},
       (SUM((stage = 'kept')::INT)::HUGEINT * {_PPM} // COUNT(*))::BIGINT AS kept_ppm
FROM funnel f JOIN documents s ON f.doc_id = s.doc_id
GROUP BY s.source
"""
    )


# --- normalized dedup: the near-exact tier -----------------------------------
# The CCNet/RefinedWeb tier between exact dedup and MinHash: hash the
# NORMALIZED text (casefold, strip non-alphanumerics, collapse runs of
# spaces) so trivially-reformatted mirrors — case changes, punctuation,
# whitespace — collapse to one digest that raw-md5 dedup misses. ASCII
# normalization only (the fixture corpus is ASCII; Java and DuckDB
# lower() agree on ASCII unconditionally — the unicode casefold
# question is out of scope by construction, same boundary as the
# _unicode query twins).
#
# Derived fixture (unique synthetic texts never collide): class
# doc_id % 9 == 4 carries the boilerplate verbatim; class % 9 == 7
# carries UPPER(boilerplate) + '  !!'. Raw digests differ (exact dedup
# keeps both classes whole); normalized digests MERGE them — the tier
# boundary is exercised, not asserted.

NORM_VARIANT_RES = 7
NORM_VARIANT_TEXT = FUNNEL_BOILER_TEXT.upper() + "  !!"
NORM_VARIANT_TEXT_SQL = NORM_VARIANT_TEXT.replace("'", "''")  # see _SQL twin note above


def _q_normalized_dedup(spark, sf_dir):
    """Normalized-digest census: n_docs, distinct raw variants, and the
    keep-first id per normalized digest. Scale shape: per-doc map ->
    two-level groupBy ((norm, raw) then norm — both map-side
    combinable, so the boilerplate mega-digest partial-aggregates
    before the shuffle; no window, no join-back)."""
    d = documents(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % FUNNEL_BOILER_MOD == FUNNEL_BOILER_RES,
            F.lit(FUNNEL_BOILER_TEXT),
        )
        .when(
            F.col("doc_id") % FUNNEL_BOILER_MOD == NORM_VARIANT_RES,
            F.lit(NORM_VARIANT_TEXT),
        )
        .otherwise(F.coalesce("text", F.lit("")))
        .alias("txt"),
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("txt"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    per = d.select(
        F.md5(norm).alias("norm_digest"), F.md5("txt").alias("raw_digest"), "doc_id"
    )
    lvl1 = per.groupBy("norm_digest", "raw_digest").agg(
        F.count("*").alias("c"), F.min("doc_id").alias("m")
    )
    return lvl1.groupBy("norm_digest").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_exact_variants"),
        F.min("m").cast("long").alias("keep_id"),
    )


_O_NORMALIZED_DEDUP = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % {FUNNEL_BOILER_MOD} = {FUNNEL_BOILER_RES}
                THEN '{FUNNEL_BOILER_TEXT_SQL}'
              WHEN doc_id % {FUNNEL_BOILER_MOD} = {NORM_VARIANT_RES}
                THEN '{NORM_VARIANT_TEXT_SQL}'
              ELSE COALESCE(text, '') END AS txt
  FROM documents),
per AS (
  SELECT md5(trim(regexp_replace(regexp_replace(lower(txt), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS norm_digest,
         md5(txt) AS raw_digest, doc_id
  FROM d),
lvl1 AS (
  SELECT norm_digest, raw_digest, COUNT(*) AS c, MIN(doc_id) AS m
  FROM per GROUP BY norm_digest, raw_digest)
SELECT norm_digest, SUM(c)::BIGINT AS n_docs,
       COUNT(*)::BIGINT AS n_exact_variants, MIN(m)::BIGINT AS keep_id
FROM lvl1 GROUP BY norm_digest
"""


# --- BPE merge step: vocab induction over the token stream -------------------
# One step of byte-pair-encoding vocabulary training (Sennrich et al.
# 2016), recast at whitespace-token granularity (the fixture's
# alphabet): find the corpus-wide most-frequent ADJACENT token pair,
# then count per document how many occurrences a leftmost-greedy
# non-overlapping merge pass would fuse — BPE's exact merge rule, the
# subtlety being self-pairs (a,a), where a run of L identical tokens
# yields floor(L/2) merges, not L-1. The loop variant (re-count after
# each merge) needs stream reconstruction and is out of scope, like
# ivf_train_loop's unrolling boundary.
#
# Scale shape: pair census = one explode + combinable groupBy (hot
# pairs partial-aggregate map-side); the argmax is THREE chained scalar
# aggregates (max count -> min first token at that count -> min second
# token) so the global top-1 never sorts the census; the per-doc merge
# count is a pure-codegen array HOF over the token array — ZERO
# shuffle, no python. Deterministic tie-break: lexicographically
# smallest (a, b) among maximal-count pairs.

#: matches: 0-based positions i with t[i]=pair_a, t[i+1]=pair_b (over
#: columns t/pair_a/pair_b); greedy pass over column m: take a match
#: iff it does not share a token with the previously taken one
#: (position >= last_taken + 2) — for a != b matches never overlap and
#: greedy == all; for a == b a run of L identical tokens has L-1 match
#: positions and greedy takes floor(L/2). Module-level so the
#: off-fixture self-pair test evaluates the SAME expressions the gated
#: query ships.
BPE_MATCHES_EXPR = (
    "CASE WHEN size(t) >= 2 THEN "
    "filter(sequence(0, cast(size(t) as int) - 2), "
    "i -> t[i] = pair_a AND t[i+1] = pair_b) "
    "ELSE cast(array() as array<int>) END"
)


def _bpe_pair_argmax(t_df):
    """Corpus-wide most-frequent adjacent pair over a (doc_id, t)
    token-array frame, as a ONE-ROW broadcastable frame (pair_a,
    pair_b, pair_count). The argmax is ONE scalar aggregate:
    min(struct(-count, a, b)) is lexicographically (max count, then
    min a, then min b) — exactly the pinned tie-break the previous
    two-aggregate chain (max count -> min(struct(a, b)) among the
    maximal rows) produced, but with no census checkpoint, no
    broadcast exchange and no second census pass per merge round.
    The global top-1 never sorts the census; an empty census yields
    one all-NULL row (groupBy-less agg), which downstream match
    filters treat as zero matches on both engines."""
    pairs = t_df.select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(0, cast(size(t) as int) - 2), "
                "i -> struct(t[i] AS a, t[i+1] AS b)) "
                "ELSE cast(array() as array<struct<a:string,b:string>>) END"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    census = pairs.groupBy("a", "b").agg(F.count("*").cast("long").alias("c"))
    return (
        census.agg(
            F.min(
                F.struct(
                    (-F.col("c")).alias("nc"),
                    F.col("a").alias("a"),
                    F.col("b").alias("b"),
                )
            ).alias("x")
        ).select(
            F.col("x.a").alias("pair_a"),
            F.col("x.b").alias("pair_b"),
            (-F.col("x.nc")).cast("long").alias("pair_count"),
        )
    )


def _q_bpe_merge_step(spark, sf_dir):
    """Corpus argmax adjacent pair + per-doc leftmost-greedy merge
    counts for it. Returns one row per doc: tokens before/after, match
    and merge counts, and the chosen pair as broadcast scalars."""
    toks = F.split(F.trim("text"), " ")
    from ocr_lib_spark.partitioning import spread_small

    d = (
        # spread: census explode + greedy pass run off the round's
        # checkpoint; a small single-row-group scan gives it one task
        spread_small(documents(spark, sf_dir))
        .select("doc_id", toks.alias("t"))
        .select("doc_id", F.expr("filter(t, x -> x != '')").alias("t"))
    )
    [(_, tt)], _ = _bpe_rounds(d, 1)
    return tt.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        "pair_a",
        "pair_b",
        "pair_count",
        F.size("m").cast("long").alias("n_matches"),
        F.size("ch").cast("long").alias("n_merges"),
    ).withColumn("n_tokens_after", (F.col("n_tokens") - F.col("n_merges")).cast("long"))


# DuckDB twin: the greedy pass runs as gaps-and-islands over match
# positions (consecutive positions group by p - row_number(); each
# island of length L contributes ceil(L/2) = (L+1)//2 merges) —
# value-identical to the Spark HOF's stateful scan.
_O_BPE_MERGE_STEP = """
WITH d AS (
  SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
  FROM documents),
p AS (
  SELECT t[i+1] AS a, t[i+2] AS b
  FROM (SELECT t, unnest(range(len(t) - 1)) AS i FROM d WHERE len(t) >= 2)),
census AS (SELECT a, b, COUNT(*)::BIGINT AS c FROM p GROUP BY a, b),
cmax AS (SELECT MAX(c) AS c_max FROM census),
amin AS (SELECT MIN(a) AS a_min FROM census, cmax WHERE c = c_max),
best AS (
  -- global aggregate, NOT GROUP BY a: an empty census must still yield
  -- one all-NULL row (mirroring the Spark side's groupBy-less agg) so
  -- a degenerate all-short-docs corpus emits per-doc zero rows on both
  -- engines instead of diverging 500-vs-0
  SELECT MIN(a) AS pair_a, MIN(b) AS pair_b, MAX(c) AS pair_count
  FROM census, cmax, amin WHERE c = c_max AND a = a_min),
dm AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens, bb.pair_a, bb.pair_b, bb.pair_count,
         list_filter(range(len(t) - 1),
                     i -> t[i+1] = bb.pair_a AND t[i+2] = bb.pair_b) AS m
  FROM d, best bb),
mpos AS (SELECT doc_id, unnest(m) AS pos FROM dm),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM mpos),
runs AS (SELECT doc_id, grp, COUNT(*)::BIGINT AS L FROM isl GROUP BY doc_id, grp),
merges AS (SELECT doc_id, SUM((L + 1) // 2)::BIGINT AS n_merges FROM runs GROUP BY doc_id)
SELECT dm.doc_id, dm.n_tokens, dm.pair_a, dm.pair_b, dm.pair_count,
       len(dm.m)::BIGINT AS n_matches,
       COALESCE(mg.n_merges, 0)::BIGINT AS n_merges,
       (dm.n_tokens - COALESCE(mg.n_merges, 0))::BIGINT AS n_tokens_after
FROM dm LEFT JOIN merges mg USING (doc_id)
"""


# --- BPE merge LOOP: multi-step vocab induction with stream rebuild ----------
# The loop variant bpe_merge_step's section note left open: run
# BPE_STEPS merge rounds, RECONSTRUCTING the token stream after each
# (fused symbol = a || '_' || b), re-censusing, and re-picking the
# argmax pair — the actual Sennrich et al. training loop at
# whitespace-token granularity. Unlike ivf_train_loop (which collects
# a k×dim codebook to the driver between rounds), every round here
# stays PLAN-SIDE: the argmax is a one-row groupBy-less aggregate that
# broadcasts back as scalar columns, so the loop is a fixed chain of
# BPE_STEPS census->argmax->rebuild stages with ZERO driver collects
# and nothing driver-sized anywhere. Each round's token frame is
# lazily checkpointed (it feeds the census, the stats row, and the
# next rebuild — the exchange-reuse convention) which also truncates
# the growing lineage.
#
# Chosen-merge semantics are the step's documented greedy pass: within
# each ISLAND of consecutive match positions, take s, s+2, s+4, ...
# (ceil(L/2) merges per island of L matches; floor(L/2) for a run of L
# identical tokens) — the Spark side filters the match array by island
# offset parity (islands keyed by m[j] - j), the DuckDB twin by
# gaps-and-islands row_number parity: the same island argument.

BPE_STEPS = 3
#: greedy chosen positions as one filter over the match positions m
#: (no fold, no array grown per match). The matches m[j] with equal
#: m[j] - j form one island of consecutive positions, and greedy takes
#: the even offsets from the island's first match; a match that starts
#: its island (always, unless pair_a = pair_b) is taken without the
#: island search. Its size is the round's per-doc merge count.
BPE_CHOSEN_EXPR = (
    "filter(m, (p, k) -> k = 0 OR m[k - 1] < p - 1 OR "
    "(k + 1 - array_position(transform(m, (x, j) -> x - j), p - k)) % 2 = 0)"
)
#: stream rebuild from the chosen positions: a doc with none keeps t;
#: otherwise i+1 of a chosen i is dropped, a chosen i emits the fused
#: pair and everything else passes
BPE_REBUILD_EXPR = (
    "CASE WHEN size(ch) = 0 THEN t ELSE "
    "transform(filter(sequence(0, cast(size(t) as int) - 1), "
    "i -> NOT array_contains(ch, i - 1)), "
    "i -> IF(array_contains(ch, i), concat(t[i], '_', t[i+1]), t[i])) END"
)


def _q_bpe_merge_loop(spark, sf_dir):
    """One row per merge round: the pair picked, its census count, the
    corpus-wide greedy merge total, and the post-merge corpus token
    total. BPE_STEPS rounds, stream rebuilt between rounds."""
    toks = F.split(F.trim("text"), " ")
    t = (
        documents(spark, sf_dir)
        .select("doc_id", toks.alias("t"))
        .select("doc_id", F.expr("filter(t, x -> x != '')").alias("t"))
    )
    return bpe_merge_loop_frame(t)


def bpe_merge_loop_frame(t, steps_n: int = BPE_STEPS):
    """(doc_id, t token-array) frame -> per-round merge records; see
    _q_bpe_merge_loop. Split out so hand-computed corpora (winning
    pair changing between rounds, fused symbols re-entering the
    census, self-pair runs) are unit-testable off-fixture."""
    from ocr_lib_spark.partitioning import spread_small

    # spread once up front: every round's census explode, HOF merge
    # pass, and rebuild inherit the checkpoint partitioning, and a
    # small single-row-group scan would otherwise run all of them on
    # ONE task per round (no-op at real corpus sizes)
    rounds, _ = _bpe_rounds(spread_small(t), steps_n, checkpoint_matched=True)
    steps = [
        tt.agg(
            F.sum(F.size("ch")).cast("long").alias("n_merges"),
            F.sum(F.size("t") - F.size("ch")).cast("long").alias("n_tokens_after"),
        )
        .crossJoin(F.broadcast(best))
        .select(
            F.lit(step).cast("int").alias("step"),
            "pair_a",
            "pair_b",
            "pair_count",
            "n_merges",
            "n_tokens_after",
        )
        for step, (best, tt) in enumerate(rounds, start=1)
    ]
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def _bpe_rounds(t, steps_n: int, checkpoint_matched: bool = False):
    """The BPE merge rounds over a (doc_id, t token-array, ...) frame,
    written once for bpe_merge_step, bpe_merge_loop and
    bpe_apply_merges. Each round checkpoints the stream (the census and
    the match pass both read it), broadcasts its ``_bpe_pair_argmax``
    pair onto every row, adds the match positions m and the greedy
    chosen positions ch, and rebuilds the stream from ch; columns other
    than t carry through.
    ``checkpoint_matched`` also checkpoints the matched frame, for
    callers that read it twice (per-round stats and the next round's
    stream). Returns
    ([(best, matched frame) per round], final stream)."""
    rounds = []
    for _ in range(steps_n):
        t = t.localCheckpoint(eager=False)
        best = _bpe_pair_argmax(t)
        tt = (
            t.crossJoin(F.broadcast(best))
            .withColumn("m", F.expr(BPE_MATCHES_EXPR))
            .withColumn("ch", F.expr(BPE_CHOSEN_EXPR))
        )
        if checkpoint_matched:
            tt = tt.localCheckpoint(eager=False)
        rounds.append((best, tt))
        carry = [c for c in t.columns if c != "t"]
        t = tt.select(*carry, F.expr(BPE_REBUILD_EXPR).alias("t"))
    return rounds, t


def _bpe_chain_sql() -> str:
    """The unrolled BPE_STEPS-round CTE chain (census -> 3-aggregate
    argmax -> gaps-and-islands chosen positions -> list rebuild per
    round), shared by the loop and apply oracles; ends after the last
    CTE, final SELECT supplied by the caller. Every CTE is declared
    MATERIALIZED: each round reads the previous round's CTEs more than
    once, so DuckDB's inlining would multiply the work with every round
    and the unrolled chain would not finish."""
    parts = [
        """
WITH t0 AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(trim(text), ' '), x -> x <> '') AS t
  FROM documents)"""
    ]
    for k in range(1, BPE_STEPS + 1):
        p = k - 1
        parts.append(f""",
p{k} AS MATERIALIZED (
  SELECT t[i+1] AS a, t[i+2] AS b
  FROM (SELECT t, unnest(range(len(t) - 1)) AS i FROM t{p} WHERE len(t) >= 2)),
c{k} AS MATERIALIZED (SELECT a, b, COUNT(*)::BIGINT AS c FROM p{k} GROUP BY a, b),
cm{k} AS MATERIALIZED (SELECT MAX(c) AS c_max FROM c{k}),
am{k} AS MATERIALIZED (SELECT MIN(a) AS a_min FROM c{k}, cm{k} WHERE c = c_max),
b{k} AS MATERIALIZED (
  SELECT MIN(b) AS pair_b, MIN(a) AS pair_a, MAX(c) AS pair_count
  FROM c{k}, cm{k}, am{k} WHERE c = c_max AND a = a_min),
dm{k} AS MATERIALIZED (
  SELECT doc_id, t,
         list_filter(range(len(t) - 1),
                     i -> t[i+1] = bb.pair_a AND t[i+2] = bb.pair_b) AS m
  FROM t{p}, b{k} bb),
mp{k} AS MATERIALIZED (SELECT doc_id, unnest(m) AS pos FROM dm{k}),
il{k} AS MATERIALIZED (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM mp{k}),
ch{k} AS MATERIALIZED (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY doc_id, grp ORDER BY pos) AS rn
    FROM il{k}) WHERE rn % 2 = 1),
cl{k} AS MATERIALIZED (SELECT doc_id, list(pos ORDER BY pos) AS ch FROM ch{k} GROUP BY doc_id),
t{k} AS MATERIALIZED (
  SELECT dm.doc_id,
         CASE WHEN cl.ch IS NULL THEN dm.t ELSE
           flatten(list_transform(range(len(dm.t)), i ->
             CASE WHEN list_contains(cl.ch, i) THEN [dm.t[i+1] || '_' || dm.t[i+2]]
                  WHEN list_contains(cl.ch, i - 1) THEN []::VARCHAR[]
                  ELSE [dm.t[i+1]] END))
         END AS t
  FROM dm{k} dm LEFT JOIN cl{k} cl USING (doc_id)),
s{k} AS MATERIALIZED (
  SELECT {k}::INT AS step, bb.pair_a, bb.pair_b, bb.pair_count,
         mm.n_merges, nn.n_tokens_after
  FROM b{k} bb,
       (SELECT COALESCE(SUM(len(ch)), 0)::BIGINT AS n_merges FROM cl{k}) mm,
       (SELECT SUM(len(t))::BIGINT AS n_tokens_after FROM t{k}) nn)""")
    return "".join(parts)


def _bpe_loop_oracle() -> str:
    """Per-round merge records off the shared chain."""
    union = "\nUNION ALL\n".join(f"SELECT * FROM s{k}" for k in range(1, BPE_STEPS + 1))
    return _bpe_chain_sql() + "\n" + union + "\n"


def _q_bpe_apply_merges(spark, sf_dir):
    """Apply the BPE_STEPS induced merges to the corpus: one row per
    document with its token budget before/after and the merge count it
    absorbed — the tokenize-with-the-trained-vocab export step
    downstream of bpe_merge_loop. Same plan-side loop (argmax
    broadcasts back as scalars, zero driver collects); the only
    addition is the per-doc carry of the round-0 token count."""
    toks = F.split(F.trim("text"), " ")
    from ocr_lib_spark.partitioning import spread_small

    t = (
        # spread: all BPE_STEPS rounds of HOF merge passes inherit this
        # partitioning (see bpe_merge_loop_frame)
        spread_small(documents(spark, sf_dir))
        .select("doc_id", toks.alias("t"))
        .select("doc_id", F.expr("filter(t, x -> x != '')").alias("t"))
        .withColumn("n0", F.size("t").cast("long"))
    )
    _, t = _bpe_rounds(t, BPE_STEPS)
    return t.select(
        "doc_id",
        F.col("n0").alias("n_tokens_before"),
        F.size("t").cast("long").alias("n_tokens_after"),
        (F.col("n0") - F.size("t")).cast("long").alias("n_merged"),
    )


def _bpe_apply_oracle() -> str:
    """Final-stream lens off the shared chain (the s{k} CTEs go
    unused — CTEs are lazy in DuckDB)."""
    return _bpe_chain_sql() + f"""
SELECT t0.doc_id,
       len(t0.t)::BIGINT AS n_tokens_before,
       len(tn.t)::BIGINT AS n_tokens_after,
       (len(t0.t) - len(tn.t))::BIGINT AS n_merged
FROM t0 JOIN t{BPE_STEPS} tn ON t0.doc_id = tn.doc_id
"""


# --- leakage-safe split: cluster-atomic train/val/test assignment ------------
# The split step that makes near-dup dedup actually protect evals:
# assigning splits by per-doc hash lets two near-duplicate documents
# land in train AND val — memorized-twin leakage. Assign by the hash
# of the doc's near-dup CLUSTER REPRESENTATIVE (the transitive-closure
# min label; singletons represent themselves) and the whole cluster
# moves atomically — no near-dup pair can ever straddle a split
# boundary, by construction.

SPLIT_VAL_PCT = 10
SPLIT_TEST_PCT = 10


def _q_leakage_safe_split(spark, sf_dir):
    """Per-doc split assignment keyed on the near-dup cluster
    representative. Scale shape: the cluster label table is
    O(duplicates) (only docs in a >=2 cluster appear) and joins the doc
    spine on doc_id (uniform); the split rule is a pure codegen map of
    the md5-prefix bucket — no shuffle keyed on the (skewed) cluster
    label ever exists."""
    from ocr_lib_spark.plans.textops import _near_dup_clusters

    lab = _near_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    base = (
        documents(spark, sf_dir)
        .select("doc_id")
        .join(lab, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").cast("long").alias("cluster_rep"),
            F.col("cluster_id").isNotNull().cast("long").alias("in_cluster"),
        )
    )
    bucket = hex_bucket(F.col("cluster_rep").cast("string"), 100)
    return base.select(
        "doc_id",
        "cluster_rep",
        "in_cluster",
        bucket.alias("split_bucket"),
        F.when(bucket < SPLIT_VAL_PCT, F.lit("val"))
        .when(bucket < SPLIT_VAL_PCT + SPLIT_TEST_PCT, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def _leakage_safe_split_oracle() -> str:
    from ocr_lib_spark.plans.textops import _near_dup_verified_oracle

    return f"""
WITH RECURSIVE vp AS ({_near_dup_verified_oracle()}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM vp
  UNION
  SELECT id_b AS s, id_a AS d FROM vp),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
lab AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
base AS (
  SELECT d.doc_id,
         COALESCE(l.cluster_id, d.doc_id)::BIGINT AS cluster_rep,
         (l.cluster_id IS NOT NULL)::BIGINT AS in_cluster
  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id),
b AS (
  SELECT *, (('0x' || substr(md5(cluster_rep::VARCHAR), 1, 15))::BIGINT % 100)::BIGINT
            AS split_bucket
  FROM base)
SELECT doc_id, cluster_rep, in_cluster, split_bucket,
       CASE WHEN split_bucket < {SPLIT_VAL_PCT} THEN 'val'
            WHEN split_bucket < {SPLIT_VAL_PCT + SPLIT_TEST_PCT} THEN 'test'
            ELSE 'train' END AS split
FROM b
"""


# --- overlapping chunking: sliding-window splits for embedding/index prep ----
# The step between cleaning and embedding: long documents split into
# fixed-width token windows with stride overlap (so no boundary loses
# context), each chunk carrying its token-offset provenance. Chunk
# boundaries are CLOSED FORM from the per-doc token count — chunk k
# covers [k*STRIDE, min(k*STRIDE + WIDTH, n)), k in [0, n_chunks) with
# n_chunks = 1 + ceil(max(n - WIDTH, 0) / STRIDE) — so the whole
# operator is one pure-codegen transform + explode: ZERO shuffle, no
# python, provenance exact. Token counts use the engine's standard
# BPE-ish regex (the token_packing twin).

#: production values would be ~512/384; the gated constants sit inside
#: the fixture's token-count range (docs run 0-99 BPE tokens) so the
#: multi-chunk + overlap branches are genuinely exercised at every sf
#: rather than every doc degenerating to one chunk
CHUNK_WIDTH = 40
CHUNK_STRIDE = 30  # 25% overlap


def _q_chunk_overlap(spark, sf_dir):
    """One row per (doc, chunk): token-offset window with stride
    overlap. Empty docs emit a single empty chunk row (provenance for
    every doc — the null-text contract)."""
    from ocr_lib_spark.functions.text import bpe_token_count

    W, S = CHUNK_WIDTH, CHUNK_STRIDE
    d = documents(spark, sf_dir).select(
        "doc_id", bpe_token_count("text").cast("long").alias("n_tokens")
    )
    # Integer-exact ceiling (ADVICE r6): CEIL(x / S) was the contract's
    # only float division, and DuckDB's `/` floors or not depending on
    # its integer_division setting (which also changed across
    # versions) — with integer division active the quotient floors
    # BEFORE CEIL and the oracle under-counts chunks. (a + S - 1) DIV S
    # is exact on both engines with no settings dependence. DIV is
    # fully parenthesized (it binds left-assoc with *).
    n_chunks = F.expr(
        f"CAST(1 + ((GREATEST(n_tokens - {W}, 0) + {S} - 1) DIV {S}) AS BIGINT)"
    )
    chunks = F.expr(
        f"transform(sequence(0, cast(n_chunks as int) - 1), "
        f"k -> struct(CAST(k AS BIGINT) AS chunk_idx, "
        f"CAST(k * {S} AS BIGINT) AS start_tok, "
        f"LEAST(CAST(k * {S} + {W} AS BIGINT), n_tokens) AS end_tok))"
    )
    return (
        d.withColumn("n_chunks", n_chunks)
        .select("doc_id", "n_tokens", "n_chunks", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            "n_tokens",
            "n_chunks",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.start_tok").alias("start_tok"),
            F.col("c.end_tok").alias("end_tok"),
        )
    )


def _chunk_overlap_oracle() -> str:
    from ocr_lib_spark.functions.text import BPE_ISH_PATTERN

    bpe_sql = BPE_ISH_PATTERN.replace("'", "''")
    W, S = CHUNK_WIDTH, CHUNK_STRIDE
    return f"""
WITH d AS (
  SELECT doc_id, len(regexp_extract_all(text, '{bpe_sql}'))::BIGINT AS n_tokens
  FROM documents),
n AS (
  SELECT doc_id, n_tokens,
         (1 + ((GREATEST(n_tokens - {W}, 0) + {S} - 1) // {S}))::BIGINT AS n_chunks
  FROM d)
SELECT doc_id, n_tokens, n_chunks,
       k::BIGINT AS chunk_idx,
       (k * {S})::BIGINT AS start_tok,
       LEAST(k * {S} + {W}, n_tokens)::BIGINT AS end_tok
FROM n, LATERAL unnest(range(n_chunks)) AS u(k)
"""


# --- training corpus export: the composed end-to-end of the round-6 suite ----
# What the curation layer ships to the trainer, as ONE plan built from
# the independently-gated operators: keep only documents the funnel
# passes clean (stage = kept: not eval-holdout, not a duplicate,
# quality-passing, uncontaminated), restrict to the leakage-safe TRAIN
# split (cluster-atomic — no near-dup of a val/test doc can leak in),
# and export the survivors as overlapping chunks with token-offset
# provenance. The conv_training_mix convention: every stage reuses the
# gated operator verbatim; the composition is two selective doc_id
# semi-joins (uniform key), so the plan inherits each stage's scale
# arguments unchanged.


def _q_training_corpus_export(spark, sf_dir):
    """Funnel-kept ∩ train-split documents as overlapping chunks."""
    kept = (
        _funnel_frame(spark, sf_dir)
        .where(F.col("stage") == "kept")
        .select("doc_id")
    )
    train = (
        _q_leakage_safe_split(spark, sf_dir)
        .where(F.col("split") == "train")
        .select("doc_id")
    )
    return (
        _q_chunk_overlap(spark, sf_dir)
        .join(kept, "doc_id", "left_semi")
        .join(train, "doc_id", "left_semi")
    )


def _training_corpus_export_oracle() -> str:
    from ocr_lib_spark.functions.text import BPE_ISH_PATTERN
    from ocr_lib_spark.plans.textops import _near_dup_verified_oracle

    bpe_sql = BPE_ISH_PATTERN.replace("'", "''")
    W, S = CHUNK_WIDTH, CHUNK_STRIDE
    funnel = _funnel_oracle_ctes().replace("WITH d AS", "WITH RECURSIVE d AS", 1)
    return (
        funnel
        + f""",
vp AS ({_near_dup_verified_oracle()}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM vp
  UNION
  SELECT id_b AS s, id_a AS d FROM vp),
nodes AS (SELECT DISTINCT s AS id FROM edges),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
lab AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
sb AS (
  SELECT dd.doc_id,
         (('0x' || substr(md5(COALESCE(l.cluster_id, dd.doc_id)::VARCHAR), 1, 15))::BIGINT
          % 100) AS split_bucket
  FROM documents dd LEFT JOIN lab l ON dd.doc_id = l.doc_id),
elig AS (
  SELECT f.doc_id FROM funnel f JOIN sb ON f.doc_id = sb.doc_id
  WHERE f.stage = 'kept'
    AND sb.split_bucket >= {SPLIT_VAL_PCT + SPLIT_TEST_PCT}),
cd AS (
  SELECT e.doc_id,
         len(regexp_extract_all(dd.text, '{bpe_sql}'))::BIGINT AS n_tokens
  FROM elig e JOIN documents dd ON e.doc_id = dd.doc_id),
cn AS (
  SELECT doc_id, n_tokens,
         (1 + ((GREATEST(n_tokens - {W}, 0) + {S} - 1) // {S}))::BIGINT AS n_chunks
  FROM cd)
SELECT doc_id, n_tokens, n_chunks,
       k::BIGINT AS chunk_idx,
       (k * {S})::BIGINT AS start_tok,
       LEAST(k * {S} + {W}, n_tokens)::BIGINT AS end_tok
FROM cn, LATERAL unnest(range(n_chunks)) AS u(k)
"""
    )


# --- URL canonicalization + url-level dedup (VERDICT r7 item 5) --------------
# The pre-content dedup tier crawl pipelines run FIRST: the same page
# is fetched under scheme/host case variants, explicit default ports,
# trailing slashes, permuted query-param order, and per-fetch tracking
# params (utm_*, fbclid, gclid) — canonicalize the URL, keep the first
# fetch per canonical form, and report per-host collapse rates. The
# reference analog is the normalize-before-compare discipline of its
# matching pipeline (bring-to-zero-coordinates, core.clj:999-1018:
# translate to a canonical origin before equality tests).
#
# Fixture URLs (nav/footer hrefs) are path-only and carry none of the
# canonicalization axes, so the query derives a hostile URL frame in
# closed form from doc_id (the round-6 DERIVED-FIXTURE convention, PII
# precedent): canonical identity = doc_id % 150 (host shard doc_id%6,
# path doc_id%50, id param doc_id%25) while every RAW-variant axis is
# keyed off the replica index g = floor(doc_id / 150) — scheme case
# g%2, host case g%3, explicit :443 g%4, trailing slash g%5, param
# order g%2, tracking params g%6<2 — so ids congruent mod 150 are the
# SAME page under different raw spellings and the canonicalizer must
# collapse them across every axis at once.
#
# ONE canonicalization template (canonical_url_sql) is shared by the
# Spark side and the DuckDB oracle — only list-function NAMES differ
# (split/filter/array_sort/array_join vs string_split/list_filter/
# list_sort/array_to_string); the regexes, lambda bodies, and CASE
# logic are literally the same string. Tracking-prefix tests use
# substring(x,1,N) = '...' (identical in both engines) instead of
# LIKE 'utm_%' where `_` is a wildcard.

#: canonical-group modulus and the per-axis selectors (doc string above)
URL_GROUP_MOD = 150

_URL_LIST_FNS_SPARK = ("split", "filter", "array_sort", "array_join")
_URL_LIST_FNS_DUCK = ("string_split", "list_filter", "list_sort", "array_to_string")


def derived_url_sql(id_expr: str = "doc_id") -> str:
    """Closed-form raw URL per doc — engine-neutral SQL (``||``, CASE,
    CAST, upper, replace, floor are identical in Spark SQL and DuckDB).
    floor(x/150.0) is exact for fixture-scale ids; production derives
    no URLs (it reads them from a crawl frontier column)."""
    i = id_expr
    g = f"CAST(FLOOR({i} / {URL_GROUP_MOD}.0) AS BIGINT)"
    host = f"'shard' || CAST({i} % 6 AS STRING) || '.example.com'"
    return (
        f"CASE WHEN {g} % 2 = 0 THEN 'https' ELSE 'HTTPS' END || '://' || "
        f"CASE WHEN {g} % 3 = 1 THEN upper({host}) "
        f"WHEN {g} % 3 = 2 THEN replace({host}, 'shard', 'Shard') "
        f"ELSE {host} END || "
        f"CASE WHEN {g} % 4 = 1 THEN ':443' ELSE '' END || "
        f"'/p/' || CAST({i} % 50 AS STRING) || "
        f"CASE WHEN {g} % 5 = 2 THEN '/' ELSE '' END || '?' || "
        f"CASE WHEN {g} % 2 = 0 "
        f"THEN 'id=' || CAST({i} % 25 AS STRING) || '&ref=home' "
        f"ELSE 'ref=home&id=' || CAST({i} % 25 AS STRING) END || "
        f"CASE WHEN {g} % 6 < 2 "
        f"THEN '&utm_source=feed&fbclid=f' || CAST({i} AS STRING) ELSE '' END"
    )


def canonical_url_sql(u: str, list_fns: tuple[str, str, str, str]) -> str:
    """The shared canonicalization expression over a URL column ``u``:
    lower-case scheme and host, strip the scheme's default port
    (https:443 / http:80), strip trailing slashes (bare host -> '/'),
    drop tracking params (utm_* / fbclid / gclid), sort the surviving
    query params, and reassemble. ``list_fns`` supplies the engine's
    (split, filter, sort, join) names; everything else — regexes,
    lambda bodies, CASE logic — is one string for both engines. All
    regexes are single-match anchored so DuckDB's replace-first and
    Spark's replace-all semantics coincide."""
    split, lfilter, lsort, ljoin = list_fns
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z]+)://', 1))"
    hostport = f"lower(regexp_extract({u}, '^[A-Za-z]+://([^/?#]+)', 1))"
    host = (
        f"CASE WHEN {scheme} = 'https' THEN regexp_replace({hostport}, ':443$', '') "
        f"WHEN {scheme} = 'http' THEN regexp_replace({hostport}, ':80$', '') "
        f"ELSE {hostport} END"
    )
    rawpath = f"regexp_extract({u}, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)"
    path = (
        f"CASE WHEN regexp_replace({rawpath}, '/+$', '') = '' THEN '/' "
        f"ELSE regexp_replace({rawpath}, '/+$', '') END"
    )
    q = f"regexp_extract({u}, '[?]([^#]*)', 1)"
    # COALESCE: DuckDB's array_to_string returns NULL on an empty list
    # where Spark's array_join returns '' — pin the shared contract to ''
    kept = (
        f"COALESCE({ljoin}({lsort}({lfilter}({split}({q}, '&'), "
        "x -> x <> '' AND substring(x, 1, 4) <> 'utm_' "
        "AND substring(x, 1, 7) <> 'fbclid=' "
        "AND substring(x, 1, 6) <> 'gclid=')), '&'), '')"
    )
    return (
        f"{scheme} || '://' || {host} || {path} || "
        f"CASE WHEN {kept} = '' THEN '' ELSE '?' || {kept} END"
    )


def _q_url_dedup(spark, sf_dir):
    """URL-level keep-first dedup + per-host collapse census.

    Scale shape: raw/canonical URLs are pure-map columns (zero UDF,
    zero shuffle); then the two-stage distinct discipline — lvl1
    groupBy (host, canonical, raw) -> lvl2 (host, canonical) -> lvl3
    host — every stage map-side combinable, no windows, no joins; a
    hot canonical URL (the boilerplate-link analog) partial-aggregates
    before its shuffle. Output is bounded by the host key space.
    sum_keep_ids pins the keep-first rule (MIN doc_id per canonical)
    in the external hash."""
    d = documents(spark, sf_dir).select(
        "doc_id", F.expr(derived_url_sql("doc_id")).alias("raw_url")
    )
    d = d.select(
        "doc_id",
        "raw_url",
        F.expr(canonical_url_sql("raw_url", _URL_LIST_FNS_SPARK)).alias("canonical"),
    )
    host = F.regexp_extract("canonical", "^https?://([^/?#]+)", 1)
    lvl1 = d.groupBy(host.alias("host"), "canonical", "raw_url").agg(
        F.count("*").alias("c"), F.min("doc_id").alias("m")
    )
    lvl2 = lvl1.groupBy("host", "canonical").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_raw"),
        F.min("m").alias("keep_id"),
    )
    return lvl2.groupBy("host").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_raw").cast("long").alias("n_raw_urls"),
        F.count("*").cast("long").alias("n_canonical_urls"),
        (F.sum("n_docs") - F.count("*")).cast("long").alias("dup_docs"),
        F.expr("(10000 * (sum(n_raw) - count(*))) DIV sum(n_raw)")
        .cast("long")
        .alias("collapsed_bp"),
        F.sum("keep_id").cast("long").alias("sum_keep_ids"),
    )


def _url_dedup_oracle() -> str:
    canon = canonical_url_sql("raw_url", _URL_LIST_FNS_DUCK)
    return f"""
WITH d AS (
  SELECT doc_id, {derived_url_sql("doc_id")} AS raw_url FROM documents),
c AS (
  SELECT doc_id, raw_url, {canon} AS canonical FROM d),
lvl1 AS (
  SELECT regexp_extract(canonical, '^https?://([^/?#]+)', 1) AS host,
         canonical, raw_url, COUNT(*) AS cc, MIN(doc_id) AS m
  FROM c GROUP BY 1, 2, 3),
lvl2 AS (
  SELECT host, canonical, SUM(cc) AS n_docs, COUNT(*) AS n_raw, MIN(m) AS keep_id
  FROM lvl1 GROUP BY host, canonical)
SELECT host,
       SUM(n_docs)::BIGINT AS n_docs,
       SUM(n_raw)::BIGINT AS n_raw_urls,
       COUNT(*)::BIGINT AS n_canonical_urls,
       (SUM(n_docs) - COUNT(*))::BIGINT AS dup_docs,
       ((10000 * (SUM(n_raw) - COUNT(*))) // SUM(n_raw))::BIGINT AS collapsed_bp,
       SUM(keep_id)::BIGINT AS sum_keep_ids
FROM lvl2 GROUP BY host
"""


# --- linear quality-classifier scoring tier (VERDICT r7 item 6) --------------
# A fastText-style (Joulin et al. 2016, public) hashed-bigram LINEAR
# scorer: a small TAUGHT set of labeled documents trains per-bucket
# integer log-odds weights; the weight table (<= QS_BUCKETS rows)
# broadcasts and every corpus document gets a fixed-point logit and a
# keep/drop decision. This is the corpus-scale analog of the
# reference's taught-prototype classifier (`nauci-slova` bulk-load ->
# broadcast -> nearest-prototype match, core_helper.clj:1833-1991 +
# core.clj:957-997): labels live in DATA (a taught table), never in
# code, and scoring is a broadcast join against the taught model.
#
# Teaching is derived in closed form (round-6 DERIVED-FIXTURE
# convention): docs with doc_id % QS_TEACH_MOD == 0 are the labeled
# seed; the bad class is the funnel's boilerplate class (doc_id %
# FUNNEL_BOILER_MOD == FUNNEL_BOILER_RES, text substituted with
# FUNNEL_BOILER_TEXT), so the classifier must generalize: UNLABELED
# boilerplate docs hash into exactly the bad-taught buckets and score
# negative. Weights are integer log2 bits (length(bin(x))-1, the
# round-6 cross-engine-exact idiom) of the Laplace-smoothed odds
# (g+1)(TB+B) / (b+1)(TG+B); buckets unseen in teaching are neutral
# (weight 0 via left join). Tokenization follows the unified \\s+
# whitespace contract.

#: hashed-bigram bucket count (weight table broadcasts at any corpus size)
QS_BUCKETS = 1024
#: taught (labeled) docs: doc_id % QS_TEACH_MOD == 0
QS_TEACH_MOD = 5


def _q_quality_score(spark, sf_dir):
    """Per-doc quality logit + decision from the taught bigram model.

    Scale shape: ONE documents scan -> (doc, bucket) counts (map-side
    combinable, doc-keyed shuffle), lazily checkpointed because it
    feeds BOTH the teaching aggregate and the scoring join (the
    exchange-reuse convention). The taught model is a <= QS_BUCKETS-row
    combinable aggregate over the seed subset that BROADCASTS back —
    the skew-prone bigram-frequency join never materializes as a
    shuffle; totals are a 1-row broadcast crossJoin. Zero windows,
    zero UDFs; zero-bigram docs surface with zeros via the left join
    from the doc scan and are never kept."""
    B = QS_BUCKETS
    d = documents(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % FUNNEL_BOILER_MOD == FUNNEL_BOILER_RES,
            F.lit(FUNNEL_BOILER_TEXT),
        )
        .otherwise(F.coalesce("text", F.lit("")))
        .alias("txt"),
    )
    toks = F.filter(F.split(F.trim("txt"), r"\s+"), lambda x: x != "")
    bigrams = F.expr(
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(0, cast(size(t) as int) - 2), "
        "i -> concat(t[i], ' ', t[i+1])) "
        "ELSE cast(array() as array<string>) END"
    )
    pd_counts = (
        d.select("doc_id", toks.alias("t"))
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .select(
            "doc_id",
            hex_bucket("bg", B).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    is_bad = (
        (F.col("doc_id") % FUNNEL_BOILER_MOD == FUNNEL_BOILER_RES)
        .cast("long")
        .alias("is_bad")
    )
    occ = (
        pd_counts.where(F.col("doc_id") % QS_TEACH_MOD == 0)
        .select("b", "c", is_bad)
        .groupBy("b")
        .agg(
            F.sum(F.col("c") * (1 - F.col("is_bad"))).cast("long").alias("g_c"),
            F.sum(F.col("c") * F.col("is_bad")).cast("long").alias("b_c"),
        )
    )
    tot = occ.agg(
        F.sum("g_c").cast("long").alias("t_g"), F.sum("b_c").cast("long").alias("t_b")
    )
    # fully parenthesized DECIMAL(38,0) products (the DSIR precedent:
    # DIV and * share precedence left-assoc in Spark SQL)
    num = f"(CAST(g_c + 1 AS DECIMAL(38,0)) * (t_b + {B}))"
    den = f"(CAST(b_c + 1 AS DECIMAL(38,0)) * (t_g + {B}))"
    model = occ.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"CASE WHEN {num} >= {den}"
            f" THEN CAST(length(bin(CAST({num} DIV {den} AS BIGINT))) - 1 AS BIGINT)"
            f" ELSE -CAST(length(bin(CAST({den} DIV {num} AS BIGINT))) - 1 AS BIGINT)"
            " END"
        ).alias("w"),
    )
    per = (
        pd_counts.join(F.broadcast(model), "b", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.coalesce(F.col("w"), F.lit(0)))
            .cast("long")
            .alias("logit_bits"),
        )
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("logit_bits", F.lit(0)).cast("long").alias("logit_bits"),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) > 0,
                F.expr(f"logit_bits * {_PPM} DIV n_bigrams"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("score_ppm"),
            F.when(
                (F.coalesce("n_bigrams", F.lit(0)) > 0) & (F.col("logit_bits") >= 0),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("pred_good"),
            (F.col("doc_id") % QS_TEACH_MOD == 0).cast("long").alias("is_taught"),
        )
    )


# shared CTE chain (doc frame -> taught model -> per-doc logit); both
# the quality_score oracle and the score_curriculum oracle compose it,
# so the scorer's cross-engine contract is defined exactly once
_QS_CTES = f"""d AS (
  SELECT doc_id,
         CASE WHEN doc_id % {FUNNEL_BOILER_MOD} = {FUNNEL_BOILER_RES}
                THEN '{FUNNEL_BOILER_TEXT_SQL}'
              ELSE COALESCE(text, '') END AS txt
  FROM documents),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(txt), '\\s+'), x -> x <> '') AS t
  FROM d),
bg AS (
  SELECT doc_id, t[k + 1] || ' ' || t[k + 2] AS g
  FROM tk, LATERAL unnest(range(GREATEST(len(t) - 1, 0))) AS u(k)),
pd AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 15))::BIGINT % {QS_BUCKETS} AS b,
         COUNT(*)::BIGINT AS c
  FROM bg GROUP BY 1, 2),
occ AS (
  SELECT b,
         SUM(c * CASE WHEN doc_id % {FUNNEL_BOILER_MOD} = {FUNNEL_BOILER_RES}
                      THEN 0 ELSE 1 END)::BIGINT AS g_c,
         SUM(c * CASE WHEN doc_id % {FUNNEL_BOILER_MOD} = {FUNNEL_BOILER_RES}
                      THEN 1 ELSE 0 END)::BIGINT AS b_c
  FROM pd WHERE doc_id % {QS_TEACH_MOD} = 0 GROUP BY b),
tot AS (SELECT SUM(g_c)::BIGINT AS t_g, SUM(b_c)::BIGINT AS t_b FROM occ),
model AS (
  SELECT b,
    CASE WHEN (g_c + 1)::HUGEINT * (t_b + {QS_BUCKETS})
           >= (b_c + 1)::HUGEINT * (t_g + {QS_BUCKETS})
      THEN (length(bin(((g_c + 1)::HUGEINT * (t_b + {QS_BUCKETS})
            // ((b_c + 1)::HUGEINT * (t_g + {QS_BUCKETS})))::BIGINT)) - 1)::BIGINT
      ELSE -(length(bin(((b_c + 1)::HUGEINT * (t_g + {QS_BUCKETS})
            // ((g_c + 1)::HUGEINT * (t_b + {QS_BUCKETS})))::BIGINT)) - 1)::BIGINT
    END AS w
  FROM occ, tot),
per AS (
  SELECT pd.doc_id, SUM(pd.c)::BIGINT AS n_bigrams,
         SUM(pd.c * COALESCE(m.w, 0))::BIGINT AS logit_bits
  FROM pd LEFT JOIN model m USING (b) GROUP BY pd.doc_id)"""


_O_QUALITY_SCORE = f"""
WITH {_QS_CTES}
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0)::BIGINT AS n_bigrams,
       COALESCE(p.logit_bits, 0)::BIGINT AS logit_bits,
       CASE WHEN COALESCE(p.n_bigrams, 0) > 0
            THEN (p.logit_bits * {_PPM} // p.n_bigrams)::BIGINT
            ELSE 0 END AS score_ppm,
       CASE WHEN COALESCE(p.n_bigrams, 0) > 0 AND p.logit_bits >= 0
            THEN 1 ELSE 0 END::BIGINT AS pred_good,
       CASE WHEN d.doc_id % {QS_TEACH_MOD} = 0 THEN 1 ELSE 0 END::BIGINT AS is_taught
FROM d LEFT JOIN per p USING (doc_id)
"""


#: curriculum resolution: learned score quantized to millibits per
#: bigram, so the histogram domain is bounded (|score_ppm| <= ~127e6
#: by the bits range -> <= ~254k distinct quantized values REGARDLESS
#: of corpus size) and the single-task cumulative walk stays
#: bounded-by-construction, the same argument as quality_curriculum
QS_CURR_QUANT = 1000


def _q_score_curriculum(spark, sf_dir):
    """Curriculum deciles keyed off the LEARNED quality score — the
    composition VERDICT r7 item 6 asked for: quality_curriculum's
    exact-order-statistic decile machinery consuming quality_score's
    fixed-point logit instead of the derived lexical-diversity bits.

    Scale shape: the scorer's shape (see _q_quality_score) + the
    bounded-domain histogram walk (see _q_quality_curriculum); the
    9 cuts collapse to one broadcast array row; bucketing is a pure
    map. DIV truncation toward zero is identical in both engines."""
    d = (
        _q_quality_score(spark, sf_dir)
        .select("doc_id", F.expr(f"score_ppm DIV {QS_CURR_QUANT}").alias("s"))
        .localCheckpoint(eager=False)
    )
    hist = d.groupBy("s").agg(F.count("*").alias("c"))
    from pyspark.sql import Window

    cum = hist.select(
        "s", F.sum("c").over(Window.orderBy("s")).alias("cum")
    ).crossJoin(F.broadcast(hist.agg(F.sum("c").alias("n"))))
    ranks = spark.sql(f"SELECT explode(sequence(1, {_N_BUCKETS - 1})) AS k")
    cuts = (
        cum.crossJoin(F.broadcast(ranks))
        .where(F.col("cum") >= F.expr(f"(n - 1) * k DIV {_N_BUCKETS} + 1"))
        .groupBy("k")
        .agg(F.min("s").alias("cut"))
        .agg(F.sort_array(F.collect_list("cut")).alias("cuts"))
    )
    bucketed = d.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "s",
        F.expr("size(filter(cuts, c -> c <= s))").cast("int").alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("s").cast("long").alias("min_score_mb"),
        F.max("s").cast("long").alias("max_score_mb"),
    )


_O_SCORE_CURRICULUM = f"""
WITH {_QS_CTES},
sc AS (
  SELECT d.doc_id,
         (CASE WHEN COALESCE(p.n_bigrams, 0) > 0
               THEN (p.logit_bits * {_PPM} // p.n_bigrams)
               ELSE 0 END // {QS_CURR_QUANT})::BIGINT AS s
  FROM d LEFT JOIN per p USING (doc_id)),
hist AS (SELECT s, COUNT(*) AS c FROM sc GROUP BY s),
cum AS (
  SELECT s, SUM(c) OVER (ORDER BY s) AS cum, SUM(c) OVER () AS n
  FROM hist),
cuts AS (
  SELECT k, MIN(s) AS cut
  FROM cum CROSS JOIN range(1, {_N_BUCKETS}) AS r(k)
  WHERE cum >= (n - 1) * k // {_N_BUCKETS} + 1
  GROUP BY k),
bucketed AS (
  SELECT doc_id, s,
         (SELECT COUNT(*) FROM cuts WHERE cut <= sc.s)::INT AS bucket
  FROM sc)
SELECT bucket, COUNT(*)::BIGINT AS n_docs,
       MIN(s)::BIGINT AS min_score_mb,
       MAX(s)::BIGINT AS max_score_mb
FROM bucketed GROUP BY bucket
"""


QUERIES = {
    "ngram_novelty": QueryDef(
        _q_ngram_novelty,
        _O_NGRAM_NOVELTY,
        "per-doc word-8-gram novelty vs corpus first-occurrence (crawl-snapshot dedup signal)",
    ),
    "mix_rebalance": QueryDef(
        _q_mix_rebalance,
        _O_MIX_REBALANCE,
        "per-source uniform-mix sampling rates + deterministic hash-rule application",
    ),
    "quality_curriculum": QueryDef(
        _q_quality_curriculum,
        _O_QUALITY_CURRICULUM,
        "exact quality-decile census via histogram order statistics (no global sort)",
    ),
    "temperature_mix": QueryDef(
        _q_temperature_mix,
        _O_TEMPERATURE_MIX,
        "alpha=0.5 temperature source sampling via exact integer sqrt + hash keep rule",
    ),
    "dedup_keep_best": QueryDef(
        _q_dedup_keep_best,
        _dedup_keep_best_oracle(),
        "near-dup cluster collapse with keep-highest-quality rule (production keep rule)",
    ),
    "incremental_dedup": QueryDef(
        _q_incremental_dedup,
        _incremental_dedup_oracle(),
        "new-batch x old-corpus incremental dedup: digest tier + asymmetric LSH tier",
    ),
    "segment_scrub": QueryDef(
        _q_segment_scrub,
        _segment_scrub_oracle(),
        "C4-style segment scrub with document reconstruction (keep first occurrence corpus-wide)",
    ),
    "substring_scrub": QueryDef(
        _q_substring_scrub,
        _substring_scrub_oracle(),
        "exact UNALIGNED repeated-substring removal at K-token granularity (Lee et al. 2022 class)",
    ),
    "shard_manifest": QueryDef(
        _q_shard_manifest,
        _shard_manifest_oracle(),
        "output-shard manifest: census + order-independent XOR content checksum per shard",
    ),
    "compaction_plan": QueryDef(
        _q_compaction_plan,
        _compaction_plan_oracle(),
        "small-shard compaction plan: cumulative-quota merge groups over the shard census",
    ),
    "stream_incremental_dedup": QueryDef(
        _q_stream_incremental_dedup,
        _stream_incremental_dedup_oracle(),
        "stream-static twin of incremental dedup's exact tier (stateless per-micro-batch probe)",
    ),
    "semantic_decontaminate": QueryDef(
        _q_semantic_decontaminate,
        _semantic_decontaminate_oracle(),
        "embedding-cosine eval decontamination: corpus x holdout sign-LSH join + exact verify",
    ),
    "dsir_select": QueryDef(
        _q_dsir_select,
        _O_DSIR_SELECT,
        "DSIR importance selection: hashed-unigram target-vs-raw LR score, above-corpus-mean keep",
    ),
    "curation_funnel": QueryDef(
        _q_curation_funnel,
        _curation_funnel_oracle(),
        "per-doc drop attribution: first failing stage of the cleaning gauntlet",
    ),
    "curation_funnel_census": QueryDef(
        _q_curation_funnel_census,
        _curation_funnel_census_oracle(),
        "per-stage funnel census: docs/words dropped at each cleaning gate",
    ),
    "curation_funnel_by_source": QueryDef(
        _q_curation_funnel_by_source,
        _curation_funnel_by_source_oracle(),
        "mixture health: funnel stage census + keep rate per source corpus",
    ),
    "normalized_dedup": QueryDef(
        _q_normalized_dedup,
        _O_NORMALIZED_DEDUP,
        "near-exact dedup tier: normalized-text digest census with raw-variant counts",
    ),
    "leakage_safe_split": QueryDef(
        _q_leakage_safe_split,
        _leakage_safe_split_oracle(),
        "cluster-atomic train/val/test split: near-dups never straddle a boundary",
    ),
    "bpe_merge_step": QueryDef(
        _q_bpe_merge_step,
        _O_BPE_MERGE_STEP,
        "BPE vocab-induction step: corpus argmax adjacent pair + greedy per-doc merge counts",
    ),
    "bpe_merge_loop": QueryDef(
        _q_bpe_merge_loop,
        _bpe_loop_oracle(),
        "multi-round BPE vocab induction with stream rebuild (plan-side argmax, zero collects)",
    ),
    "bpe_apply_merges": QueryDef(
        _q_bpe_apply_merges,
        _bpe_apply_oracle(),
        "tokenize with the induced merges: per-doc token budget before/after + merges absorbed",
    ),
    "chunk_overlap": QueryDef(
        _q_chunk_overlap,
        _chunk_overlap_oracle(),
        "sliding-window chunking with stride overlap: token-offset provenance per chunk",
    ),
    "training_corpus_export": QueryDef(
        _q_training_corpus_export,
        _training_corpus_export_oracle(),
        "composed export: funnel-kept, leakage-safe-train documents as overlapping chunks",
    ),
    "url_dedup": QueryDef(
        _q_url_dedup,
        _url_dedup_oracle(),
        "URL canonicalization + keep-first dedup: per-host collapse census (pre-content tier)",
    ),
    "quality_score": QueryDef(
        _q_quality_score,
        _O_QUALITY_SCORE,
        "taught hashed-bigram linear quality scorer: broadcast weight table, integer logits",
    ),
    "score_curriculum": QueryDef(
        _q_score_curriculum,
        _O_SCORE_CURRICULUM,
        "curriculum deciles keyed off the LEARNED quality score (composition of the two tiers)",
    ),
}
