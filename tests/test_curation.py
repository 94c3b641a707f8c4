"""Semantic invariants for the round-6 curation suite
(plans/curation.py + the conversation-level decontamination gate).

Oracle equality for every query is driver-gated (test_driver_contract /
CORRECTNESS_r*); these tests pin the SEMANTICS the oracle equality
alone can't distinguish — conservation laws, keep-rule membership,
split hygiene — on the sf0.001 tables.
"""

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from ocr_lib_spark.plans import load

    return load(spark, SF, "documents")


def test_ngram_novelty_conserves_first_occurrences(spark, docs):
    from ocr_lib_spark.plans.curation import NOVELTY_K, _q_ngram_novelty

    out = _q_ngram_novelty(spark, SF)
    rows = out.collect()
    assert len(rows) == docs.count()  # every doc surfaces, even short ones
    for r in rows:
        assert 0 <= r.n_first_here <= r.n_grams_distinct
        if r.n_grams_distinct:
            assert r.novelty_ppm == r.n_first_here * 1_000_000 // r.n_grams_distinct
        else:
            assert r.novelty_ppm == 0
    # conservation: every distinct gram in the corpus is "first" exactly once
    toks = F.split(F.trim("text"), " ")
    grams = F.expr(
        f"CASE WHEN size(t) >= {NOVELTY_K} THEN "
        f"transform(sequence(0, cast(size(t) as int) - {NOVELTY_K}), "
        f"i -> concat_ws(' ', slice(t, i + 1, {NOVELTY_K}))) "
        f"ELSE cast(array() as array<string>) END"
    )
    n_corpus_grams = (
        docs.select(toks.alias("t"))
        .select(F.explode(grams).alias("g"))
        .select("g")
        .distinct()
        .count()
    )
    assert sum(r.n_first_here for r in rows) == n_corpus_grams
    # docs shorter than K tokens report zeros, not nulls
    short = [r for r in rows if r.n_grams_distinct == 0]
    assert all(r.n_first_here == 0 and r.novelty_ppm == 0 for r in short)


def test_mix_rebalance_keeps_all_of_smallest_source(spark):
    from ocr_lib_spark.plans.curation import _q_mix_rebalance

    rows = _q_mix_rebalance(spark, SF).collect()
    keep_n = min(r.n_docs for r in rows)
    for r in rows:
        assert r.keep_n == keep_n
        assert 0 < r.rate_ppm <= 1_000_000
        assert 0 <= r.n_kept <= r.n_docs
        if r.n_docs == keep_n:  # the binding source is kept wholesale
            assert r.rate_ppm == 1_000_000 and r.n_kept == r.n_docs


def test_quality_curriculum_buckets_partition_the_corpus(spark, docs):
    from ocr_lib_spark.plans.curation import _q_quality_curriculum

    rows = sorted(_q_quality_curriculum(spark, SF).collect(), key=lambda r: r.bucket)
    assert sum(r.n_docs for r in rows) == docs.count()
    assert all(0 <= r.bucket <= 9 for r in rows)
    assert len(rows) >= 2  # the synthetic corpus is not single-score
    for r in rows:
        assert r.min_score <= r.max_score
    for lo, hi in zip(rows, rows[1:]):  # score ranges are disjoint, ordered
        assert lo.max_score < hi.min_score


def test_conv_decontaminate_excludes_holdout_and_reports_hits(spark):
    from ocr_lib_spark.plans.extraction import _q_conv_decontaminate
    from ocr_lib_spark.plans.textops import DECON_HOLDOUT_MOD

    rows = _q_conv_decontaminate(spark, SF).collect()
    assert rows  # the synthetic corpus does leak grams across convs
    for r in rows:
        assert int(r.conv_id[5:13]) % DECON_HOLDOUT_MOD != 0
        assert r.n_hit_grams >= 1


def _plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _n_nodes(plan: str, op: str) -> int:
    """Count physical-plan nodes by their detail header '(N) <op>' —
    the tree rendering repeats each node, the detail section lists it
    exactly once."""
    import re

    return len(re.findall(rf"^\(\d+\) {re.escape(op)}\s*$", plan, re.M))


def test_curation_plan_shapes_hold(spark):
    """Pin the physical-plan properties the scale notes claim: no
    corpus-partitioned Window anywhere in the suite (the one Window —
    quality_curriculum's cumulative walk — runs over the ppm-score
    HISTOGRAM, bounded by domain size), and checkpoint reuse counts
    that prove the expensive upstream (gram pairs / LSH bands)
    materializes once instead of once per consumer branch."""
    from ocr_lib_spark.plans import curation

    p = _plan(spark, curation._q_ngram_novelty(spark, SF))
    assert "Window" not in p
    assert _n_nodes(p, "Scan ExistingRDD") == 2  # pairs: min-owner agg + join back

    p = _plan(spark, curation._q_quality_curriculum(spark, SF))
    assert _n_nodes(p, "Window") == 1  # the domain-bounded histogram walk only

    p = _plan(spark, curation._q_incremental_dedup(spark, SF))
    assert "Window" not in p
    assert _n_nodes(p, "Scan ExistingRDD") == 3  # bands: old census, old probe, new probe

    for q in (curation._q_mix_rebalance, curation._q_temperature_mix,
              curation._q_segment_scrub, curation._q_dedup_keep_best):
        assert "Window" not in _plan(spark, q(spark, SF))


def test_exact_isqrt_matches_math_isqrt_on_adversarial_values(spark):
    from ocr_lib_spark.plans.curation import exact_isqrt

    xs = [0, 1, 2, 3, 4, 8, 9, 10, 999999, 1000000, 10**12]
    for s in (10**6, 94906265, 2**26 - 1):  # incl. isqrt(2^53) boundary zone
        xs += [s * s - 1, s * s, s * s + 1]
    xs += [2**52, 2**53 - 1]
    df = spark.createDataFrame([(x,) for x in xs], "x long")
    got = {r.x: r.s for r in df.select("x", exact_isqrt(F.col("x")).alias("s")).collect()}
    for x in xs:
        assert got[x] == math.isqrt(x), f"isqrt({x})"


def test_temperature_mix_rates_monotone_and_normalized(spark):
    from ocr_lib_spark.plans.curation import _q_temperature_mix

    rows = _q_temperature_mix(spark, SF).collect()
    n_min = min(r.n_docs for r in rows)
    for r in rows:
        assert 0 < r.rate_ppm <= 1_000_000
        assert 0 <= r.n_kept <= r.n_docs
        assert r.expect_kept == r.n_docs * r.rate_ppm // 1_000_000
        if r.n_docs == n_min:
            assert r.rate_ppm == 1_000_000  # smallest source fully kept
        # alpha=0.5: rate^2 * n_s ~= PPM^2 * n_min (integer floors only)
        assert r.rate_ppm**2 * r.n_docs <= 1_000_000**2 * n_min
        assert (r.rate_ppm + 1) ** 2 * r.n_docs > 1_000_000**2 * n_min - r.n_docs
    by_n = sorted(rows, key=lambda r: (r.n_docs, -r.rate_ppm))
    for a, b in zip(by_n, by_n[1:]):  # bigger source -> rate no larger
        assert b.rate_ppm <= a.rate_ppm


def test_dedup_keep_best_picks_max_quality_member(spark):
    from ocr_lib_spark.functions.text import quality_score
    from ocr_lib_spark.plans import load
    from ocr_lib_spark.plans.curation import _q_dedup_keep_best
    from ocr_lib_spark.plans.textops import _near_dup_clusters

    kept = {r.cluster_id: r for r in _q_dedup_keep_best(spark, SF).collect()}
    assert kept
    q = {
        r.doc_id: r.q
        for r in load(spark, SF, "documents")
        .select("doc_id", quality_score("text").cast("long").alias("q"))
        .collect()
    }
    members: dict = {}
    for r in _near_dup_clusters(spark, SF).collect():
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    assert set(kept) == set(members)
    for cid, r in kept.items():
        ms = members[cid]
        assert r.n_members == len(ms) >= 2
        assert r.keep_best_id in ms  # the keep rule picks a real member
        best = max(q[m] for m in ms)
        assert r.best_q == best and q[r.keep_best_id] == best
        # deterministic tie-break: lowest id among the maximal-quality
        assert r.keep_best_id == min(m for m in ms if q[m] == best)


def test_segment_scrub_reconstruction_invariants(spark, docs):
    from ocr_lib_spark.plans.curation import _q_segment_scrub
    from ocr_lib_spark.plans.textops import SEG_K

    out = {r.doc_id: r for r in _q_segment_scrub(spark, SF).collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    assert set(out) == set(src)
    for doc_id, r in out.items():
        toks = src[doc_id].strip().split(" ")
        n_full = len(toks) // SEG_K if len(toks) >= SEG_K else 0
        assert r.n_segments == n_full
        assert 0 <= r.n_kept_segments <= r.n_segments
        # token conservation: kept segments + the always-kept tail
        tail_len = len(toks) - n_full * SEG_K
        got_toks = r.scrubbed_text.split(" ") if r.scrubbed_text else []
        assert len(got_toks) == r.n_kept_segments * SEG_K + tail_len
        # a doc losing nothing reconstructs to the exact token rejoin
        if r.n_kept_segments == r.n_segments:
            assert r.scrubbed_text == " ".join(toks)
        # kept segments are a subsequence of the original token stream
        orig = " ".join(toks)
        assert all(seg in orig for seg in [" ".join(got_toks[i * SEG_K:(i + 1) * SEG_K])
                                           for i in range(r.n_kept_segments)])
    assert any(r.n_kept_segments < r.n_segments for r in out.values())


def test_shard_manifest_checksum_independent_recompute(spark, docs):
    import hashlib

    from ocr_lib_spark.plans.curation import _q_shard_manifest
    from ocr_lib_spark.plans.textops import PACK_SHARDS

    out = {r.shard: r for r in _q_shard_manifest(spark, SF).collect()}
    exp: dict = {}
    for r in docs.collect():
        dig = hashlib.md5(
            hashlib.md5(r.text.encode()).hexdigest().encode()
        ).hexdigest()
        shard = r.doc_id % PACK_SHARDS
        e = exp.setdefault(shard, {"n": 0, "xor": 0, "ids": []})
        e["n"] += 1
        e["xor"] ^= int(dig[:15], 16)
        e["ids"].append(r.doc_id)
    assert set(out) == set(exp)
    assert sum(r.n_docs for r in out.values()) == docs.count()
    for shard, e in exp.items():
        r = out[shard]
        assert r.n_docs == e["n"]
        assert r.content_xor == e["xor"]  # any doc change/drop/dup flips this
        assert r.min_doc_id == min(e["ids"]) and r.max_doc_id == max(e["ids"])
        assert r.n_ws_tokens > 0 and r.n_bpe_tokens >= r.n_ws_tokens


def test_incremental_dedup_split_hygiene_and_verdicts(spark, docs):
    from ocr_lib_spark.plans.curation import INC_MOD, INC_NEW_RES, _q_incremental_dedup

    rows = _q_incremental_dedup(spark, SF).collect()
    n_new = docs.where(F.col("doc_id") % INC_MOD == INC_NEW_RES).count()
    assert len(rows) == n_new  # every new-batch doc gets a verdict
    text = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        assert r.doc_id % INC_MOD == INC_NEW_RES
        if r.verdict == "exact":
            assert r.match_id % INC_MOD != INC_NEW_RES  # matched an OLD doc
            assert text[r.match_id] == text[r.doc_id]
        elif r.verdict == "near":
            assert r.match_id % INC_MOD != INC_NEW_RES
            assert r.n_near_matches >= 1
        else:
            assert r.verdict == "novel"
            assert r.match_id == -1 and r.n_near_matches == 0
    # split is non-trivial at this sf: both dup and novel verdicts occur
    # (sf0.001's 5-doc batch has near+novel; exact dups appear at sf0.01+)
    kinds = {r.verdict for r in rows}
    assert "novel" in kinds and kinds & {"exact", "near"}


def test_semantic_decontaminate_holdout_hygiene_and_exactness(spark):
    """semantic_decontaminate invariants oracle equality can't pin
    alone: (1) no holdout vector ever appears in the output (the gate
    reports CORPUS contamination, never eval-suite self-hits); (2) the
    bucket-pruned result equals a brute-force corpus×holdout cosine
    scan RESTRICTED to shared buckets (the prune is exact, not
    approximate, for the axis-sign family); (3) max_cosine clears the
    threshold for every emitted row."""
    import numpy as np

    from ocr_lib_spark.plans import load
    from ocr_lib_spark.plans.curation import (
        SEMDECON_BITS,
        SEMDECON_MOD,
        SEMDECON_T,
        _q_semantic_decontaminate,
    )

    rows = _q_semantic_decontaminate(spark, SF).collect()
    for r in rows:
        assert r.vec_id % SEMDECON_MOD != 0
        assert r.max_cosine >= SEMDECON_T
        assert r.n_eval_hits >= 1

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load(spark, SF, "embeddings").collect()
    }

    def bucket(v):
        return sum(2**i for i in range(SEMDECON_BITS) if v[i] > 0)

    expected = {}
    for cid, cv in emb.items():
        if cid % SEMDECON_MOD == 0:
            continue
        hits = []
        for hid, hv in emb.items():
            if hid % SEMDECON_MOD != 0 or bucket(hv) != bucket(cv):
                continue
            c = round(
                float(np.dot(cv, hv) / (np.linalg.norm(cv) * np.linalg.norm(hv))), 6
            )
            if c >= SEMDECON_T:
                hits.append(c)
        if hits:
            expected[cid] = (len(hits), max(hits))
    got = {r.vec_id: (r.n_eval_hits, round(r.max_cosine, 6)) for r in rows}
    assert got == expected


def test_compaction_plan_groups_partition_the_shard_layout(spark, docs):
    """compaction_plan invariants: the merge groups partition all
    PACK_SHARDS shards into contiguous shard-id runs, conserve the
    corpus byte/doc census exactly, and follow the cumulative-quota
    rule (group = bytes-before DIV target) recomputed independently."""
    from ocr_lib_spark.plans.curation import COMPACT_GROUPS, _q_compaction_plan
    from ocr_lib_spark.plans.textops import PACK_SHARDS

    rows = sorted(_q_compaction_plan(spark, SF).collect(), key=lambda r: r.grp)
    assert sum(r.n_shards for r in rows) == PACK_SHARDS
    assert sum(r.n_docs for r in rows) == docs.count()

    # contiguous, ordered, non-overlapping shard ranges
    edge = -1
    for r in rows:
        assert r.min_shard == edge + 1
        assert r.max_shard - r.min_shard + 1 == r.n_shards
        edge = r.max_shard

    # independent recompute of the quota rule from the raw docs
    by_shard = {}
    for d in docs.collect():
        sh = d.doc_id % PACK_SHARDS
        by_shard[sh] = by_shard.get(sh, 0) + len(d.text.encode("utf-8"))
    total = sum(by_shard.values())
    target = -(-total // COMPACT_GROUPS)
    cum, expect = 0, {}
    for sh in range(PACK_SHARDS):
        g = cum // target
        expect[g] = expect.get(g, 0) + by_shard.get(sh, 0)
        cum += by_shard.get(sh, 0)
    assert {r.grp: r.n_bytes for r in rows} == expect
    for r in rows:
        assert r.fill_ppm == r.n_bytes * 1_000_000 // target


def test_stream_incremental_dedup_agrees_with_batch_exact_tier(spark):
    """The stream-static twin must reproduce the batch exact tier
    verdict-for-verdict: same 'exact' set, same match ids; its 'novel'
    rows are exactly the batch rows whose verdict is near-or-novel
    (the near tier is deliberately out of the streaming probe)."""
    from ocr_lib_spark.plans.curation import (
        _q_incremental_dedup,
        _q_stream_incremental_dedup,
    )

    stream = {r.doc_id: r for r in _q_stream_incremental_dedup(spark, SF).collect()}
    batch = {r.doc_id: r for r in _q_incremental_dedup(spark, SF).collect()}
    assert set(stream) == set(batch)
    for did, s in stream.items():
        b = batch[did]
        if s.verdict == "exact":
            assert b.verdict == "exact" and b.match_id == s.match_id
        else:
            assert s.verdict == "novel" and s.match_id == -1
            assert b.verdict in ("near", "novel")


def test_compaction_fill_ppm_widened_arithmetic_is_exact_floor(spark):
    """Pin the 100-TB overflow remedy AND its pitfall: fill_ppm widens
    to DECIMAL(38,0) (BIGINT would overflow past ~9.2 TB of group
    bytes), and the quotient MUST use integral DIV — Spark's decimal
    `/` rounds to the result scale before any FLOOR (measured:
    1199999.99998... -> 1200000), silently off-by-one at quota
    boundaries."""
    n_bytes, target = 40_000_000_000_000, 33_333_333_333_334
    want = n_bytes * 1_000_000 // target  # 1199999 (python exact)
    div = spark.sql(
        f"SELECT CAST(CAST({n_bytes} AS DECIMAL(38,0)) * 1000000 "
        f"DIV {target} AS BIGINT) AS v"
    ).collect()[0].v
    assert div == want == 1_199_999
    rounded = spark.sql(
        f"SELECT CAST(FLOOR(CAST({n_bytes} AS DECIMAL(38,0)) * 1000000 "
        f"/ {target}) AS BIGINT) AS v"
    ).collect()[0].v
    assert rounded == 1_200_000  # the trap this test guards against


def test_curation_funnel_first_fail_attribution(spark, docs):
    """The funnel partitions the corpus and attributes each doc to its
    FIRST failing gate: holdout beats duplicate beats quality beats
    contamination; the derived boilerplate class exercises the
    duplicate->quality cascade (non-keepers drop as duplicates, the
    keeper survives dedup then fails the word-count gate)."""
    from ocr_lib_spark.plans.curation import (
        FUNNEL_BOILER_MOD,
        FUNNEL_BOILER_RES,
        FUNNEL_STAGES,
        _q_curation_funnel,
        _q_curation_funnel_census,
    )
    from ocr_lib_spark.plans.textops import DECON_HOLDOUT_MOD

    rows = {r.doc_id: r for r in _q_curation_funnel(spark, SF).collect()}
    assert len(rows) == docs.count()  # every doc surfaces exactly once
    assert set(r.stage for r in rows.values()) <= set(FUNNEL_STAGES)
    boiler = sorted(
        d for d in rows if d % FUNNEL_BOILER_MOD == FUNNEL_BOILER_RES
    )
    keeper = boiler[0]
    for d, r in rows.items():
        if d % DECON_HOLDOUT_MOD == 0:
            assert r.stage == "eval_holdout"
        elif d in boiler and d != keeper:
            assert r.stage == "duplicate"
    # the boilerplate keeper survives dedup, then fails word-count
    k = rows[keeper]
    if keeper % DECON_HOLDOUT_MOD != 0:
        assert k.is_duplicate == 0 and not k.pass_quality
        assert k.stage == "quality"
    # stage label is the priority encoding of the bits, re-derived
    for r in rows.values():
        want = (
            "eval_holdout"
            if r.is_holdout
            else "duplicate"
            if r.is_duplicate
            else "quality"
            if not r.pass_quality
            else "contaminated"
            if r.n_hit_grams >= 1
            else "kept"
        )
        assert r.stage == want
    census = {r.stage: r for r in _q_curation_funnel_census(spark, SF).collect()}
    assert sum(c.n_docs for c in census.values()) == len(rows)
    for stage, c in census.items():
        members = [r for r in rows.values() if r.stage == stage]
        assert c.n_docs == len(members)
        assert c.n_words_total == sum(r.n_words for r in members)
        assert c.first_doc_id == min(r.doc_id for r in members)


def test_normalized_dedup_merges_case_punct_variants(spark, docs):
    """The near-exact tier merges what raw-digest dedup keeps apart:
    the boilerplate class and its UPPER+punctuation variant share one
    normalized digest with exactly two raw variants; every non-derived
    doc stays a singleton variant."""
    from ocr_lib_spark.plans.curation import (
        FUNNEL_BOILER_MOD,
        FUNNEL_BOILER_RES,
        NORM_VARIANT_RES,
        _q_normalized_dedup,
    )

    out = _q_normalized_dedup(spark, SF).collect()
    n_docs_total = docs.count()
    assert sum(r.n_docs for r in out) == n_docs_total
    ids = list(range(n_docs_total))
    cls_a = [d for d in ids if d % FUNNEL_BOILER_MOD == FUNNEL_BOILER_RES]
    cls_b = [d for d in ids if d % FUNNEL_BOILER_MOD == NORM_VARIANT_RES]
    merged = [r for r in out if r.n_exact_variants == 2]
    assert len(merged) == 1
    m = merged[0]
    assert m.n_docs == len(cls_a) + len(cls_b)
    assert m.keep_id == min(cls_a + cls_b)
    assert all(r.n_exact_variants == 1 for r in out if r.norm_digest != m.norm_digest)


def test_leakage_safe_split_is_cluster_atomic(spark, docs):
    """No verified near-dup pair may straddle a split boundary — the
    property per-doc hashing violates and cluster-rep hashing
    guarantees; bucket rule pinned against an independent python
    recompute."""
    import hashlib

    from ocr_lib_spark.plans.curation import _q_leakage_safe_split
    from ocr_lib_spark.plans.textops import _near_dup_verified

    out = {r.doc_id: r for r in _q_leakage_safe_split(spark, SF).collect()}
    assert len(out) == docs.count()
    pairs = _near_dup_verified(spark, SF).select("id_a", "id_b").collect()
    assert pairs  # fixture must exercise the property
    for p in pairs:
        assert out[p.id_a].split == out[p.id_b].split
        assert out[p.id_a].cluster_rep == out[p.id_b].cluster_rep
        assert out[p.id_a].in_cluster == 1 and out[p.id_b].in_cluster == 1
    for r in list(out.values())[:200]:
        b = int(hashlib.md5(str(r.cluster_rep).encode()).hexdigest()[:15], 16) % 100
        assert r.split_bucket == b
        assert r.split == ("val" if b < 10 else "test" if b < 20 else "train")


def test_bpe_merge_step_argmax_and_conservation(spark, docs):
    """The gated pair is the corpus argmax with the pinned tie-break;
    per-doc merge counts conserve against an independent python greedy
    recompute; token counts balance."""
    from collections import Counter

    from ocr_lib_spark.plans.curation import _q_bpe_merge_step

    rows = {r.doc_id: r for r in _q_bpe_merge_step(spark, SF).collect()}
    assert len(rows) == docs.count()
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    census = Counter()
    for t in texts.values():
        toks = [x for x in (t or "").strip().split(" ") if x]
        census.update(zip(toks, toks[1:]))
    c_max = max(census.values())
    want = min(p for p, c in census.items() if c == c_max)
    any_row = next(iter(rows.values()))
    assert (any_row.pair_a, any_row.pair_b) == want
    assert any_row.pair_count == c_max
    a, b = want
    for did, r in rows.items():
        toks = [x for x in (texts[did] or "").strip().split(" ") if x]
        n_greedy, last = 0, -2
        n_matches = 0
        for i in range(len(toks) - 1):
            if toks[i] == a and toks[i + 1] == b:
                n_matches += 1
                if i >= last + 2:
                    n_greedy, last = n_greedy + 1, i
        assert (r.n_matches, r.n_merges) == (n_matches, n_greedy)
        assert r.n_tokens_after == r.n_tokens - r.n_merges == len(toks) - n_greedy


def test_bpe_greedy_self_pair_runs_merge_floor_half(spark):
    """The self-pair (a,a) case the fixture argmax may never exercise:
    a run of L identical tokens must merge floor(L/2) times (matches =
    L-1). Evaluates the SAME expressions the gated query ships."""
    from ocr_lib_spark.plans.curation import BPE_CHOSEN_EXPR, BPE_MATCHES_EXPR

    cases = [(L, ["x"] * L + ["y"] + ["x"] * 3) for L in range(1, 7)]
    df = spark.createDataFrame(
        [(L, t, "x", "x") for L, t in cases], "L int, t array<string>, pair_a string, pair_b string"
    )
    out = {
        r.L: r
        for r in df.select(
            "L", F.expr(BPE_MATCHES_EXPR).alias("m")
        ).select("L", F.size("m").alias("n_matches"), F.size(F.expr(BPE_CHOSEN_EXPR)).alias("n"))
        .collect()
    }
    for L, toks in cases:
        # run of L, separator, run of 3: merges = L//2 + 1
        assert out[L].n == L // 2 + 3 // 2
        assert out[L].n_matches == max(L - 1, 0) + 2


def test_chunk_overlap_tiles_every_document(spark, docs):
    """Chunks tile each doc: first starts at 0, last ends at n_tokens,
    consecutive chunks overlap by exactly WIDTH - STRIDE (clamped at
    the tail), and no token index is uncovered."""
    from collections import defaultdict

    from ocr_lib_spark.plans.curation import (
        CHUNK_STRIDE,
        CHUNK_WIDTH,
        _q_chunk_overlap,
    )

    rows = _q_chunk_overlap(spark, SF).collect()
    per = defaultdict(list)
    for r in rows:
        per[r.doc_id].append(r)
    assert len(per) == docs.count()
    multi = 0
    for did, ch in per.items():
        ch.sort(key=lambda r: r.chunk_idx)
        n = ch[0].n_tokens
        assert [r.chunk_idx for r in ch] == list(range(len(ch)))
        assert all(r.n_chunks == len(ch) for r in ch)
        assert ch[0].start_tok == 0 and ch[-1].end_tok == n
        for a, b in zip(ch, ch[1:]):
            assert b.start_tok == a.start_tok + CHUNK_STRIDE
            assert b.start_tok < a.end_tok  # genuine overlap
        for r in ch:
            assert r.end_tok == min(r.start_tok + CHUNK_WIDTH, n)
        multi += len(ch) > 1
    assert multi > 0  # the fixture exercises the split branch


def test_bpe_merge_step_degenerate_corpus_twin(spark, tmp_path):
    """All-short-docs corpus (no adjacent pair anywhere): BOTH engines
    must emit one row per doc with a NULL pair and zero merges — the
    oracle's `best` CTE is a global aggregate, not GROUP BY, precisely
    so the empty census yields one NULL row instead of zero rows."""
    import duckdb
    import pandas as pd

    from ocr_lib_spark.plans.curation import _O_BPE_MERGE_STEP, _q_bpe_merge_step

    docs = pd.DataFrame(
        {"doc_id": [0, 1, 2], "text": ["solo", "", "one"], "source": ["s"] * 3}
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    got = _q_bpe_merge_step(spark, str(tmp_path)).orderBy("doc_id").collect()
    assert len(got) == 3
    for r in got:
        assert r.pair_a is None and r.pair_b is None and r.pair_count is None
        assert r.n_matches == 0 and r.n_merges == 0
        assert r.n_tokens_after == r.n_tokens
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    odf = con.execute(_O_BPE_MERGE_STEP).df().sort_values("doc_id")
    assert len(odf) == 3
    assert odf["pair_a"].isna().all() and odf["n_merges"].eq(0).all()


def test_curation_funnel_by_source_matches_per_doc_frame(spark, docs):
    """Per-source stage counts are exactly the per-doc funnel frame
    re-aggregated, and the keep rate is the integer ppm floor."""
    from collections import Counter, defaultdict

    from ocr_lib_spark.plans.curation import (
        FUNNEL_STAGES,
        _q_curation_funnel,
        _q_curation_funnel_by_source,
    )

    per_doc = {r.doc_id: r.stage for r in _q_curation_funnel(spark, SF).collect()}
    src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    want: dict = defaultdict(Counter)
    for did, stage in per_doc.items():
        want[src[did]][stage] += 1
    got = {r.source: r for r in _q_curation_funnel_by_source(spark, SF).collect()}
    assert set(got) == set(want)
    for s, r in got.items():
        assert r.n_docs == sum(want[s].values())
        for st in FUNNEL_STAGES:
            assert getattr(r, f"n_{st}") == want[s][st]
        assert r.kept_ppm == want[s]["kept"] * 1_000_000 // r.n_docs


def test_training_corpus_export_is_exact_composition(spark):
    """The export equals chunk_overlap restricted to funnel-kept AND
    train-split doc ids — the composition adds selection, never
    mutation."""
    from ocr_lib_spark.plans.curation import (
        _q_chunk_overlap,
        _q_curation_funnel,
        _q_leakage_safe_split,
        _q_training_corpus_export,
    )

    kept = {
        r.doc_id for r in _q_curation_funnel(spark, SF).collect() if r.stage == "kept"
    }
    train = {
        r.doc_id
        for r in _q_leakage_safe_split(spark, SF).collect()
        if r.split == "train"
    }
    want = {
        (r.doc_id, r.chunk_idx, r.start_tok, r.end_tok)
        for r in _q_chunk_overlap(spark, SF).collect()
        if r.doc_id in kept and r.doc_id in train
    }
    got = {
        (r.doc_id, r.chunk_idx, r.start_tok, r.end_tok)
        for r in _q_training_corpus_export(spark, SF).collect()
    }
    assert got == want and want  # non-empty at the fixture
    assert {d for d, *_ in got} <= kept & train


def test_substring_scrub_token_conservation_and_unaligned_removal(spark, docs):
    """Token conservation (n_tokens == kept + removed) for every doc,
    and the fixture's UNALIGNED shared run (varying pad offsets) is
    actually detected and removed from non-first carriers."""
    from ocr_lib_spark.plans.curation import (
        SCRUB_MOD,
        SCRUB_PAD_MOD,
        SCRUB_RES,
        SCRUB_RUN_TEXT,
        _q_substring_scrub,
    )

    out = {r.doc_id: r for r in _q_substring_scrub(spark, SF).collect()}
    src = {r.doc_id: (r.text or "") for r in docs.collect()}
    assert set(out) == set(src)
    affected = sorted(d for d in src if d % SCRUB_MOD == SCRUB_RES)
    assert len(affected) >= 2
    for doc_id, r in out.items():
        # reproduce the derived input token stream
        if doc_id % SCRUB_MOD == SCRUB_RES:
            txt = ("pad " * (doc_id % SCRUB_PAD_MOD)) + SCRUB_RUN_TEXT + " " + src[doc_id]
        else:
            txt = src[doc_id]
        toks = txt.strip().split(" ")
        assert r.n_tokens == len(toks)
        kept = r.scrubbed_text.split(" ") if r.scrubbed_text else []
        # conservation; '' rejoins the [''] single-token stream (edge)
        assert len(kept) == r.n_tokens - r.n_removed or (
            r.scrubbed_text == "" and r.n_tokens - r.n_removed == 1
        )
        # kept tokens are a subsequence of the input token stream
        it = iter(toks)
        assert all(tok in it for tok in kept)
    # the first carrier keeps its run; at least one later carrier loses
    # the full shared run (the unaligned repeat segment hashing misses)
    run = SCRUB_RUN_TEXT
    assert run in out[affected[0]].scrubbed_text
    losers = [d for d in affected[1:] if run not in out[d].scrubbed_text]
    assert losers, "no later carrier lost the shared run"
    for d in affected[1:]:
        assert out[d].n_removed > 0


def test_substring_scrub_frame_self_repeat_and_full_coverage(spark):
    """Off-fixture degenerate inputs through the frame API: within-doc
    overlapping self-repeats (the suffix-array hard case), a doc that
    is one exact copy of another (fully covered -> empty scrub), short
    docs below K (untouchable), and empty text."""
    from pyspark.sql import functions as F

    from ocr_lib_spark.plans.curation import substring_scrub_frame

    K = 4
    rows = [
        # doc 0: 'a b c d' repeated 3x -> overlapping self-repeats;
        # first K-gram occurrence kept, rest of the stream covered
        (0, " ".join(["a b c d"] * 3)),
        (1, "a b c d"),              # exact sub-copy of doc 0's opener -> fully covered
        (2, "x y z"),                # < K tokens: no grams, untouched
        (3, ""),                     # empty text
        (4, "p q r s t u v w"),      # unique content, untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = df.select("doc_id", F.split(F.trim(F.coalesce("text", F.lit(""))), " ").alias("toks"))
    out = {r.doc_id: r for r in substring_scrub_frame(t, K=K).collect()}

    # doc 0 keeps exactly its first K tokens: every gram at pos>0 is a
    # repeat of an earlier occurrence (pos 0, 4, 8 equal; 1,5 equal; ...)
    assert out[0].scrubbed_text == "a b c d"
    assert out[0].n_tokens == 12 and out[0].n_removed == 8
    # doc 1 is entirely a non-first occurrence -> fully covered
    assert out[1].scrubbed_text == "" and out[1].n_removed == 4
    # short + unique docs untouched
    assert out[2].scrubbed_text == "x y z" and out[2].n_removed == 0
    assert out[4].scrubbed_text == "p q r s t u v w" and out[4].n_removed == 0
    # empty text: split('') yields [''] on both engines (documented edge)
    assert out[3].scrubbed_text == "" and out[3].n_removed == 0
    # conservation holds everywhere
    for r in out.values():
        kept = r.scrubbed_text.split(" ") if r.scrubbed_text else []
        assert len(kept) == r.n_tokens - r.n_removed or (
            r.scrubbed_text == "" and r.n_tokens - r.n_removed == 1
        )


def test_funnel_stage_boundary_overlaps_adversarial(spark):
    """One constructed doc per funnel stage-boundary OVERLAP: each
    violates two gates at once and must land on the EARLIER stage
    (priority: eval_holdout > duplicate > quality > contaminated).
    A stage-order regression cannot hide behind aggregate counts here —
    every overlap pair pins its winner doc-by-doc."""
    from pyspark.sql import functions as F

    from ocr_lib_spark.plans.curation import funnel_attribution_frame
    from ocr_lib_spark.plans.textops import DECON_HOLDOUT_MOD, DECON_K

    M = DECON_HOLDOUT_MOD  # holdout rule: doc_id % M == 0

    # 60 distinct all-alpha 4-char words -> passes every quality bit
    def good(seed, n=60):
        ws = []
        for i in range(n):
            v = seed * 997 + i
            ws.append(
                "".join(chr(97 + (v // (26 ** k)) % 26) for k in range(3)) + "q"
            )
        assert len(set(ws)) == n
        return " ".join(ws)

    bad = "too short to pass the word count gate"  # < 50 words
    good_a = good(1)
    good_b = good(2)
    holdout_src = good(3)  # a holdout doc supplying grams
    gram = " ".join(holdout_src.split(" ")[:DECON_K])  # an 8-gram of it
    contaminated_good = gram + " " + good(4)  # passes quality, hits gram
    bad_dup = bad + " extra filler words here"  # <50 words, duplicated below

    rows = [
        # holdout∩duplicate, holdout NON-keeper: id 2M dups keeper 1
        (1, good_a), (2 * M, good_a),
        # holdout∩duplicate, holdout IS keeper: id M keeps, 10 dups it
        (M, good_b), (10, good_b),
        # duplicate∩quality: identical bad docs; keeper fails quality,
        # non-keeper must say duplicate (not quality)
        (3, bad_dup), (4, bad_dup),
        # quality∩contaminated: fails word count AND carries a holdout
        # gram -> quality wins
        (5, bad + " " + gram),
        # duplicate∩contaminated: identical good docs carrying the gram;
        # keeper -> contaminated, non-keeper -> duplicate
        (6, contaminated_good), (8, contaminated_good),
        # the gram source (holdout), and holdout∩quality: 7M fails
        # quality but is holdout -> eval_holdout
        (3 * M, holdout_src), (7 * M, bad),
        # clean kept doc
        (9, good(5)),
    ]
    # ids must not collide with the holdout rule unintentionally
    ids = [doc_id for doc_id, _ in rows]
    assert len(set(ids)) == len(ids)
    for doc_id in ids:
        assert doc_id % M == 0 or doc_id in (1, 3, 4, 5, 6, 8, 9, 10)

    df = spark.createDataFrame(rows, "doc_id long, txt string")
    out = {r.doc_id: r for r in funnel_attribution_frame(df).collect()}
    assert len(out) == len(rows)

    want = {
        2 * M: "eval_holdout",   # holdout beats duplicate (non-keeper)
        # doc 1 keeps its digest (1 < 2M) and passes quality, but its
        # holdout twin donated ALL its grams to the holdout set -> an
        # exact copy of a holdout doc is contaminated, by construction
        1: "contaminated",
        M: "eval_holdout",       # holdout beats everything as keeper too
        10: "duplicate",         # dups the holdout keeper
        3: "quality",            # bad keeper survives dedup, fails quality
        4: "duplicate",          # duplicate beats quality
        5: "quality",            # quality beats contaminated
        6: "contaminated",       # good keeper with a holdout gram
        8: "duplicate",          # duplicate beats contaminated
        3 * M: "eval_holdout",   # the gram source
        7 * M: "eval_holdout",   # holdout beats quality
        9: "kept",
    }
    got = {d: out[d].stage for d in want}
    assert got == want
    # bit-level cross-checks on the overlap docs
    assert out[2 * M].is_duplicate == 1 and out[2 * M].is_holdout == 1
    assert out[1].is_duplicate == 0 and out[1].n_hit_grams >= 1
    assert out[4].is_duplicate == 1 and not out[4].pass_quality
    assert out[5].n_hit_grams >= 1 and not out[5].pass_quality
    assert out[8].is_duplicate == 1 and out[8].n_hit_grams >= 1
    assert out[7 * M].is_holdout == 1 and not out[7 * M].pass_quality


def test_bpe_merge_loop_hand_computed_rounds(spark):
    """Three rounds over a constructed corpus where the winner changes
    per round and round-1's fused symbol re-enters round 2's census —
    each round's (pair, count, merges, tokens-after) pinned by hand."""
    from pyspark.sql import functions as F

    from ocr_lib_spark.plans.curation import bpe_merge_loop_frame

    # corpus: 'a b' x4 (two docs), 'a b c' x2, run of five 'z'
    rows = [
        (1, ["a", "b", "x", "a", "b"]),
        (2, ["a", "b", "y", "a", "b"]),
        (3, ["a", "b", "c", "q", "a", "b", "c"]),
        (4, ["z", "z", "z", "z", "z"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, t array<string>")
    out = {r.step: r for r in bpe_merge_loop_frame(df, steps_n=3).collect()}
    assert set(out) == {1, 2, 3}

    # round 1: ('a','b') count 6 beats ('z','z') count 4; 6 merges;
    # 22 tokens -> 16
    r1 = out[1]
    assert (r1.pair_a, r1.pair_b, r1.pair_count) == ("a", "b", 6)
    assert r1.n_merges == 6 and r1.n_tokens_after == 22 - 6

    # round 2: streams are now a_b x, a_b / a_b y, a_b / a_b c q a_b c
    # / z z z z z. ('z','z') count 4, greedy floor(5/2)=2 merges;
    # ties: ('a_b','c') count 2 < 4. 16 -> 14 tokens
    r2 = out[2]
    assert (r2.pair_a, r2.pair_b, r2.pair_count) == ("z", "z", 4)
    assert r2.n_merges == 2 and r2.n_tokens_after == 14

    # round 3: doc4 = z_z z_z z; ('a_b','c') count 2 wins over
    # ('z_z','z_z') count 1 and others (count-1 pairs); 2 merges
    r3 = out[3]
    assert (r3.pair_a, r3.pair_b, r3.pair_count) == ("a_b", "c", 2)
    assert r3.n_merges == 2 and r3.n_tokens_after == 12


def test_bpe_apply_merges_totals_equal_loop_records(spark):
    """bpe_apply_merges is the per-doc lens on the exact stream the
    loop induces: corpus-wide merges absorbed == sum of the loop's
    per-round totals, and the final token total == the loop's last
    n_tokens_after (composition adds granularity, never mutation)."""
    from ocr_lib_spark.plans.curation import (
        BPE_STEPS,
        _q_bpe_apply_merges,
        _q_bpe_merge_loop,
    )

    loop = {r.step: r for r in _q_bpe_merge_loop(spark, SF).collect()}
    per = _q_bpe_apply_merges(spark, SF).collect()
    assert len(loop) == BPE_STEPS
    assert sum(r.n_merged for r in per) == sum(r.n_merges for r in loop.values())
    assert sum(r.n_tokens_after for r in per) == loop[BPE_STEPS].n_tokens_after
    for r in per:
        assert r.n_tokens_after + r.n_merged == r.n_tokens_before
        assert r.n_merged >= 0


def test_decontaminate_spans_locate_grams_exactly(spark, docs):
    """Every reported span, sliced out of the doc's trimmed
    single-space token-rejoin, md5s to the reported gram — and the
    per-doc distinct-gram census equals decontaminate's counts."""
    import hashlib

    from ocr_lib_spark.plans.textops import _decontaminate, _decontaminate_spans

    spans = _decontaminate_spans(spark, SF).collect()
    assert spans, "fixture produced no contamination hits"
    src = {r.doc_id: (r.text or "") for r in docs.collect()}
    for r in spans:
        norm = " ".join(src[r.doc_id].strip().split(" "))
        frag = norm[r.char_start : r.char_end]
        assert hashlib.md5(frag.encode()).hexdigest() == r.gram_md5, (
            r.doc_id,
            r.pos,
            frag,
        )
    counts = {r.doc_id: r.n_hit_grams for r in _decontaminate(spark, SF).collect()}
    per_doc: dict = {}
    for r in spans:
        per_doc.setdefault(r.doc_id, set()).add(r.gram_md5)
    assert {d: len(g) for d, g in per_doc.items()} == counts


def test_containment_relation_classes(spark, tmp_path, monkeypatch):
    """containment_dedup's classification stage: a short doc wholly
    pasted inside a long one must class as containment (a_in_b /
    b_in_a), NOT resemblance-dup; near-identical docs class as 'dup'.
    The LSH candidate generator is monkeypatched to hand the scorer the
    pairs directly — resemblance-LSH under-recalls pure containment by
    design (the docstring's caveat); this pins the scorer."""
    import ocr_lib_spark.plans.textops as tx

    words = ["alpha", "bravo", "carol", "delta", "echo_", "fox__", "golf_",
             "hotel", "india", "julie"]
    long_text = " ".join(words[i % 10] + str(i) for i in range(120))
    quote = long_text[200:290]  # a contiguous quote, ~12% of the long doc
    near_dup = long_text[:-12] + " tail change"
    docs = spark.createDataFrame(
        [(0, long_text, "en", "s", len(long_text)),
         (1, quote, "en", "s", len(quote)),
         (2, near_dup, "en", "s", len(near_dup))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path / "sf")
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    def all_pairs(sig, **kw):
        return spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2)], "id_a long, id_b long"
        )

    monkeypatch.setattr(tx, "lsh_candidate_pairs", all_pairs)
    out = {(r["id_a"], r["id_b"]): r
           for r in tx._containment_dedup(spark, sf_dir).collect()}
    # quote ⊂ long doc: every shingle of doc1 appears in doc0 ->
    # cont_ba = 10000, jaccard ~0.12 < 0.35 -> pure containment b_in_a
    r01 = out[(0, 1)]
    assert r01["relation"] == "b_in_a" and r01["cont_ba_bp"] == 10000
    assert r01["cont_ab_bp"] < 3500
    # near-identical pair: resemblance wins the class
    assert out[(0, 2)]["relation"] == "dup"
    # quote vs near_dup: quote region survives the tail edit -> b_in_a
    assert out[(1, 2)]["relation"] == "dup" or out[(1, 2)]["id_a"] == 1


def test_url_canonical_equivalences_both_engines(spark):
    """The param-ordering / case-folding / default-port / trailing-slash
    / tracking-param equivalence classes, pinned through the SAME
    canonicalization template the gated url_dedup query ships — on
    BOTH engines, plus cross-engine equality of the template itself."""
    import duckdb

    from ocr_lib_spark.plans.curation import (
        _URL_LIST_FNS_DUCK,
        _URL_LIST_FNS_SPARK,
        canonical_url_sql,
    )

    equal_pairs = [
        # host/scheme case + default https port + trailing slash +
        # param order + utm tracking, all at once
        ("https://EXAMPLE.com/a?b=2&a=1",
         "HTTPS://example.COM:443/a/?a=1&utm_source=x&b=2"),
        # http default port + fbclid
        ("http://H.io:80/?id=1", "http://h.io/?fbclid=zz&id=1"),
        # an all-tracking query drops entirely; bare host -> '/'
        ("https://x.io/?utm_campaign=c&gclid=g", "https://x.io"),
    ]
    diff_pairs = [
        ("https://x.io/p?id=1", "https://x.io/p?id=2"),  # real param differs
        ("https://a.io/", "https://b.io/"),              # host differs
        ("https://x.io/p", "https://x.io/q"),            # path differs
    ]
    urls = sorted({u for p in equal_pairs + diff_pairs for u in p})
    sdf = spark.createDataFrame([(u,) for u in urls], "raw_url string")
    s_canon = {
        r["raw_url"]: r["c"]
        for r in sdf.select(
            "raw_url",
            F.expr(canonical_url_sql("raw_url", _URL_LIST_FNS_SPARK)).alias("c"),
        ).collect()
    }
    con = duckdb.connect()
    d_canon = dict(
        con.execute(
            "SELECT raw_url, "
            + canonical_url_sql("raw_url", _URL_LIST_FNS_DUCK)
            + " AS c FROM (SELECT unnest(?) AS raw_url)",
            [urls],
        ).fetchall()
    )
    assert s_canon == d_canon  # the template is one cross-engine contract
    for a, b in equal_pairs:
        assert s_canon[a] == s_canon[b], (a, b, s_canon[a], s_canon[b])
    for a, b in diff_pairs:
        assert s_canon[a] != s_canon[b], (a, b, s_canon[a])


def test_url_derived_frame_collapses_exactly_mod_150(spark):
    """ids congruent mod URL_GROUP_MOD are the same page under
    different raw spellings: raw URLs all distinct (the variant axes
    fire), canonical URLs identical; ids differing mod 150 never
    collide."""
    from ocr_lib_spark.plans.curation import (
        _URL_LIST_FNS_SPARK,
        URL_GROUP_MOD,
        canonical_url_sql,
        derived_url_sql,
    )

    ids = [7 + k * URL_GROUP_MOD for k in range(4)] + [8, 83]
    df = (
        spark.createDataFrame([(i,) for i in ids], "doc_id long")
        .select("doc_id", F.expr(derived_url_sql("doc_id")).alias("raw_url"))
        .select(
            "doc_id",
            "raw_url",
            F.expr(canonical_url_sql("raw_url", _URL_LIST_FNS_SPARK)).alias("c"),
        )
    )
    rows = {r["doc_id"]: r for r in df.collect()}
    group = [rows[7 + k * URL_GROUP_MOD] for k in range(4)]
    assert len({r["raw_url"] for r in group}) == 4   # every replica spelled differently
    assert len({r["c"] for r in group}) == 1         # one canonical page
    assert rows[8]["c"] != rows[7]["c"] and rows[83]["c"] != rows[7]["c"]


def test_quality_score_generalizes_beyond_taught_labels(spark):
    """The taught model must classify UNLABELED boilerplate (bad-class
    docs outside the seed set) as bad — their bigrams hash into exactly
    the bad-taught buckets — while ordinary docs score non-negative;
    zero-bigram docs are never kept."""
    from ocr_lib_spark.plans.curation import (
        FUNNEL_BOILER_MOD,
        FUNNEL_BOILER_RES,
        QS_TEACH_MOD,
        _q_quality_score,
    )

    rows = {r["doc_id"]: r for r in _q_quality_score(spark, SF).collect()}
    boiler_unlabeled = [
        r
        for i, r in rows.items()
        if i % FUNNEL_BOILER_MOD == FUNNEL_BOILER_RES and i % QS_TEACH_MOD != 0
    ]
    assert boiler_unlabeled, "fixture must contain unlabeled boilerplate"
    assert all(r["pred_good"] == 0 for r in boiler_unlabeled)
    assert all(r["score_ppm"] < 0 for r in boiler_unlabeled)
    normal = [
        r
        for i, r in rows.items()
        if i % FUNNEL_BOILER_MOD != FUNNEL_BOILER_RES and r["n_bigrams"] > 0
    ]
    good = sum(r["pred_good"] for r in normal)
    # hash collisions into bad buckets may cost a few docs, not many
    assert good >= 0.9 * len(normal), (good, len(normal))
    assert all(r["pred_good"] == 0 for r in rows.values() if r["n_bigrams"] == 0)
