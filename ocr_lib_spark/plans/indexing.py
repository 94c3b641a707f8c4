"""Corpus indexing / IR statistics: integer-exact TF-IDF retrieval,
inverted-index shard census, Heaps-law vocabulary-growth curve.

A training-data pipeline at 100 TB builds these artifacts constantly —
a term index to locate contamination, TF-IDF to rank candidate
documents for a topic filter, vocabulary-growth curves to size
tokenizer training. All three stay integer-exact cross-engine:
idf uses the repo's integer log2 (length(bin(x)) - 1 — bin() renders
identically in Spark and DuckDB, COVERAGE.md round-6), hashes are the
md5-prefix int64 (`stable_hash64`), and checksums are order-independent
BIT_XOR (the shard_manifest precedent, plans/curation.py).

Reference analog: the taught-alphabet lookup structure
(core_helper.clj:1833-1991) is a tiny inverted index (glyph -> examples);
these plans are its corpus-scale generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_lib_spark.functions.text import stable_hash64
from ocr_lib_spark.plans import QueryDef, documents
from ocr_lib_spark.plans.textops import _O_TOKS_CTE, _tok_doc_counts

#: retrieval fan-out: QK query terms, top K docs per term.
TFIDF_QK = 8
TFIDF_K = 5

#: a query term must be absent from >= 3/4 of the corpus (idf_bits >= 2)
#: so the score actually discriminates; among those, the most frequent
#: terms are picked (deterministic tie-break by token ascending).
TFIDF_RARE_NUM = 4

#: inverted-index shard fan-out (posting lists are hash-sharded by term).
INDEX_SHARDS = 16

#: Heaps-law curve resolution: the corpus prefix (by doc_id) is cut into
#: this many equal-width buckets. Bounded constant -> the cumulative
#: window at the end runs over NB rows regardless of corpus size.
HEAPS_BUCKETS = 16


_O_TD_CTE = f"""{_O_TOKS_CTE},
td AS (SELECT tok, doc_id, COUNT(*)::BIGINT AS tf FROM tk GROUP BY tok, doc_id)"""


def _q_tfidf_topk(spark, sf_dir) -> DataFrame:
    """Integer-exact TF-IDF retrieval: pick the {QK} most frequent
    DISCRIMINATIVE terms (df * RARE_NUM <= N, i.e. idf_bits >= 2) as
    queries, score every containing document with
    score = tf * ilog2(N DIV df), and return the exact top-{K} docs per
    term. ilog2 via length(bin(x)) - 1 — no libm log() ulp can flip a
    rank (the unigram_surprisal convention).

    Scale shape: ONE (tok, doc_id) pre-aggregate feeds df and scores;
    df is a combinable groupBy; N is a broadcast scalar; query-term
    selection is a two-phase local/merge top-k (never a global sort of
    the vocabulary); candidate postings reach the scorer through a
    BROADCAST semi-join on the {QK}-row term table; the final per-term
    ranking is the _topk_two_phase shape — phase 1 ranks inside each
    scan partition and keeps K, phase 2 merges <= P*K survivors."""
    td = _tok_doc_counts(spark, sf_dir)
    df_tbl = td.groupBy("tok").agg(F.count("*").cast("long").alias("df_docs"))
    n_docs = td.select("doc_id").distinct().agg(
        F.count("*").cast("long").alias("n_docs")
    )
    scored_terms = df_tbl.crossJoin(F.broadcast(n_docs)).where(
        F.col("df_docs") * TFIDF_RARE_NUM <= F.col("n_docs")
    )
    # two-phase top-QK terms by (df DESC, tok ASC) — a total order
    order = (F.desc("df_docs"), F.asc("tok"))
    local = scored_terms.withColumn("part", F.spark_partition_id())
    wl = Window.partitionBy("part").orderBy(*order)
    surv = (
        local.withColumn("lr", F.row_number().over(wl))
        .where(F.col("lr") <= TFIDF_QK)
        .drop("lr", "part")
    )
    wm = Window.orderBy(*order)
    qterms = (
        surv.withColumn("qr", F.row_number().over(wm))
        .where(F.col("qr") <= TFIDF_QK)
        .select(
            "tok",
            "df_docs",
            "n_docs",
            (F.length(F.expr("bin(n_docs DIV df_docs)")) - 1)
            .cast("long")
            .alias("idf_bits"),
        )
    )
    cand = td.join(F.broadcast(qterms), "tok").select(
        "tok",
        "doc_id",
        "tf",
        "df_docs",
        "idf_bits",
        (F.col("tf") * F.col("idf_bits")).cast("long").alias("score"),
    )
    rorder = (F.desc("score"), F.asc("doc_id"))
    rl = cand.withColumn("part", F.spark_partition_id())
    wrl = Window.partitionBy("tok", "part").orderBy(*rorder)
    rsurv = (
        rl.withColumn("lr", F.row_number().over(wrl))
        .where(F.col("lr") <= TFIDF_K)
        .drop("lr", "part")
    )
    wrm = Window.partitionBy("tok").orderBy(*rorder)
    return (
        rsurv.withColumn("rnk", F.row_number().over(wrm))
        .where(F.col("rnk") <= TFIDF_K)
        .select(
            "tok",
            "doc_id",
            "tf",
            "df_docs",
            "idf_bits",
            "score",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _tfidf_oracle() -> str:
    return f"""
WITH {_O_TD_CTE},
dfs AS (SELECT tok, COUNT(*)::BIGINT AS df_docs FROM td GROUP BY tok),
n AS (SELECT COUNT(DISTINCT doc_id)::BIGINT AS n_docs FROM td),
qt AS (
  SELECT tok, df_docs, n_docs,
         (length(bin(n_docs // df_docs)) - 1)::BIGINT AS idf_bits
  FROM dfs, n
  WHERE df_docs * {TFIDF_RARE_NUM} <= n_docs
  ORDER BY df_docs DESC, tok ASC LIMIT {TFIDF_QK}),
cand AS (
  SELECT td.tok, td.doc_id, td.tf, qt.df_docs, qt.idf_bits,
         (td.tf * qt.idf_bits)::BIGINT AS score
  FROM td JOIN qt ON td.tok = qt.tok),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY tok
            ORDER BY score DESC, doc_id ASC) AS rnk
  FROM cand)
SELECT tok, doc_id, tf, df_docs, idf_bits, score, rnk::INT AS rnk
FROM r WHERE rnk <= {TFIDF_K}
"""


def _q_inverted_index_stats(spark, sf_dir) -> DataFrame:
    """Inverted-index build census: posting lists are hash-sharded by
    term (shard = stable_hash64(tok) % {S}); per shard the plan emits
    term count, posting count, the heaviest term's df, and an
    ORDER-INDEPENDENT content checksum — BIT_XOR over per-posting
    hashes — so two independently-built indexes can be diffed without
    materializing either (the shard_manifest convention).

    Scale shape: the (tok, doc_id) pre-aggregate IS the posting list;
    per-term stats are one combinable groupBy; the shard rollup reduces
    to {S} rows. No posting list is ever collected or sorted globally —
    the checksum's XOR commutes, which is the point."""
    td = _tok_doc_counts(spark, sf_dir)
    per_term = td.groupBy("tok").agg(
        F.count("*").cast("long").alias("df_docs"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
        F.expr(
            "bit_xor(cast(conv(substring(md5(concat(tok, ':', doc_id)), 1, 15),"
            " 16, 10) AS BIGINT))"
        ).alias("term_xor"),
    )
    return (
        per_term.withColumn(
            "shard",
            F.pmod(stable_hash64(F.col("tok")), F.lit(INDEX_SHARDS)).cast("int"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("df_docs").cast("long").alias("n_postings"),
            F.max("df_docs").cast("long").alias("max_df"),
            F.min("min_doc").cast("long").alias("min_doc"),
            F.max("max_doc").cast("long").alias("max_doc"),
            F.expr("bit_xor(term_xor)").cast("long").alias("content_xor"),
        )
    )


def _inverted_index_oracle() -> str:
    return f"""
WITH {_O_TD_CTE},
pt AS (
  SELECT tok, COUNT(*)::BIGINT AS df_docs,
         MIN(doc_id)::BIGINT AS min_doc, MAX(doc_id)::BIGINT AS max_doc,
         BIT_XOR(('0x' || substr(md5(tok || ':' || doc_id), 1, 15))::BIGINT)
           AS term_xor,
         (('0x' || substr(md5(tok), 1, 15))::BIGINT % {INDEX_SHARDS})::INT
           AS shard
  FROM td GROUP BY tok)
SELECT shard, COUNT(*)::BIGINT AS n_terms, SUM(df_docs)::BIGINT AS n_postings,
       MAX(df_docs)::BIGINT AS max_df, MIN(min_doc)::BIGINT AS min_doc,
       MAX(max_doc)::BIGINT AS max_doc,
       BIT_XOR(term_xor)::BIGINT AS content_xor
FROM pt GROUP BY shard
"""


def _q_heaps_law_curve(spark, sf_dir) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: walking the corpus in doc_id
    order, cumulative token occurrences vs cumulative DISTINCT tokens at
    {NB} equal-width checkpoints — the curve that sizes tokenizer
    training and detects synthetic/looping corpora (flat growth).

    Scale shape: 'distinct tokens seen by prefix P' never scans
    prefixes — each token contributes at its FIRST-occurrence doc
    (MIN(doc_id) per token, one combinable groupBy), first occurrences
    histogram into {NB} buckets, and ONE window over {NB} rows
    cumulates. The bucket width comes from a broadcast 1-row census,
    not a driver collect."""
    td = _tok_doc_counts(spark, sf_dir)
    census = td.agg(
        (F.max("doc_id") + 1).cast("long").alias("span"),
    )
    # bucket = doc_id * NB DIV span, clamped to NB-1 (doc_id < span)
    bkt = F.expr(f"CAST((doc_id * {HEAPS_BUCKETS}) DIV span AS INT)")
    first_occ = (
        td.groupBy("tok")
        .agg(F.min("doc_id").cast("long").alias("doc_id"))
        .crossJoin(F.broadcast(census))
        .groupBy(bkt.alias("bucket"))
        .agg(F.count("*").cast("long").alias("new_tokens"))
    )
    occ = (
        td.crossJoin(F.broadcast(census))
        .groupBy(bkt.alias("bucket"))
        .agg(F.sum("tf").cast("long").alias("bucket_occ"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        occ.join(first_occ, "bucket", "left")
        .select(
            "bucket",
            "bucket_occ",
            F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.sum("bucket_occ").over(w).cast("long").alias("cum_occurrences"),
            F.sum("new_tokens").over(w).cast("long").alias("cum_distinct_tokens"),
        )
    )


def _heaps_oracle() -> str:
    return f"""
WITH {_O_TD_CTE},
census AS (SELECT MAX(doc_id) + 1 AS span FROM td),
fo AS (
  SELECT ((MIN(doc_id) * {HEAPS_BUCKETS}) // span)::INT AS bucket,
         COUNT(*)::BIGINT AS new_tokens
  FROM td, census GROUP BY tok, span),
fob AS (SELECT bucket, COUNT(*)::BIGINT AS new_tokens FROM fo GROUP BY bucket),
occ AS (
  SELECT ((doc_id * {HEAPS_BUCKETS}) // span)::INT AS bucket,
         SUM(tf)::BIGINT AS bucket_occ
  FROM td, census GROUP BY 1)
SELECT occ.bucket,
       SUM(bucket_occ) OVER (ORDER BY occ.bucket
         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_occurrences,
       SUM(COALESCE(new_tokens, 0)) OVER (ORDER BY occ.bucket
         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_distinct_tokens
FROM occ LEFT JOIN fob ON occ.bucket = fob.bucket
"""


def _q_doc_length_histogram(spark, sf_dir) -> DataFrame:
    """Doc-length histogram in power-of-two buckets (bucket =
    ilog2(n_tokens + 1), the integer-log2 convention) — the length
    distribution a packing/chunking config is sized from, and the
    first chart on any dataset card. One combinable groupBy over a
    ~log(max_len) bucket key; integer-exact everywhere."""
    from ocr_lib_spark.functions.text import bpe_token_count

    d = documents(spark, sf_dir).select(
        bpe_token_count(F.coalesce("text", F.lit(""))).cast("long").alias("ntok")
    )
    return (
        d.select(
            "ntok",
            (F.length(F.expr("bin(ntok + 1)")) - 1).cast("int").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("sum_tokens"),
            F.min("ntok").cast("long").alias("min_tokens"),
            F.max("ntok").cast("long").alias("max_tokens"),
        )
    )


def _doc_length_histogram_oracle() -> str:
    from ocr_lib_spark.functions.text import BPE_ISH_PATTERN

    bpe_sql = BPE_ISH_PATTERN.replace("'", "''")
    return f"""
WITH d AS (
  SELECT len(regexp_extract_all(COALESCE(text, ''), '{bpe_sql}'))::BIGINT AS ntok
  FROM documents)
SELECT (length(bin(ntok + 1)) - 1)::INT AS bucket,
       COUNT(*)::BIGINT AS n_docs, SUM(ntok)::BIGINT AS sum_tokens,
       MIN(ntok)::BIGINT AS min_tokens, MAX(ntok)::BIGINT AS max_tokens
FROM d GROUP BY 1
"""


def _q_tokenizer_fertility(spark, sf_dir) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword tokens per
    whitespace word, in exact parts-per-million — THE metric a
    tokenizer evaluation reports per language/script (fertility >> 1e6
    flags scripts the vocab serves poorly). One codegen map + one
    combinable groupBy over the bounded lang key; ppm by integer DIV
    on corpus-level sums (never an average of per-doc floats).

    Both the whitespace-word count and the BPE count run on the
    HOSTILE_WS_SQL derived fixture (textops.py), and the oracle twin
    splits on the same \\s+ regex — the shared whitespace contract
    ADVICE r7 flagged (Spark \\s+ vs oracle ' ' diverged on any tab or
    newline; the gate now exercises that axis on ~43% of docs)."""
    from ocr_lib_spark.functions.text import bpe_token_count
    from ocr_lib_spark.plans.textops import HOSTILE_WS_SQL

    ht = F.expr(HOSTILE_WS_SQL.format(d="doc_id", t="COALESCE(text, '')"))
    d = documents(spark, sf_dir).select(
        "lang",
        bpe_token_count(ht).cast("long").alias("bpe"),
        F.size(F.filter(F.split(F.trim(ht), r"\s+"), lambda x: x != ""))
        .cast("long")
        .alias("ws"),
    )
    return d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("bpe").cast("long").alias("bpe_tokens"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.expr(
            "CASE WHEN SUM(ws) = 0 THEN 0 ELSE (1000000 * SUM(bpe)) DIV SUM(ws) END"
        )
        .cast("long")
        .alias("fertility_ppm"),
    )


def _tokenizer_fertility_oracle() -> str:
    from ocr_lib_spark.functions.text import BPE_ISH_PATTERN
    from ocr_lib_spark.plans.textops import HOSTILE_WS_SQL

    bpe_sql = BPE_ISH_PATTERN.replace("'", "''")
    ht = HOSTILE_WS_SQL.format(d="doc_id", t="COALESCE(text, '')")
    return f"""
WITH d AS (
  SELECT lang,
         len(regexp_extract_all({ht}, '{bpe_sql}'))::BIGINT AS bpe,
         len(list_filter(regexp_split_to_array(trim({ht}), '\\s+'),
                         x -> x <> ''))::BIGINT AS ws
  FROM documents)
SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(bpe)::BIGINT AS bpe_tokens,
       SUM(ws)::BIGINT AS ws_tokens,
       (CASE WHEN SUM(ws) = 0 THEN 0
             ELSE (1000000 * SUM(bpe)) // SUM(ws) END)::BIGINT AS fertility_ppm
FROM d GROUP BY lang
"""


QUERIES = {
    "tokenizer_fertility": QueryDef(
        _q_tokenizer_fertility,
        _tokenizer_fertility_oracle(),
        "tokenizer fertility (BPE per whitespace word, exact ppm) per language",
    ),
    "doc_length_histogram": QueryDef(
        _q_doc_length_histogram,
        _doc_length_histogram_oracle(),
        "doc-length histogram in power-of-two buckets (integer log2, dataset-card stat)",
    ),
    "tfidf_topk": QueryDef(
        _q_tfidf_topk,
        _tfidf_oracle(),
        "integer-exact TF-IDF retrieval: top-K docs per discriminative query term (two-phase top-k)",
    ),
    "inverted_index_stats": QueryDef(
        _q_inverted_index_stats,
        _inverted_index_oracle(),
        "inverted-index shard census with order-independent posting checksums",
    ),
    "heaps_law_curve": QueryDef(
        _q_heaps_law_curve,
        _heaps_oracle(),
        "Heaps-law vocabulary-growth curve via first-occurrence histogram (no prefix scans)",
    ),
}
