"""Extraction-pipeline queries with closed-form DuckDB oracles.

The transcripts are derived from ``documents`` by the deterministic
case rule in sources/synth.py; the oracle predicts the extraction
output from the construction, while the engine must earn it from the
payload alone (segment -> classify -> assemble). This is the engine's
end-to-end golden — the analog of the reference's pinned
``"* **** i ********\\n"`` (core_test.clj:3225-3228).
"""

from __future__ import annotations

import base64

from pyspark.sql import functions as F

from ocr_lib_spark.pipeline import assemble_conversations, extract_turns
from ocr_lib_spark.plans import QueryDef
from ocr_lib_spark.sources.synth import (
    B64_PRE,
    LINKFARM,
    N_CASES,
    N_CONVS,
    NAV,
    TOOL_PRE,
    transcripts_from_documents,
)
from ocr_lib_spark.streaming.replay import replay_to_memory

# span-offset constants implied by the construction (python side computes
# them once; the SQL below inlines the integers)
_S1 = len(NAV) + len("<p>")  # content start for cases 1 and 2
_S2_EXTRA = len("</p>") + len(LINKFARM) + len("<p>")  # case 2: second span offset after first
_S3 = len(TOOL_PRE)
_S4 = len(B64_PRE)

_CONV = f"printf('conv-%08d', doc_id % {N_CONVS})"
_TURN = f"CAST(FLOOR(doc_id / {N_CONVS}) AS INT)"
_CASE = f"CAST(doc_id % {N_CASES} AS INT)"


def _q_extract_text(spark, sf_dir):
    tr = transcripts_from_documents(spark, sf_dir)
    ex = extract_turns(tr)
    return ex.select(
        "conv_id",
        "turn_idx",
        F.col("extracted_text"),
        F.col("n_blocks"),
    )


_ORACLE_TEXT = f"""
SELECT {_CONV} AS conv_id,
       {_TURN} AS turn_idx,
       CASE {_CASE}
         WHEN 2 THEN text || chr(10) || text
         WHEN 5 THEN ''
         WHEN 6 THEN ''
         ELSE text END AS extracted_text,
       CAST(CASE {_CASE}
         WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 5 WHEN 3 THEN 1
         WHEN 4 THEN 1 WHEN 5 THEN 2 ELSE 0 END AS INT) AS n_blocks
FROM documents
"""


def _q_extract_spans(spark, sf_dir):
    tr = transcripts_from_documents(spark, sf_dir)
    ex = extract_turns(tr)
    return ex.select(
        "conv_id", "turn_idx", F.posexplode("spans").alias("span_idx", "s")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.col("s.start").alias("span_start"),
        F.col("s.end").alias("span_end"),
        F.col("s.label").alias("span_label"),
    )


_ORACLE_SPANS = f"""
WITH base AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx, {_CASE} AS c, n_chars
  FROM documents
)
SELECT conv_id, turn_idx, CAST(0 AS INT) AS span_idx,
       CAST(CASE c WHEN 0 THEN 0 WHEN 1 THEN {_S1} WHEN 2 THEN {_S1}
                   WHEN 3 THEN {_S3} ELSE {_S4} END AS INT) AS span_start,
       CAST(CASE c WHEN 0 THEN n_chars
                   WHEN 1 THEN {_S1} + n_chars
                   WHEN 2 THEN {_S1} + n_chars
                   WHEN 3 THEN {_S3} + n_chars
                   ELSE {_S4} + 4 * CAST(FLOOR((n_chars + 2) / 3) AS INT)
        END AS INT) AS span_end,
       CASE c WHEN 4 THEN 'blob' ELSE 'content' END AS span_label
FROM base WHERE c IN (0, 1, 2, 3, 4)
UNION ALL
SELECT conv_id, turn_idx, CAST(1 AS INT) AS span_idx,
       CAST({_S1} + n_chars + {_S2_EXTRA} AS INT) AS span_start,
       CAST({_S1} + n_chars + {_S2_EXTRA} + n_chars AS INT) AS span_end,
       'content' AS span_label
FROM base WHERE c = 2
"""


def _q_conv_assembly(spark, sf_dir):
    tr = transcripts_from_documents(spark, sf_dir)
    ex = extract_turns(tr)
    return assemble_conversations(ex).select(
        "conv_id", "conv_text", "n_turns", "n_content_turns"
    )


_ORACLE_CONV = f"""
WITH per_turn AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
)
SELECT conv_id,
       coalesce(string_agg(extracted_text, chr(10) ORDER BY turn_idx)
                FILTER (WHERE extracted_text <> ''), '') AS conv_text,
       count(*) AS n_turns,
       count(*) FILTER (WHERE extracted_text <> '') AS n_content_turns
FROM per_turn GROUP BY conv_id
"""


def _mm_payload(spark, sf_dir):
    """Documents as opaque binary payloads — the multimodal carrier
    column (container lacks real codecs; text bytes stand in, which
    keeps the DuckDB twins exact since payload bytes == UTF-8 text)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", F.col("text").cast("binary").alias("payload"))


def _q_multimodal_meta(spark, sf_dir):
    from ocr_lib_spark.operators.multimodal import decode_image_meta

    return decode_image_meta(_mm_payload(spark, sf_dir))


_ORACLE_MULTIMODAL = """
SELECT doc_id,
       CAST(n_chars AS INT) AS n_bytes,
       CAST(ascii(substring(text, 1, 1)) % 64 + 1 AS INT) AS width,
       CAST(n_chars % 64 + 1 AS INT) AS height,
       md5(text) AS content_md5,
       'stub' AS decoder
FROM documents
"""


def _q_multimodal_hist(spark, sf_dir):
    from ocr_lib_spark.operators.multimodal import byte_histogram

    # posexplode to scalar (doc_id, n_bytes, bin, n_in_bin) rows: the
    # driver's canonicalizer sorts raw columns and cannot hash an
    # array<int> cell, so no array column may cross the gate boundary
    # (the kernel itself still emits one hist array per doc).
    h = byte_histogram(_mm_payload(spark, sf_dir), bins=16)
    return h.select(
        "doc_id", "n_bytes", F.posexplode("hist").alias("bin", "n_in_bin")
    ).select(
        "doc_id",
        "n_bytes",
        F.col("bin").cast("int").alias("bin"),
        F.col("n_in_bin").cast("int").alias("n_in_bin"),
    )


_ORACLE_MM_HIST = """
SELECT doc_id, CAST(n_chars AS INT) AS n_bytes, CAST(r.b AS INT) AS bin,
       len(list_filter(list_transform(split(text, ''), ch -> ascii(ch) // 16),
                       v -> v = r.b))::INT AS n_in_bin
FROM documents CROSS JOIN range(0, 16) AS r(b)
"""


def _q_multimodal_thumb(spark, sf_dir):
    from ocr_lib_spark.operators.multimodal import byte_thumbnail

    return byte_thumbnail(_mm_payload(spark, sf_dir), cells=16)


_ORACLE_MM_THUMB = """
WITH g AS (
  SELECT doc_id, CAST(n_chars AS INT) AS n_bytes, CAST(r.c AS INT) AS cell,
         (n_chars * r.c) // 16 AS lo, (n_chars * (r.c + 1)) // 16 AS hi, text
  FROM documents CROSS JOIN range(0, 16) AS r(c))
SELECT doc_id, n_bytes, cell,
       CASE WHEN hi > lo THEN
         (list_sum(list_transform(split(substring(text, lo + 1, hi - lo), ''),
                                  ch -> ascii(ch))) // (hi - lo))::INT
       ELSE 0 END AS mean_byte
FROM g
"""


def _q_multimodal_frames(spark, sf_dir):
    from ocr_lib_spark.operators.multimodal import frame_sample

    return frame_sample(_mm_payload(spark, sf_dir), n_frames=4, frame_bytes=32)


_ORACLE_MM_FRAMES = """
SELECT doc_id, CAST(n_chars AS INT) AS n_bytes,
       CAST(i AS INT) AS frame_idx,
       CAST(greatest(n_chars - 32, 0) * i // 3 AS INT) AS offset,
       md5(substring(text, CAST(greatest(n_chars - 32, 0) * i // 3 AS INT) + 1, 32)) AS frame_md5
FROM documents CROSS JOIN range(0, 4) AS r(i)
"""


def _q_multimodal_decode_census(spark, sf_dir):
    """Decode-path census (VERDICT r6 item 7): which decoder actually
    produced each row, per container class, with REAL decoded dims
    pinned. ``jpeg_gray_decode`` returns None for progressive /
    arithmetic / subsampled-color payloads BY DESIGN
    (operators/multimodal.py scope note) and the cascade falls back to
    the header probe — this query makes that fallback rate an
    externally-gated quantity instead of a silent branch. The fixture
    synthesizes one payload per doc across 5 classes (real PNG, real
    baseline JPEG, progressive-JPEG header, opaque bytes, text bytes)
    with closed-form dims, so the DuckDB oracle pins the full
    (container, decoder, n_docs, sum of decoded dims) census without
    running any codec: a broken pixel decoder surfaces as a census
    shift (png/jpg rows migrating to hdr/stub), a broken dim
    reconstruction as a sum mismatch. Scale shape: two Arrow kernels
    (synth is fixture-only; production reads payload columns) then ONE
    map-side-combinable groupBy over a ≤2·MM_CLASSES key space."""
    from ocr_lib_spark.operators.multimodal import (
        MM_CLASSES,
        decode_image_meta,
        synth_container_payloads,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    meta = decode_image_meta(synth_container_payloads(docs))
    cls = F.col("doc_id") % MM_CLASSES
    container = (
        F.when(cls == 0, F.lit("png"))
        .when(cls == 1, F.lit("jpeg_baseline"))
        .when(cls == 2, F.lit("jpeg_progressive"))
        .when(cls == 3, F.lit("opaque"))
        .otherwise(F.lit("text"))
    )
    return (
        meta.select(container.alias("container"), "decoder", "width", "height")
        .groupBy("container", "decoder")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("width").cast("long").alias("sum_width"),
            F.sum("height").cast("long").alias("sum_height"),
        )
    )


_ORACLE_MM_DECODE_CENSUS = """
WITH c AS (
  SELECT doc_id, doc_id % 5 AS cls, text, n_chars,
         3 + (doc_id // 5) % 6 AS iw, 2 + (doc_id // 7) % 5 AS ih
  FROM documents),
per AS (
  SELECT CASE cls WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg_baseline'
                  WHEN 2 THEN 'jpeg_progressive' WHEN 3 THEN 'opaque'
                  ELSE 'text' END AS container,
         CASE cls WHEN 0 THEN 'png' WHEN 1 THEN 'jpg'
                  WHEN 2 THEN 'hdr' ELSE 'stub' END AS decoder,
         CASE WHEN cls IN (0, 1, 2) THEN iw
              WHEN cls = 3 THEN 1
              ELSE ascii(substring(text, 1, 1)) % 64 + 1 END AS width,
         CASE WHEN cls IN (0, 1, 2) THEN ih
              WHEN cls = 3 THEN 18
              ELSE n_chars % 64 + 1 END AS height
  FROM c)
SELECT container, decoder, COUNT(*)::BIGINT AS n_docs,
       SUM(width)::BIGINT AS sum_width, SUM(height)::BIGINT AS sum_height
FROM per GROUP BY container, decoder
"""


def _q_conv_dedup(spark, sf_dir):
    """End-to-end training-data shape: extract -> assemble -> exact
    conversation dedup by content digest (one digest shuffle — the full
    pipeline a 100 TB corpus dedup runs, with extraction earned from
    the payloads, not the construction)."""
    tr = transcripts_from_documents(spark, sf_dir)
    conv = assemble_conversations(extract_turns(tr))
    return (
        conv.select(F.md5("conv_text").alias("digest"), "conv_id")
        .groupBy("digest")
        .agg(F.count("*").alias("n_convs"), F.min("conv_id").alias("keep_conv"))
    )


_ORACLE_CONV_DEDUP = f"""
WITH per_turn AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
),
conv AS (
  SELECT conv_id,
         coalesce(string_agg(extracted_text, chr(10) ORDER BY turn_idx)
                  FILTER (WHERE extracted_text <> ''), '') AS conv_text
  FROM per_turn GROUP BY conv_id
)
SELECT md5(conv_text) AS digest, COUNT(*) AS n_convs, MIN(conv_id) AS keep_conv
FROM conv GROUP BY md5(conv_text)
"""


#: derived-boilerplate rule for turn_response_dedup: assistant docs
#: (doc_id % 3 == 1) with doc_id % BOILER_MOD == BOILER_RES answer with
#: the fixed string. BOILER_RES ≡ 1 (mod 3) so the residue class is
#: entirely assistant turns; BOILER_MOD = 9 puts every third assistant
#: turn in it.
BOILER_MOD = 9
BOILER_RES = 4
BOILER_TEXT = "Sure, I can help with that."


def _q_turn_response_dedup(spark, sf_dir):
    """Cross-conversation ASSISTANT-RESPONSE dedup — the SFT-curation
    step between exact conv dedup (verbatim re-logs) and conv near-dup
    (edited re-logs): assistants repeat boilerplate replies ("Sure, I
    can help with that") across otherwise-distinct conversations, and
    response-level dedup is what catches the resulting gradient
    over-weighting. Extract → keep non-empty assistant turns → digest
    the extracted text → first occurrence corpus-wide (min (conv_id,
    turn_idx) — conv ids are zero-padded strings, so lexicographic ==
    numeric on both engines) keeps; per conversation: assistant-turn
    census + how many of its responses are duplicates of an earlier
    conversation's.

    Scale shape: ONE digest-keyed shuffle (groupBy MIN(struct) —
    map-side combinable, never a window over the digest key: degenerate
    boilerplate digests are exactly the hot case, same argument as
    segment_dedup), join back on digest (build side is 1 row/digest),
    one conv-keyed groupBy. Ref analog: the set-semantics dedupe of
    conj-on-set (core.clj:341) at response granularity.

    Fixture derivation (the PII-suite convention — the positive case
    must exist and be pinned, not hoped for): every fixture text is
    unique, so boilerplate is DERIVED in closed form on both engines —
    assistant turns whose doc_id ≡ {BOILER_RES} (mod {BOILER_MOD})
    respond with the fixed boilerplate string instead (doc_id
    reconstructs exactly as turn_idx * N_CONVS + conv number; the
    oracle keeps the native doc_id). ~1/3 of assistant turns collide,
    so keep-first and the dup census are genuinely exercised."""
    tr = transcripts_from_documents(spark, sf_dir)
    ex = extract_turns(tr)
    doc_id = (
        F.col("turn_idx").cast("long") * N_CONVS
        + F.substring("conv_id", 6, 8).cast("long")
    )
    text = F.when(
        doc_id % BOILER_MOD == BOILER_RES, F.lit(BOILER_TEXT)
    ).otherwise(F.col("extracted_text"))
    resp = ex.where(
        (F.col("role") == "assistant") & (F.col("extracted_text") != "")
    ).select("conv_id", "turn_idx", F.md5(text).alias("digest"))
    keeper = resp.groupBy("digest").agg(
        F.min(F.struct("conv_id", "turn_idx")).alias("k")
    )
    flags = resp.join(keeper, "digest").select(
        "conv_id",
        (
            (F.col("conv_id") != F.col("k.conv_id"))
            | (F.col("turn_idx") != F.col("k.turn_idx"))
        )
        .cast("long")
        .alias("is_dup"),
    )
    return flags.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_assistant_turns"),
        F.sum("is_dup").cast("long").alias("n_dup_responses"),
    )


_ORACLE_TURN_RESPONSE_DEDUP = f"""
WITH per_turn AS (
  SELECT doc_id, {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
),
resp AS (
  SELECT conv_id, turn_idx,
         md5(CASE WHEN doc_id % {BOILER_MOD} = {BOILER_RES}
                  THEN '{BOILER_TEXT}' ELSE extracted_text END) AS digest
  FROM per_turn WHERE role = 'assistant' AND extracted_text <> ''),
keeper AS (
  SELECT digest, MIN(ROW(conv_id, turn_idx)) AS k FROM resp GROUP BY digest)
SELECT r.conv_id,
       COUNT(*)::BIGINT AS n_assistant_turns,
       SUM(CASE WHEN ROW(r.conv_id, r.turn_idx) <> k.k THEN 1 ELSE 0 END)::BIGINT
         AS n_dup_responses
FROM resp r JOIN keeper k USING (digest)
GROUP BY r.conv_id
"""


#: derived agent-loop rule for conv_loop_detect: turns with
#: turn_idx % LOOP_PERIOD < LOOP_LEN carry the fixed retry payload —
#: every fixture text is unique, so without a derivation no consecutive
#: turns would ever collide and the run detector's positive branch
#: would go unexercised (same closed-form-fixture convention as
#: turn_response_dedup's boilerplate and the PII suite).
LOOP_PERIOD = 12
LOOP_LEN = 3
LOOP_TEXT = "Tool call failed, retrying..."
#: a run of identical consecutive turns counts as a loop at this length
LOOP_MIN_RUN = 3


def _q_conv_loop_detect(spark, sf_dir):
    """Agent-loop detection — the transcript-specific repetition signal
    doc-level Gopher metrics miss: an agent stuck retrying emits runs
    of IDENTICAL consecutive turns (same tool call, same error, same
    apology), and loop-heavy conversations are degenerate training
    data even when every individual turn passes quality gates. Per
    conversation: turn census, longest identical-digest run, number of
    runs >= LOOP_MIN_RUN, and turns inside such runs.

    Run detection is the standard gaps-and-islands shape: lag over the
    (conv, turn order) window flags run starts, a cumulative sum
    numbers the runs, one groupBy counts them. Scale: both windows
    partition by conv_id (the loss_mask_spans precedent) — fine for
    the fixture's bounded convs; a 10^6-turn conversation runs each
    window in one task, as assemble_conversations holds it in one
    aggregation buffer; the aggregates themselves are map-side
    combinable. Ref analog:
    run-length boundary detection (event_run_length) applied to the
    extraction output."""
    tr = transcripts_from_documents(spark, sf_dir)
    ex = extract_turns(tr)
    from pyspark.sql import Window

    key = F.when(
        F.col("turn_idx") % LOOP_PERIOD < LOOP_LEN, F.lit(LOOP_TEXT)
    ).otherwise(F.col("extracted_text"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = ex.select("conv_id", "turn_idx", F.md5(key).alias("k"))
    t = t.withColumn(
        "new_run",
        (F.col("k") != F.coalesce(F.lag("k").over(w), F.lit("")))
        .cast("int"),
    ).withColumn(
        "run_id",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = t.groupBy("conv_id", "run_id").agg(F.count("*").alias("run_len"))
    return runs.groupBy("conv_id").agg(
        F.sum("run_len").cast("long").alias("n_turns"),
        F.max("run_len").cast("long").alias("max_run"),
        F.sum((F.col("run_len") >= LOOP_MIN_RUN).cast("long"))
        .cast("long")
        .alias("n_loop_runs"),
        F.sum(
            F.when(F.col("run_len") >= LOOP_MIN_RUN, F.col("run_len")).otherwise(0)
        )
        .cast("long")
        .alias("n_loop_turns"),
    )


_ORACLE_CONV_LOOP = f"""
WITH per_turn AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
),
keyed AS (
  SELECT conv_id, turn_idx,
         md5(CASE WHEN turn_idx % {LOOP_PERIOD} < {LOOP_LEN}
                  THEN '{LOOP_TEXT}' ELSE extracted_text END) AS k
  FROM per_turn),
flagged AS (
  SELECT conv_id, turn_idx, k,
         CASE WHEN k = COALESCE(LAG(k) OVER w, '') THEN 0 ELSE 1 END AS new_run
  FROM keyed WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
runs AS (
  SELECT conv_id,
         SUM(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged),
rl AS (SELECT conv_id, run_id, COUNT(*) AS run_len FROM runs GROUP BY conv_id, run_id)
SELECT conv_id,
       SUM(run_len)::BIGINT AS n_turns,
       MAX(run_len)::BIGINT AS max_run,
       SUM(CASE WHEN run_len >= {LOOP_MIN_RUN} THEN 1 ELSE 0 END)::BIGINT AS n_loop_runs,
       SUM(CASE WHEN run_len >= {LOOP_MIN_RUN} THEN run_len ELSE 0 END)::BIGINT AS n_loop_turns
FROM rl GROUP BY conv_id
"""


def _q_conv_near_dup(spark, sf_dir):
    """Conversation-level NEAR-dup: extract -> assemble -> simhash the
    assembled conv_text -> banded-hamming candidate pairs + exact
    popcount verify. The composed shape a transcript corpus actually
    dedupes at (whole conversations, not documents): exact dedup
    (conv_dedup) catches verbatim re-logs, this catches
    edited/re-serialized ones. Same scale notes as
    simhash_near_dup_pairs (band equi-join, hot-bucket cap); conv ids
    are strings, ordered lexicographically on both engines."""
    from ocr_lib_spark.operators.dedup import simhash_bits, simhash_near_dup_pairs
    from ocr_lib_spark.plans.textops import (
        SIMHASH_BITS,
        SIMHASH_ND_BANDS,
        SIMHASH_ND_MAX_BUCKET,
        SIMHASH_ND_MAX_HAMMING,
    )

    tr = transcripts_from_documents(spark, sf_dir)
    conv = assemble_conversations(extract_turns(tr))
    # normalize the turn-separator newlines to spaces BEFORE hashing:
    # the shared simhash tokenization contract is single-space-split
    # (documents are newline-free; assembled conversations are not)
    fp = simhash_bits(
        conv.select(
            F.col("conv_id").alias("doc_id"),
            F.translate("conv_text", "\n", " ").alias("text"),
        ),
        n_bits=SIMHASH_BITS,
        spread=False,  # ~N_CONVS rows: spread overhead > kernel cost
    )
    return simhash_near_dup_pairs(
        fp,
        n_bits=SIMHASH_BITS,
        bands=SIMHASH_ND_BANDS,
        max_hamming=SIMHASH_ND_MAX_HAMMING,
        max_bucket_size=SIMHASH_ND_MAX_BUCKET,
    )


def _conv_near_dup_oracle() -> str:
    """Reuse the verified simhash-pair CTE chain, re-pointed at the
    verified assembled-conversation CTE (conv_id/conv_text stand in
    for doc_id/text)."""
    from ocr_lib_spark.plans.textops import _simhash_near_dup_oracle

    sim = _simhash_near_dup_oracle()
    assert sim.lstrip().startswith("WITH toks AS"), "fragment drift"
    # the stitch re-points the ONE source scan; a second occurrence added
    # to the fragment later would silently mis-stitch (ADVICE r4)
    assert sim.count("FROM documents") == 1, "fragment drift: source scan count"
    sim = sim.replace("FROM documents", "FROM conv_docs", 1)
    conv_prefix = f"""
WITH per_turn AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
),
conv AS (
  SELECT conv_id,
         coalesce(string_agg(extracted_text, chr(10) ORDER BY turn_idx)
                  FILTER (WHERE extracted_text <> ''), '') AS conv_text
  FROM per_turn GROUP BY conv_id
),
conv_docs AS (SELECT conv_id AS doc_id, replace(conv_text, chr(10), ' ') AS text FROM conv),"""
    return conv_prefix + sim.lstrip()[len("WITH") :]


def loss_mask_spans(ex, cfg=None):
    """SFT loss-mask spans over an extracted-turns frame: the character
    ranges of ASSISTANT turns inside the assembled conv_text — what a
    supervised-finetuning pipeline masks loss to. Offsets are the
    running sum of (len + separator) over preceding non-empty turns in
    stable (conv_id, turn_idx) order, so
    `conv_text[mask_start:mask_end]` is exactly the assistant turn's
    extracted text (pinned by test for the default AND a 2-char
    separator). One window per conversation — the same bounded-key
    shape as event_reindex, and the same per-conversation unit as
    assemble_conversations' one aggregation buffer: a 10^6-turn
    conversation sorts in one task."""
    from pyspark.sql import Window

    from ocr_lib_spark.config import DEFAULT_CONFIG

    # derived from the SAME knob assemble_conversations joins with, so
    # spans can't silently desync from conv_text if the separator ever
    # changes (the oracle pins the default '\n' — a 1-char separator)
    sep_len = len((cfg or DEFAULT_CONFIG).block_separator)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = ex.select(
        "conv_id", "turn_idx", "role", F.length("extracted_text").alias("tl")
    ).withColumn(
        "mask_start",
        F.coalesce(
            F.sum(
                F.when(F.col("tl") > 0, F.col("tl") + sep_len).otherwise(F.lit(0))
            ).over(w),
            F.lit(0),
        ).cast("int"),
    )
    return t.where((F.col("role") == "assistant") & (F.col("tl") > 0)).select(
        "conv_id",
        "turn_idx",
        "mask_start",
        (F.col("mask_start") + F.col("tl")).cast("int").alias("mask_end"),
    )


def _q_loss_mask_spans(spark, sf_dir):
    tr = transcripts_from_documents(spark, sf_dir)
    return loss_mask_spans(extract_turns(tr))


# --- conversation hygiene: alternation stats + conv-level quality gate -------
# The SFT-curation filters a transcript corpus runs at CONVERSATION
# granularity: (1) role-structure hygiene — user/assistant alternation
# violations, boundary roles, tool-call counts; (2) the Gopher rule-bit
# gate over the assembled conversation text (the doc-level gate is
# gopher_quality_bits; a chat corpus filters whole conversations).


def _q_conv_turn_stats(spark, sf_dir):
    """Per-conversation hygiene report: turn/role counts, tool calls,
    boundary roles, and user/assistant alternation violations
    (consecutive same role among user/assistant turns — tool turns
    belong to their assistant caller and are excluded from the
    alternation check). Scale shape: one combinable groupBy + one
    bounded-key window (lag per conv_id — the gap_sessionize shape);
    nothing global."""
    from pyspark.sql import Window

    tr = transcripts_from_documents(spark, sf_dir)
    base = tr.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum((F.col("role") == "user").cast("int")).cast("long").alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("int")).cast("long").alias("n_assistant"),
        F.sum((F.col("role") == "tool").cast("int")).cast("long").alias("n_tool"),
        F.sum((F.col("tool") != "").cast("int")).cast("long").alias("n_tool_calls"),
        F.min_by("role", "turn_idx").alias("first_role"),
        F.max_by("role", "turn_idx").alias("last_role"),
    )
    ua = tr.where(F.col("role").isin("user", "assistant")).select(
        "conv_id", "turn_idx", "role"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    viol = (
        ua.withColumn("prev", F.lag("role").over(w))
        .groupBy("conv_id")
        .agg(
            F.sum((F.col("role") == F.col("prev")).cast("int"))
            .cast("long")
            .alias("nv")
        )
    )
    return base.join(viol, "conv_id", "left").select(
        "conv_id",
        "n_turns",
        "n_user",
        "n_assistant",
        "n_tool",
        "n_tool_calls",
        "first_role",
        "last_role",
        F.coalesce("nv", F.lit(0)).cast("long").alias("n_alternation_violations"),
    )


def _conv_turn_stats_oracle() -> str:
    from ocr_lib_spark.sources.synth import duckdb_transcripts_cte

    return f"""
WITH tr AS ({duckdb_transcripts_cte()}),
base AS (
  SELECT conv_id, COUNT(*)::BIGINT AS n_turns,
         SUM((role = 'user')::INT)::BIGINT AS n_user,
         SUM((role = 'assistant')::INT)::BIGINT AS n_assistant,
         SUM((role = 'tool')::INT)::BIGINT AS n_tool,
         SUM((tool <> '')::INT)::BIGINT AS n_tool_calls,
         arg_min(role, turn_idx) AS first_role,
         arg_max(role, turn_idx) AS last_role
  FROM tr GROUP BY conv_id),
v AS (
  SELECT conv_id, SUM(same)::BIGINT AS nv FROM (
    SELECT conv_id,
           (role = LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx))::INT AS same
    FROM tr WHERE role IN ('user', 'assistant'))
  GROUP BY conv_id)
SELECT base.conv_id, n_turns, n_user, n_assistant, n_tool, n_tool_calls,
       first_role, last_role, COALESCE(nv, 0)::BIGINT AS n_alternation_violations
FROM base LEFT JOIN v ON base.conv_id = v.conv_id
"""


def _q_conv_packing(spark, sf_dir):
    """SFT batch packing at CONVERSATION granularity: extract →
    assemble → BPE-ish token count per conversation → greedy
    concat-and-chunk under the context budget. The token_packing shape
    (per-shard running-sum window, no global sort) over assembled
    conversations — what an SFT dataloader actually packs. Shard key =
    stable md5 hash of conv_id mod PACK_SHARDS (conv ids are strings;
    the hash rule is the engine's standard cross-engine int64), order
    within shard = conv_id (ASCII, both engines agree)."""
    tr = transcripts_from_documents(spark, sf_dir)
    return _pack_conversations(assemble_conversations(extract_turns(tr)))


def _pack_conversations(conv):
    """(conv_id, conv_text) -> one row per conversation with its shard,
    BPE-ish token count and (chunk_idx, chunk_offset) placement under
    the context budget: a per-shard running-sum window, no global sort.
    Shared by conv_packing and conv_training_mix."""
    from ocr_lib_spark.functions.text import bpe_token_count, stable_hash64
    from ocr_lib_spark.plans.textops import PACK_BUDGET, PACK_SHARDS, pack_window

    d = conv.select(
        "conv_id",
        F.pmod(stable_hash64(F.col("conv_id")), F.lit(PACK_SHARDS))
        .cast("int")
        .alias("shard"),
        bpe_token_count("conv_text").cast("int").alias("n_tokens"),
    )
    return pack_window(d, "conv_id", PACK_SHARDS, PACK_BUDGET)


def _conv_packing_oracle() -> str:
    from ocr_lib_spark.functions.text import BPE_ISH_PATTERN
    from ocr_lib_spark.plans.textops import PACK_BUDGET, PACK_SHARDS

    bpe_sql = BPE_ISH_PATTERN.replace("'", "''")
    return f"""
WITH per_turn AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
),
conv AS (
  SELECT conv_id,
         coalesce(string_agg(extracted_text, chr(10) ORDER BY turn_idx)
                  FILTER (WHERE extracted_text <> ''), '') AS conv_text
  FROM per_turn GROUP BY conv_id
),
t AS (
  SELECT conv_id,
         (('0x' || substr(md5(conv_id), 1, 15))::BIGINT % {PACK_SHARDS})::INT AS shard,
         len(regexp_extract_all(conv_text, '{bpe_sql}'))::INT AS n_tokens
  FROM conv),
s AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY conv_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
  FROM t)
SELECT conv_id, shard, {PACK_SHARDS}::INT AS n_shards, n_tokens,
       (start // {PACK_BUDGET})::BIGINT AS chunk_idx,
       (start % {PACK_BUDGET})::BIGINT AS chunk_offset
FROM s
"""


def _q_conv_training_mix(spark, sf_dir):
    """The conversation-level curation pipeline END-TO-END as one plan
    — the conv-granularity analog of training_mix, and the flagship
    composition for a transcript corpus: extract → assemble → keep
    conversations that (a) have clean user/assistant alternation and
    at least one assistant turn, (b) pass the Gopher rule-bit gate
    over conv_text, (c) are not the duplicate side of a conv-level
    simhash near-dup pair (drop id_b — the lexicographically later
    conversation of each pair) → pack survivors into context windows.

    Plan shape: the extracted+assembled conversations materialize ONCE
    (lazy localCheckpoint) and feed the quality gate, the simhash
    banding, and the packing; the hygiene stats derive from the
    doc_id-only transcript scan (no kernel). Every stage reuses the
    independently-gated operator and the oracle nests the verified
    oracle strings whole — no fragment surgery."""
    from ocr_lib_spark.operators.dedup import simhash_bits, simhash_near_dup_pairs
    from ocr_lib_spark.plans.textops import (
        SIMHASH_BITS,
        SIMHASH_ND_BANDS,
        SIMHASH_ND_MAX_BUCKET,
        SIMHASH_ND_MAX_HAMMING,
        gopher_bits_frame,
    )

    from ocr_lib_spark.partitioning import spread_small

    tr = transcripts_from_documents(spark, sf_dir)
    conv = (
        # spread BEFORE the checkpoint (the conv_decontaminate
        # precedent): the quality gate, simhash banding and packing
        # branches all inherit the checkpoint's partitioning
        spread_small(
            assemble_conversations(extract_turns(tr)).select("conv_id", "conv_text")
        ).localCheckpoint(eager=False)
    )
    quality_keep = (
        gopher_bits_frame(
            conv.select(
                F.col("conv_id").alias("doc_id"),
                F.translate("conv_text", "\n", " ").alias("text"),
            )
        )
        .where("pass_all")
        .select(F.col("doc_id").alias("conv_id"))
    )
    fp = simhash_bits(
        conv.select(
            F.col("conv_id").alias("doc_id"),
            F.translate("conv_text", "\n", " ").alias("text"),
        ),
        n_bits=SIMHASH_BITS,
        spread=False,  # ~N_CONVS rows: spread overhead > kernel cost
    )
    pairs = simhash_near_dup_pairs(
        fp,
        n_bits=SIMHASH_BITS,
        bands=SIMHASH_ND_BANDS,
        max_hamming=SIMHASH_ND_MAX_HAMMING,
        max_bucket_size=SIMHASH_ND_MAX_BUCKET,
    )
    dup_drop = pairs.select(F.col("id_b").alias("conv_id")).distinct()
    hygiene_keep = (
        _q_conv_turn_stats(spark, sf_dir)
        .where((F.col("n_alternation_violations") == 0) & (F.col("n_assistant") >= 1))
        .select("conv_id")
    )
    keep = (
        conv.join(hygiene_keep, "conv_id")
        .join(quality_keep, "conv_id")
        .join(dup_drop, "conv_id", "left_anti")
    )
    return _pack_conversations(keep)


def _conv_training_mix_oracle() -> str:
    """Nest the four verified oracles whole (DuckDB allows WITH inside
    parenthesized subqueries) — each re-derives its own inputs, so no
    fragment surgery can drift."""
    from ocr_lib_spark.functions.text import BPE_ISH_PATTERN
    from ocr_lib_spark.plans.textops import PACK_BUDGET, PACK_SHARDS

    bpe_sql = BPE_ISH_PATTERN.replace("'", "''")
    return f"""
WITH per_turn AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
),
conv AS (
  SELECT conv_id,
         coalesce(string_agg(extracted_text, chr(10) ORDER BY turn_idx)
                  FILTER (WHERE extracted_text <> ''), '') AS conv_text
  FROM per_turn GROUP BY conv_id
),
stats AS (SELECT * FROM ({_conv_turn_stats_oracle()}) s),
quality AS (SELECT * FROM ({_conv_quality_oracle()}) g),
pairs AS (SELECT * FROM ({_conv_near_dup_oracle()}) p),
keep AS (
  SELECT conv.conv_id, conv.conv_text
  FROM conv
  JOIN stats ON stats.conv_id = conv.conv_id
            AND stats.n_alternation_violations = 0 AND stats.n_assistant >= 1
  JOIN quality ON quality.conv_id = conv.conv_id AND quality.pass_all
  WHERE conv.conv_id NOT IN (SELECT id_b FROM pairs)
),
t AS (
  SELECT conv_id,
         (('0x' || substr(md5(conv_id), 1, 15))::BIGINT % {PACK_SHARDS})::INT AS shard,
         len(regexp_extract_all(conv_text, '{bpe_sql}'))::INT AS n_tokens
  FROM keep),
s AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY conv_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start
  FROM t)
SELECT conv_id, shard, {PACK_SHARDS}::INT AS n_shards, n_tokens,
       (start // {PACK_BUDGET})::BIGINT AS chunk_idx,
       (start % {PACK_BUDGET})::BIGINT AS chunk_offset
FROM s
"""


def _q_conv_quality_bits(spark, sf_dir):
    """Gopher rule-bit quality gate at CONVERSATION granularity:
    extract -> assemble -> gopher_bits_frame over conv_text (newlines
    normalized to spaces before the shared single-space tokenization,
    like conv_near_dup). Composes two externally-verified plans; the
    integer cross-multiplied thresholds carry over unchanged."""
    from ocr_lib_spark.plans.textops import gopher_bits_frame

    tr = transcripts_from_documents(spark, sf_dir)
    conv = assemble_conversations(extract_turns(tr))
    return gopher_bits_frame(
        conv.select(
            F.col("conv_id").alias("doc_id"),
            F.translate("conv_text", "\n", " ").alias("text"),
        )
    ).withColumnRenamed("doc_id", "conv_id")


def _conv_quality_oracle() -> str:
    """Stitch the verified gopher fragment onto the verified
    assembled-conversation CTE (same pattern + drift asserts as
    _conv_near_dup_oracle)."""
    from ocr_lib_spark.plans.textops import _O_GOPHER

    g = _O_GOPHER
    assert g.lstrip().startswith("WITH t AS"), "fragment drift"
    assert g.count("FROM documents") == 1, "fragment drift: source scan count"
    g = g.replace("FROM documents", "FROM conv_docs", 1)
    conv_prefix = f"""
WITH per_turn AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
),
conv AS (
  SELECT conv_id,
         coalesce(string_agg(extracted_text, chr(10) ORDER BY turn_idx)
                  FILTER (WHERE extracted_text <> ''), '') AS conv_text
  FROM per_turn GROUP BY conv_id
),
conv_docs AS (SELECT conv_id AS doc_id, replace(conv_text, chr(10), ' ') AS text FROM conv),"""
    body = conv_prefix + g.lstrip()[len("WITH") :]
    return f"""
WITH g AS ({body})
SELECT doc_id AS conv_id, n_words, total_chars, n_alpha_words, top_word_n,
       pass_word_count, pass_mean_word_len, pass_alpha, pass_repetition, pass_all
FROM g
"""


_ORACLE_LOSS_MASK = f"""
WITH per_turn AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
),
t AS (
  SELECT conv_id, turn_idx, role, length(extracted_text) AS tl,
         COALESCE(SUM(CASE WHEN length(extracted_text) > 0
                           THEN length(extracted_text) + 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::INT AS mask_start
  FROM per_turn)
SELECT conv_id, turn_idx, mask_start, (mask_start + tl)::INT AS mask_end
FROM t WHERE role = 'assistant' AND tl > 0
"""


def _q_session_window(spark, sf_dir):
    """Spark-native session windows (F.session_window) — the built-in
    twin of the lag-gap sessionization (gap_sessionize): per-user
    sessions closed after 30 idle minutes."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "first_event",
        )
    )


_ORACLE_SESSION_WINDOW = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts > LAG(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts, event_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       MIN(event_id) AS first_event
FROM sess GROUP BY user_id, sid
"""


def _q_stream_session_window(spark, sf_dir):
    """STREAMING session windows — the built-in stateful session
    aggregation (F.session_window + watermark, append mode) driven to
    completion over a file-replayed event stream and gated against the
    same batch oracle as session_window_agg: stream == batch.

    This exercises the one stateful-streaming feature the engine's
    custom operators don't: Spark's own cross-micro-batch SESSION MERGE
    (a session split across micro-batches must coalesce in the state
    store before emission). Determinism per the established protocol:
    the watermark delay (31 days) exceeds the corpus's full event-time
    span (30 days), so no replayed row is ever late regardless of file
    modTime order; a far-future poke row (user_id -1, filtered from the
    result) written AFTER the data files advances the watermark past
    every session end + gap so all sessions flush (the __wm_poke__
    convention of stream_conv_assembly). The poke part file's mtime is
    forced strictly above every data file's (replay_to_memory), so the
    file source — which replays in modification-time order — provably
    reads the poke last regardless of timestamp granularity (ADVICE r7:
    a poke landing in an early micro-batch would advance the watermark
    past every data row and drop them all as late)."""
    ev = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).parquet(f"{sf_dir}/events.parquet")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    poke = spark.createDataFrame(
        [(-1, -1, "poke", 0.0, "")],
        "event_id long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.lit(max_ts) + F.expr("INTERVAL 65 DAYS"))

    def sessions(sdf):
        return (
            sdf.withWatermark("ts", "31 days")
            .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.min("event_id").alias("first_event"),
            )
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                "n_events",
                "first_event",
            )
        )

    return replay_to_memory(
        "stream_session_window",
        ev.repartition(6),
        sessions,
        files_per_trigger=2,
        mode="append",
        poke=poke,
    ).where(F.col("user_id") != -1)


def _q_stream_extract(spark, sf_dir):
    """Streaming extraction under the driver's own gate: the transcript
    fixture is staged per call as a multi-file parquet source, driven to
    completion through the STREAMING plan (file source split into
    micro-batches via maxFilesPerTrigger, memory sink), and the sink
    table is compared against the same closed-form oracle as
    extract_text — stream == batch, externally verified (round 1 this
    equality was pytest-only)."""
    from ocr_lib_spark.streaming.extract_stream import extract_stream

    return replay_to_memory(
        "stream_extract_text",
        transcripts_from_documents(spark, sf_dir).repartition(6),
        lambda sdf: extract_stream(sdf).drop("spans"),
        files_per_trigger=4,
        mode="append",
    ).select("conv_id", "turn_idx", "extracted_text", "n_blocks")


def _q_stream_conv_assembly(spark, sf_dir):
    """Streaming conversation assembly under the driver's gate:
    transcripts arrive as a multi-file stream, turns are extracted per
    micro-batch, and the batch assembly aggregate runs per (conv_id,
    event-time session window); append mode emits a conversation when
    the watermark passes its last turn + gap. The emitted table must
    equal the BATCH conv_assembly oracle. A far-future poke turn (conv
    '__wm_poke__', filtered from the result) advances the watermark so
    every session flushes; the file source orders files by modification
    time, and the poke's is forced above every data file's
    (replay_to_memory), so it always lands in or after the final data
    micro-batch, and no data row is ever behind the watermark."""
    from ocr_lib_spark.streaming.extract_stream import extract_stream

    tr = transcripts_from_documents(spark, sf_dir)
    max_ts = tr.agg(F.max("ts")).collect()[0][0]
    poke = spark.createDataFrame(
        [("__wm_poke__", 0, "user", "x", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit(max_ts) + F.expr("INTERVAL 48 HOURS"))
    return (
        replay_to_memory(
            "stream_conv_assembly",
            tr.repartition(6),
            lambda sdf: assemble_conversations(
                # watermark delay spans the corpus's full event-time
                # range: files replay in mtime order, but turns inside
                # them are not time-ordered
                extract_stream(sdf).withWatermark("ts", "13 hours"),
                # the fixture spaces one conversation's turns 100 s
                # apart (doc_id steps of N_CONVS); a gap below that
                # would close a session after every turn
                by=("conv_id", F.session_window("ts", "5 minutes")),
            ),
            files_per_trigger=2,
            mode="append",
            poke=poke,
        )
        .where(F.col("conv_id") != "__wm_poke__")
        .select("conv_id", "conv_text", "n_turns", "n_content_turns")
    )


def _q_conv_decontaminate(spark, sf_dir):
    """Conversation-level eval decontamination (round 6): the doc-level
    gate (plans/textops.py decontaminate) re-run at the granularity SFT
    curation actually filters at — a conversation whose ASSEMBLED text
    shares word-8-grams with the holdout set leaks eval data even when
    every individual turn is short enough to slip the doc gate. Holdout
    = conversations whose numeric id ≡ 0 (mod DECON_HOLDOUT_MOD); their
    distinct gram set broadcasts (holdouts are small by nature), the
    corpus side streams through the broadcast join — never a
    corpus×corpus product. Composes extract -> assemble -> gram
    overlap, all earned from payloads."""
    from ocr_lib_spark.functions.text import word_grams
    from ocr_lib_spark.plans.textops import DECON_HOLDOUT_MOD, DECON_K, holdout_hits

    from ocr_lib_spark.partitioning import spread_small

    tr = transcripts_from_documents(spark, sf_dir)
    conv = (
        # spread BEFORE the checkpoint: the assembly groupBy's
        # AQE-coalesced output is ~1 partition at small scale, and
        # every consumer branch (gram explode here) inherits the
        # checkpoint's partitioning — spreading first parallelizes all
        # of them with ZERO extra exchanges (no-op at scale; measured
        # 348 ms single-task gram stage in the r9 profile)
        spread_small(
            assemble_conversations(extract_turns(tr)).select(
                "conv_id", F.expr("replace(conv_text, chr(10), ' ')").alias("text")
            )
        )
        # the holdout branch and the probe branch both derive from this
        # frame; without a checkpoint the extract+assemble kernel runs
        # once PER BRANCH (the broadcast subtree gets no exchange reuse)
        .localCheckpoint(eager=False)
    )
    toks = F.split(F.trim("text"), " ")
    g = conv.select(
        "conv_id",
        F.substring("conv_id", 6, 8).cast("long").alias("cnum"),
        toks.alias("t"),
    ).select("conv_id", "cnum", F.explode(word_grams("t", DECON_K)).alias("g"))
    return holdout_hits(g, "conv_id", F.col("cnum") % DECON_HOLDOUT_MOD == 0)


def _conv_decontaminate_oracle() -> str:
    from ocr_lib_spark.plans.textops import DECON_HOLDOUT_MOD, DECON_K

    return f"""
WITH per_turn AS (
  SELECT {_CONV} AS conv_id, {_TURN} AS turn_idx,
         CASE {_CASE}
           WHEN 2 THEN text || chr(10) || text
           WHEN 5 THEN '' WHEN 6 THEN ''
           ELSE text END AS extracted_text
  FROM documents
),
conv AS (
  SELECT conv_id,
         coalesce(string_agg(extracted_text, chr(10) ORDER BY turn_idx)
                  FILTER (WHERE extracted_text <> ''), '') AS conv_text
  FROM per_turn GROUP BY conv_id
),
t AS (
  SELECT conv_id, substring(conv_id, 6, 8)::BIGINT AS cnum,
         string_split(trim(replace(conv_text, chr(10), ' ')), ' ') AS t
  FROM conv),
g AS (
  SELECT conv_id, cnum,
         unnest(list_transform(range(len(t) - {DECON_K} + 1),
                i -> array_to_string(list_slice(t, i + 1, i + {DECON_K}), ' '))) AS g
  FROM t WHERE len(t) >= {DECON_K}),
holdout AS (SELECT DISTINCT g FROM g WHERE cnum % {DECON_HOLDOUT_MOD} = 0)
SELECT c.conv_id, COUNT(DISTINCT c.g)::BIGINT AS n_hit_grams
FROM g c JOIN holdout h ON c.g = h.g
WHERE c.cnum % {DECON_HOLDOUT_MOD} != 0
GROUP BY c.conv_id
"""


def _q_prototype_stats(spark, sf_dir):
    """Taught-alphabet stats + size-gate envelope (core_helper.clj:13-23
    analog; VERDICT r05 item 4 — the one §2 row without external
    evidence). sf-independent: the alphabet is a taught dimension table,
    not corpus data; ``sf_dir`` is ignored by contract."""
    from ocr_lib_spark.operators.prototypes import prototype_stats_df

    return prototype_stats_df(spark)


def _prototype_stats_oracle() -> str:
    """DuckDB twin over the SAME taught prototype matrix, embedded as a
    VALUES literal with repr() doubles (the trained-IVF-codebook oracle
    precedent): the cross-engine claim verified is the posexplode +
    integer-ppm scaling + grouped min/max/sum plan, on inputs both
    engines parse to bit-identical doubles."""
    from ocr_lib_spark.operators.prototypes import (
        SIZE_GATE_TOL_PPM,
        taught_prototypes,
    )

    m, labels, keep = taught_prototypes()
    nf = m.shape[1]
    rows = ", ".join(
        "("
        + ", ".join(
            [f"'{lab}'", "TRUE" if k else "FALSE"]
            + [repr(float(x)) for x in vec]
        )
        + ")"
        for lab, k, vec in zip(labels, keep.tolist(), m)
    )
    fcols = ", ".join(f"f{i}" for i in range(nf))
    case = " ".join(f"WHEN {i} THEN f{i}" for i in range(nf))
    feats = ", ".join(f"({i})" for i in range(nf))
    return f"""
WITH p(label, keep, {fcols}) AS (VALUES {rows}),
feat(feat_idx) AS (VALUES {feats}),
x AS (
  SELECT feat_idx, keep,
         CAST(FLOOR((CASE feat_idx {case} END) * 1000000) AS BIGINT) AS s
  FROM p CROSS JOIN feat
)
SELECT feat_idx,
       COUNT(*)::BIGINT AS n_protos,
       MIN(s) AS min_f,
       MAX(s) AS max_f,
       SUM(s)::BIGINT AS sum_f,
       MIN(CASE WHEN keep THEN s END) AS keep_min_f,
       MAX(CASE WHEN keep THEN s END) AS keep_max_f,
       MIN(CASE WHEN keep THEN s END) - {SIZE_GATE_TOL_PPM} AS gate_lo,
       MAX(CASE WHEN keep THEN s END) + {SIZE_GATE_TOL_PPM} AS gate_hi
FROM x
GROUP BY feat_idx
"""


# --- conversation prefix dedup: branched/regenerated session detection -------
# Agent UIs that support "regenerate" or branching re-log the shared
# opening turns of a session under a new conv_id; training on every
# branch over-weights the common prefix. Group conversations by the
# digest of their first PREFIX_K raw turn payloads (BEFORE extraction —
# the cheap early exit: branch duplicates are dropped before paying the
# extraction kernel) and report each prefix class with its canonical
# (minimum) conv_id. The at-scale drop set is the anti-join against the
# canonicals — the training_mix drop-join shape.
#
# Derived fixture (closed form on both engines, the boilerplate
# convention): conversations whose numeric index % PREFIX_MOD ==
# PREFIX_RES substitute a fixed per-position opening string for turns
# turn_idx < PREFIX_K, so ~1/7 of conversations genuinely share a
# prefix at every sf; all other prefixes are singletons (fixture texts
# are unique).

PREFIX_K = 3
PREFIX_MOD = 7
PREFIX_RES = 3
PREFIX_TEXT = "opening turn "  # + turn_idx, per position
#: oracle-side escaped twin (ADVICE r6) — interpolate only this into
#: SQL literals so a future apostrophe can't break the oracle silently
PREFIX_TEXT_SQL = PREFIX_TEXT.replace("'", "''")


def _q_conv_prefix_dedup(spark, sf_dir):
    """One row per distinct PREFIX_K-turn opening: how many
    conversations share it and which is canonical. Scale shape: turns
    with turn_idx >= PREFIX_K are FILTERED BEFORE the per-conv
    aggregate, so the collect_list is bounded by PREFIX_K at any
    conversation length (never the 10^6-turn state hazard); both
    groupBys are map-side combinable; no join back, no window."""
    tr = transcripts_from_documents(spark, sf_dir)
    # Parse the conv index IDENTICALLY to the oracle (ADVICE r6):
    # position 6 to END of string, cast to long — not a fixed 8-char
    # window. If N_CONVS ever reaches 1e8 the printf('%08d') field
    # widens; a bounded substring would truncate digits on the Spark
    # side only, silently diverging the derived prefix class.
    cidx = F.expr("substring(conv_id, 6)").cast("long")
    txt = F.when(
        (cidx % PREFIX_MOD == PREFIX_RES) & (F.col("turn_idx") < PREFIX_K),
        F.concat(F.lit(PREFIX_TEXT), F.col("turn_idx").cast("string")),
    ).otherwise(F.col("text"))
    head = tr.where(F.col("turn_idx") < PREFIX_K).select(
        "conv_id", "turn_idx", F.md5(txt).alias("d")
    )
    pfx = head.groupBy("conv_id").agg(
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("turn_idx", "d"))),
                    lambda s: s.d,
                ),
            )
        ).alias("prefix_digest")
    )
    return pfx.groupBy("prefix_digest").agg(
        F.count("*").cast("long").alias("n_convs"),
        F.min("conv_id").alias("canonical_conv_id"),
    )


def _conv_prefix_dedup_oracle() -> str:
    from ocr_lib_spark.sources.synth import duckdb_transcripts_cte

    return f"""
WITH tr AS ({duckdb_transcripts_cte()}),
h AS (
  SELECT conv_id, turn_idx,
         md5(CASE WHEN substr(conv_id, 6)::BIGINT % {PREFIX_MOD} = {PREFIX_RES}
                   AND turn_idx < {PREFIX_K}
                  THEN '{PREFIX_TEXT_SQL}' || turn_idx::VARCHAR
                  ELSE text END) AS d
  FROM tr WHERE turn_idx < {PREFIX_K}),
p AS (
  SELECT conv_id, md5(string_agg(d, '|' ORDER BY turn_idx)) AS prefix_digest
  FROM h GROUP BY conv_id)
SELECT prefix_digest, COUNT(*)::BIGINT AS n_convs, MIN(conv_id) AS canonical_conv_id
FROM p GROUP BY prefix_digest
"""


QUERIES = {
    "extract_text": QueryDef(
        _q_extract_text,
        _ORACLE_TEXT,
        "flagship: per-turn main-content extraction (read-image-fn analog, core.clj:1772-1806)",
    ),
    "extract_spans": QueryDef(
        _q_extract_spans,
        _ORACLE_SPANS,
        "span offsets into the original payload (bbox provenance, core.clj:640-685)",
    ),
    "conv_assembly": QueryDef(
        _q_conv_assembly,
        _ORACLE_CONV,
        "conversation-level ordered text assembly (core.clj:1687-1689)",
    ),
    "multimodal_meta": QueryDef(
        _q_multimodal_meta,
        _ORACLE_MULTIMODAL,
        "binary payload plumbing w/ stubbed decode (read-base64-image-fn analog, core.clj:190-208)",
    ),
    "multimodal_hist": QueryDef(
        _q_multimodal_hist,
        _ORACLE_MM_HIST,
        "byte-histogram feature extraction over binary payloads (numpy bincount per Arrow batch)",
    ),
    "multimodal_frames": QueryDef(
        _q_multimodal_frames,
        _ORACLE_MM_FRAMES,
        "evenly-spaced frame sampling + digest over binary payloads (pure Catalyst)",
    ),
    "multimodal_decode_census": QueryDef(
        _q_multimodal_decode_census,
        _ORACLE_MM_DECODE_CENSUS,
        "decoder-cascade census over real PNG/JPEG containers: fallback rate externally pinned",
    ),
    "multimodal_thumb": QueryDef(
        _q_multimodal_thumb,
        _ORACLE_MM_THUMB,
        "resize/downsample: fixed-grid area-average over payload bytes (one cumsum per doc)",
    ),
    "conv_dedup": QueryDef(
        _q_conv_dedup,
        _ORACLE_CONV_DEDUP,
        "end-to-end: extract -> assemble -> exact conversation dedup by digest",
    ),
    "conv_near_dup": QueryDef(
        _q_conv_near_dup,
        _conv_near_dup_oracle(),
        "end-to-end: extract -> assemble -> simhash NEAR-dup pairs over whole conversations",
    ),
    "conv_loop_detect": QueryDef(
        _q_conv_loop_detect,
        _ORACLE_CONV_LOOP,
        "agent-loop detection: identical-consecutive-turn runs per conversation",
    ),
    "conv_prefix_dedup": QueryDef(
        _q_conv_prefix_dedup,
        _conv_prefix_dedup_oracle(),
        "branched-session detection: conversations grouped by first-K-turn prefix digest",
    ),
    "turn_response_dedup": QueryDef(
        _q_turn_response_dedup,
        _ORACLE_TURN_RESPONSE_DEDUP,
        "cross-conversation assistant-response dedup (SFT boilerplate-reply census)",
    ),
    "loss_mask_spans": QueryDef(
        _q_loss_mask_spans,
        _ORACLE_LOSS_MASK,
        "SFT loss-mask char spans of assistant turns within assembled conv_text",
    ),
    "conv_turn_stats": QueryDef(
        _q_conv_turn_stats,
        _conv_turn_stats_oracle(),
        "per-conversation hygiene: role counts, tool calls, alternation violations",
    ),
    "conv_quality_bits": QueryDef(
        _q_conv_quality_bits,
        _conv_quality_oracle(),
        "Gopher rule-bit gate at conversation granularity (composed extract->assemble->gate)",
    ),
    "conv_packing": QueryDef(
        _q_conv_packing,
        _conv_packing_oracle(),
        "SFT context-window packing of assembled conversations (per-shard window)",
    ),
    "conv_training_mix": QueryDef(
        _q_conv_training_mix,
        _conv_training_mix_oracle(),
        "conversation-level curation END-TO-END: hygiene + Gopher gate + near-dup drop + packing, one plan",
    ),
    "session_window_agg": QueryDef(
        _q_session_window,
        _ORACLE_SESSION_WINDOW,
        "Spark-native session windows (30 min gap) per user",
    ),
    "stream_session_window": QueryDef(
        _q_stream_session_window,
        _ORACLE_SESSION_WINDOW,
        "STREAMING session windows (cross-micro-batch session merge) == the batch oracle",
    ),
    "stream_extract_text": QueryDef(
        _q_stream_extract,
        _ORACLE_TEXT,
        "streaming extraction (file-source micro-batches -> memory sink) vs the batch oracle",
    ),
    "stream_conv_assembly": QueryDef(
        _q_stream_conv_assembly,
        _ORACLE_CONV,
        "streaming assembly (the batch assembly aggregate per conv_id and event-time session window) vs the batch conv oracle",
    ),
    "prototype_stats": QueryDef(
        _q_prototype_stats,
        _prototype_stats_oracle(),
        "taught-alphabet min/max/sum stats + size-gate envelope (core_helper.clj:13-23 analog)",
    ),
    "conv_decontaminate": QueryDef(
        _q_conv_decontaminate,
        _conv_decontaminate_oracle(),
        "conversation-level 8-gram eval decontamination over ASSEMBLED text (extract->assemble->overlap)",
    ),
}
