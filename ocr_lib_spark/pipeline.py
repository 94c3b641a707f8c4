"""The production extraction pipeline (read-image-fn analog).

Reference lifecycle (SURVEY.md §3.1, core.clj:1772-1806): decode ->
stripe-parallel segmentation -> prototype load -> bucket-parallel
classification -> ordered reassembly. Spark recast, one job:

    transcripts
      -> repartition(P, conv_id, turn_idx)      # salted spread: hashing
         (turn_idx participates in the key, so a 10^6-turn conversation
          spreads across all partitions — the divide-rows/skew analog,
          core.clj:1519-1589)
      -> mapInPandas(extract_batch)             # segment + classify +
         (prototype matrix broadcast once —       assemble, Arrow batches
          stage 2 of the reference becomes a
          broadcast variable, not a job)
      -> stable (conv_id, turn_idx) ordering on demand

Extraction is turn-local (the single biggest simplification vs the
reference: components never span turns, so the whole stripe-boundary
merge machinery core.clj:1392-1458 disappears — SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_lib_spark.config import DEFAULT_CONFIG, ExtractionConfig
from ocr_lib_spark.operators.extract import extract_batch
from ocr_lib_spark.operators.prototypes import taught_prototypes
from ocr_lib_spark.partitioning import SCAN_WAVES, spread_width

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("label", T.StringType()),
        ]
    )
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("unknown_blocks", T.ArrayType(T.StringType())),
    ]
)


def extract_turns(
    df: DataFrame,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    partitions: int | None = None,
    repartition: bool | str = "auto",
    stage_acc: dict | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, ...) -> extracted turns.

    The prototype matrix is broadcast once (nauci-slova analog); the
    heavy work runs in Arrow-batched ``mapInPandas`` so a 1000-executor
    cluster scales linearly — no grouping, no shuffle beyond the one
    explicit balancing repartition (skippable when the upstream layout
    is already balanced, e.g. fresh parquet splits).

    ``stage_acc``: optional dict of Spark accumulators keyed
    segment/classify/assemble — each task adds its kernel-phase CPU
    seconds, giving a measured per-job stage-cost profile (the durable
    recast of the reference's weighted progress, core.clj:108-165).
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(taught_prototypes())

    def run(batches):
        protos, labels, keep = bc.value
        tm: dict | None = {} if stage_acc is not None else None
        for pdf in batches:
            res = extract_batch(pdf["text"], cfg, protos, labels, keep, timings=tm)
            out = pdf[["conv_id", "turn_idx", "role"]].copy()
            out["extracted_text"] = res["extracted_text"].values
            out["spans"] = res["spans"].values
            out["n_blocks"] = res["n_blocks"].values
            out["unknown_blocks"] = res["unknown_blocks"].values
            yield out
        if stage_acc is not None and tm:
            for k, acc in stage_acc.items():
                acc.add(tm.get(k, 0.0))

    src = df.select("conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "role", "text")
    p = partitions or spark.sparkContext.defaultParallelism
    if repartition == "auto":
        # Shuffle only when the upstream layout can't feed every core
        # (fewer splits than the target parallelism). A balanced
        # parquet/Iceberg scan already gives size-bounded splits, and
        # extraction is embarrassingly turn-parallel — forcing the
        # salted shuffle there adds a fixed exchange cost that measured
        # ~35% of job time at local[16] for zero balance gain. When the
        # scan is over-split instead (many more splits than cores, e.g.
        # small files), coalesce narrow — no exchange — so per-task and
        # per-python-batch fixed costs don't dominate at low
        # parallelism. For known-skewed layouts (one file per
        # conversation, 10^6-turn convs) pass repartition=True to force
        # the (conv_id, turn_idx) salted spread; AQE skew handling
        # covers residual shuffle skew elsewhere in the engine.
        n_src = df.rdd.getNumPartitions()
        if n_src < p:
            repartition = True
            # Scale-adaptive spread width: when the under-split input is
            # also TINY (spread_width says the scan itself would never
            # have split it by bytes), a full p-way salted spread buys no
            # balance the kernel needs and multiplies per-task fixed cost
            # (p python round-trips, p map inputs into the downstream
            # assembly shuffle). Spread to the spread_small width instead
            # — measured at sf0.1 local[32]: extract 0.547->0.441s,
            # extract+assemble 0.873->0.532s. Inputs past the byte budget
            # keep the full p-way spread (unsplittable-big-file layouts
            # stay covered); an explicit ``partitions`` is untouched.
            if partitions is None:
                p = spread_width(df) or p
        else:
            repartition = False
            if n_src > 2 * SCAN_WAVES * p:
                # Coalesce only ABOVE twice the wave target: coalescing
                # from the (waves*p, 2*waves*p] band gives merged
                # partitions of 1 OR 2 source splits — a built-in 2x
                # straggler (profiled, VERDICT r7 item 3); beyond it
                # every merged partition holds >=2 splits and the worst
                # skew is (k+1)/k. get_spark pre-sizes scans to
                # waves*cores even splits (spark.sql.files
                # .minPartitionNum), so sized scans run as-is on
                # already-balanced splits and only genuinely
                # over-split inputs (small-files layouts) coalesce.
                src = src.coalesce(SCAN_WAVES * p)
    if repartition:
        src = src.repartition(p, "conv_id", "turn_idx")
    return src.mapInPandas(run, schema=EXTRACTED_SCHEMA)


def extract_turns_deduped(
    df: DataFrame,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    partitions: int | None = None,
) -> DataFrame:
    """Dedupe-before-extract: run the extraction kernel ONCE per unique
    payload digest corpus-wide, then join results back to every turn.

    The cross-partition twin of the kernel's batch-local memoization:
    batch memoization only catches duplicates that land in the same
    Arrow batch; this plan catches them across the whole corpus with
    one digest `dropDuplicates` + one join. Worth it when
    (dup_factor - 1) x kernel_cost > 2 x shuffle_cost — true for real
    transcript corpora (20-50% exact-dup turns: repeated prompts, tool
    headers, canned responses) whenever the kernel is the dominant
    cost. Results are byte-identical to ``extract_turns`` (extraction
    is a pure function of the payload; md5 keys the join).
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(taught_prototypes())
    src = df.select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "role", "text"
    ).withColumn(
        # NULL must hash apart from EVERY real string (a literal
        # "<NULL-SENTINEL>" payload would otherwise collide): prefix a
        # nullability flag byte onto the digest
        "__digest",
        F.when(F.col("text").isNull(), F.lit("0")).otherwise(
            F.concat(F.lit("1"), F.md5("text"))
        ),
    )

    uniq = src.select("__digest", "text").dropDuplicates(["__digest"])

    def run(batches):
        protos, labels, keep = bc.value
        for pdf in batches:
            res = extract_batch(pdf["text"], cfg, protos, labels, keep)
            out = pdf[["__digest"]].copy()
            out["extracted_text"] = res["extracted_text"].values
            out["spans"] = res["spans"].values
            out["n_blocks"] = res["n_blocks"].values
            out["unknown_blocks"] = res["unknown_blocks"].values
            yield out

    schema = T.StructType(
        [T.StructField("__digest", T.StringType())]
        + [f for f in EXTRACTED_SCHEMA.fields if f.name not in ("conv_id", "turn_idx", "role")]
    )
    ex_u = uniq.mapInPandas(run, schema=schema)
    return (
        src.join(ex_u, "__digest")
        .select(
            "conv_id", "turn_idx", "role",
            "extracted_text", "spans", "n_blocks", "unknown_blocks",
        )
    )


def ordered(extracted: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) presentation order — the reading-order
    invariant (sort-rows / thread-result reordering, core.clj:753-785,
    1746-1751). Use only at the consumption edge; intermediate stages
    stay unordered (Spark shuffles don't preserve order anyway)."""
    return extracted.orderBy("conv_id", "turn_idx")


def assemble_conversations(
    extracted: DataFrame,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    chunk_turns: int | None = 1024,
) -> DataFrame:
    """Conversation-level document assembly: turn texts concatenated in
    turn order (per-row text assembly + newline insertion analog,
    core.clj:1687-1689) — pure Catalyst, no UDF.

    Scale shape: TWO-LEVEL chunked concat. Level 1 groups by
    (conv_id, turn_idx // chunk_turns) and concatenates each chunk's
    turns; level 2 concatenates the (already-joined) chunk strings in
    chunk order. Each aggregation buffer therefore holds at most
    ``chunk_turns`` turn structs (level 1) or n_turns/chunk_turns chunk
    strings (level 2) — the north rule's 10^6-turn mega-conversation
    never materializes as ONE 10^6-element collect_list row, which is
    the one place a single-level groupBy could OOM an executor at 100×
    scale. Both levels stay map-side combinable (array_sort inside the
    aggregate; no window pre-sort). Results are byte-identical to the
    single-level plan (``chunk_turns=None``), which is retained for
    small-conversation layouts where one shuffle beats two.
    """
    sep = cfg.block_separator
    content = F.sum(F.when(F.col("extracted_text") != "", 1).otherwise(0))
    if chunk_turns is None:
        return (
            extracted.groupBy("conv_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("turn_idx", "extracted_text"))
                ).alias("ordered"),
                F.count("*").alias("n_turns"),
                content.alias("n_content_turns"),
            )
            .select(
                "conv_id",
                F.array_join(
                    F.filter(
                        F.transform("ordered", lambda s: s.extracted_text),
                        lambda t: t != "",
                    ),
                    sep,
                ).alias("conv_text"),
                "n_turns",
                "n_content_turns",
            )
        )
    chunks = (
        extracted.groupBy(
            "conv_id",
            F.floor(F.col("turn_idx") / F.lit(chunk_turns)).alias("chunk_idx"),
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("turn_idx", "extracted_text"))
            ).alias("ordered"),
            F.count("*").alias("c_turns"),
            content.alias("c_content"),
        )
        .select(
            "conv_id",
            "chunk_idx",
            # join the chunk's non-empty turns now: downstream carries ONE
            # string per chunk, not chunk_turns structs
            F.array_join(
                F.filter(
                    F.transform("ordered", lambda s: s.extracted_text),
                    lambda t: t != "",
                ),
                sep,
            ).alias("chunk_text"),
            "c_turns",
            "c_content",
        )
    )
    return (
        chunks.groupBy("conv_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))).alias(
                "ordered"
            ),
            F.sum("c_turns").alias("n_turns"),
            F.sum("c_content").alias("n_content_turns"),
        )
        .select(
            "conv_id",
            # all-empty chunks join to '' and are filtered here, exactly as
            # empty turns are in the single-level plan
            F.array_join(
                F.filter(
                    F.transform("ordered", lambda s: s.chunk_text),
                    lambda t: t != "",
                ),
                sep,
            ).alias("conv_text"),
            "n_turns",
            "n_content_turns",
        )
    )
