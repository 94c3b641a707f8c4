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

from pyspark.sql import DataFrame
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
    return _map_extract(src, cfg, stage_acc=stage_acc)


def _map_extract(
    src: DataFrame,
    cfg: ExtractionConfig,
    carry: tuple[str, ...] = (),
    stage_acc: dict | None = None,
) -> DataFrame:
    """The extraction kernel stage: ``extract_batch`` over Arrow batches
    of ``src`` (conv_id, turn_idx, role, text, ...) with the prototype
    matrix broadcast once. Emits EXTRACTED_SCHEMA plus the ``carry``
    columns of ``src``, passed through (the streaming plan carries
    ``ts`` for its watermark)."""
    bc = src.sparkSession.sparkContext.broadcast(taught_prototypes())
    schema = T.StructType(EXTRACTED_SCHEMA.fields + [src.schema[c] for c in carry])

    def run(batches):
        protos, labels, keep = bc.value
        tm: dict | None = {} if stage_acc is not None else None
        for pdf in batches:
            res = extract_batch(pdf["text"], cfg, protos, labels, keep, timings=tm)
            out = pdf[["conv_id", "turn_idx", "role"]].copy()
            for c in ("extracted_text", "spans", "n_blocks", "unknown_blocks"):
                out[c] = res[c].values
            for c in carry:
                out[c] = pdf[c].values
            yield out
        if stage_acc is not None and tm:
            for k, acc in stage_acc.items():
                acc.add(tm.get(k, 0.0))

    return src.mapInPandas(run, schema=schema)


def ordered(extracted: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) presentation order — the reading-order
    invariant (sort-rows / thread-result reordering, core.clj:753-785,
    1746-1751). Use only at the consumption edge; intermediate stages
    stay unordered (Spark shuffles don't preserve order anyway)."""
    return extracted.orderBy("conv_id", "turn_idx")


def assemble_conversations(
    extracted: DataFrame,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    chunk_turns: int = 1024,
) -> DataFrame:
    """Conversation-level document assembly: turn texts concatenated in
    turn order (per-row text assembly + newline insertion analog,
    core.clj:1687-1689) — pure Catalyst, no UDF.

    One plan, one exchange. The input is hash-partitioned ONCE on
    ``conv_id``; then a two-level chunked concat runs inside that
    stage. Level 1 groups by (conv_id, turn_idx // chunk_turns) and
    joins each chunk's non-empty turns; level 2 joins the chunk strings
    in chunk order. ``HashPartitioning(conv_id)`` satisfies the
    clustering both aggregates require (each groups by a superset of
    ``conv_id``), so neither adds an exchange of its own. Each
    aggregation buffer holds at most ``chunk_turns`` turn structs
    (level 1) or n_turns/chunk_turns chunk strings (level 2): a 10^6-
    turn conversation never materializes as ONE 10^6-element
    collect_list row, though all of its chunks run in one task.

    The price is map-side combining: the exchange runs before either
    aggregate, so turn rows cross it uncombined. Measured extract +
    assemble at local[4], sf0.1, noop sink, on the benchmark's
    12x-replicated corpus (medians of 10 alternating reps, 3 sessions):
    0.68-0.73 s, vs 0.71-0.81 s with one exchange per level and
    0.63-0.64 s for one unchunked groupBy — the chunk bound costs
    0.05-0.09 s there. An input already in one partition, which satisfied
    both aggregates with no exchange at all, now pays this one.
    """
    if chunk_turns < 1:
        raise ValueError(f"chunk_turns must be >= 1, got {chunk_turns}")
    sep = cfg.block_separator
    content = F.sum(F.when(F.col("extracted_text") != "", 1).otherwise(0))
    chunks = (
        extracted.repartition("conv_id")
        .groupBy(
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
            # empty turns are at level 1
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
