"""The production extraction pipeline (read-image-fn analog).

Reference lifecycle (SURVEY.md §3.1, core.clj:1772-1806): decode ->
stripe-parallel segmentation -> prototype load -> bucket-parallel
classification -> ordered reassembly. Spark recast:

    transcripts
      -> repartition(P, conv_id, turn_idx)      # salted spread when the scan
         (turn_idx in the key spreads a           under-fills the cores: the
          10^6-turn conversation too)             divide-rows/skew analog,
                                                  core.clj:1519-1589
      -> mapInArrow(extract_batch)              # segment + classify +
         (prototype matrix broadcast once)        assemble, per distinct payload
      -> groupBy(conv_id) assembly              # sort-rows + text assembly,
                                                  core.clj:753-785, 1687-1689
      -> stable (conv_id, turn_idx) ordering on demand

Extraction is turn-local (the single biggest simplification vs the
reference: components never span turns, so the whole stripe-boundary
merge machinery core.clj:1392-1458 disappears — SURVEY.md §4).

Where a pass spends its time, from traced ``extract_dup`` benchmark
runs (local[4], 60,000 turns in 1,200 conversations, 4 files): with
extraction in ``mapInPandas`` and a two-level chunked assembly behind
``repartition("conv_id")``, 2.43 s of task time went outside the kernel
(``pipeline.boundary_s``) and 0.79 s to assembly, against 0.82 s of
kernel CPU. The Arrow stage (``_map_extract``) and the one combining
aggregation (``assemble_conversations``) give 1.70 s and 0.57 s, and
the median pass of 10 alternating benchmark pairs went 1.241 ->
1.002 s.
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

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
    heavy work runs in Arrow-batched ``mapInArrow`` so a 1000-executor
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
    ``ts`` for its watermark).

    Each batch's ``text`` is dictionary-encoded (null is one of the
    values), the kernel runs over the distinct payloads only, and its
    four result columns fan out with ``take(indices)``. conv_id,
    turn_idx, role and the carry columns stay Arrow columns: only the
    distinct payloads and their results cross into pandas."""
    bc = src.sparkSession.sparkContext.broadcast(taught_prototypes())
    schema = T.StructType(EXTRACTED_SCHEMA.fields + [src.schema[c] for c in carry])
    # extract_batch's four output columns, after conv_id, turn_idx, role
    results = [(f.name, to_arrow_type(f.dataType)) for f in EXTRACTED_SCHEMA.fields[3:]]

    def run(batches):
        protos, labels, keep = bc.value
        tm: dict | None = {} if stage_acc is not None else None
        for batch in batches:
            text = pc.dictionary_encode(batch.column("text"), null_encoding="encode")
            res = extract_batch(text.dictionary.to_pandas(), cfg, protos, labels, keep, timings=tm)
            cols = [batch.column(c) for c in ("conv_id", "turn_idx", "role")]
            cols += [pa.array(res[c], type=t).take(text.indices) for c, t in results]
            cols += [batch.column(c) for c in carry]
            yield pa.RecordBatch.from_arrays(cols, names=schema.fieldNames())
        if stage_acc is not None and tm:
            for k, acc in stage_acc.items():
                acc.add(tm.get(k, 0.0))

    return src.mapInArrow(run, schema=schema)


def ordered(extracted: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) presentation order — the reading-order
    invariant (sort-rows / thread-result reordering, core.clj:753-785,
    1746-1751). Use only at the consumption edge; intermediate stages
    stay unordered (Spark shuffles don't preserve order anyway)."""
    return extracted.orderBy("conv_id", "turn_idx")


def assemble_conversations(
    extracted: DataFrame,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    by: Sequence[str | Column] = ("conv_id",),
) -> DataFrame:
    """Conversation-level document assembly: turn texts concatenated in
    turn order (per-row text assembly + newline insertion analog,
    core.clj:1687-1689) — pure Catalyst, no UDF.

    One ``groupBy(*by)``: ``collect_list`` of (turn_idx,
    extracted_text), ``array_sort``, then a join of the non-empty texts.
    The grouping keys lead the output columns. The partial aggregate
    runs before the exchange, so each map task ships one buffer per
    conversation it saw, not one row per turn; an input already in one
    partition needs no exchange at all.

    A stream assembles with the same aggregate: group a watermarked
    frame by ``("conv_id", F.session_window("ts", gap))`` and write it
    in append mode. A conversation's row is emitted once the watermark
    passes its last turn's ``ts`` plus ``gap``, and a pause longer than
    ``gap`` in event time splits the conversation into one row per
    session, however the files are batched into micro-batches and
    however far the watermark lags. A turn whose ``ts`` is null belongs
    to no session window and is dropped before the aggregate, so a
    conversation with no timestamped turn emits no row.

    Each conversation's turns meet in one aggregation buffer, in one
    task. A two-level plan that bounds that buffer at 1024 turns per
    chunk lost in every case measured against this one (local[4],
    2 GB heap, one 10^6-turn conversation in 8 partitions, 1/7 of its
    turns empty; median of 6 warm reps):

    | non-empty turn | this plan | two-level |
    |---|---|---|
    | 50 B | 1.93 s | 2.30 s |
    | 110 B | 2.35 s | 2.71 s |
    | 190 B | 3.39 s (2 reps) | 4.51 s (2 reps) |
    | 250 B | not run | fails, ``Java heap space`` |
    | 310 B | 5.2 s (2 reps) | fails, ``Java heap space`` |
    | 410 B | fails, ``Java heap space`` | not run |
    """
    agg = extracted.groupBy(*by).agg(
        F.array_sort(
            F.collect_list(F.struct("turn_idx", "extracted_text"))
        ).alias("ordered"),
        F.count("*").alias("n_turns"),
        F.sum(F.when(F.col("extracted_text") != "", 1).otherwise(0)).alias(
            "n_content_turns"
        ),
    )
    return agg.select(
        *agg.columns[: len(by)],
        F.array_join(
            F.filter(
                F.transform("ordered", lambda s: s.extracted_text),
                lambda t: t != "",
            ),
            cfg.block_separator,
        ).alias("conv_text"),
        "n_turns",
        "n_content_turns",
    )
