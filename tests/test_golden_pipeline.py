"""Golden pipeline tests: Spark engine vs the independent pandas oracle
on the seeded skewed corpus, plus invariance under repartitioning — the
analog of the reference's 2-thread determinism goldens
(core_test.clj:2696-2748, 3115-3238)."""

import pandas as pd
import pytest

from ocr_lib_spark.pipeline import assemble_conversations, extract_turns, ordered
from ocr_lib_spark.sources.synth import generated_transcripts_df, generate_transcripts
from reference_oracle import extract_frame


@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_transcripts(n_convs=60, seed=7)


@pytest.fixture(scope="module")
def golden(corpus_pdf):
    g = extract_frame(corpus_pdf)
    return g.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _extract(spark, corpus_pdf, **kw):
    df = generated_transcripts_df(spark, n_convs=60, seed=7)
    out = ordered(extract_turns(df, **kw)).toPandas()
    return out.reset_index(drop=True)


def test_spark_matches_oracle_text_spans_blocks(spark, corpus_pdf, golden):
    got = _extract(spark, corpus_pdf)
    assert len(got) == len(golden)
    assert (got.conv_id.values == golden.conv_id.values).all()
    assert (got.turn_idx.values == golden.turn_idx.values).all()
    assert (got.extracted_text.values == golden.extracted_text.values).all()
    assert (got.n_blocks.values == golden.n_blocks.values).all()
    got_spans = [
        [(s["start"], s["end"], s["label"]) for s in row] for row in got.spans
    ]
    assert got_spans == list(golden.spans)
    assert [list(u) for u in got.unknown_blocks] == list(golden.unknown_blocks)


def test_invariant_under_partitioning(spark, corpus_pdf):
    """Same result at 2 and 32 partitions and with repartition disabled —
    the parallelism-invariance golden (north_rule determinism)."""
    a = _extract(spark, corpus_pdf, partitions=2)
    b = _extract(spark, corpus_pdf, partitions=32)
    c = _extract(spark, corpus_pdf, repartition=False)
    for other in (b, c):
        assert (a.extracted_text.values == other.extracted_text.values).all()
        assert (a.n_blocks.values == other.n_blocks.values).all()


def test_conversation_assembly_matches_pandas(spark, corpus_pdf, golden):
    df = generated_transcripts_df(spark, n_convs=60, seed=7)
    got = (
        assemble_conversations(extract_turns(df))
        .orderBy("conv_id")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = (
        golden.sort_values(["conv_id", "turn_idx"])
        .groupby("conv_id")
        .agg(
            conv_text=("extracted_text", lambda s: "\n".join(x for x in s if x != "")),
            n_turns=("extracted_text", "size"),
            n_content_turns=("extracted_text", lambda s: int((s != "").sum())),
        )
        .reset_index()
    )
    assert (got.conv_id.values == exp.conv_id.values).all()
    assert (got.conv_text.values == exp.conv_text.values).all()
    assert (got.n_turns.values == exp.n_turns.values).all()
    assert (got.n_content_turns.values == exp.n_content_turns.values).all()


def test_skewed_corpus_has_long_conversations(corpus_pdf):
    # the Zipf generator must actually produce skew for the salting tests
    sizes = corpus_pdf.groupby("conv_id").size()
    assert sizes.max() >= 10 * max(sizes.min(), 1)


def test_skewed_layout_salted_spread_equals_oracle(spark):
    """Degenerate skew: ONE conversation holds 80% of all turns and the
    source arrives as a single partition sorted by conv_id (the
    one-file-per-conversation layout the north rule names). The salted
    (conv_id, turn_idx) repartition must spread it across partitions
    and still reproduce the oracle exactly under stable ordering."""
    import pandas as pd

    from reference_oracle import extract_frame
    from ocr_lib_spark.sources.synth import build_payload

    rows = []
    for i in range(800):  # the mega-conversation
        rows.append(("conv-mega", i, "user", build_payload(f"turn {i} scan join value row", i % 7)))
    for c in range(20):  # 20 short conversations
        for i in range(10):
            rows.append((f"conv-{c:03d}", i, "assistant", build_payload(f"short {c} {i}", (c + i) % 7)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    golden = (
        extract_frame(pdf).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )

    src = spark.createDataFrame(pdf).coalesce(1)  # worst-case layout
    assert src.rdd.getNumPartitions() == 1
    salted = extract_turns(src, partitions=16, repartition=True)
    # the heavy stage really runs at 16 partitions
    assert salted.rdd.getNumPartitions() == 16
    got = ordered(salted).toPandas().reset_index(drop=True)
    assert (got.conv_id.values == golden.conv_id.values).all()
    assert (got.turn_idx.values == golden.turn_idx.values).all()
    assert (got.extracted_text.values == golden.extracted_text.values).all()
    # and the spread is real: the mega-conversation does not collapse
    # into one partition (turn_idx participates in the hash)
    from pyspark.sql import functions as F

    per_part = (
        src.repartition(16, "conv_id", "turn_idx")
        .where(F.col("conv_id") == "conv-mega")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert len(per_part) >= 8  # spread over at least half the partitions
    assert max(r["count"] for r in per_part) < 800


def test_vectorized_kernels_equal_relational_twins(spark):
    """The Arrow fast paths (zero-shuffle minhash / simhash) are pinned
    bit-identical to their pure-Catalyst twins on real data."""
    from pyspark.sql import functions as F

    from ocr_lib_spark.operators.dedup import (
        minhash_signatures,
        simhash64,
        simhash_bits,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mh_fast = minhash_signatures(d).orderBy("doc_id").toPandas()
    mh_ref = minhash_signatures(d, vectorized=False).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(mh_fast, mh_ref)

    sh_fast = simhash_bits(d, n_bits=20).orderBy("doc_id").toPandas()
    sh_ref = (
        simhash64(d)
        .select("doc_id", (F.col("simhash") % (2**20)).alias("simhash"))
        .orderBy("doc_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(sh_fast, sh_ref)


def test_loss_mask_spans_slice_conv_text_exactly(spark):
    """conv_text[mask_start:mask_end] must be the assistant turn's
    extracted text — the property that makes the spans usable as an
    SFT loss mask."""
    from pyspark.sql import functions as F

    from ocr_lib_spark.pipeline import assemble_conversations, extract_turns
    from ocr_lib_spark.plans.extraction import _q_loss_mask_spans
    from ocr_lib_spark.sources.synth import transcripts_from_documents

    sf = "/root/testdata/sf0.001"
    tr = transcripts_from_documents(spark, sf)
    ex = extract_turns(tr)
    conv = assemble_conversations(ex).select("conv_id", "conv_text")
    spans = _q_loss_mask_spans(spark, sf)
    joined = (
        spans.join(conv, "conv_id")
        .join(ex.select("conv_id", "turn_idx", "extracted_text"), ["conv_id", "turn_idx"])
        .select(
            F.expr("substring(conv_text, mask_start + 1, mask_end - mask_start)").alias("sliced"),
            "extracted_text",
        )
        .toPandas()
    )
    assert len(joined) > 0
    assert (joined.sliced == joined.extracted_text).all()


def test_loss_mask_spans_multi_char_separator(spark):
    """Off-default-knob twin (the other knobs have one): with a 2-char
    block separator the spans must still slice conv_text exactly — the
    sep_len derivation from the shared config knob is what keeps spans
    and assembly in sync."""
    import dataclasses

    from pyspark.sql import functions as F

    from ocr_lib_spark.config import DEFAULT_CONFIG
    from ocr_lib_spark.pipeline import assemble_conversations, extract_turns
    from ocr_lib_spark.plans.extraction import loss_mask_spans
    from ocr_lib_spark.sources.synth import transcripts_from_documents

    cfg2 = dataclasses.replace(DEFAULT_CONFIG, block_separator="|\n")
    tr = transcripts_from_documents(spark, "/root/testdata/sf0.001")
    ex = extract_turns(tr)
    conv = assemble_conversations(ex, cfg=cfg2).select("conv_id", "conv_text")
    spans = loss_mask_spans(ex, cfg=cfg2)
    joined = (
        spans.join(conv, "conv_id")
        .join(ex.select("conv_id", "turn_idx", "extracted_text"), ["conv_id", "turn_idx"])
        .select(
            F.expr("substring(conv_text, mask_start + 1, mask_end - mask_start)").alias("sliced"),
            "extracted_text",
        )
        .toPandas()
    )
    assert len(joined) > 0
    assert (joined.sliced == joined.extracted_text).all()


def _kernel_rows(pdf):
    """``extract_batch`` on the frame's pandas ``text`` column, keyed by
    (conv_id, turn_idx), in the shape ``toPandas`` gives Spark's rows."""
    from ocr_lib_spark.operators.extract import extract_batch

    res = extract_batch(pdf["text"])
    return {
        (c, int(t)): (x, [(s["start"], s["end"], s["label"]) for s in sp], int(nb), list(u))
        for c, t, x, sp, nb, u in zip(
            pdf.conv_id, pdf.turn_idx, res.extracted_text, res.spans, res.n_blocks,
            res.unknown_blocks,
        )
    }


def _spark_rows(out):
    return {
        (r.conv_id, int(r.turn_idx)): (
            r.extracted_text,
            [(s["start"], s["end"], s["label"]) for s in r.spans],
            int(r.n_blocks),
            list(r.unknown_blocks),
        )
        for r in out.itertuples()
    }


def test_arrow_stage_edge_cases_equal_extract_batch(spark, corpus_pdf):
    """The Arrow extraction stage gives exactly ``extract_batch``'s rows
    for null and empty text, a batch whose payloads all repeat, and
    empty partitions; ``extract_stream`` passes ``ts`` through
    bit-identical."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ocr_lib_spark.sources.synth import transcripts_spark_schema
    from ocr_lib_spark.streaming.extract_stream import extract_stream

    schema = transcripts_spark_schema()
    payload = corpus_pdf.text[corpus_pdf.text.str.len().idxmax()]
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 1)
    repeated = pd.DataFrame(
        [("conv-rep", i, "user", payload, None, t0) for i in range(40)], columns=schema.names
    )
    texts = [None, "", payload, None, "", corpus_pdf.text.iloc[0]]
    rows = [
        ("conv-edge", i, "user", x, None, None if i == 3 else t0 + dt.timedelta(seconds=i))
        for i, x in enumerate(texts)
    ]
    edge = pd.DataFrame(rows, columns=schema.names)
    df = spark.createDataFrame(repeated, schema=schema).coalesce(1).union(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, len(rows) + 3), schema)
    )
    # the repeated payloads arrive as one batch, and some partitions are empty
    assert sorted(df.rdd.glom().map(len).collect())[0] == 0
    assert max(df.rdd.glom().map(len).collect()) == len(repeated)

    pdf = pd.concat([repeated, edge], ignore_index=True)
    want = _kernel_rows(pdf)
    assert want[("conv-edge", 0)] == ("", [], 0, [])
    got = extract_turns(df, repartition=False)
    assert _spark_rows(got.toPandas()) == want

    streamed = extract_stream(df).select(
        "conv_id", "turn_idx", F.unix_micros("ts").alias("us"),
        *[c for c in got.columns if c not in ("conv_id", "turn_idx", "role")],
    ).toPandas()
    assert _spark_rows(streamed) == want
    ts_in = df.select("conv_id", "turn_idx", F.unix_micros("ts").alias("us")).toPandas()
    key = ["conv_id", "turn_idx"]
    pd.testing.assert_frame_equal(
        streamed[key + ["us"]].sort_values(key).reset_index(drop=True),
        ts_in.sort_values(key).reset_index(drop=True),
    )


def test_assembly_on_replicated_file_layout_matches_pandas(spark, corpus_pdf, golden, tmp_path):
    """The benchmark's extraction layout, scaled down: whole replicas of
    the corpus dealt to single-row-group files (each conversation inside
    one file, every payload repeated within a file), one file per core,
    read by a plain scan. Assembly of the extracted turns equals the
    pandas golden."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_files, per_file = spark.sparkContext.defaultParallelism, 2
    rng = np.random.default_rng(3)
    for k in range(n_files):
        part = pd.concat(
            [corpus_pdf.assign(conv_id=corpus_pdf.conv_id + f"-{k}-{r}") for r in range(per_file)],
            ignore_index=True,
        ).iloc[rng.permutation(per_file * len(corpus_pdf))]
        part = part.astype({"turn_idx": "int32"})
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            tmp_path / f"part-{k:04d}.parquet",
            coerce_timestamps="us",
        )
    src = spark.read.parquet(str(tmp_path))
    assert src.rdd.getNumPartitions() == n_files
    got = (
        assemble_conversations(extract_turns(src))
        .orderBy("conv_id")
        .toPandas()
        .reset_index(drop=True)
    )
    base = golden.groupby("conv_id").agg(
        conv_text=("extracted_text", lambda s: "\n".join(x for x in s if x != "")),
        n_turns=("extracted_text", "size"),
        n_content_turns=("extracted_text", lambda s: int((s != "").sum())),
    )
    exp = (
        pd.concat(
            [
                base.rename(index=lambda c, s=f"-{k}-{r}": c + s)
                for k in range(n_files)
                for r in range(per_file)
            ]
        )
        .rename_axis("conv_id")
        .reset_index()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == n_files * per_file * corpus_pdf.conv_id.nunique()
    assert (got.conv_id.values == exp.conv_id.values).all()
    assert (got.conv_text.values == exp.conv_text.values).all()
    assert (got.n_turns.values == exp.n_turns.values).all()
    assert (got.n_content_turns.values == exp.n_content_turns.values).all()
