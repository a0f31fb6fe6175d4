"""Tests for corpus-preparation ops: chunking, sequence packing,
decontamination, embedding quantization."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from chimp_spark import engine
from chimp_spark.ops import chunking, decontam, quantize

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = engine.get_spark(cpus=4, app="corpus_ops_tests", chunk_rows=4096)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


# ---------------------------------------------------------------- chunking

def test_chunk_documents_covers_text_exactly(spark, docs):
    """Non-overlapping chunks (stride == size) concatenate back to the
    original text; chunk count == ceil(len/size); empty text -> 0."""
    sample = docs.limit(40)
    ch = chunking.chunk_documents(sample, size=100, stride=100)
    back = (
        ch.orderBy("doc_id", "chunk_id")
        .groupBy("doc_id")
        .agg(
            F.concat_ws("", F.collect_list("chunk")).alias("rebuilt"),
            F.count("*").alias("n"),
        )
    )
    j = back.join(sample, "doc_id").select(
        (F.col("rebuilt") == F.col("text")).alias("ok"),
        (F.col("n") == F.ceil(F.length("text") / 100.0)).alias("nok"),
    )
    rows = j.collect()
    assert all(r["ok"] and r["nok"] for r in rows)


def test_chunk_documents_overlap_and_edges(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, ""), (3, "xy")], ["doc_id", "text"]
    )
    out = {
        (r["doc_id"], r["chunk_id"]): r["chunk"]
        for r in chunking.chunk_documents(df, size=4, stride=3).collect()
    }
    # doc 1: offsets 0,3,6,9 -> abcd, defg, ghij, j
    assert out == {
        (1, 0): "abcd", (1, 1): "defg", (1, 2): "ghij", (1, 3): "j",
        (3, 0): "xy",
    }


def test_pack_sequences_budget_and_coverage(spark, docs):
    lens = docs.select("doc_id", F.length("text").alias("n_tokens"))
    packed = chunking.pack_sequences(lens, budget=3000, num_partitions=4).cache()
    assert packed.count() == lens.count()  # every doc exactly once
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.count("*").alias("docs")
    )
    # a pack over budget must be a single oversized doc
    bad = per_pack.filter((F.col("tot") > 3000) & (F.col("docs") > 1)).count()
    assert bad == 0
    # packing is deterministic: rerun yields identical assignment
    again = chunking.pack_sequences(lens, budget=3000, num_partitions=4)
    assert packed.select("doc_id", "pack_id").exceptAll(
        again.select("doc_id", "pack_id")
    ).count() == 0
    # and it actually packs (fewer packs than docs)
    assert per_pack.count() < lens.count()
    packed.unpersist()


# ------------------------------------------------------------- decontam

def test_contamination_flags_planted_overlap(spark, docs):
    """Plant eval docs copied from the corpus: every copied train doc
    is flagged; unrelated synthetic eval text flags nothing."""
    eval_df = docs.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text")
    n_eval = eval_df.count()
    hits = decontam.contamination_hits(docs, eval_df, n=8).cache()
    flagged = {r["doc_id"] for r in hits.collect()}
    planted = {r["doc_id"] for r in eval_df.collect()}
    # every planted doc with >= 8 words must self-hit
    long_planted = {
        r["doc_id"]
        for r in eval_df.filter(F.size(F.split("text", " ")) >= 8).collect()
    }
    assert long_planted <= flagged
    assert n_eval > 0
    hits.unpersist()

    clean_eval = spark.createDataFrame(
        [(1, "zq zq zq zq zq zq zq zq zq zq")], ["doc_id", "text"]
    )
    assert decontam.contamination_hits(docs, clean_eval, n=8).count() == 0


def test_decontaminate_removes_flagged_docs(spark, docs):
    eval_df = docs.filter(F.col("doc_id") % 25 == 0)
    kept = decontam.decontaminate(docs, eval_df, n=8)
    k = kept.count()
    flagged = decontam.contamination_hits(docs, eval_df, n=8).count()
    assert k == docs.count() - flagged
    # kept set has zero hits against the eval set
    assert decontam.contamination_hits(kept, eval_df, n=8).count() == 0


def test_word_ngrams_short_text_guard(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    out = df.select(decontam.word_ngrams("text", 5).alias("g")).collect()[0]["g"]
    assert out == []  # 3 words < n=5 -> empty, NOT a descending sequence


# ------------------------------------------------------------- quantize

def test_quantize_roundtrip_error_bound(spark, embeddings):
    q = quantize.quantize_embeddings(embeddings, bits=8)
    dq = q.withColumn(  # x_hat = code * scale
        "embedding_deq", F.transform("q", lambda c: (c * F.col("scale")).cast("float")))
    err = dq.select(
        F.max(
            F.array_max(
                F.zip_with(
                    "embedding", "embedding_deq", lambda a, b: F.abs(a - b) / F.col("scale")
                )
            )
        ).alias("worst")
    ).collect()[0]["worst"]
    assert err <= 0.5 + 1e-9  # reconstruction error <= scale/2

    codes = q.select(
        F.array_max("q").alias("hi"), F.array_min("q").alias("lo")
    ).agg(F.max("hi").alias("hi"), F.min("lo").alias("lo")).collect()[0]
    assert codes["hi"] <= 127 and codes["lo"] >= -127


def test_quantize_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    r = quantize.quantize_embeddings(df).collect()[0]
    assert r["scale"] == 1.0 and list(r["q"]) == [0, 0, 0]


def test_quantized_lists_compress_4x_through_engine(spark, embeddings):
    """The point of quantization: int8 codes through the engine's list
    framing (FOR+bitpack inner codec) beat raw float32 storage ~4x,
    where bss on i.i.d. float32 manages ~1.18x."""
    q = quantize.quantize_embeddings(embeddings, bits=8).select("vec_id", "q")
    enc = engine.encode_dataframe(q, ["q"], codec="auto", chunk_rows=4096,
                                  table_name="qemb")
    agg = enc.agg(F.sum("raw_bytes").alias("r"), F.sum("enc_bytes").alias("e")).collect()[0]
    # raw_bytes counts the int32 arrays (4 B/elem) — codes fit in 8
    # bits so the engine must reach <= ~9 bits/elem incl. overhead
    ratio = agg["r"] / agg["e"]
    assert ratio >= 3.5, f"quantized list ratio {ratio:.2f}"
    # decode back bit-identically
    dec = engine.decode_table(enc, ["q"], "q array<int>")
    ok = dec.selectExpr("hash(q) h").agg(F.sum("h")).collect()
    base = q.selectExpr("hash(q) h").agg(F.sum("h")).collect()
    assert ok == base


# ------------------------------------------------------------- pipeline

def test_prepare_corpus_with_decontam_stage(spark, docs, tmp_path):
    """Pipeline with an eval set: planted eval docs (copies of corpus
    docs) are dropped before the split; counts expose the stage."""
    from chimp_spark.ops import decontam
    from chimp_spark.ops.pipeline import prepare_corpus

    eval_df = docs.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text")
    stats = prepare_corpus(
        spark, docs, str(tmp_path / "corpus"), eval_df=eval_df,
        chunk_rows=4096,
    )
    c = stats["counts"]
    assert c["after_decontam"] < c["after_near_dedup"]
    # the committed corpus has zero hits against the eval set
    t = engine.EncodedTable(str(tmp_path / "corpus"))
    dec = engine.decode_table(
        t.read(spark), ["doc_id", "text"], "doc_id long, text string"
    )
    assert decontam.contamination_hits(dec, eval_df, n=8).count() == 0


def test_chunk_documents_unicode_chars_not_bytes(spark):
    """length/substring are CHARACTER-based in both Spark and the
    DuckDB oracle: multi-byte text (CJK, emoji, combining marks) must
    chunk by characters and rebuild exactly."""
    texts = [
        (1, "漢字テスト" * 7),        # CJK, 35 chars
        (2, "café naïve — résumé " * 4),
        (3, "\U0001f600\U0001f680" * 5 + "tail"),          # astral plane
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    ch = chunking.chunk_documents(df, size=8, stride=8)
    back = {
        r["doc_id"]: r["rebuilt"]
        for r in ch.orderBy("doc_id", "chunk_id")
        .groupBy("doc_id")
        .agg(F.concat_ws("", F.collect_list("chunk")).alias("rebuilt"))
        .collect()
    }
    for doc_id, text in texts:
        assert back[doc_id] == text
    # every chunk is at most `size` CHARACTERS
    assert ch.filter(F.length("chunk") > 8).count() == 0


def test_prepare_corpus_on_pages_table_string_ids(spark, tmp_path):
    """The north-rule input shape: Common-Crawl-style pages keyed by
    url (STRING ids). The pipeline's canonical dedup, hash splits and
    hash-of-id encode layout must all work on string keys."""
    from chimp_spark.ops.pipeline import prepare_corpus
    from chimp_spark.pages import pages_df

    pages = pages_df(spark, total_rows=2_000, num_partitions=4)
    stats = prepare_corpus(
        spark, pages.select("url", "text", "lang"), str(tmp_path / "pages"),
        id_col="url", chunk_rows=4096, table_name="pages",
    )
    c = stats["counts"]
    assert c["after_filters"] > 0
    assert 0 < stats["commit"]["partitions"] <= stats["encode_partitions"]
    dec = engine.decode_table(
        engine.EncodedTable(str(tmp_path / "pages")).read(spark),
        ["url", "text", "split"], "url string, text string, split string",
    )
    assert dec.count() == c["after_filters"]
    assert dec.select("url").distinct().count() == dec.count()


def test_prepare_corpus_split_export_prunes(spark, docs, tmp_path):
    """The pipeline's split-clustered chunk layout must let the
    predicate decode sink export one split WITHOUT reading the whole
    corpus: groups_decoded < groups_total, output exactly the split."""
    from chimp_spark.ops.pipeline import prepare_corpus

    root = str(tmp_path / "corpus")
    prepare_corpus(spark, docs, root, chunk_rows=64)
    out = str(tmp_path / "train_only")
    res = engine.decode_table_to_parquet(
        spark, root, ["doc_id", "text", "split"],
        "doc_id long, text string, split string",
        out, table="documents", predicate=("split", "==", "valid"),
    )
    a = res["audit"]
    assert 0 < a["groups_decoded"] < a["groups_total"], a
    w = spark.read.parquet(out)
    assert w.filter(F.col("split") != "valid").count() == 0
    full = engine.decode_table(
        engine.EncodedTable(root).read(spark), ["doc_id", "split"],
        "doc_id long, split string",
    )
    assert w.count() == full.filter(F.col("split") == "valid").count()


def test_prepare_corpus_chunks_rerun_identical(spark, docs, tmp_path):
    """Chunk contents are a pure function of the data: two runs over
    the same input commit byte-identical frames (checksums match per
    (part_id, chunk_id, column)) — the property partition-granular
    resume and split-clustering rest on."""
    from chimp_spark.ops.pipeline import prepare_corpus

    sigs = []
    for tag in ("a", "b"):
        root = str(tmp_path / tag)
        prepare_corpus(spark, docs, root, chunk_rows=64)
        enc = engine.EncodedTable(root).read(spark)
        sigs.append(sorted(
            (r["part_id"], r["chunk_id"], r["column"], r["checksum"])
            for r in enc.select("part_id", "chunk_id", "column", "checksum").collect()
        ))
    assert sigs[0] == sigs[1]
