"""Larger-than-testdata smoke: ~10^6 synthetic docs/vectors exercise
the web-scale parameterizations end-to-end — simhash_params' multi-word
path and ann_params-sized LSH — and pin that bucket-size distributions
stay bounded (the property that keeps the candidate joins linear at
10^9+). Inputs are generated JVM-side (hash-derived words/coords), so
the test is CPU-cheap to set up and deterministic.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chimp_spark import engine
from chimp_spark.ops import dedup, similarity

N_DOCS = 1_000_000
N_VECS = 1_000_000
DIM = 16


@pytest.fixture(scope="module")
def spark():
    s = engine.get_spark(cpus=16, app="scale_smoke", chunk_rows=65_536)
    yield s
    s.stop()


def _synth_docs(spark, n):
    """n docs of 12 words from a ~100k-word vocabulary, hash-derived
    (deterministic, JVM-side — no driver materialization)."""
    words = F.transform(
        F.sequence(F.lit(1), F.lit(12)),
        lambda j: F.conv(
            (F.abs(F.xxhash64(F.col("id") * 31 + j)) % 100_000).cast("string"),
            10, 36,
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )


def test_simhash_multiword_at_1m_docs(spark):
    """simhash_params(2M) -> 4-word signatures; planted exact dups
    among 10^6 mostly-unique docs must be found, and no band bucket
    may exceed a constant factor of the expected size (linear join)."""
    p = dedup.simhash_params(2 * N_DOCS)
    assert p["words"] == 4
    base = _synth_docs(spark, N_DOCS)
    planted = base.filter(F.col("doc_id") < 500).withColumn(
        "doc_id", F.col("doc_id") + 10_000_000
    )
    sigs = dedup.simhash_signatures(base.unionAll(planted), words=p["words"]).cache()

    # bucket boundedness: per band (= per signature word), the largest
    # bucket. 64-bit keys over 10^6 random docs -> collisions only from
    # planted dups (500) plus hash coincidences.
    maxes = []
    for w in range(p["words"]):
        top = (
            sigs.groupBy(F.element_at("simhash", w + 1).alias("bk"))
            .count().agg(F.max("count")).collect()[0][0]
        )
        maxes.append(top)
    assert max(maxes) <= 64, f"hot band bucket: {maxes}"

    pairs = dedup.simhash_candidate_pairs(sigs, max_hamming=0, words=p["words"])
    found = {(r["a"], r["b"]) for r in pairs.filter(F.col("b") >= 10_000_000).collect()}
    expected = {(i, i + 10_000_000) for i in range(500)}
    assert expected <= found
    sigs.unpersist()


def _synth_vecs(spark, n):
    coords = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda j: (
            (F.pmod(F.xxhash64(F.col("id"), j), F.lit(2_000_001)) - 1_000_000)
            / 1_000_000.0
        ).cast("float"),
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), coords.alias("embedding"))


def test_lsh_ann_at_1m_vectors(spark):
    """ann_params-sized signatures at 10^6 vectors: bucket sizes stay
    within a small factor of the target (the planted near-duplicate
    query runs against the persisted index in
    test_persisted_lsh_index_at_1m)."""
    params = similarity.ann_params(N_VECS, target_bucket=256)
    assert params["nbits"] == 12
    base = _synth_vecs(spark, N_VECS)
    sigs = similarity.rp_signatures_multi(base, DIM, params["nbits"], tables=1)
    stats = sigs.groupBy("bucket").count().agg(
        F.max("count").alias("mx"), F.count("*").alias("nb")
    ).collect()[0]
    # random projections on iid coords: buckets are uneven but must
    # stay O(target), not O(corpus) — the linear-join property
    assert stats["mx"] <= 40 * 256, f"hot bucket {stats['mx']} of {stats['nb']}"


def test_persisted_lsh_index_at_1m(spark, tmp_path):
    """Build the persisted LSH index over 10^6 vectors and query it:
    the build is one corpus pass + one partitioned write; the query
    touches only probed partitions and recovers a planted near-dup.
    This is the 100 TB serving shape at sandbox scale."""
    from chimp_spark.ops import ann_index

    params = similarity.ann_params(N_VECS, target_bucket=256)
    base = _synth_vecs(spark, N_VECS)
    row = base.filter(F.col("vec_id") == 7).collect()[0]
    q = [float(x) for x in row["embedding"]]
    near = [float(x + 0.003 * ((i % 3) - 1)) for i, x in enumerate(q)]
    corpus = base.unionAll(
        spark.createDataFrame([(5_000_000, near)], "vec_id long, embedding array<float>")
    )
    root = str(tmp_path / "lsh1m")
    ann_index.build_lsh_index(
        corpus, root, dim=DIM, nbits=params["nbits"], tables=2
    )
    import time

    t0 = time.perf_counter()
    got = [r["vec_id"] for r in ann_index.lsh_index_topk(spark, root, q, k=2).collect()]
    dt = time.perf_counter() - t0
    assert got[0] == 7 and 5_000_000 in got, got
    assert dt < 30, f"pruned query took {dt:.1f}s"


def test_prepare_corpus_at_1m_docs(spark, tmp_path):
    """End-to-end corpus preparation at 10^6 docs: exact dedup,
    MinHash near-dedup, deterministic split, and the chunk-sized
    encode layout in ONE run, plus a resume no-op second run. Planted:
    1,000 byte-identical copies (exact lane) and 500 near-dup pairs of
    100-word docs with one word changed (Jaccard ~ 0.94 >= the 0.9
    threshold — the near lane, invisible to exact dedup)."""
    import time

    from chimp_spark.ops.pipeline import prepare_corpus

    base = _synth_docs(spark, N_DOCS)
    exact_copies = base.filter(F.col("doc_id") < 1000).withColumn(
        "doc_id", F.col("doc_id") + 20_000_000
    )

    def long_doc(id_off, words_expr):
        return spark.range(500).select(
            (F.col("id") + id_off).alias("doc_id"),
            F.concat_ws(" ", words_expr).alias("text"),
        )

    words100 = F.transform(
        F.sequence(F.lit(1), F.lit(100)),
        lambda j: F.conv(
            (F.abs(F.xxhash64(F.col("id") * 131 + j)) % 100_000).cast("string"),
            10, 36,
        ),
    )
    # same first 99 words, different word 100 -> near dup, not exact
    words99 = F.transform(
        F.sequence(F.lit(1), F.lit(100)),
        lambda j: F.when(
            j < 100,
            F.conv((F.abs(F.xxhash64(F.col("id") * 131 + j)) % 100_000)
                   .cast("string"), 10, 36),
        ).otherwise(F.lit("zzzzchanged")),
    )
    near_a = long_doc(30_000_000, words100)
    near_b = long_doc(31_000_000, words99)
    corpus = base.unionAll(exact_copies).unionAll(near_a).unionAll(near_b)
    n_in = N_DOCS + 1000 + 1000

    root = str(tmp_path / "corpus1m")
    t0 = time.perf_counter()
    stats = prepare_corpus(spark, corpus, root, chunk_rows=65_536,
                           table_name="documents")
    wall = time.perf_counter() - t0
    c = stats["counts"]
    assert c["input"] == n_in
    assert c["after_exact_dedup"] == n_in - 1000  # planted exact copies
    near_removed = c["after_exact_dedup"] - c["after_near_dedup"]
    # >= the 500 planted losers; a handful of accidental near-dups in
    # 10^6 random 12-word docs is tolerated, an avalanche is a bug
    assert 500 <= near_removed <= 600, near_removed
    assert c["after_filters"] == c["after_near_dedup"]  # no filters on

    # min-id canonical: every planted near pair keeps the 30M id
    kept = engine.decode_table(
        engine.EncodedTable(root).read(spark), ["doc_id", "split"],
        "doc_id long, split string",
    ).cache()
    assert kept.filter(F.col("doc_id") >= 31_000_000).count() == 0
    assert kept.filter(
        (F.col("doc_id") >= 30_000_000) & (F.col("doc_id") < 30_000_500)
    ).count() == 500

    # split fractions near the 0.8/0.1/0.1 weights
    fr = {r["split"]: r["count"] / c["after_filters"]
          for r in kept.groupBy("split").count().collect()}
    assert abs(fr["train"] - 0.8) < 0.01 and abs(fr["valid"] - 0.1) < 0.01

    # encode layout: sized by chunk_rows per split (3 splits add at
    # most 2 partitions of rounding over a single global ceiling)
    n_floor = -(-c["after_filters"] // 65_536)
    assert n_floor <= stats["encode_partitions"] <= n_floor + 2
    assert 0 < stats["commit"]["partitions"] <= stats["encode_partitions"]

    # resume: the second run re-derives the stages and commits NOTHING
    stats2 = prepare_corpus(spark, corpus, root, chunk_rows=65_536,
                            table_name="documents")
    assert stats2["commit"]["partitions"] == 0
    kept.unpersist()
    assert wall < 900, f"1M-doc prepare_corpus took {wall:.0f}s"
