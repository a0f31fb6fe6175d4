"""Spark-level end-to-end tests: encode -> decode bit-identical on the
driver-provided tables (TESTDATA.md), plus lineage/resume and skew
layout checks. Mirrors the reference's harness-level round-trip
asserts (main.rs:102,136,239) at DataFrame granularity."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from chimp_spark import engine

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    s = engine.get_spark(cpus=4, app="chimp_spark_tests", chunk_rows=4096)
    yield s
    s.stop()


def _bit_identical_double(spark, df, encoded, column):
    dec = engine.decode_column(encoded, column, "double")
    orig = df.select(F.col(column).cast("long").alias("k")).groupBy().count()
    a = df.select(column).selectExpr(f"count(*) c", f"count({column}) cv")
    b = dec.select("value").selectExpr("count(*) c", "count(value) cv")
    assert a.collect() == b.collect()
    # multiset equality on bit patterns (exceptAll both ways)
    lhs = df.select(F.expr(f"cast({column} as double)").alias("v"))
    rhs = dec.select(F.col("value").alias("v"))
    assert lhs.exceptAll(rhs).isEmpty()
    assert rhs.exceptAll(lhs).isEmpty()


def test_encode_decode_lineitem_extendedprice(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    encoded = engine.encode_dataframe(
        df, ["l_extendedprice"], codec="chimp", chunk_rows=4096, table_name="lineitem"
    ).cache()
    assert encoded.filter(F.col("codec") != "chimp").count() == 0
    _bit_identical_double(spark, df, encoded, "l_extendedprice")
    encoded.unpersist()


def test_encode_decode_auto_multi_column(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    encoded = engine.encode_dataframe(df, cols, codec="auto", chunk_rows=4096,
                                      table_name="lineitem").cache()
    # every column present, chunk accounting consistent
    per_col = {r["column"]: r for r in engine.compression_summary(encoded).collect()}
    assert set(per_col) == set(cols)
    n = df.count()
    for c in cols:
        assert per_col[c]["values"] == n, c

    dec = engine.decode_table(encoded, cols, (
        "l_orderkey long, l_quantity double, l_extendedprice double, "
        "l_returnflag string, l_shipdate timestamp"
    ))
    lhs = df.select(*cols)
    rhs = dec.select(*cols)
    assert lhs.exceptAll(rhs).isEmpty()
    assert rhs.exceptAll(lhs).isEmpty()
    encoded.unpersist()


def test_decode_column_positions_align(spark):
    """Two decoded columns of one run align on (part_id, row_id)."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    encoded = engine.encode_dataframe(
        df, ["o_orderkey", "o_totalprice"], chunk_rows=2048, table_name="orders"
    ).cache()
    k = engine.decode_column(encoded, "o_orderkey", "long").withColumnRenamed("value", "k")
    v = engine.decode_column(encoded, "o_totalprice", "double").withColumnRenamed("value", "v")
    joined = k.join(v, ["part_id", "row_id"])
    lhs = df.select(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v"))
    assert joined.select("k", "v").exceptAll(lhs).isEmpty()
    assert lhs.exceptAll(joined.select("k", "v")).isEmpty()
    encoded.unpersist()


def test_nulls_and_text_documents(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cols = ["doc_id", "text", "lang", "n_chars"]
    encoded = engine.encode_dataframe(df, cols, chunk_rows=2048, table_name="documents")
    dec = engine.decode_table(encoded, cols, "doc_id long, text string, lang string, n_chars long")
    # byte-identical text per doc_id (the per-url invariant of the
    # north rule, keyed by this table's key)
    j = dec.alias("d").join(df.alias("o"), "doc_id")
    bad = j.filter(
        (F.col("d.text") != F.col("o.text"))
        | (F.col("d.lang") != F.col("o.lang"))
        | (F.col("d.n_chars") != F.col("o.n_chars"))
    )
    assert bad.isEmpty()
    assert dec.count() == df.count()


def test_skew_layout_salted_range(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hot = engine.detect_hot_keys(df, "lang", threshold=0.2)
    laid = engine.repartition_salted(df, "lang", 8, hot_keys=hot, salt_buckets=4)
    # hot key spread over >1 partition, no data lost
    assert laid.count() == df.count()
    if hot:
        parts = (
            laid.withColumn("pid", F.spark_partition_id())
            .filter(F.col("lang") == hot[0])
            .select("pid").distinct().count()
        )
        assert parts > 1


def test_manifest_commit_read_resume(spark, tmp_path):
    df = spark.read.parquet(f"{SF_DIR}/nation.parquet").repartition(4)
    root = str(tmp_path / "enc_nation")
    stats = engine.encode_and_commit(
        spark, df, root, "nation", chunk_rows=1024, resume=True
    )
    assert stats["partitions"] >= 1
    t = engine.EncodedTable(root)
    v1 = t.log.current_version()
    assert v1 == 1
    enc = t.read(spark)
    dec = engine.decode_table(enc, ["n_nationkey", "n_name"], "n_nationkey long, n_name string")
    lhs = df.select("n_nationkey", "n_name")
    assert lhs.exceptAll(dec.select("n_nationkey", "n_name")).isEmpty()

    # resume: second run encodes nothing new
    stats2 = engine.encode_and_commit(spark, df, root, "nation", chunk_rows=1024)
    assert stats2.get("resumed") or stats2["partitions"] == 0
    assert engine.EncodedTable(root).log.current_version() == v1


def test_compression_beats_raw_on_real_columns(spark):
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    encoded = engine.encode_dataframe(
        df, ["event_id", "ts", "event_type"], chunk_rows=4096, table_name="events"
    )
    rows = engine.compression_summary(encoded).collect()
    by_col = {r["column"]: r for r in rows}
    assert by_col["event_id"]["ratio"] > 3  # sorted ids -> delta
    assert by_col["ts"]["ratio"] > 1.5  # jittery timestamps -> delta_bp
    assert by_col["event_type"]["ratio"] > 3  # low-card dict


def test_checksum_verification(spark):
    df = spark.read.parquet(f"{SF_DIR}/part.parquet")
    enc = engine.encode_dataframe(
        df, ["p_partkey", "p_name"], chunk_rows=512, table_name="part"
    ).cache()
    ok = engine.decode_table(
        enc, ["p_partkey", "p_name"], "p_partkey long, p_name string",
        verify_checksums=True,
    )
    assert ok.count() == df.count()
    # corrupt one checksum -> decode must fail loudly
    bad = enc.withColumn(
        "checksum", F.when(F.col("chunk_id") == 0, F.col("checksum") + 1).otherwise(F.col("checksum"))
    )
    broken = engine.decode_table(
        bad, ["p_partkey", "p_name"], "p_partkey long, p_name string",
        verify_checksums=True,
    )
    with pytest.raises(Exception, match="checksum mismatch"):
        broken.count()
    enc.unpersist()


def test_csv_source_roundtrip(spark, tmp_path):
    """SURVEY §2.6: the reference ingests CSV float columns
    (main.rs:62-72); the engine composes with spark.read.csv the same
    as any scan."""
    src = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id", "value")
    csv_dir = str(tmp_path / "events_csv")
    src.write.mode("overwrite").option("header", True).csv(csv_dir)
    df = spark.read.option("header", True).schema("event_id long, value double").csv(csv_dir)
    enc = engine.encode_dataframe(df, ["value"], codec="chimp", chunk_rows=2048,
                                  table_name="events_csv")
    dec = engine.decode_column(enc, "value", "double")
    lhs = df.select(F.col("value").alias("v"))
    rhs = dec.select(F.col("value").alias("v"))
    assert lhs.exceptAll(rhs).isEmpty() and rhs.exceptAll(lhs).isEmpty()


def test_resume_after_partial_failure(spark, tmp_path):
    """Crash-resume: a first run commits only some partitions (simulated
    by filtering); the rerun encodes exactly the remainder and the
    union decodes to the full table."""
    df = spark.read.parquet(f"{SF_DIR}/customer.parquet").repartition(6).cache()
    df.count()
    root = str(tmp_path / "enc_cust")

    work = df.withColumn("__part_id", F.spark_partition_id())
    partial = work.filter(F.col("__part_id") < 3).drop("__part_id")
    enc = engine.encode_dataframe(partial, ["c_custkey", "c_name"], chunk_rows=512,
                                  table_name="customer")
    t = engine.EncodedTable(root)
    # stamp layout_parts exactly as a crashed encode_and_commit would
    # have (resume now REFUSES unstamped df entries — see
    # test_df_resume_refuses_pre_layout_parts_entries)
    t.commit(spark, enc, "customer", mode="df", layout_parts=6)
    assert t.completed_part_ids("customer", mode="df") == {0, 1, 2}

    stats = engine.encode_and_commit(
        spark, df, root, "customer", columns=["c_custkey", "c_name"],
        chunk_rows=512, resume=True,
    )
    assert stats["partitions"] == 3  # only the missing partitions ran

    enc_all = engine.EncodedTable(root).read(spark)
    dec = engine.decode_table(enc_all, ["c_custkey", "c_name"],
                              "c_custkey long, c_name string")
    lhs = df.select("c_custkey", "c_name")
    assert lhs.exceptAll(dec.select("c_custkey", "c_name")).isEmpty()
    assert dec.count() == df.count()


def test_batch_resume_ignores_streaming_epochs(spark, tmp_path):
    """Streaming commits restart part_id at 0 every micro-batch; batch
    resume must NOT treat those ids as completed source partitions
    (data loss on mixed streaming+batch tables)."""
    df = spark.read.parquet(f"{SF_DIR}/customer.parquet").repartition(4).cache()
    df.count()
    root = str(tmp_path / "enc_mixed")
    t = engine.EncodedTable(root)

    # a streaming micro-batch commit covering part_ids 0..3 (epoch 0)
    enc_stream = engine.encode_dataframe(
        df, ["c_custkey"], chunk_rows=512, table_name="customer"
    )
    t.commit(spark, enc_stream, "customer", epoch=0)
    assert t.completed_part_ids("customer") == set()  # epoch rows excluded
    assert t.committed_epochs("customer") == {0}

    # batch encode with resume=True must still encode ALL 4 partitions
    stats = engine.encode_and_commit(
        spark, df, root, "customer", columns=["c_custkey"],
        chunk_rows=512, resume=True,
    )
    assert stats["partitions"] == 4


def test_zone_map_pruning(spark):
    """Range-partitioned encode -> decode_column(predicate=...) must
    skip non-overlapping chunks (zone maps) and return exact results."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    laid = df.repartitionByRange(8, F.col("l_extendedprice"))
    enc = engine.encode_dataframe(laid, ["l_extendedprice"], chunk_rows=512,
                                  table_name="li").cache()
    lo, hi = 5_000.0, 10_000.0
    pruned = enc.filter(
        F.col("stat_min").isNull()
        | ((F.col("stat_max") >= lo) & (F.col("stat_min") <= hi))
    ).count()
    total = enc.count()
    assert pruned < total / 2, f"zone maps should prune: {pruned}/{total}"

    dec = engine.decode_column(enc, "l_extendedprice", "double",
                               predicate=("l_extendedprice", "between", (lo, hi)))
    got = dec.filter((F.col("value") >= lo) & (F.col("value") <= hi))
    expect = df.filter((F.col("l_extendedprice") >= lo) & (F.col("l_extendedprice") <= hi))
    assert got.count() == expect.count()
    lhs = expect.select(F.col("l_extendedprice").alias("v"))
    rhs = got.select(F.col("value").alias("v"))
    assert lhs.exceptAll(rhs).isEmpty() and rhs.exceptAll(lhs).isEmpty()
    enc.unpersist()


def test_encode_parquet_multifile_dir(spark, tmp_path):
    """Scan path over a directory of parquet files (the crawl-dump
    shape: many files x row groups = work units)."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    src = str(tmp_path / "many")
    df.repartition(5).write.mode("overwrite").parquet(src)
    enc = engine.encode_parquet(spark, src, table_name="orders", chunk_rows=1024)
    assert enc.select("part_id").distinct().count() == 5  # one unit per file
    dec = engine.decode_table(enc, ["o_orderkey", "o_totalprice"],
                              "o_orderkey long, o_totalprice double")
    lhs = df.select("o_orderkey", "o_totalprice")
    assert lhs.exceptAll(dec.select("o_orderkey", "o_totalprice")).isEmpty()
    assert dec.count() == df.count()

    # precomputed units: parquet_work_units' 4-tuples and legacy
    # (unit_id, file, row_group) 3-tuples give the same frames
    def frames(e):
        return sorted(map(tuple, e.select("part_id", "chunk_id", "column", "frame").collect()))

    units = engine.parquet_work_units(engine.resolve_paths(src))
    assert all(len(u) == 4 for u in units)
    for us in (units, [u[:3] for u in units]):
        again = engine.encode_parquet(spark, src, table_name="orders", chunk_rows=1024, units=us)
        assert frames(again) == frames(enc)


def test_encode_parquet_scan_resume(spark, tmp_path):
    """Scan-path resume: commit a subset of work units, then rerun with
    skip_part_ids — only the remaining units encode, and the union
    decodes to the full table."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    src = str(tmp_path / "many")
    df.repartition(4).write.mode("overwrite").parquet(src)
    root = str(tmp_path / "enc")
    t = engine.EncodedTable(root)

    part1 = engine.encode_parquet(spark, src, columns=["o_orderkey"],
                                  table_name="orders").filter(F.col("part_id") < 2)
    t.commit(spark, part1, "orders", mode="scan")
    done = t.completed_part_ids("orders", mode="scan")
    assert done == {0, 1}
    # the other namespace must see nothing (a DataFrame-path resume
    # against these scan unit ids would skip unrelated partitions)
    assert t.completed_part_ids("orders", mode="df") == set()

    part2 = engine.encode_parquet(spark, src, columns=["o_orderkey"],
                                  table_name="orders", skip_part_ids=done)
    assert set(r["part_id"] for r in part2.select("part_id").distinct().collect()) == {2, 3}
    t.commit(spark, part2, "orders", mode="scan")

    enc_all = t.read(spark)
    dec = engine.decode_column(enc_all, "o_orderkey", "long")
    assert dec.count() == df.count()
    lhs = df.select(F.col("o_orderkey").alias("value"))
    assert lhs.exceptAll(dec.select("value")).isEmpty()


def test_string_zone_map_pruning(spark):
    """Range-partition documents by source (string key) -> encode ->
    predicate decode must skip non-overlapping chunks and return
    exactly the matching rows (parquet row-group skipping, but on the
    ENCODED table's string zone maps)."""
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    laid = df.repartitionByRange(4, F.col("source")).sortWithinPartitions("source")
    enc = engine.encode_dataframe(laid, ["source"], chunk_rows=128,
                                  table_name="docs").cache()
    # 'src0'..'src12' selects a real subset lexicographically
    # (src0, src1, src10..src12) — chunks must BOTH survive and prune
    lo, hi = "src0", "src12"
    pruned = enc.filter(
        (F.col("stat_max_bin").isNull() | (F.col("stat_max_bin") >= F.lit(lo.encode())))
        & (F.col("stat_min_bin").isNull() | (F.col("stat_min_bin") <= F.lit(hi.encode())))
    )
    assert 0 < pruned.count() < enc.count(), "pruning must keep some and drop some"
    dec = engine.decode_column(enc, "source", "string",
                               predicate=("source", "between", (lo, hi)))
    got = dec.filter((F.col("value") >= lo) & (F.col("value") <= hi)).select(
        F.col("value").alias("v"))
    want = df.filter((F.col("source") >= lo) & (F.col("source") <= hi)).select(
        F.col("source").alias("v"))
    assert got.count() == want.count()
    assert want.exceptAll(got).isEmpty() and got.exceptAll(want).isEmpty()
    enc.unpersist()


def test_string_bounds_conservative():
    """Truncate-and-increment upper bounds stay conservative for long
    and all-0xFF keys."""
    import pyarrow as pa

    from chimp_spark.framing import _string_bounds

    arr = pa.array(["b" * 40, "a", "c" * 40])
    lo, hi = _string_bounds(arr)
    assert lo == b"a"
    assert hi is not None and hi >= ("c" * 40).encode()[:16]  # bound holds
    assert hi > ("c" * 40).encode()  # strictly above every member

    ff = pa.array([b"\xff" * 32, b"a"], type=pa.binary())
    lo, hi = _string_bounds(ff)
    assert lo == b"a" and hi is None  # unbounded, conservative


def test_verify_table_audit(spark, tmp_path):
    """verify_table: all-zero on a lossless table; catches injected
    value corruption; filters by table name on multi-table roots."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    enc = engine.encode_dataframe(
        df, ["o_orderkey", "o_totalprice"], chunk_rows=1024, table_name="orders"
    ).cache()
    res = engine.verify_table(df, enc, ["o_orderkey", "o_totalprice"],
                              "o_orderkey long, o_totalprice double")
    assert res == {"rows": df.count(), "missing": 0, "extra": 0}

    # corrupt the SOURCE side: audit must report mismatches
    bad_src = df.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == df.first()["o_orderkey"],
               F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")),
    )
    res2 = engine.verify_table(bad_src, enc, ["o_orderkey", "o_totalprice"],
                               "o_orderkey long, o_totalprice double")
    assert res2["missing"] > 0 and res2["extra"] > 0

    # multi-table root: the table filter keeps the audit scoped
    other = engine.encode_dataframe(
        spark.read.parquet(f"{SF_DIR}/nation.parquet").selectExpr(
            "n_nationkey as o_orderkey", "cast(n_regionkey as double) as o_totalprice"
        ),
        ["o_orderkey", "o_totalprice"], chunk_rows=1024, table_name="nation_alias",
    )
    both = enc.unionAll(other)
    res3 = engine.verify_table(df, both, ["o_orderkey", "o_totalprice"],
                               "o_orderkey long, o_totalprice double", table="orders")
    assert res3 == {"rows": df.count(), "missing": 0, "extra": 0}
    enc.unpersist()


def test_legacy_modeless_entries_never_satisfy_mode_queries(spark, tmp_path):
    """Entries committed before part-id namespaces existed (no mode)
    must count for NO mode-specific resume query: a scan resume that
    trusted a legacy DataFrame partition id would silently skip a
    never-encoded row group (advisor-found data-loss direction). The
    consequence — mixed legacy tables re-encode — is the documented
    lesser failure."""
    df = spark.read.parquet(f"{SF_DIR}/customer.parquet").repartition(2)
    enc = engine.encode_dataframe(df, ["c_custkey"], chunk_rows=512,
                                  table_name="customer")
    t = engine.EncodedTable(str(tmp_path / "legacy"))
    t.commit(spark, enc, "customer", mode=None)  # legacy: no namespace
    assert t.completed_part_ids("customer", mode="df") == set()
    assert t.completed_part_ids("customer", mode="scan") == set()
    assert t.completed_part_ids("customer") == {0, 1}  # unfiltered view


def test_scan_resume_refuses_changed_file_set(spark, tmp_path):
    """Scan unit ids are positional over (sorted files, row-group
    counts); resume must refuse when the input file set changed since
    the committed entries (advisor-found silent skip/duplication)."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    src = str(tmp_path / "many")
    df.repartition(3).write.mode("overwrite").parquet(src)
    paths = engine.resolve_paths(src)
    units = engine.parquet_work_units(paths)
    fp = engine.units_fingerprint(units)

    root = str(tmp_path / "enc")
    t = engine.EncodedTable(root)
    part1 = engine.encode_parquet(spark, src, columns=["o_orderkey"],
                                  table_name="orders",
                                  units=units).filter(F.col("part_id") < 1)
    t.commit(spark, part1, "orders", mode="scan", fingerprint=fp)
    assert t.completed_scan_units("orders", fp) == {0}

    # same table, new crawl file added -> different fingerprint -> refuse
    df.limit(100).write.mode("append").parquet(src)
    units2 = engine.parquet_work_units(engine.resolve_paths(src))
    fp2 = engine.units_fingerprint(units2)
    assert fp2 != fp
    with pytest.raises(ValueError, match="scan resume refused"):
        t.completed_scan_units("orders", fp2)

    # entries missing a fingerprint (pre-upgrade scan commits) refuse too
    t2 = engine.EncodedTable(str(tmp_path / "enc2"))
    t2.commit(spark, part1, "orders", mode="scan")  # no fingerprint
    with pytest.raises(ValueError, match="scan resume refused"):
        t2.completed_scan_units("orders", fp)


def test_decode_to_parquet_sink_bit_identical(spark, tmp_path):
    """The task-side parquet sink must produce BYTE-identical data to
    decode_table (same rows, same value bits, same alignment ids) —
    it's the same kernel behind a different emitter. Also pins the
    commit protocol: manifest row counts match, staging dir swept,
    overwrite semantics, and checksum verification flows through."""
    import json

    import pyarrow.parquet as pq

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = ["l_orderkey", "l_extendedprice", "l_returnflag", "l_shipdate"]
    ddl = ("l_orderkey long, l_extendedprice double, "
           "l_returnflag string, l_shipdate timestamp")
    enc = engine.encode_dataframe(df, cols, codec="auto", chunk_rows=4096,
                                  table_name="lineitem").cache()
    out = str(tmp_path / "decoded")
    res = engine.decode_to_parquet(enc, cols, ddl, out, verify_checksums=True,
                                   row_group_rows=8192)
    n = df.count()
    assert res["rows"] == n and res["files"] >= 1

    man = json.load(open(os.path.join(out, "_decode_manifest.json")))
    assert man["rows"] == n
    assert sum(f["rows"] for f in man["files"]) == n
    assert not os.path.exists(os.path.join(out, "_staged"))

    written = spark.read.parquet(out)
    ref = engine.decode_table(enc, cols, ddl)
    # float bits: compare doubles through a string cast (Spark would
    # otherwise normalize -0.0/NaN)
    def canon(d):
        return d.select(
            "part_id", "row_id", "l_orderkey",
            F.col("l_extendedprice").cast("string").alias("p"),
            "l_returnflag", "l_shipdate",
        )
    assert canon(written).exceptAll(canon(ref)).isEmpty()
    assert canon(ref).exceptAll(canon(written)).isEmpty()

    # parquet metadata: row groups respect the requested bound
    f0 = pq.ParquetFile(os.path.join(out, man["files"][0]["file"]))
    assert f0.metadata.num_rows > 0

    # refuse to clobber silently; overwrite mode replaces
    with pytest.raises(FileExistsError):
        engine.decode_to_parquet(enc, cols, ddl, out)
    res2 = engine.decode_to_parquet(enc, ["l_orderkey"], "l_orderkey long", out,
                                    mode="overwrite", with_row_ids=False)
    assert res2["rows"] == n
    w2 = spark.read.parquet(out)
    assert w2.columns == ["l_orderkey"]
    assert w2.count() == n
    enc.unpersist()


def test_decode_table_to_parquet_no_shuffle_sink(spark, tmp_path):
    """The file-unit sink (committed EncodedTable -> decoded parquet,
    zero shuffle) must be bit-identical to decode_table over the same
    commit, across a multi-commit (resume-shaped) table history."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = ["l_orderkey", "l_extendedprice", "l_shipdate"]
    ddl = "l_orderkey long, l_extendedprice double, l_shipdate timestamp"
    root = str(tmp_path / "enc_table")
    t = engine.EncodedTable(root)
    # two commits (like a resumed job): decode must cover both
    half1 = df.filter(F.col("l_orderkey") % 2 == 0)
    half2 = df.filter(F.col("l_orderkey") % 2 == 1)
    for part in (half1, half2):
        enc = engine.encode_dataframe(part, cols, codec="auto", chunk_rows=4096,
                                      table_name="lineitem")
        t.commit(spark, enc, "lineitem", mode="df")

    out = str(tmp_path / "decoded_nsh")
    res = engine.decode_table_to_parquet(spark, root, cols, ddl, out,
                                         table="lineitem", verify_checksums=True)
    n = df.count()
    assert res["rows"] == n

    written = spark.read.parquet(out)
    ref = engine.decode_table(t.read(spark), cols, ddl)

    def canon(d):
        return d.select(
            "l_orderkey",
            F.col("l_extendedprice").cast("string").alias("p"),
            "l_shipdate",
        )
    assert canon(written).exceptAll(canon(ref)).isEmpty()
    assert canon(ref).exceptAll(canon(written)).isEmpty()
    # and against the source itself
    src = df.select("l_orderkey", F.col("l_extendedprice").cast("string").alias("p"),
                    "l_shipdate")
    assert canon(written).exceptAll(src).isEmpty()
    assert src.exceptAll(canon(written)).isEmpty()


def test_decode_to_parquet_colocated_fast_path(spark, tmp_path):
    """decode_to_parquet of a cached encode output decodes its
    partitions in place, bit-identical to decode_table; a repartitioned
    (non-colocated) frame layout is co-located first and writes the
    same rows."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = ["l_orderkey", "l_extendedprice", "l_returnflag"]
    ddl = "l_orderkey long, l_extendedprice double, l_returnflag string"
    enc = engine.encode_dataframe(df, cols, codec="auto", chunk_rows=4096,
                                  table_name="lineitem").cache()
    out_a = str(tmp_path / "shuffled")
    out_b = str(tmp_path / "coloc")
    engine.decode_table(enc, cols, ddl, verify_checksums=True).write.parquet(out_a)
    res = engine.decode_to_parquet(enc, cols, ddl, out_b, verify_checksums=True)
    assert res["rows"] == df.count()

    def canon(d):
        return d.select(
            "part_id", "row_id", "l_orderkey",
            F.col("l_extendedprice").cast("string").alias("p"), "l_returnflag",
        )
    a = spark.read.parquet(out_a)
    b = spark.read.parquet(out_b)
    assert canon(a).exceptAll(canon(b)).isEmpty()
    assert canon(b).exceptAll(canon(a)).isEmpty()

    out_c = str(tmp_path / "scrambled")
    res = engine.decode_to_parquet(enc.repartition(7), cols, ddl, out_c, verify_checksums=True)
    assert res["rows"] == df.count()
    c = spark.read.parquet(out_c)
    assert canon(a).exceptAll(canon(c)).isEmpty()
    assert canon(c).exceptAll(canon(a)).isEmpty()
    enc.unpersist()


def test_predicate_pruned_decode_export(spark, tmp_path):
    """decode_table_to_parquet(predicate=...) must (1) produce output
    bit-identical to decode-everything-then-filter, (2) actually SKIP
    pruned chunks' payload bytes (audited against an independent
    zone-map computation over the committed metadata), and (3) stay
    exact on a hostile layout where nothing can be pruned."""
    from chimp_spark.engine.core import Predicate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cols = ["doc_id", "lang", "text"]
    ddl = "doc_id long, lang string, text string"

    # lang-clustered layout: the shape prepare_corpus-style exports
    # (split/lang-sorted) materialize from
    root = str(tmp_path / "by_lang")
    t = engine.EncodedTable(root)
    enc = engine.encode_dataframe(
        docs.orderBy("lang", "doc_id"), cols, codec="auto", chunk_rows=64,
        table_name="documents",
    )
    t.commit(spark, enc, "documents", mode="df")

    out = str(tmp_path / "only_en")
    res = engine.decode_table_to_parquet(
        spark, root, cols, ddl, out, table="documents",
        verify_checksums=True, predicate=("lang", "==", "en"),
    )
    written = spark.read.parquet(out).select(*cols)
    ref = (
        engine.decode_table(t.read(spark), cols, ddl)
        .filter(F.col("lang") == "en").select(*cols)
    )
    assert written.exceptAll(ref).isEmpty() and ref.exceptAll(written).isEmpty()
    assert res["rows"] == ref.count()

    # audit vs an independent zone computation over the metadata
    meta = t.read(spark).filter(F.col("column") == "lang")
    zone = Predicate.of(("lang", "==", "en"), cols).zone_column(meta.columns)
    keep = {
        (r["run_id"], r["part_id"], r["chunk_id"])
        for r in meta.filter(zone).collect()
    }
    meta = meta.collect()
    a = res["audit"]
    assert a["groups_decoded"] == len(keep)
    assert a["groups_total"] == len(meta)
    assert 0 < a["groups_decoded"] < a["groups_total"], a  # pruning bit
    assert a["frame_bytes_read"] < a["frame_bytes_total"]
    # frame_bytes_read counts EXACTLY the surviving groups' bytes
    by_group = (
        t.read(spark).filter(F.col("column").isin(cols))
        .select("run_id", "part_id", "chunk_id", "enc_bytes").collect()
    )
    expect_read = sum(
        r["enc_bytes"] for r in by_group
        if (r["run_id"], r["part_id"], r["chunk_id"]) in keep
    )
    assert a["frame_bytes_read"] == expect_read
    assert a["frame_bytes_total"] == sum(r["enc_bytes"] for r in by_group)

    # numeric range predicate on a doc_id-clustered layout
    root2 = str(tmp_path / "by_id")
    t2 = engine.EncodedTable(root2)
    enc2 = engine.encode_dataframe(
        docs.orderBy("doc_id"), cols, codec="auto", chunk_rows=64,
        table_name="documents",
    )
    t2.commit(spark, enc2, "documents", mode="df")
    out2 = str(tmp_path / "id_range")
    res2 = engine.decode_table_to_parquet(
        spark, root2, cols, ddl, out2, table="documents",
        predicate=("doc_id", "between", (100, 150)),
    )
    w2 = spark.read.parquet(out2).select(*cols)
    ref2 = docs.filter(F.col("doc_id").between(100, 150)).select(*cols)
    assert w2.exceptAll(ref2).isEmpty() and ref2.exceptAll(w2).isEmpty()
    a2 = res2["audit"]
    assert 0 < a2["groups_decoded"] < a2["groups_total"]

    # hostile layout (hash-scattered): zero pruning, still exact
    out3 = str(tmp_path / "en_hostile")
    root3 = str(tmp_path / "scattered")
    t3 = engine.EncodedTable(root3)
    enc3 = engine.encode_dataframe(
        docs.repartition(4, "doc_id"), cols, codec="auto", chunk_rows=64,
        table_name="documents",
    )
    t3.commit(spark, enc3, "documents", mode="df")
    res3 = engine.decode_table_to_parquet(
        spark, root3, cols, ddl, out3, table="documents",
        predicate=("lang", "==", "en"),
    )
    w3 = spark.read.parquet(out3).select(*cols)
    ref3 = docs.filter(F.col("lang") == "en").select(*cols)
    assert w3.exceptAll(ref3).isEmpty() and ref3.exceptAll(w3).isEmpty()

    # predicate column must be among the decoded columns
    with pytest.raises(ValueError, match="predicate column"):
        engine.decode_table_to_parquet(
            spark, root, ["doc_id", "text"], "doc_id long, text string",
            str(tmp_path / "bad"), table="documents",
            predicate=("lang", "==", "en"),
        )


def test_decode_to_parquet_auto_colocation(spark, tmp_path):
    """An encode-direct input takes the no-shuffle path: the decode job
    runs as ONE stage (an exchange would add a second)."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cols = ["o_orderkey", "o_totalprice"]
    ddl = "o_orderkey long, o_totalprice double"
    enc = engine.encode_dataframe(df, cols, codec="auto", chunk_rows=4096,
                                  table_name="orders").cache()
    enc.count()

    out = str(tmp_path / "auto_fast")
    sc = spark.sparkContext
    group = "decode-no-shuffle"
    sc.setJobGroup(group, "decode_to_parquet under test")
    try:
        res = engine.decode_to_parquet(enc, cols, ddl, out, verify_checksums=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    assert res["rows"] == df.count()

    def canon(d):
        return d.select("o_orderkey",
                        F.col("o_totalprice").cast("string").alias("p"))
    a = spark.read.parquet(out)
    src = canon(df)
    assert canon(a).exceptAll(src).isEmpty()
    assert src.exceptAll(canon(a)).isEmpty()
    enc.unpersist()


def _group_plans(monkeypatch) -> list[str]:
    """The executed plan of every ``core.group_tasks`` call from now on,
    as a list the caller reads after its decodes and commits."""
    from chimp_spark.engine import core, manifest, sink

    plans = []
    real = core.group_tasks

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        plans.append(_plan(out))
        return out

    for module in (core, manifest, sink):
        monkeypatch.setattr(module, "group_tasks", spy)
    return plans


def _key_exchanges(plan: str) -> int:
    """Hash exchanges on (run_id, part_id, chunk_id) in ``plan``."""
    import re

    return len(re.findall(r"Exchange hashpartitioning\(run_id#\d+, part_id#\d+, chunk_id#\d+L?,",
                          plan))


def test_decode_to_parquet_scrambled_cached_input(spark, tmp_path, monkeypatch):
    """A cached, non-colocated input decodes to parquet after one
    co-locating shuffle of its frames, and the shards hold every
    source row."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cols = ["o_orderkey", "o_totalprice"]
    enc = engine.encode_dataframe(df, cols, codec="auto", chunk_rows=4096,
                                  table_name="orders").cache()
    scrambled = enc.repartition(7).cache()
    scrambled.count()
    plans = _group_plans(monkeypatch)
    out = str(tmp_path / "scrambled")
    res = engine.decode_to_parquet(scrambled, cols, "o_orderkey long, o_totalprice double",
                                   out, verify_checksums=True)
    assert [_key_exchanges(p) for p in plans] == [1], plans
    assert res["rows"] == df.count()

    def canon(d):
        return d.select("o_orderkey", F.col("o_totalprice").cast("string").alias("p"))
    got = spark.read.parquet(out)
    assert canon(got).exceptAll(canon(df)).isEmpty()
    assert canon(df).exceptAll(canon(got)).isEmpty()
    scrambled.unpersist()
    enc.unpersist()


def test_decode_of_columns_from_separate_runs_raises(spark, tmp_path):
    """Columns encoded in separate runs never form one chunk group: both
    decode paths raise "lacks columns", naming the cause, and write
    nothing wrong."""
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cols, ddl = ["o_orderkey", "o_totalprice"], "o_orderkey long, o_totalprice double"
    runs = [engine.encode_dataframe(df, [c], chunk_rows=4096, table_name="orders")
            for c in cols]
    both = runs[0].unionByName(runs[1])
    match = r"lacks columns \['o_(orderkey|totalprice)'\].*not all encoded in one run"
    with pytest.raises(Exception, match=match):
        engine.decode_table(both, cols, ddl).collect()
    out = str(tmp_path / "bad")
    with pytest.raises(Exception, match=match):
        engine.decode_to_parquet(both, cols, ddl, out)
    assert not [f for f in os.listdir(out) if f.endswith(".parquet")]


def test_decode_column_predicate_is_exact(spark):
    """decode_column(predicate=...) returns exactly the matching source
    rows, with no filter on the caller's side."""
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    enc = engine.encode_dataframe(
        df.repartitionByRange(4, "l_extendedprice"), ["l_extendedprice", "l_returnflag"],
        chunk_rows=512, table_name="li",
    ).cache()
    for col, ddl, pred, want in [
        ("l_extendedprice", "double", ("between", (5_000.0, 10_000.0)),
         F.col("l_extendedprice").between(5_000.0, 10_000.0)),
        ("l_returnflag", "string", ("in", ["A", "R"]),
         F.col("l_returnflag").isin("A", "R")),
    ]:
        got = engine.decode_column(enc, col, ddl, predicate=(col, *pred)).select(
            F.col("value").alias("v"))
        ref = df.filter(want).select(F.col(col).alias("v"))
        assert 0 < got.count() == ref.count() < df.count()
        assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty()
    enc.unpersist()


def test_predicate_renderings_agree(spark, tmp_path):
    """The Spark Column and pyarrow Expression renderings of one
    Predicate keep the same chunk groups of a committed table, on a
    numeric and a string column, null string stats included."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from chimp_spark.engine.core import Predicate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "lang", F.when(F.col("doc_id") < 150, None).otherwise(F.col("lang")))
    cols = ["doc_id", "lang"]
    t = engine.EncodedTable(str(tmp_path / "t"))
    for order in (["doc_id"], ["lang", "doc_id"]):  # cluster each column once
        t.commit(spark, engine.encode_dataframe(
            docs.orderBy(*order), cols, chunk_rows=64, table_name="documents"),
            "documents", mode="df")
    meta = t.read(spark)
    stats = pa.concat_tables(pq.read_table(f) for f in t.data_files())
    key = ["run_id", "part_id", "chunk_id"]

    def spark_keys(df):
        return {tuple(r) for r in df.select(*key).collect()}

    def arrow_keys(tbl):
        return set(zip(*(tbl.column(k).to_pylist() for k in key)))

    null_lang = spark_keys(meta.filter((F.col("column") == "lang")
                                       & F.col("stat_min_bin").isNull()))
    assert null_lang
    cases = [("doc_id", 150), ("doc_id", [3, 400, 401]), ("doc_id", 120),
             ("doc_id", 300), ("doc_id", (100, 250)),
             ("lang", "en"), ("lang", ["de", "en"]), ("lang", "de"),
             ("lang", "fr"), ("lang", ("de", "es"))]
    for (col, payload), op in zip(cases, ["==", "in", "<=", ">=", "between"] * 2):
        pred = Predicate.of((col, op, payload), cols)
        on_col = meta.filter(F.col("column") == col)
        got_spark = spark_keys(on_col.filter(pred.zone_column(meta.columns)))
        got_arrow = arrow_keys(stats.filter(pc.field("column") == col)
                               .filter(pred.zone_expr()))
        assert got_spark == got_arrow, (col, op, payload)
        assert 0 < len(got_spark) < on_col.count(), (col, op, payload)
        if col == "lang":
            assert null_lang <= got_spark


def test_predicate_on_missing_column_raises(spark, tmp_path):
    """A predicate naming a column the table was never encoded with
    must RAISE, not silently export zero rows (the prune pass sees no
    stats frames for it — indistinguishable from prune-everything
    without the explicit check)."""
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    root = str(tmp_path / "enc")
    t = engine.EncodedTable(root)
    enc = engine.encode_dataframe(df, ["doc_id", "text"], codec="auto",
                                  chunk_rows=256, table_name="documents")
    t.commit(spark, enc, "documents", mode="df")
    with pytest.raises(Exception, match="no frames for"):
        engine.decode_table_to_parquet(
            spark, root, ["doc_id", "text", "lang"],
            "doc_id long, text string, lang string",
            str(tmp_path / "out"), table="documents",
            predicate=("lang", "==", "en"),
        )


def test_decode_to_parquet_predicate_row_filter(spark, tmp_path):
    """The DF-input sink's predicate must equal filter-after-decode
    exactly (no zone pruning there by design — in-flight frames are
    already materialized; the committed-table path owns IO pruning)."""
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cols = ["doc_id", "lang", "text"]
    ddl = "doc_id long, lang string, text string"
    enc = engine.encode_dataframe(df, cols, codec="auto", chunk_rows=256,
                                  table_name="documents").cache()
    out = str(tmp_path / "en_only")
    res = engine.decode_to_parquet(enc, cols, ddl, out,
                                   predicate=("lang", "==", "en"))
    got = spark.read.parquet(out).select(*cols)
    ref = df.filter(F.col("lang") == "en").select(*cols)
    assert got.exceptAll(ref).isEmpty() and ref.exceptAll(got).isEmpty()
    assert res["rows"] == ref.count()
    with pytest.raises(ValueError, match="predicate column"):
        engine.decode_to_parquet(enc, ["doc_id"], "doc_id long",
                                 str(tmp_path / "bad"),
                                 predicate=("lang", "==", "en"))
    enc.unpersist()


def test_df_resume_refuses_changed_layout(spark, tmp_path):
    """df-mode resume must refuse when the input layout's partition
    count changed between runs — partition ids would no longer
    identify the same rows, and the old behavior silently dropped
    never-encoded data (review finding)."""
    df = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    root = str(tmp_path / "enc")
    engine.encode_and_commit(spark, df.repartition(4, "n_nationkey"), root,
                             "nation", chunk_rows=1024)
    with pytest.raises(ValueError, match="df resume refused"):
        engine.encode_and_commit(spark, df.repartition(8, "n_nationkey"),
                                 root, "nation", chunk_rows=1024)
    # same layout: clean resumed no-op
    stats = engine.encode_and_commit(spark, df.repartition(4, "n_nationkey"),
                                     root, "nation", chunk_rows=1024)
    assert stats["partitions"] == 0 and stats.get("resumed")


def test_shard_writer_flushes_on_bytes(tmp_path):
    """The sink's shard writer must flush on buffered BYTES, not only
    rows — wide text at the default 2^20-row threshold would hold tens
    of GB per task before the first write."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chimp_spark.engine import sink as S

    schema = pa.schema([("t", pa.string())])
    w = S._ShardWriter(str(tmp_path), 0, schema, "snappy",
                       row_group_rows=1 << 20)
    w.MAX_BUFFER_BYTES = 1 << 20  # 1 MB for the test
    big = pa.RecordBatch.from_arrays([pa.array(["x" * 1000] * 600)], ["t"])
    for _ in range(5):  # ~3 MB total
        w.add(big)
    path, rows, _size = w.close()
    assert rows == 3000
    assert pq.ParquetFile(path).metadata.num_row_groups >= 2


def test_df_resume_refuses_pre_layout_parts_entries(spark, tmp_path):
    """A df-mode commit made without layout_parts carries no layout
    identity; resuming against it must refuse loudly instead of
    silently skipping the membership check (ADVICE r5, medium)."""
    import pytest

    from chimp_spark import engine

    root = str(tmp_path / "enc_pre_layout")
    df = spark.range(1000).withColumn("v", F.col("id") * 2).repartition(4, "id")
    enc = engine.encode_dataframe(df, ["id", "v"], table_name="t")
    engine.EncodedTable(root).commit(spark, enc, "t", mode="df")  # no layout_parts

    with pytest.raises(ValueError, match="carry no layout_parts"):
        engine.encode_and_commit(spark, df, root, "t")


def test_shard_writer_avg_len_reads_sliced_offsets(tmp_path):
    """A sliced batch shares its parent's data buffer: short strings cut
    from a batch of long ones must still count as short and keep the
    parquet dictionary."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chimp_spark.engine import sink as S

    parent = pa.array(["x" * 1000] * 1000 + ["ab", "cd"] * 500)
    rb = pa.RecordBatch.from_arrays([parent], ["t"]).slice(1000)
    schema = pa.schema([("t", pa.string())])
    w = S._ShardWriter(str(tmp_path), 0, schema, "snappy", row_group_rows=1 << 20)
    w.add(rb)
    assert w._avg_len(0) == 2.0
    path, rows, _size = w.close()
    assert rows == 1000
    assert pq.ParquetFile(path).metadata.row_group(0).column(0).has_dictionary_page


def test_commit_runs_one_spark_job(spark, tmp_path):
    """commit() writes the frame files and gathers its totals in ONE
    Spark job, whether it writes inside the encode tasks (the direct
    encode output) or over a persisted encode, and the reported totals
    equal the committed rows'."""
    import json as _json

    src = str(tmp_path / "src")
    spark.read.parquet(f"{SF_DIR}/orders.parquet").repartition(4).write.parquet(src)
    sc = spark.sparkContext
    for name in ("direct", "persisted"):
        enc = engine.encode_parquet(spark, src, columns=["o_orderkey", "o_totalprice"],
                                    table_name="orders")
        if name == "persisted":
            enc = enc.persist()
        t = engine.EncodedTable(str(tmp_path / f"enc_{name}"))
        group = f"commit-one-job-{name}"
        sc.setJobGroup(group, "commit under test")
        try:
            info = t.commit(spark, enc, "orders", mode="scan")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, name
        enc.unpersist()

        back = t.read(spark).agg(
            F.countDistinct("part_id").alias("partitions"), F.count("*").alias("chunks"),
            F.sum("n").alias("rows"), F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        ).collect()[0].asDict()
        assert info["partitions"] == back.pop("partitions") == 4
        assert info["summary"] == back
        record_path = t.log.path(info["version"])
        assert _json.load(open(record_path))["summary"] == back
        assert t.completed_part_ids("orders", mode="scan") == {0, 1, 2, 3}


def _frame_digests(t) -> dict:
    """codec and sha256 of every committed frame, by (part_id,
    chunk_id, column)."""
    import hashlib

    import pyarrow.dataset as pads

    cols = ["part_id", "chunk_id", "column", "codec", "frame"]
    m = pads.dataset(t.data_files(), format="parquet").to_table(columns=cols)
    return {(p, c, col): (codec, hashlib.sha256(f).hexdigest())
            for p, c, col, codec, f in zip(*(m.column(k).to_pylist() for k in cols))}


def test_commit_fused_and_chained_agree(spark, tmp_path):
    """One encode committed twice: as encode_parquet returned it (the
    writer runs inside the encode tasks) and after .persist() (the
    writer reads the cached frames). Both commits hold the same frames,
    part ids and totals; so does a filtered view committed while the
    session hands mapInArrow large string/binary Arrow types."""
    import json as _json

    from chimp_spark.engine.core import FRAME_SOURCE

    src = str(tmp_path / "src")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(3).write.parquet(src)
    enc = engine.encode_parquet(spark, src, table_name="lineitem", chunk_rows=4096)
    assert FRAME_SOURCE in vars(enc)
    fused = engine.EncodedTable(str(tmp_path / "fused"))
    chained = engine.EncodedTable(str(tmp_path / "chained"))
    info_f = fused.commit(spark, enc, "lineitem", mode="scan")
    info_c = chained.commit(spark, enc.persist(), "lineitem", mode="scan")
    enc.unpersist()
    digests = _frame_digests(fused)
    assert len(digests) == info_f["summary"]["chunks"] > 0
    assert digests == _frame_digests(chained)
    large = engine.EncodedTable(str(tmp_path / "large"))
    spark.conf.set("spark.sql.execution.arrow.useLargeVarTypes", "true")
    try:
        info_l = large.commit(spark, enc.filter(F.lit(True)), "lineitem", mode="scan")
    finally:
        spark.conf.unset("spark.sql.execution.arrow.useLargeVarTypes")
    assert _frame_digests(large) == digests
    assert info_l["summary"] == info_f["summary"]
    rec_f, rec_c = (_json.load(open(t.log.path(1)))
                    for t in (fused, chained))
    assert rec_f["part_ids"] == rec_c["part_ids"] == [0, 1, 2]
    assert rec_f["summary"] == rec_c["summary"] == info_f["summary"] == info_c["summary"]


def test_commit_ignores_unreported_files(spark, tmp_path, monkeypatch):
    """A parquet file in the commit's data directory that no task
    reported (a failed attempt's, say) is never named by the record,
    so reads never see it, and the commit deletes it."""
    import types
    import uuid

    import pyarrow.parquet as pq

    from chimp_spark.engine import manifest

    fixed = uuid.UUID(int=0xABCDEF)
    monkeypatch.setattr(manifest, "uuid", types.SimpleNamespace(uuid4=lambda: fixed))
    t = engine.EncodedTable(str(tmp_path / "enc"))
    enc = engine.encode_dataframe(spark.read.parquet(f"{SF_DIR}/orders.parquet"),
                                  ["o_orderkey"], chunk_rows=4096, table_name="orders")
    want = enc.collect()
    run_dir = os.path.join(t.data_dir, fixed.hex[:12])
    os.makedirs(run_dir)
    stray = os.path.join(run_dir, "part-00000-deadbeef.parquet")
    pq.write_table(spark.createDataFrame(want, engine.ENC_DDL).toArrow(), stray)
    info = t.commit(spark, enc, "orders", mode="df")
    files = t.data_files()
    assert stray not in files and len(files) == info["files"] > 0
    assert not os.path.exists(stray)
    assert sorted(os.listdir(run_dir)) == sorted(os.path.basename(f) for f in files)
    assert all(os.path.dirname(f) == run_dir for f in files)
    assert t.read(spark).count() == len(want) == info["summary"]["chunks"]


def test_root_mixing_spark_and_task_written_commits(spark, tmp_path):
    """A root whose first commit's data files came from Spark's parquet
    writer (how commits were written before tasks wrote their own) and
    whose second commit is task-written reads back whole: through read
    + decode_table, and through decode_table_to_parquet with a
    predicate."""
    import json as _json
    import time as _time

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cols = ["doc_id", "lang", "text"]
    ddl = "doc_id long, lang string, text string"
    halves = [docs.filter(F.col("doc_id") % 2 == k).orderBy("lang", "doc_id")
              for k in (0, 1)]
    t = engine.EncodedTable(str(tmp_path / "mixed"))

    old = engine.encode_dataframe(halves[0], cols, chunk_rows=64, table_name="documents")
    old = old.persist()
    run_id = "0ld5par4wr1t"
    old.write.parquet(os.path.join(t.data_dir, run_id))
    totals = old.agg(F.count("*").alias("chunks"), F.sum("n").alias("rows"),
                     F.sum("raw_bytes").alias("raw_bytes"),
                     F.sum("enc_bytes").alias("enc_bytes")).collect()[0].asDict()
    t.log.append({
        "table": "documents", "mode": "df", "epoch": None, "fingerprint": None,
        "layout_parts": None, "run_id": run_id,
        "timestamp_ms": int(_time.time() * 1000),
        "part_ids": sorted(r[0] for r in old.select("part_id").distinct().collect()),
        "files": sorted(f"{run_id}/{n}" for n in os.listdir(os.path.join(t.data_dir, run_id))
                        if n.startswith("part-") and n.endswith(".parquet")),
        "summary": totals,
    })
    old.unpersist()
    new = engine.encode_dataframe(halves[1], cols, chunk_rows=64, table_name="documents")
    t.commit(spark, new, "documents", mode="df")
    assert t.log.current_version() == 2
    assert _json.load(open(t.log.path(1)))["files"][0].endswith(".snappy.parquet")

    def canon(d):
        return d.select(*cols)

    back = engine.decode_table(t.read(spark), cols, ddl, verify_checksums=True)
    assert canon(back).exceptAll(docs.select(*cols)).isEmpty()
    assert docs.select(*cols).exceptAll(canon(back)).isEmpty()
    shuffled = engine.decode_table(t.read(spark).select("*"), cols, ddl, verify_checksums=True)
    assert back.exceptAll(shuffled).isEmpty() and shuffled.exceptAll(back).isEmpty()

    out = str(tmp_path / "only_en")
    res = engine.decode_table_to_parquet(spark, t.root, cols, ddl, out, table="documents",
                                         verify_checksums=True,
                                         predicate=("lang", "==", "en"))
    want = docs.filter(F.col("lang") == "en").select(*cols)
    written = spark.read.parquet(out).select(*cols)
    assert written.exceptAll(want).isEmpty() and want.exceptAll(written).isEmpty()
    assert res["rows"] == want.count() > 0
    assert 0 < res["audit"]["groups_decoded"] < res["audit"]["groups_total"]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _as_strings(dec, cols):
    """Decoded rows with every value as a string: Spark compares
    floats normalized (-0.0 == 0.0), their string casts bit for bit."""
    return dec.select("part_id", "row_id", *(F.col(c).cast("string") for c in cols))


def test_commit_colocates_split_chunk_groups(spark, tmp_path):
    """A chained commit of frames whose chunk groups are spread over
    partitions (a repartitioned encode output) still writes each group
    into one file: the files hold the frames a fused commit writes, and
    both decodes of the committed table return every row."""
    import pyarrow.parquet as pq

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    src = str(tmp_path / "src")
    df.repartition(3).write.parquet(src)
    cols = ["l_orderkey", "l_extendedprice", "l_returnflag"]
    ddl = "l_orderkey long, l_extendedprice double, l_returnflag string"
    enc = engine.encode_parquet(spark, src, columns=cols, chunk_rows=512, table_name="lineitem")
    fused = engine.EncodedTable(str(tmp_path / "fused"))
    fused.commit(spark, enc, "lineitem", mode="scan")
    split = engine.EncodedTable(str(tmp_path / "split"))
    split.commit(spark, enc.repartition(5), "lineitem", mode="scan")
    assert _frame_digests(split) == _frame_digests(fused)
    owner = {}
    for f in split.data_files():
        keys = pq.read_table(f, columns=["run_id", "part_id", "chunk_id"])
        for key in zip(*(keys.column(k).to_pylist() for k in keys.column_names)):
            assert owner.setdefault(key, f) == f, f"group {key} spans files"
    assert len(owner) > 5

    want = df.select(*(F.col(c).cast("string") for c in cols))
    back = _as_strings(engine.decode_table(split.read(spark), cols, ddl,
                                           verify_checksums=True), cols).drop("part_id", "row_id")
    assert back.exceptAll(want).isEmpty() and want.exceptAll(back).isEmpty()
    res = engine.decode_table_to_parquet(spark, split.root, cols, ddl, str(tmp_path / "out"),
                                         verify_checksums=True)
    assert res["rows"] == df.count()


def test_decode_table_fuses_over_frame_sources(spark, tmp_path):
    """decode_table of read() on a multi-table, multi-commit root, or of
    an uncached encode output, decodes in the tasks that produce the
    frames (no Exchange, no frame FileScan) and returns the rows the
    shuffled decode of the same frames returns. A cached read() or a
    filtered frame DataFrame takes the shuffle; an empty table decodes
    to no rows either way."""
    li_cols = ["l_orderkey", "l_extendedprice", "l_returnflag", "l_shipdate"]
    li_ddl = ("l_orderkey long, l_extendedprice double, l_returnflag string, "
              "l_shipdate timestamp")
    doc_cols = ["doc_id", "lang", "text"]
    doc_ddl = "doc_id long, lang string, text string"
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    t = engine.EncodedTable(str(tmp_path / "root"))
    for k in (0, 1):  # interleaved commits of two tables
        for name, src, key, cols in (("lineitem", li, "l_orderkey", li_cols),
                                     ("documents", docs, "doc_id", doc_cols)):
            part = src.filter(F.col(key) % 2 == k)
            t.commit(spark, engine.encode_dataframe(part, cols, chunk_rows=1024,
                                                    table_name=name), name, mode="df")
    for src, cols, ddl in ((li, li_cols, li_ddl), (docs, doc_cols, doc_ddl)):
        fused = engine.decode_table(t.read(spark), cols, ddl, verify_checksums=True)
        plan = _plan(fused)
        assert "Exchange" not in plan and "FileScan" not in plan, plan
        shuffled = engine.decode_table(t.read(spark).select("*"), cols, ddl,
                                       verify_checksums=True)
        assert "Exchange" in _plan(shuffled)
        a, b = _as_strings(fused, cols), _as_strings(shuffled, cols)
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
        assert a.count() == src.count()

    cached = t.read(spark).persist()
    filtered = t.read(spark).filter(F.col("table") == "lineitem")
    for enc in (cached, filtered):
        assert "Exchange" in _plan(engine.decode_table(enc, li_cols, li_ddl))
    cached.unpersist()
    src_dir = str(tmp_path / "src")
    li.repartition(2).write.parquet(src_dir)
    direct = engine.encode_parquet(spark, src_dir, columns=li_cols, table_name="lineitem")
    assert "Exchange" not in _plan(engine.decode_table(direct, li_cols, li_ddl))
    empty = engine.EncodedTable(str(tmp_path / "empty")).read(spark)
    for enc in (empty, empty.select("*")):
        assert engine.decode_table(enc, li_cols, li_ddl, verify_checksums=True).count() == 0


def _special_doubles(n: int) -> np.ndarray:
    """n doubles that include NaNs with distinct payloads, both signs
    of zero and infinities among ordinary values."""
    bits = np.random.default_rng(5).normal(0, 1e3, n).view(np.uint64)
    bits[::7] = 0x7FF8000000000000 | np.arange(len(bits[::7]), dtype=np.uint64)  # NaN payloads
    bits[1::11] = 0xFFF0000000000001  # a negative signalling NaN
    bits[2::13] = 0x8000000000000000  # -0.0
    bits[3::17] = 0x7FF0000000000000  # inf
    return bits.view(np.float64)


def _sorted_arrow(dec):
    return dec.toArrow().sort_by([("part_id", "ascending"), ("row_id", "ascending")])


def test_decode_table_in_place_over_persisted_encode(spark, tmp_path):
    """decode_table of a persisted encode output decodes its partitions
    in place: no Exchange and no Sort in the executed plan. Its rows
    are bit-identical (NaN payloads, -0.0) to the shuffled decode of
    the same frames (select("*")) and to the input; a repartition of
    the persisted output still shuffles."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 3 * 5000
    src = tmp_path / "src"
    src.mkdir()
    v = _special_doubles(n)
    for i in range(3):  # three files: three scan units, several chunks each
        sl = slice(i * 5000, (i + 1) * 5000)
        pq.write_table(pa.table({
            "k": pa.array(np.arange(n)[sl], pa.int64()),
            "v": pa.array(v[sl]),
            "s": pa.array([f"s{j % 13}" for j in range(sl.start, sl.stop)]),
        }), str(src / f"part-{i}.parquet"))
    cols, ddl = ["k", "v", "s"], "k long, v double, s string"
    enc = engine.encode_parquet(spark, str(src), table_name="t", chunk_rows=1024).persist()
    try:
        enc.count()
        in_place = engine.decode_table(enc, cols, ddl, verify_checksums=True)
        plan = _plan(in_place)
        assert "Exchange" not in plan and "Sort" not in plan, plan
        shuffled = engine.decode_table(enc.select("*"), cols, ddl, verify_checksums=True)
        assert "Exchange" in _plan(shuffled)
        assert "Exchange" in _plan(engine.decode_table(enc.repartition(3), cols, ddl))
        got, want = _sorted_arrow(in_place), _sorted_arrow(shuffled)
        assert got.num_rows == n
        for c in ("part_id", "row_id", "k", "s"):
            assert got.column(c).equals(want.column(c)), c
        got_bits = got.column("v").to_numpy().view(np.uint64)
        assert np.array_equal(got_bits, want.column("v").to_numpy().view(np.uint64))
        order = np.argsort(got.column("k").to_numpy())
        assert np.array_equal(got_bits[order], v.view(np.uint64))
    finally:
        enc.unpersist()


@pytest.fixture(scope="module")
def special_source(spark, tmp_path_factory):
    """Three parquet files of ``k`` (the row's index), ``v`` (special
    doubles) and ``s``, and a root holding one commit of their encode."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("shapes")
    src = d / "src"
    src.mkdir()
    v = _special_doubles(3 * 5000)
    for i in range(3):
        k = np.arange(i * 5000, (i + 1) * 5000)
        pq.write_table(pa.table({"k": pa.array(k, pa.int64()), "v": pa.array(v[k]),
                                 "s": pa.array([f"s{j % 13}" for j in k])}),
                       str(src / f"part-{i}.parquet"))
    root = engine.EncodedTable(str(d / "root"))
    root.commit(spark, engine.encode_parquet(spark, str(src), table_name="t", chunk_rows=1024),
                "t", mode="scan")
    return str(src), v, root


# input shape -> hash exchanges on the group key its consumer plans
_SHAPES = {"direct": 0, "persisted": 0, "select_star": 1, "repartition_7": 1,
           "read": 0, "cached_read": 1, "by_column": 1}


@pytest.mark.parametrize("consumer", ["decode_table", "decode_to_parquet", "commit_read"])
@pytest.mark.parametrize("shape", list(_SHAPES))
def test_group_tasks_over_input_shapes(spark, special_source, monkeypatch, tmp_path,
                                       shape, consumer):
    """Every decode and commit of every frame-DataFrame shape returns the
    source rows bit for bit (NaN payloads, -0.0; checksums verified),
    and plans a hash exchange on (run_id, part_id, chunk_id) exactly
    when the input is neither an encode's own output nor an uncached
    read()."""
    import pyarrow.parquet as pq

    src, v, root = special_source
    cols, ddl = ["k", "v", "s"], "k long, v double, s string"
    if shape.endswith("read"):
        df = root.read(spark)
    else:
        df = engine.encode_parquet(spark, src, table_name="t", chunk_rows=1024)
    if shape in ("persisted", "cached_read"):
        df = df.persist()
    elif shape == "select_star":
        df = df.select("*")
    elif shape == "repartition_7":
        df = df.repartition(7)
    elif shape == "by_column":  # each partition holds whole columns, so every
        # task of the group-key exchange reads the frames of a group apart
        df = df.repartition(3, "column").persist()

    plans = _group_plans(monkeypatch)
    try:
        if consumer == "decode_table":
            got = engine.decode_table(df, cols, ddl, verify_checksums=True).toArrow()
        elif consumer == "decode_to_parquet":
            out = str(tmp_path / "out")
            engine.decode_to_parquet(df, cols, ddl, out, verify_checksums=True)
            got = pq.read_table(out)
        else:
            t = engine.EncodedTable(str(tmp_path / "again"))
            t.commit(spark, df, "t", mode="scan")
            got = engine.decode_table(t.read(spark), cols, ddl, verify_checksums=True).toArrow()
    finally:
        df.unpersist()
    want = [_SHAPES[shape]] + [0] * (consumer == "commit_read")  # commit, then decode of read()
    assert [_key_exchanges(p) for p in plans] == want, plans
    got = got.sort_by("k")
    n = len(v)
    assert np.array_equal(got.column("k").to_numpy(), np.arange(n))
    assert np.array_equal(got.column("v").to_numpy().view(np.uint64), v.view(np.uint64))
    assert got.column("s").to_pylist() == [f"s{j % 13}" for j in range(n)]
    # one scan unit per file: (part_id, row_id) is the row's place in its file
    assert np.array_equal(got.column("part_id").to_numpy(), np.arange(n) // 5000)
    assert np.array_equal(got.column("row_id").to_numpy(), np.arange(n) % 5000)


def _ddls_in_sources() -> dict[str, str]:
    """Every string literal shaped like a ``"name type, ..."`` DDL of
    simple types in tests/, jobs/ and the benchmark workloads."""
    import ast
    import glob
    import re

    field = r"[A-Za-z_]\w*\s+[a-z]+(?:<[a-z]+>)?"
    shape = re.compile(rf"^\s*{field}(?:\s*,\s*{field})*\s*$")
    types = {"long", "int", "double", "float", "string", "timestamp", "binary",
             "boolean", "short", "byte", "date", "array"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = [*glob.glob(f"{root}/tests/*.py"), *glob.glob(f"{root}/jobs/*.py"),
             f"{root}/benchmark/workloads.py"]
    found = {}
    for f in sorted(files):
        with open(f) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            s = getattr(node, "value", None)
            if (isinstance(node, ast.Constant) and isinstance(s, str) and shape.match(s)
                    and {p.split()[1].split("<")[0] for p in s.split(",")} <= types):
                found.setdefault(s, os.path.relpath(f, root))
    return found


def test_ddl_arrow_types_one_parse(spark, monkeypatch, tmp_path):
    """ddl_arrow_types gives the per-field parse's Arrow types for every
    DDL in the sources, from one JVM parse; building a decode_table plan
    parses its DDL at most once. The parse is per call: ``timestamp``
    follows the session's spark.sql.timestampType."""
    import pyarrow as pa
    import pyspark.sql.types as T
    from pyspark.core.context import SparkContext
    from pyspark.sql.pandas.types import to_arrow_type

    from chimp_spark.engine.core import ddl_arrow_types

    ddls = _ddls_in_sources()
    assert {"sensor_id int, ts timestamp, temp_c double, pressure double, accel_x double, "
            "accel_y double, accel_z double, gyro_x double, gyro_y double, gyro_z double",
            "doc_id long, text string, split string"} <= set(ddls)
    for ddl, where in ddls.items():
        per_field = {f.split()[0]: to_arrow_type(T._parse_datatype_string(f.split(None, 1)[1]))
                     for f in ddl.split(",")}
        assert ddl_arrow_types(ddl) == per_field, (where, ddl)

    calls = {"parse": 0, "jvm": 0}
    parse, jvm_parse = T._parse_datatype_string, SparkContext._parse_ddl

    def counted(key, fn):
        def wrapper(*a, **k):
            calls[key] += 1
            return fn(*a, **k)
        return wrapper

    monkeypatch.setattr(T, "_parse_datatype_string", counted("parse", parse))
    monkeypatch.setattr(SparkContext, "_parse_ddl", counted("jvm", jvm_parse))
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = ["l_orderkey", "l_extendedprice", "l_returnflag", "l_shipdate"]
    ddl = "l_orderkey long, l_extendedprice double, l_returnflag string, l_shipdate timestamp"
    enc = engine.encode_dataframe(df, cols, chunk_rows=4096, table_name="lineitem")
    t = engine.EncodedTable(str(tmp_path / "root"))
    t.commit(spark, enc, "lineitem", mode="df")
    persisted = enc.persist()
    try:
        for frames in (enc, persisted, persisted.select("*"), t.read(spark)):
            calls.update(parse=0, jvm=0)
            engine.decode_table(frames, cols, ddl)
            assert calls["parse"] <= 1 and calls["jvm"] <= 1, calls
    finally:
        persisted.unpersist()
    assert ddl_arrow_types("ts timestamp")["ts"] == pa.timestamp("us", tz="UTC")
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try:
        assert ddl_arrow_types("ts timestamp")["ts"] == pa.timestamp("us")
    finally:
        spark.conf.unset("spark.sql.timestampType")


def test_shuffle_plan_round_trips(spark, monkeypatch):
    """Building the shuffled decode plan costs a fixed number of py4j
    round trips, whatever the number of decoded columns: the column
    filter is one SQL expression and the group key resolves on the
    DataFrame. The bound is the count at which it was pinned."""
    gateway = type(spark.sparkContext._gateway._gateway_client)
    calls = [0]
    send = gateway.send_command

    def counted(self, *args, **kwargs):
        calls[0] += 1
        return send(self, *args, **kwargs)

    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = ["l_orderkey", "l_extendedprice", "l_returnflag", "l_shipdate"]
    ddl = "l_orderkey long, l_extendedprice double, l_returnflag string, l_shipdate timestamp"
    enc = engine.encode_dataframe(df, cols, chunk_rows=4096, table_name="lineitem")
    star = enc.select("*")
    monkeypatch.setattr(gateway, "send_command", counted)
    counts = {}
    for n in (1, 4, 1, 4):  # the first calls pay one-time lookups
        calls[0] = 0
        dec = engine.decode_table(star, cols[:n], ", ".join(ddl.split(", ")[:n]))
        counts[n] = calls[0]
    monkeypatch.undo()
    counts = list(counts.values())
    assert counts[0] == counts[1] <= 95, counts
    assert "Exchange hashpartitioning" in _plan(dec)


def test_frame_column_filter_keeps_any_name(spark):
    """The frame-column filter keeps exactly the named columns' rows for
    names that SQL quoting would mangle, under either string-literal
    parser mode."""
    from chimp_spark.engine.core import frame_column_filter

    names = ["it's", "a\\b", "ü", "`x`", 'q"', "x') OR true --"]
    rows = spark.createDataFrame([(n,) for n in [*names, "other"]], "column string")
    for escaped in ("false", "true"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
        try:
            for n in names:
                assert [r[0] for r in rows.filter(frame_column_filter([n])).collect()] == [n]
            got = rows.filter(frame_column_filter(names[:3])).collect()
            assert sorted(r[0] for r in got) == sorted(names[:3])
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_read_source_plans_files_of_decoded_columns(spark, tmp_path):
    """Commit records list the columns their files hold. decode_table
    over read() plans only the files of the records that hold one of
    the decoded columns; a record without the list keeps its files."""
    import json as _json

    from chimp_spark.engine.core import FRAME_SOURCE

    t = engine.EncodedTable(str(tmp_path / "root"))
    for name, cols in (("orders", ["o_orderkey", "o_totalprice"]),
                       ("customer", ["c_custkey"])):
        df = spark.read.parquet(f"{SF_DIR}/{name}.parquet").repartition(2)
        t.commit(spark, engine.encode_dataframe(df, cols, chunk_rows=1024, table_name=name),
                 name, mode="df")
    rec = [_json.load(open(t.log.path(v))) for v in t.log.versions()]
    assert [r["columns"] for r in rec] == [["o_orderkey", "o_totalprice"], ["c_custkey"]]
    n_orders, n_customer = (len(r["files"]) for r in rec)

    def planned(cols):
        return vars(t.read(spark))[FRAME_SOURCE].narrow(cols).plan.count()

    assert planned(["o_totalprice"]) == n_orders
    assert planned(["c_custkey", "o_orderkey"]) == n_orders + n_customer
    assert planned(["nope"]) == 0
    assert engine.decode_table(t.read(spark), ["nope"], "nope long").count() == 0
    dec = engine.decode_table(t.read(spark), ["c_custkey"], "c_custkey long")
    assert dec.count() == spark.read.parquet(f"{SF_DIR}/customer.parquet").count()
    del rec[1]["columns"]  # a record written before the list existed
    with open(t.log.path(2), "w") as f:
        _json.dump(rec[1], f)
    assert planned(["o_totalprice"]) == n_orders + n_customer
    assert engine.decode_table(t.read(spark), ["o_totalprice"], "o_totalprice double").count() \
        == spark.read.parquet(f"{SF_DIR}/orders.parquet").count()


def test_commit_empty_encoded_does_not_block(spark, tmp_path):
    import threading

    t = engine.EncodedTable(str(tmp_path / "enc"))
    empty = spark.createDataFrame([], engine.ENC_DDL)
    got = {}
    th = threading.Thread(target=lambda: got.update(t.commit(spark, empty, "t")), daemon=True)
    th.start()
    th.join(120)
    assert not th.is_alive(), "commit of an empty DataFrame blocked"
    assert got["partitions"] == 0
    assert got["summary"] == {"chunks": 0, "rows": 0, "raw_bytes": 0, "enc_bytes": 0}
    assert t.completed_part_ids("t") == set()


def test_concurrent_commits_both_land(spark, tmp_path):
    """Two writers committing to one root at the same time: each takes
    its own log number, and reads see both commits' chunks and part
    ids, across both commits' data directories."""
    import threading

    t = engine.EncodedTable(str(tmp_path / "enc"))
    frames = {
        name: engine.encode_dataframe(
            spark.read.parquet(f"{SF_DIR}/{name}.parquet").repartition(3),
            cols, chunk_rows=512, table_name=name).cache()
        for name, cols in (("customer", ["c_custkey"]), ("orders", ["o_orderkey"]))
    }
    want = {name: enc.count() for name, enc in frames.items()}
    start = threading.Barrier(len(frames))
    got, errors = {}, []

    def run(name):
        try:
            start.wait()
            got[name] = t.commit(spark, frames[name], name, mode="df")
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(n,)) for n in frames]
    for th in threads:
        th.start()
    for th in threads:
        th.join(300)
    assert not errors, errors
    assert sorted(info["version"] for info in got.values()) == [1, 2]
    assert t.log.current_version() == 2
    assert len(t.data_files()) == sum(info["files"] for info in got.values())
    back = {r["table"]: r["count"] for r in t.read(spark).groupBy("table").count().collect()}
    assert back == want
    for name in frames:
        assert t.completed_part_ids(name, mode="df") == {0, 1, 2}
        frames[name].unpersist()


def test_old_metadata_layout_is_refused(spark, tmp_path):
    """A root written in the old metadata/ layout (version hint,
    snapshot metadata, JSONL manifests) is refused on every read and
    on commit, never read as empty."""
    root = tmp_path / "old"
    (root / "metadata").mkdir(parents=True)
    (root / "metadata" / "version-hint.text").write_text("1")
    t = engine.EncodedTable(str(root))
    for call in (t.log.current_version, t.data_files, lambda: t.read(spark),
                 lambda: t.completed_part_ids("t"), lambda: t.committed_epochs("t"),
                 lambda: t.commit(spark, spark.createDataFrame([], engine.ENC_DDL), "t")):
        with pytest.raises(ValueError, match="old metadata/ layout"):
            call()
    assert not (root / "_log").exists() and not (root / "data").exists()


def test_range_slices_like_parallelize(spark):
    """Work-unit plans rely on spark.range slicing [0, N) exactly like
    parallelize: same unit sets per task, in order."""
    sc = spark.sparkContext
    for n, slices in ((10, 4), (7, 3), (100, 8), (5, 5), (3, 8)):
        rows = spark.range(0, n, 1, slices).select(
            "id", F.spark_partition_id().alias("p")).collect()
        by_task = [[] for _ in range(slices)]
        for r in rows:
            by_task[r["p"]].append(r["id"])
        assert by_task == sc.parallelize(range(n), slices).glom().collect()


def test_scan_frames_independent_of_scheduling(spark, tmp_path):
    """Frame bytes depend only on the input: the same 8-file text input
    encoded twice at local[4] gives identical frames, and each unit's
    frame equals an in-process encode of its rows with a fresh cache."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from chimp_spark import framing

    rng = np.random.default_rng(17)
    src = tmp_path / "docs"
    src.mkdir()
    texts = []
    for k in range(8):
        vocab = [f"{w}{k}" for w in ("alpha", "beta", "gamma", "delta", "omega")] + [
            "".join(rng.choice(list("abcdefghij"), 6)) for _ in range(30)]
        docs = [" ".join(rng.choice(vocab, 12)) for _ in range(600)]
        texts.append(docs)
        pq.write_table(pa.table({"text": docs}), str(src / f"f{k}.parquet"))

    def frames():
        enc = engine.encode_parquet(spark, str(src), codec="fsst", table_name="docs")
        return {(r["part_id"], r["chunk_id"]): bytes(r["frame"])
                for r in enc.select("part_id", "chunk_id", "frame").collect()}

    first, second = frames(), frames()
    assert len(first) == 8
    assert first == second
    for k, docs in enumerate(texts):
        blob, _meta = framing.encode_chunk(pa.array(docs), codec="fsst", cache={})
        assert first[(k, 0)] == blob


def test_worker_keeps_unchanged_zip_directories(spark):
    """A worker that unpickled an engine closure runs chimp_spark's
    zipimporter.invalidate_caches, holds pyspark.zip sub-path importers,
    and re-reads no archive directory on importlib.invalidate_caches()
    (the call PySpark makes before every task). Counts, never times."""
    import json

    import pyarrow as pa

    from chimp_spark import _ship

    _ship.ensure(spark)

    def probe(batches):
        import importlib
        import sys
        import zipimport

        engine.session_conf  # the closure references the engine
        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        cached = [v for v in sys.path_importer_cache.values()
                  if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({"r": [json.dumps({
            "method": zipimport.zipimporter.invalidate_caches.__module__,
            "pyspark_subpaths": sum(1 for v in cached
                                    if v.archive.endswith("pyspark.zip") and v.prefix),
            "reads": len(reads),
        })]})

    for _ in range(2):  # the second pass runs on reused workers
        for row in spark.range(0, 4, 1, 4).mapInArrow(probe, "r string").collect():
            r = json.loads(row["r"])
            assert r["method"] == "chimp_spark._zipcache", r
            assert r["pyspark_subpaths"] >= 1, r
            assert r["reads"] == 0, r
