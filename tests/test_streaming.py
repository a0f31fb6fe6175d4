"""Structured Streaming ingest: micro-batch encode with exactly-once
manifest commits and incremental catch-up."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from chimp_spark import engine
from chimp_spark.streaming import encode_stream

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
EVENTS_DDL = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


@pytest.fixture(scope="module")
def spark():
    s = engine.get_spark(cpus=4, app="stream_tests", chunk_rows=2048)
    yield s
    s.stop()


def test_stream_encode_incremental(spark, tmp_path):
    src_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "enc_events")
    os.makedirs(src_dir)

    events = spark.read.parquet(f"{SF_DIR}/events.parquet").cache()
    first = events.filter(F.col("event_id") < 500)
    rest = events.filter(F.col("event_id") >= 500)
    first.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "p1"))
    for f in os.listdir(str(tmp_path / "p1")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "p1" / f), os.path.join(src_dir, "batch1.parquet"))

    stream = spark.readStream.schema(EVENTS_DDL).parquet(src_dir)
    encode_stream(spark, stream, root, "events", chunk_rows=256, checkpoint_dir=ckpt)

    t = engine.EncodedTable(root)
    enc = t.read(spark)
    dec = engine.decode_table(enc, ["event_id", "value"], "event_id long, value double")
    assert dec.count() == first.count()

    # drop a second file -> only the new epoch is ingested
    rest.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "p2"))
    for f in os.listdir(str(tmp_path / "p2")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "p2" / f), os.path.join(src_dir, "batch2.parquet"))
    stream = spark.readStream.schema(EVENTS_DDL).parquet(src_dir)
    encode_stream(spark, stream, root, "events", chunk_rows=256, checkpoint_dir=ckpt)

    enc = engine.EncodedTable(root).read(spark)
    dec = engine.decode_table(enc, ["event_id", "value"], "event_id long, value double")
    lhs = events.select("event_id", "value")
    rhs = dec.select("event_id", "value")
    assert lhs.exceptAll(rhs).isEmpty() and rhs.exceptAll(lhs).isEmpty()

    # epochs recorded; replaying the drained stream adds nothing
    epochs = engine.EncodedTable(root).committed_epochs("events")
    assert len(epochs) == 2
    v = engine.EncodedTable(root).log.current_version()
    stream = spark.readStream.schema(EVENTS_DDL).parquet(src_dir)
    encode_stream(spark, stream, root, "events", chunk_rows=256, checkpoint_dir=ckpt)
    assert engine.EncodedTable(root).log.current_version() == v
