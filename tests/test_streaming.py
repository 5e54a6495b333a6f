"""Streaming ingest: WAL drop-dir → micro-batch segments → MVCC reads, plus
watermarked windowed aggregation over the events stream."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from milvus_spark.scratch import mkdtemp
from milvus_spark.operators.lifecycle import Collection
from milvus_spark.streaming.ingest import run_available_now, stream_ingest, windowed_counts


@pytest.fixture()
def scratch():
    d = mkdtemp("stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_ingest_into_collection(spark, sf_dir, scratch):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    src = os.path.join(scratch, "wal")
    os.makedirs(src)
    # two WAL "messages" (files) land before the stream drains
    orders.filter("o_orderkey % 2 = 0").write.parquet(os.path.join(src, "f1.parquet"))
    orders.filter("o_orderkey % 2 = 1").write.parquet(os.path.join(src, "f2.parquet"))

    coll = Collection(spark, os.path.join(scratch, "coll"), pk="o_orderkey")
    schema = orders.schema.simpleString()[7:-1].replace(":", " ").replace(",", ", ")
    q = stream_ingest(
        spark, src + "/*", schema, coll,
        checkpoint=os.path.join(scratch, "ckpt"),
    )
    run_available_now(q)  # Strong-consistency barrier

    assert coll.count() == orders.count()
    # MVCC: _ts stamped per micro-batch, monotonically from 1
    ts_vals = sorted(r[0] for r in coll.read().select("_ts").distinct().collect())
    assert ts_vals[0] >= 1


def test_windowed_counts_batch_equiv(spark, sf_dir):
    """Watermark/window semantics validated on the events table (batch mode:
    same API, deterministic result)."""
    from milvus_spark.session import load_table

    e = load_table(spark, sf_dir, "events")
    win = (
        e.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = win.agg(F.sum("n")).collect()[0][0]
    assert total == e.count()


def test_watermark_drops_late_rows_append_mode(spark, scratch):
    """True streaming windowed agg: a row arriving after the watermark has
    passed its window is dropped (GuaranteeTs/late-data analog, SURVEY §2.6).
    Two micro-batches (maxFilesPerTrigger=1): batch 1 advances the watermark
    beyond window [0,60s); batch 2's late event for that window is ignored.
    Append mode emits only finalized windows."""
    import os

    from pyspark.sql import Row, functions as F

    src = os.path.join(scratch, "src")
    schema = "k string, ev timestamp"

    def write_batch(name, rows):
        spark.createDataFrame(
            [Row(k=k, ev=ev) for k, ev in rows], schema
        ).write.parquet(os.path.join(src, name))

    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    out = os.path.join(scratch, "out")

    def drain():
        # one availableNow run over the shared checkpoint = one ingest epoch;
        # two sequential drains make the batch order deterministic (a single
        # run's micro-batch order follows file mtimes, which can tie)
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        agg = (
            stream.withWatermark("ev", "30 seconds")
            .groupBy(F.window("ev", "1 minute"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda b, _i: b.write.mode("append").parquet(out))
            .option("checkpointLocation", os.path.join(scratch, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # epoch 1: window [0,60) gets 2 rows; a row at 10:00 pushes the
    # watermark (10:00 - 30s) far past 60s
    write_batch("b1.parquet", [("a", t(5)), ("a", t(20)), ("a", dt.datetime(2024, 1, 1, 10, 0, 0))])
    drain()
    # epoch 2: late row for the already-finalized [0,60) window
    write_batch("b2.parquet", [("a", t(30))])
    drain()
    rows = {
        (r["window"]["start"].second, r["n"])
        for r in spark.read.parquet(out).collect()
    }
    # [0,60) finalized with the 2 on-time rows; the late t(30) row is absent
    assert (0, 2) in rows
    assert (0, 3) not in rows
