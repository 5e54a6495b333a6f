"""applyInPandasWithState WAL materialization: MVCC ts resolution, robustness
to out-of-order micro-batch arrival, and bounded-state stream pk dedup."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from milvus_spark.scratch import mkdtemp
from milvus_spark.streaming.stateful import (
    WAL_SCHEMA,
    materialize_wal,
    read_final_state,
)


@pytest.fixture()
def scratch():
    d = mkdtemp("stateful_t_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _wal_df(spark, rows):
    return spark.createDataFrame(
        [Row(pk=p, op=o, ts=t, payload=pl) for (p, o, t, pl) in rows],
        schema=WAL_SCHEMA,
    )


def _run(spark, scratch, batches):
    wal = os.path.join(scratch, "wal")
    for i, rows in enumerate(batches):
        _wal_df(spark, rows).write.parquet(os.path.join(wal, f"b{i}.parquet"))
    out = os.path.join(scratch, "out")
    materialize_wal(spark, wal + "/*", out, os.path.join(scratch, "ckpt"))
    return {
        r["pk"]: r["payload"] for r in read_final_state(spark, out).collect()
    }


def test_insert_upsert_delete_resolution(spark, scratch):
    final = _run(
        spark,
        scratch,
        [
            [(1, "insert", 1, "a"), (2, "insert", 1, "b"), (3, "insert", 1, "c")],
            [(2, "upsert", 2, "b2")],
            [(3, "delete", 3, None)],
        ],
    )
    assert final == {1: "a", 2: "b2"}


def test_out_of_order_batches_resolve_by_ts(spark, scratch):
    """A delete that arrives BEFORE the insert it shadows still wins: MVCC ts,
    not processing order, decides visibility (DeletedRecord.h:69 semantics)."""
    final = _run(
        spark,
        scratch,
        [
            [(7, "delete", 5, None), (8, "upsert", 5, "late")],
            [(7, "insert", 1, "stale"), (8, "insert", 1, "early")],
        ],
    )
    assert final == {8: "late"}


def test_stream_pk_dedup_bounded_state(spark, scratch):
    """dropDuplicatesWithinWatermark keeps one record per pk (insert-path
    auto-id uniqueness) with bounded state."""
    from milvus_spark.streaming.stateful import dedup_wal_stream

    wal = os.path.join(scratch, "wal")
    _wal_df(
        spark,
        [(1, "insert", 1, "x"), (1, "insert", 1, "x"), (2, "insert", 1, "y")],
    ).withColumn("event_time", F.timestamp_seconds(F.col("ts"))).write.parquet(
        os.path.join(wal, "b0.parquet")
    )
    src = (
        spark.readStream.schema(WAL_SCHEMA + ", event_time timestamp")
        .parquet(wal + "/*")
    )
    out = os.path.join(scratch, "out")
    q = (
        dedup_wal_stream(src, "event_time", "10 seconds")
        .writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["pk"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2]


def test_registered_query_matches_oracle_shape(spark):
    """Smoke the registered stream_upsert_state query at sf0.001."""
    from milvus_spark.suites.streaming_state import run_wal_pipeline

    df = run_wal_pipeline(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows, "stream produced no visible rows"
    assert {r["o_orderkey"] % 3 for r in rows} == {0}
    assert all(r["o_orderkey"] % 21 != 0 for r in rows)
