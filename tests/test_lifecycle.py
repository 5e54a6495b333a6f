"""Collection lifecycle unit tests: snapshot/restore, bloom-filtered compaction,
MVCC edge cases (upsert-at-delete-ts visibility)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from milvus_spark.scratch import mkdtemp
from milvus_spark.operators.lifecycle import Collection


@pytest.fixture()
def coll(spark, sf_dir):
    d = mkdtemp("lc_")
    shutil.rmtree(d)
    c = Collection(spark, d, pk="o_orderkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c.append(orders, ts=1)
    yield c, orders
    shutil.rmtree(d, ignore_errors=True)


def test_snapshot_restore(coll):
    c, orders = coll
    n0 = c.count()
    c.snapshot("before")
    c.delete_pks(orders.filter("o_orderkey % 3 = 0"), ts=2)
    assert c.count() < n0
    c.restore("before")
    assert c.count() == n0
    with pytest.raises(ValueError):
        c.restore("nope")
    with pytest.raises(ValueError):
        c.snapshot("before")


def test_upsert_at_delete_ts_stays_visible(coll):
    c, orders = coll
    batch = orders.filter("o_orderkey = 7").withColumn("o_totalprice", F.lit(1.0))
    c.upsert(batch, ts=2)  # tombstone(7, 2) + insert(_ts=2)
    rows = c.read().filter("o_orderkey = 7").collect()
    assert len(rows) == 1 and rows[0].o_totalprice == 1.0
    # snapshot before the upsert still sees the original
    old = c.read(as_of=1).filter("o_orderkey = 7").collect()
    assert len(old) == 1 and old[0].o_totalprice != 1.0


def test_compaction_layout(coll):
    c, orders = coll
    c.delete_pks(orders.filter("o_orderkey % 5 = 0"), ts=2)
    want = c.count()
    c.compact(num_partitions=3)
    assert c.count() == want
    # tombstones folded away
    assert not os.path.isdir(c.tomb_dir)
    # sorted-by-pk within files: read one file, check monotonic pk
    files = [f for f in os.listdir(c.seg_dir) if f.endswith(".parquet")]
    assert files
    one = c.spark.read.parquet(os.path.join(c.seg_dir, files[0]))
    pks = [r.o_orderkey for r in one.select("o_orderkey").collect()]
    assert pks == sorted(pks)


def test_clustering_compaction_prunes_files(coll):
    c, orders = coll
    full = c.count()
    manifest = c.compact_clustering("o_custkey", num_partitions=6)
    assert manifest["key"] == "o_custkey"
    assert len(manifest["files"]) >= 2
    lo, hi = 100, 200
    pruned = c.read_pruned(lo, hi)
    expect = c.read().filter(F.col("o_custkey").between(lo, hi))
    assert pruned.count() == expect.count()
    assert c.count() == full
    # range layout → a narrow range overlaps a strict subset of files
    overlapping = [
        f for f, (fmin, fmax) in manifest["files"].items() if not (fmax < lo or fmin > hi)
    ]
    assert 0 < len(overlapping) < len(manifest["files"])


def test_partial_upsert_keeps_unspecified_columns(coll, spark):
    c, orders = coll
    before = {r.o_orderkey: r for r in c.read().filter("o_orderkey IN (1, 2, 3)").collect()}
    patch = spark.createDataFrame(
        [(1, 111.0), (2, 222.0)], "o_orderkey long, o_totalprice double"
    )
    c.upsert_partial(patch, ts=2)
    after = {r.o_orderkey: r for r in c.read().filter("o_orderkey IN (1, 2, 3)").collect()}
    assert after[1].o_totalprice == 111.0 and after[2].o_totalprice == 222.0
    # unspecified columns retained
    assert after[1].o_orderstatus == before[1].o_orderstatus
    assert after[1].o_custkey == before[1].o_custkey
    # untouched row unchanged, old snapshot still sees original price
    assert after[3].o_totalprice == before[3].o_totalprice
    old = c.read(as_of=1).filter("o_orderkey = 1").collect()[0]
    assert old.o_totalprice == before[1].o_totalprice


def test_read_pruned_applies_tombstones_and_detects_appends(coll, spark):
    """Regression: the pruned range read must (a) anti-join tombstones
    recorded after the clustering compaction (no resurrection), and
    (b) fall back to the full scan when files were appended after the
    manifest was written (no silent row loss)."""
    from pyspark.sql import functions as F

    coll, _orders = coll
    coll.compact_clustering("o_custkey", num_partitions=4)
    base = coll.read_pruned(0, 10**9).count()

    # delete after clustering: pruned read must hide the rows
    doomed = coll.read().limit(50).select("o_orderkey")
    coll.delete_pks(doomed, ts=99)
    assert coll.read_pruned(0, 10**9).count() == base - 50

    # append after clustering: pruned read must include the new rows
    extra = coll.read().limit(3).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10**9).cast("long")
    ).drop("_ts")
    coll.append(extra, ts=100)
    assert coll.read_pruned(0, 2 * 10**9).count() == base - 50 + 3


def test_compact_preserves_partition_key_layout(spark, sf_dir, tmp_path):
    """Regression: compacting a partition-key collection must keep the
    hive directory layout — a flat rewrite followed by a partitioned
    append breaks partition discovery for every subsequent read."""
    import os

    from milvus_spark.operators.lifecycle import Collection
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(1000)
    coll = Collection(
        spark, str(tmp_path / "pkc"), pk="o_orderkey", partition_key="o_orderpriority"
    )
    coll.append(orders, ts=1)
    n = coll.read().count()
    coll.compact(num_partitions=2)
    assert any(
        d.startswith("o_orderpriority=") for d in os.listdir(coll.seg_dir)
    ), "hive layout lost in compaction"
    coll.append(
        orders.limit(5).withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(10**9).cast("long")
        ),
        ts=2,
    )
    assert coll.read().count() == n + 5  # read still works post-mixed-writes


def test_partition_key_pruned_read_keeps_partition_column(spark, tmp_path):
    """read_pruned on a partition-key collection must surface the hive
    partition column (basePath partition discovery over explicit leaf
    files), and clustering by the partition key itself is rejected — the
    directory layout already prunes on it."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from milvus_spark.operators.lifecycle import Collection

    coll = Collection(spark, str(tmp_path / "pkc"), pk="id", partition_key="p")
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i * 10) for i in range(40)], "id long, p string, v long"
    )
    coll.append(df, ts=1)
    with _pytest.raises(ValueError, match="partition key"):
        coll.compact_clustering("p")
    coll.compact_clustering("v")
    pruned = coll.read_pruned(100, 200)
    assert "p" in pruned.columns  # hive column survives the leaf-file read
    got = sorted((r.id, r.p) for r in pruned.collect())
    assert got == [(i, f"p{i % 2}") for i in range(10, 21)]


def test_changes_guarded_by_compaction_watermark(spark, tmp_path):
    """Compaction folds tombstones away; a CDC window reaching into the
    folded range must raise, not silently omit the deletes, while windows
    after the watermark keep working."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from milvus_spark.operators.lifecycle import Collection

    coll = Collection(spark, str(tmp_path / "cdc"), pk="id")
    df = spark.createDataFrame([(i, i) for i in range(10)], "id long, v long")
    coll.append(df, ts=1)
    coll.delete_pks(df.filter(F.col("id") < 3).select("id"), ts=2)
    coll.compact()
    with _pytest.raises(ValueError, match="predates the last compaction"):
        coll.changes(since=1, until=5)
    coll.append(df.filter(F.col("id") >= 90), ts=3)  # empty — shape only
    coll.delete_pks(df.filter(F.col("id") == 5).select("id"), ts=4)
    out = coll.changes(since=2, until=5).collect()
    assert ("delete", 5) in {(r.op, r.id) for r in out}
    # no stray .old/.compacting dirs after swaps
    import os

    assert not os.path.isdir(str(tmp_path / "cdc" / "segments.old"))
    assert not os.path.isdir(str(tmp_path / "cdc" / "segments.compacting"))


def test_metadata_json_write_is_atomic(coll, monkeypatch):
    """A dump that dies half-way (disk full, crash) must leave the previous
    cdc_watermark.json / partition_stats.json readable and unchanged: the
    writes go to a temp file that replaces the old one only when complete."""
    import json

    c, _ = coll
    c._record_cdc_watermark()
    c.compact_clustering("o_custkey", num_partitions=2)
    paths = [os.path.join(c.path, n) for n in ("cdc_watermark.json", "partition_stats.json")]
    before = [open(p).read() for p in paths]

    def torn_dump(obj, f, **kw):
        f.write(json.dumps(obj, **kw)[:7])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        c._record_cdc_watermark()
    with pytest.raises(OSError, match="disk full"):
        c.compact_clustering("o_custkey", num_partitions=2)
    monkeypatch.undo()
    for p, text in zip(paths, before):
        with open(p) as f:
            assert f.read() == text
        with open(p) as f:
            json.load(f)
    assert not [n for n in os.listdir(c.path) if n.endswith(".tmp")]
