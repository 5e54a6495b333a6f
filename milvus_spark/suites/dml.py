"""DML / data-lifecycle suite: insert → upsert → delete → MVCC snapshot →
compaction, run against a real parquet-backed Collection (operators/lifecycle.py)
built in a scratch dir, with the equivalent final state expressed as pure SQL
over the source ``orders`` table for the oracle.

Timeline (deterministic, same in every run):
  ts=1  append all of ``orders``
  ts=2  upsert rows with o_orderkey % 100 == 0, o_totalprice += 100000
  ts=3  complex delete: o_orderstatus = 'F' AND (effective) o_totalprice < 50000
  ts=4  simple pk delete: o_orderkey % 997 == 0

Reference parity: task_insert.go / task_upsert.go / task_delete.go:426-716 /
MvccNode.cpp:56 / mix_compactor.go (see operators/lifecycle.py docstrings).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_spark.operators.lifecycle import Collection
from milvus_spark.registry import register
from milvus_spark.scratch import mkdtemp as scratch_mkdtemp
from milvus_spark.session import load_table


# effective price / ts after the ts=2 upsert, as SQL fragments
_EFF_PRICE = "CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 100000 ELSE o_totalprice END"
_EFF_TS = "CASE WHEN o_orderkey % 100 = 0 THEN 2 ELSE 1 END"
_DELETED_T3 = f"(o_orderstatus = 'F' AND ({_EFF_PRICE}) < 50000)"
_DELETED_T4 = "(o_orderkey % 997 = 0)"


def _build_collection(spark: SparkSession, sf: str, upto_ts: int = 4) -> Collection:
    path = scratch_mkdtemp("coll_")
    shutil.rmtree(path)
    coll = Collection(spark, path, pk="o_orderkey")
    o = load_table(spark, sf, "orders")
    coll.append(o, ts=1)
    if upto_ts >= 2:
        up = o.filter(F.col("o_orderkey") % 100 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100000
        )
        coll.upsert(up, ts=2)
    if upto_ts >= 3:
        coll.delete_where(
            (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000), ts=3
        )
    if upto_ts >= 4:
        o2 = load_table(spark, sf, "orders")
        coll.delete_pks(o2.filter(F.col("o_orderkey") % 997 == 0), ts=4)
    return coll


# --- upsert: snapshot at ts=2 shows merged rows -------------------------------
@register(
    "dml_upsert_read",
    oracle=f"""
    SELECT o_orderkey,
           round({_EFF_PRICE}, 2) AS o_totalprice,
           CAST({_EFF_TS} AS BIGINT) AS _ts
    FROM orders
    """,
)
def dml_upsert_read(spark: SparkSession, sf: str) -> DataFrame:
    coll = _build_collection(spark, sf, upto_ts=2)
    return coll.read(as_of=2).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "_ts"
    )


# --- MVCC: snapshot at ts=3 (complex delete applied, pk delete not yet) -------
@register(
    "dml_mvcc_snapshot",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum({_EFF_PRICE}), 2) AS total
    FROM orders
    WHERE NOT {_DELETED_T3}
    GROUP BY o_orderstatus
    """,
)
def dml_mvcc_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    coll = _build_collection(spark, sf, upto_ts=4)
    # reading as-of ts=3 must NOT see the ts=4 pk deletes (time travel)
    return (
        coll.read(as_of=3)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# --- final state after all deletes --------------------------------------------
_FINAL_ORACLE = f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum({_EFF_PRICE}), 2) AS total
    FROM orders
    WHERE NOT {_DELETED_T3} AND NOT {_DELETED_T4}
    GROUP BY o_orderstatus
"""


@register("dml_delete_final", oracle=_FINAL_ORACLE)
def dml_delete_final(spark: SparkSession, sf: str) -> DataFrame:
    coll = _build_collection(spark, sf, upto_ts=4)
    return (
        coll.read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# --- compaction preserves content (tombstones folded, segments rewritten) -----
@register("dml_compact_equiv", oracle=_FINAL_ORACLE)
def dml_compact_equiv(spark: SparkSession, sf: str) -> DataFrame:
    coll = _build_collection(spark, sf, upto_ts=4)
    coll.compact(num_partitions=4)
    return (
        coll.read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# --- clustering compaction: range layout + partition-stats pruned read --------
@register(
    "dml_clustering_prune",
    oracle=f"""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n,
           round(sum({_EFF_PRICE}), 2) AS total
    FROM orders
    WHERE o_custkey BETWEEN 200 AND 500
      AND NOT {_DELETED_T3} AND NOT {_DELETED_T4}
    GROUP BY o_custkey
    """,
)
def dml_clustering_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Clustering compaction by o_custkey (clustering_compactor.go range mode)
    then a range read through the PartitionStatsSnapshot manifest — files whose
    [min,max] miss the range are never opened (segment_pruner.go:36)."""
    coll = _build_collection(spark, sf, upto_ts=4)
    coll.compact_clustering("o_custkey", num_partitions=8)
    return (
        coll.read_pruned(200, 500)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# --- CDC changefeed over the deterministic timeline ---------------------------
@register(
    "dml_changefeed",
    oracle=f"""
    WITH changes AS (
      -- ts=2 upsert: delete + insert for pk % 100 = 0
      SELECT 'delete' AS op, o_orderkey, CAST(2 AS BIGINT) AS change_ts
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT 'insert', o_orderkey, 2 FROM orders WHERE o_orderkey % 100 = 0
      -- ts=3 complex delete resolves pks on the post-upsert effective price
      UNION ALL
      SELECT 'delete', o_orderkey, 3 FROM orders WHERE {_DELETED_T3}
      -- ts=4 simple pk delete tombstones the given pk list unconditionally
      UNION ALL
      SELECT 'delete', o_orderkey, 4 FROM orders WHERE {_DELETED_T4}
    )
    SELECT op, o_orderkey, change_ts FROM changes
    """,
)
def dml_changefeed(spark: SparkSession, sf: str) -> DataFrame:
    """CDC window (1, 4]: upsert at ts=2 → delete+insert pair; filtered delete
    at ts=3; pk delete at ts=4 (internal/cdc/ analog, Delta CDF shape)."""
    coll = _build_collection(spark, sf, upto_ts=4)
    return coll.changes(since=1, until=4)


# --- snapshot / restore (task_snapshot.go, internal/snapshotio) ---------------
@register(
    "dml_snapshot_restore",
    oracle=f"""
    SELECT o_orderkey,
           round({_EFF_PRICE}, 2) AS o_totalprice,
           CAST({_EFF_TS} AS BIGINT) AS _ts
    FROM orders
    """,
)
def dml_snapshot_restore(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time snapshot + restore (task_snapshot.go / internal/
    snapshotio/): snapshot the ts=2 state, destroy it with two delete
    generations, restore, and read — the result must equal the pre-damage
    upsert state exactly. Snapshots are directory manifest pins over
    immutable segments, so both operations are O(metadata), not O(data)."""
    coll = _build_collection(spark, sf, upto_ts=2)
    coll.snapshot("s1")
    coll.delete_where(F.col("o_orderstatus") == "O", ts=3)
    o = load_table(spark, sf, "orders")
    coll.delete_pks(o.filter(F.col("o_orderkey") % 5 == 0), ts=4)
    coll.restore("s1")
    return coll.read(as_of=2).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "_ts"
    )


# --- partition-key mode: directory pruning at the scan -------------------------
@register(
    "dml_partition_key_prune",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def dml_partition_key_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-key mode (is_partition_key plan.proto:112; partition-key
    resolution task_search.go:196-225, exprutil/expr_checker.go:105): the
    designated field routes rows to hive-style physical partitions at
    write, so an equality filter on it prunes whole partition DIRECTORIES
    at file listing — PartitionFilters in the scan, asserted by
    tests/test_plans.py::test_partition_key_filter_prunes_directories.
    At 100 TB this is the difference between listing every segment and
    touching only the target shard."""
    path = scratch_mkdtemp("pkmode_")
    shutil.rmtree(path)
    coll = Collection(spark, path, pk="o_orderkey", partition_key="o_orderpriority")
    coll.append(load_table(spark, sf, "orders"), ts=1)
    return (
        coll.read()
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# --- partial upsert with array field ops (FieldOp, issue #49241) ---------------
@register(
    "dml_array_field_ops",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             [o_orderkey % 5, o_orderkey % 7, o_orderkey % 5, o_orderkey % 11] AS tags
      FROM orders WHERE o_orderkey <= 2000
    ),
    appended AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0
                  THEN list_concat(tags, [o_orderkey % 3, o_orderkey % 5])
                  ELSE tags END AS tags
      FROM base
    ),
    removed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 20 = 0
                  THEN list_filter(tags, x -> x <> o_orderkey % 5)
                  ELSE tags END AS tags
      FROM appended
    )
    SELECT o_orderkey, CAST(len(tags) AS BIGINT) AS n_tags,
           COALESCE(array_to_string(tags, ','), '') AS tags_str
    FROM removed
    """,
)
def dml_array_field_ops(spark: SparkSession, sf: str) -> DataFrame:
    """ARRAY partial-update ops (FieldOp array_append / array_remove,
    test_milvus_client_partial_update_array_op.py, issue #49241): append
    concatenates batch elements onto the stored array; remove drops ALL
    occurrences of each batch element while preserving duplicates of
    everything else. Timeline: insert tags=[k%5,k%7,k%5,k%11]; append
    [k%3,k%5] where k%10=0; remove [k%5] where k%20=0. The oracle replays
    the same list algebra."""
    path = scratch_mkdtemp("arrops_")
    shutil.rmtree(path)
    coll = Collection(spark, path, pk="o_orderkey")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") <= 2000)
    k = F.col("o_orderkey")
    coll.append(
        o.select(k, F.array(k % 5, k % 7, k % 5, k % 11).alias("tags")), ts=1
    )
    coll.upsert_partial(
        o.filter(k % 10 == 0).select(k, F.array(k % 3, k % 5).alias("tags")),
        ts=2,
        field_ops={"tags": "array_append"},
    )
    coll.upsert_partial(
        o.filter(k % 20 == 0).select(k, F.array(k % 5).alias("tags")),
        ts=3,
        field_ops={"tags": "array_remove"},
    )
    return coll.read().select(
        "o_orderkey",
        F.size("tags").cast("long").alias("n_tags"),
        F.array_join(F.col("tags").cast("array<string>"), ",").alias("tags_str"),
    )


# --- collection namespaces: multi-tenancy isolation ---------------------------
@register(
    "dml_namespace_isolation",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 4) AS acctbal
    FROM customer
    WHERE c_custkey % 3 = 1 AND c_acctbal > 1000
      AND NOT (c_custkey % 50 = 1)
    """,
)
def dml_namespace_isolation(spark: SparkSession, sf: str) -> DataFrame:
    """Collection-level namespaces, field mode: three tenants share one
    collection via the hidden $namespace_id field (common.go:61-67); every
    query/delete carries a namespace that merges into the plan
    (MergeExprWithNamespace, query/PlanProto.cpp:70-86). A delete scoped to
    tenant t1 removes rows there, while the SAME delete on tenant t2 is
    invisible to t1's reads — the isolation contract. $namespace_id doubles
    as the physical partition key, so each tenant read directory-prunes."""
    from milvus_spark.client import MilvusSparkClient

    client = MilvusSparkClient(spark, root=scratch_mkdtemp("nsq_"))
    c = load_table(spark, sf, "customer").select("c_custkey", "c_acctbal")
    client.create_collection("cust", "c_custkey", enable_namespace=True)
    for t in range(3):
        client.insert(
            "cust", c.filter(F.col("c_custkey") % 3 == t), namespace=f"t{t}"
        )
    client.delete("cust", filter="c_custkey % 50 == 1", namespace="t1")
    # the same delete against t2 must not affect t1's view
    client.delete("cust", filter="c_custkey % 50 == 1", namespace="t2")
    out = client.query(
        "cust", filter="c_acctbal > 1000", namespace="t1",
        output_fields=["c_custkey", "c_acctbal"],
    )
    return out.select("c_custkey", F.round("c_acctbal", 4).alias("acctbal"))


# --- truncate: data gone, collection stays, reinserts start clean -------------
@register(
    "dml_truncate_reinsert",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus
    """,
)
def dml_truncate_reinsert(spark: SparkSession, sf: str) -> DataFrame:
    """TruncateCollection (drop_collection_task.go truncate path): the full
    mutated history is wiped, the collection handle survives, and a fresh
    insert starts from a clean slate — visible state afterwards is exactly
    the reinserted batch, no tombstones, no MVCC residue."""
    coll = _build_collection(spark, sf, upto_ts=4)
    # truncate = remove every segment + tombstone, keep the handle
    shutil.rmtree(coll.seg_dir, ignore_errors=True)
    shutil.rmtree(coll.tomb_dir, ignore_errors=True)
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") % 3 == 0)
    coll.append(o, ts=1)
    return (
        coll.read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# --- sort compaction: pk-sorted rewrite preserves content, files are sorted ---
@register("dml_sort_compaction", oracle=_FINAL_ORACLE)
def dml_sort_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """Sort compaction (sort_compaction.go): rewrite range-partitioned and
    pk-sorted WITHOUT changing visible content — the same equivalence gate
    as mix compaction, after asserting the rewrite really is sorted (the
    stats-prune precondition)."""
    coll = _build_collection(spark, sf, upto_ts=4)
    coll.compact(num_partitions=4)
    # rewrite invariant: within every output file pks are non-decreasing
    seg = spark.read.parquet(coll.seg_dir).select(
        "o_orderkey", F.spark_partition_id().alias("pid")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("pid").orderBy(F.monotonically_increasing_id())
    bad = (
        seg.withColumn("prev", F.lag("o_orderkey").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("o_orderkey") < F.col("prev")))
        .count()
    )
    assert bad == 0, "sort compaction output not pk-sorted within files"
    return (
        coll.read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# --- consistency levels: Strong vs Bounded vs Session snapshots ---------------
@register(
    "dml_consistency_levels",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 40 = 0
    ),
    strong AS (  -- sees both write batches: doubled where %80=0
      SELECT 'Strong' AS level,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(CASE WHEN o_orderkey % 80 = 0
                            THEN o_totalprice * 2 ELSE o_totalprice END), 2) + 0 AS total
      FROM base
    ),
    bounded AS (  -- one write-batch stale: only the ts=1 batch visible
      SELECT 'Bounded' AS level, CAST(count(*) AS BIGINT) AS n,
             round(sum(o_totalprice), 2) + 0 AS total
      FROM base
    ),
    sess AS (  -- pins the client's OWN last write: both batches again
      SELECT 'Session' AS level, n, total FROM strong
    )
    SELECT level, n, total FROM strong
    UNION ALL SELECT level, n, total FROM bounded
    UNION ALL SELECT 'Session', n, total FROM sess
    """,
)
def dml_consistency_levels(spark: SparkSession, sf: str) -> DataFrame:
    """Consistency levels through the CLIENT query path (GuaranteeTs,
    how-guarantee-ts-works.md:48-71): after two write batches, Strong and
    Session read everything committed while Bounded tolerates one
    write-batch of staleness — three level-tagged snapshots of the same
    collection, hash-compared against their closed-form states."""
    from milvus_spark.client import MilvusSparkClient

    client = MilvusSparkClient(spark, root=scratch_mkdtemp("consq_"))
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") % 40 == 0)
    client.create_collection("ords", pk_field="o_orderkey")
    client.insert("ords", o.select("o_orderkey", "o_totalprice"))
    up = o.filter(F.col("o_orderkey") % 80 == 0).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    client.upsert("ords", up)

    outs = []
    for level in ("Strong", "Bounded", "Session"):
        df = client.query(
            "ords", output_fields=["o_orderkey", "o_totalprice"],
            consistency_level=level,
        )
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("n"),
                (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias("total"),
            ).select(F.lit(level).alias("level"), "n", "total")
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out
