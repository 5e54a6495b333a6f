"""Materialized scalar indexes — the reference's scalar index zoo.

Reference parity (file:line into /root/reference):
  - internal/core/src/index/InvertedIndexTantivy.cpp — INVERTED: a
    tantivy term index per segment mapping scalar values to row ids, so
    ``field == v`` / ``field in [...]`` read the matching terms' posting
    lists instead of scanning the column.
  - internal/core/src/index/BitmapIndex.cpp — BITMAP: one roaring bitmap
    per distinct value for LOW-cardinality fields; the build refuses past
    a cardinality limit (indexparamcheck caps it) because a bitmap per
    distinct value only pays when values repeat heavily.
  - internal/core/src/index/ScalarIndexSort.cpp — STL_SORT: the column
    stored sorted so range predicates binary-search instead of scan.
  - internal/core/src/index/StringIndexMarisa.cpp — TRIE: a marisa trie
    over varchar values; a prefix query walks the trie. A sorted term
    layout serves the same access pattern: ``like "p%"`` is the range
    ``[p, p + chr(0x10FFFF))`` over sorted terms.

Spark-first design (the same derived-table pattern as operators/
text_index.py): each index is a parquet table derived once at
create_index and pruned at query time.

  INVERTED  (vbucket, value string, id)   partitionBy(vbucket)
  BITMAP    (vbucket, value string, ids array<long>) partitionBy(vbucket)
  STL_SORT  (sbucket, value native,  id)  partitionBy(sbucket), sorted
  TRIE      = STL_SORT restricted to varchar (prefix = sorted range)

``vbucket = md5-prefix-hash(value) % N_VAL_BUCKETS`` prunes whole
directories at file listing for equality/IN — the driver computes a query
literal's bucket locally (``py_vbucket``) with zero Spark jobs, exactly
like text_index.py's ``py_tbucket``. The sorted family instead records
its bucket upper BOUNDS (quantiles of a bounded sample) in the catalog
entry, so a range / prefix query lists only the overlapping bucket
directories (the zone-map / binary-search analog) and pushes the value
predicate into row-group stats.
At 100 TB either shape reads O(matching postings), not the column.

Values in the hash-bucketed family are stored as Spark's canonical STRING
cast so one artifact schema serves varchar and integral fields; the
sorted family keeps the NATIVE type (range compares must be numeric).
Rows carry ``_epoch`` like every other index artifact (0 at create, +1
per refresh append) so deletes/upserts fold into the shared
``[pk, bound]`` version masks (operators/bitset.py) and base files never
rewrite.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from milvus_spark.operators.text import token_hash

N_VAL_BUCKETS = 32
SORT_BUCKETS = 16
# past the last explicit bound: a string above every real codepoint run /
# used only as the "no upper bound" sentinel for numerics at dispatch
PREFIX_CEIL = chr(0x10FFFF)


def py_vbucket(value) -> int:
    """Driver-side twin of the vbucket partition column. ``value`` must be
    the canonical string form — identity for varchar, ``str(int)`` for
    integral fields (Spark's CAST(bigint AS STRING))."""
    return int(hashlib.md5(str(value).encode()).hexdigest()[:8], 16) % N_VAL_BUCKETS


def vbucket_col(value_col) -> F.Column:
    return F.pmod(token_hash(value_col), F.lit(N_VAL_BUCKETS)).cast("int")


def build_inverted(df: DataFrame, field: str, pk: str) -> DataFrame:
    """(vbucket, value, id) — one row per non-null row of the corpus; for
    an ARRAY field (the reference's multi-valued inverted index,
    InvertedIndexTantivy with multi=true), one row per DISTINCT non-null
    element per row — array_contains reads one posting list,
    contains_any/all union/intersect the query values' lists. Null values
    are unindexable on purpose: under 3VL no eq/IN/contains predicate
    ever matches NULL, so postings for them are dead weight."""
    from pyspark.sql import types as T

    if isinstance(df.schema[field].dataType, T.ArrayType):
        elems = (
            df.filter(F.col(field).isNotNull())
            .select(
                F.col(pk).cast("long").alias("id"),
                F.explode(field).alias("_elem"),
            )
            .filter(F.col("_elem").isNotNull())
            .select("id", F.col("_elem").cast("string").alias("value"))
            .distinct()
        )
        return elems.select(
            vbucket_col(F.col("value")).alias("vbucket"), "value", "id"
        )
    v = F.col(field).cast("string")
    return (
        df.filter(F.col(field).isNotNull())
        .select(
            vbucket_col(v).alias("vbucket"),
            v.alias("value"),
            F.col(pk).cast("long").alias("id"),
        )
    )


def build_bitmap(
    df: DataFrame, field: str, pk: str, cardinality_limit: int = 1000
) -> DataFrame:
    """(vbucket, value, ids array<long>) — one row per distinct value.
    Refuses past ``cardinality_limit`` distinct values (BitmapIndex.cpp
    via indexparamcheck's bitmap cardinality cap): a packed id list per
    value only pays on low-cardinality fields; a high-cardinality field
    wants INVERTED."""
    inv = build_inverted(df, field, pk)
    n = inv.select("value").distinct().count()
    if n > cardinality_limit:
        raise ValueError(
            f"BITMAP cardinality {n} exceeds limit {cardinality_limit} on "
            f"{field!r} — use INVERTED"
        )
    return inv.groupBy("vbucket", "value").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )


def read_value_postings(index: DataFrame, values: list) -> DataFrame:
    """Prune an INVERTED/BITMAP artifact to the query literals: the
    vbucket filter prunes partition directories at file listing, the
    value filter pushes into row groups."""
    vals = sorted({str(v) for v in values})
    bkts = sorted({py_vbucket(v) for v in vals})
    return index.filter(F.col("vbucket").isin(bkts) & F.col("value").isin(vals))


def assign_sort_bucket(value_col, bounds: list) -> F.Column:
    """Bucket i covers values <= bounds[i] (last bucket unbounded): the
    build's layout replayed from the catalog entry so refresh appends land
    in the bucket their value belongs to."""
    b = F.lit(0)
    for edge in bounds:
        b = b + F.when(value_col > F.lit(edge), 1).otherwise(0)
    return b.cast("int")


def build_sorted(
    df: DataFrame, field: str, pk: str, n_buckets: int = SORT_BUCKETS
) -> tuple[DataFrame, list]:
    """((sbucket, value, id) sorted within buckets, bounds) — the
    ScalarIndexSort / marisa layout. The bucket edges are quantiles of one
    bounded sample: the ≤ SAMPLE_PER_LIST·n_buckets non-null rows with the
    smallest ``xxhash64(id, value)``, sorted by Spark (so NaN and string
    order are Spark's) in the job that collects them. Edges strictly
    increase; a NaN edge is dropped, because the last bucket is unbounded
    anyway. The artifact is then written in one pass: rows sort within each
    bucket so parquet row-group stats serve the binary search. ``bounds``
    (bucket i holds values ≤ bounds[i], the last bucket the rest) goes
    into the catalog entry for dispatch-time directory pruning and
    refresh-time bucket assignment."""
    from milvus_spark.operators.ivf import SAMPLE_PER_LIST, hash_sample

    rows = df.filter(F.col(field).isNotNull()).select(
        F.col(field).alias("value"), F.col(pk).cast("long").alias("id")
    )
    sample = hash_sample(rows, ["id", "value"], SAMPLE_PER_LIST * n_buckets, seed=42)
    vals = [r[0] for r in sample.select("value").sortWithinPartitions("value").collect()]
    bounds: list = []
    for i in range(1, n_buckets):
        j = i * len(vals) // n_buckets - 1
        if j < 0 or vals[j] != vals[j] or (bounds and vals[j] == bounds[-1]):
            continue  # too few rows, NaN (Spark's largest value), or a repeat
        bounds.append(vals[j])
    # the assignment column is EXACTLY what refresh appends use, so bucket
    # membership is stable across build and append
    out = (
        rows.withColumn("sbucket", assign_sort_bucket(F.col("value"), bounds))
        .repartition("sbucket")
        .sortWithinPartitions("value")
        .select("sbucket", "value", "id")
    )
    return out, bounds


def prefix_upper(p: str) -> str | None:
    """Smallest string ABOVE every string with prefix ``p`` (exclusive
    upper bound): increment the last code point, recursing past maximal
    ones — the standard trie-range lemma, so ``p <= s < prefix_upper(p)``
    is exactly ``s.startswith(p)`` under code-point ordering. None means
    unbounded (p was empty or all-maximal)."""
    while p:
        last = ord(p[-1])
        if last < 0x10FFFF:
            return p[:-1] + chr(last + 1)
        p = p[:-1]
    return None


def overlapping_sort_buckets(bounds: list, lo, hi) -> list[int]:
    """Bucket ids whose range [prev_bound, bound] intersects [lo, hi]
    (None = unbounded on that side) — the dispatch-time binary search."""
    n = len(bounds) + 1
    out = []
    for i in range(n):
        b_hi = bounds[i] if i < len(bounds) else None
        if lo is not None and b_hi is not None and b_hi < lo:
            continue
        # a bucket's lower edge is EXCLUSIVE (value > bounds[i-1]), so the
        # bucket is disjoint from [lo, hi] already when its edge == hi
        b_lo = bounds[i - 1] if i > 0 else None
        if hi is not None and b_lo is not None and b_lo >= hi:
            continue
        out.append(i)
    return out


def read_sorted_range(
    index: DataFrame,
    bounds: list,
    lo=None,
    hi=None,
    lo_incl: bool = True,
    hi_incl: bool = True,
) -> DataFrame:
    """Prune a sorted artifact to [lo, hi]: the sbucket filter prunes
    directories, the value predicate pushes into sorted row groups."""
    pruned = index.filter(
        F.col("sbucket").isin(overlapping_sort_buckets(bounds, lo, hi))
    )
    if lo is not None:
        pruned = pruned.filter(
            F.col("value") >= lo if lo_incl else F.col("value") > lo
        )
    if hi is not None:
        pruned = pruned.filter(
            F.col("value") <= hi if hi_incl else F.col("value") < hi
        )
    return pruned
