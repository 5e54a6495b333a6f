"""Vector-search operator suite on the ``embeddings`` table (dim 64).

Covers SURVEY.md §2.3: ANN top-k per metric (COSINE / squared-L2 / IP),
scalar-filtered search (pre-filter mode), range search, grouping search,
search-by-pk, hybrid search with RRF / weighted fusion, decay and boost
rerank. Query vectors are the stored vectors of the lowest pks (search-by-pk
semantics) so every query is self-contained and oracle-expressible.

Scores are computed in float64 on both sides and rounded to 4 decimals;
ranking tie-breaks on (rounded score, pk) in both engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from milvus_spark.operators.knn import brute_force_search, grouping_search, queries_from_table
from milvus_spark.operators.hybrid import (
    boost_score,
    decay_factor,
    rrf_fusion_tagged,
    weighted_fusion_tagged,
)
from milvus_spark.registry import register
from milvus_spark.scratch import mkdtemp as scratch_mkdtemp
from milvus_spark.session import load_table

NQ = 4

# Shared oracle fragments -----------------------------------------------------
_Q = f"""
  q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {NQ})
"""

_SCORE = {
    "COSINE": "round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4)",
    "L2": "round(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv)^2, 4)",
    "IP": "round(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv), 4)",
}
_DIR = {"COSINE": "DESC", "L2": "ASC", "IP": "DESC"}


def _ranked_cte(metric: str, where: str = "TRUE") -> str:
    return f"""
  scored AS (
    SELECT q.qid, e.vec_id, {_SCORE[metric]} AS score
    FROM embeddings e, q WHERE {where}
  ),
  ranked AS (
    SELECT qid, vec_id, score,
           CAST(row_number() OVER (PARTITION BY qid ORDER BY score {_DIR[metric]}, vec_id) AS BIGINT) AS rank
    FROM scored
  )"""


def _load_queries(spark: SparkSession, sf: str):
    emb = load_table(spark, sf, "embeddings")
    return emb, queries_from_table(emb, "vec_id", "embedding", F.col("vec_id") < NQ)


# --- flagship: scalar-filtered ANN top-k (pre-filter mode) --------------------
@register(
    "vec_knn_cosine_filtered",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("COSINE", where="e.label >= 2")}
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 10
    """,
)
def vec_knn_cosine_filtered(spark: SparkSession, sf: str) -> DataFrame:
    emb, qs = _load_queries(spark, sf)
    return brute_force_search(
        emb, qs, "embedding", "vec_id", metric="COSINE", k=10,
        filter_cond=F.col("label") >= 2,
    )


@register(
    "vec_knn_l2",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("L2")}
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 10
    """,
)
def vec_knn_l2(spark: SparkSession, sf: str) -> DataFrame:
    emb, qs = _load_queries(spark, sf)
    return brute_force_search(emb, qs, "embedding", "vec_id", metric="L2", k=10)


@register(
    "vec_knn_ip",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("IP")}
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 10
    """,
)
def vec_knn_ip(spark: SparkSession, sf: str) -> DataFrame:
    emb, qs = _load_queries(spark, sf)
    return brute_force_search(emb, qs, "embedding", "vec_id", metric="IP", k=10)


# --- range search: radius < score <= range_filter -----------------------------
@register(
    "vec_range_search",
    oracle=f"""
    WITH {_Q},
    scored AS (
      SELECT q.qid, e.vec_id, {_SCORE["COSINE"]} AS score
      FROM embeddings e, q
    ),
    bounded AS (SELECT * FROM scored WHERE score > 0.3 AND score <= 0.95),
    ranked AS (
      SELECT qid, vec_id, score,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rank
      FROM bounded
    )
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 20
    """,
)
def vec_range_search(spark: SparkSession, sf: str) -> DataFrame:
    emb, qs = _load_queries(spark, sf)
    return brute_force_search(
        emb, qs, "embedding", "vec_id", metric="COSINE", k=20,
        radius=0.3, range_filter=0.95,
    )


# --- grouping search: top-3 groups (by best hit), 2 hits per group ------------
@register(
    "vec_grouping_search",
    oracle=f"""
    WITH {_Q},
    scored AS (
      SELECT q.qid, e.vec_id, e.label, {_SCORE["COSINE"]} AS score
      FROM embeddings e, q
    ),
    kept AS (
      SELECT * FROM (
        SELECT qid, vec_id, label, score,
               row_number() OVER (PARTITION BY qid, label ORDER BY score DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 2
    ),
    best AS (SELECT qid, label, max(score) AS best_score FROM kept GROUP BY qid, label),
    topg AS (
      SELECT * FROM (
        SELECT qid, label,
               CAST(row_number() OVER (PARTITION BY qid ORDER BY best_score DESC, label) AS BIGINT) AS grank
        FROM best
      ) WHERE grank <= 3
    )
    SELECT k.qid, k.label, k.vec_id, k.score, g.grank
    FROM kept k JOIN topg g ON k.qid = g.qid AND k.label = g.label
    """,
)
def vec_grouping_search(spark: SparkSession, sf: str) -> DataFrame:
    emb, qs = _load_queries(spark, sf)
    return grouping_search(
        emb, qs, "embedding", "vec_id", "label", metric="COSINE", limit=3, group_size=2
    )


# --- search-by-pk: stored vectors of pks 10/20/30 as queries ------------------
@register(
    "vec_search_by_pk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id IN (10, 20, 30)),
    {_ranked_cte("COSINE")}
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 5
    """,
)
def vec_search_by_pk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    qs = queries_from_table(emb, "vec_id", "embedding", F.col("vec_id").isin(10, 20, 30))
    return brute_force_search(emb, qs, "embedding", "vec_id", metric="COSINE", k=5)


# --- hybrid search + RRF fusion (k=60) ----------------------------------------
_HYBRID_SUBS = f"""
    WITH {_Q},
    s1 AS (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
      FROM (SELECT q.qid, e.vec_id, {_SCORE["COSINE"]} AS score FROM embeddings e, q)
    ),
    s2 AS (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score ASC, vec_id) AS rank
      FROM (SELECT q.qid, e.vec_id, {_SCORE["L2"]} AS score FROM embeddings e, q)
    ),
    t1 AS (SELECT * FROM s1 WHERE rank <= 20),
    t2 AS (SELECT * FROM s2 WHERE rank <= 20)
"""


def _hybrid_results(spark: SparkSession, sf: str) -> DataFrame:
    """Both hybrid sub-searches in ONE corpus scan (r8): the multi-metric
    kernel deserializes the vectors and pays the parquet read ONCE and
    returns a single sid-tagged frame the tagged fusion layers consume
    without splitting (splitting + re-unioning plans the scan once per
    sub-search — measured 2× slower). One scan per hybrid request is
    exactly the reference's delegator visiting each segment once
    (task_search.go:489)."""
    from milvus_spark.operators.knn import multi_metric_search

    emb, qs = _load_queries(spark, sf)
    return multi_metric_search(
        emb, qs, "embedding", "vec_id", metrics=["COSINE", "L2"], k=20
    )


@register(
    "vec_hybrid_rrf",
    oracle=_HYBRID_SUBS
    + """
    , fused AS (
      SELECT qid, vec_id, round(sum(1.0 / (60 + rank)), 4) AS score
      FROM (SELECT qid, vec_id, rank FROM t1 UNION ALL SELECT qid, vec_id, rank FROM t2)
      GROUP BY qid, vec_id
    )
    SELECT qid, vec_id, score,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
      FROM fused
    ) WHERE rank <= 10
    """,
)
def vec_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    return rrf_fusion_tagged(_hybrid_results(spark, sf), "vec_id", k=60, limit=10)


@register(
    "vec_hybrid_weighted",
    oracle=_HYBRID_SUBS
    + """
    , fused AS (
      SELECT qid, vec_id, round(sum(ws), 4) AS score
      FROM (
        SELECT qid, vec_id, 0.7 * (1 + score) * 0.5 AS ws FROM t1
        UNION ALL
        SELECT qid, vec_id, 0.3 * (1 - 2 * atan(score) / pi()) AS ws FROM t2
      )
      GROUP BY qid, vec_id
    )
    SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
      FROM fused
    ) WHERE rank <= 10
    """,
)
def vec_hybrid_weighted(spark: SparkSession, sf: str) -> DataFrame:
    return weighted_fusion_tagged(
        _hybrid_results(spark, sf), ["COSINE", "L2"], [0.7, 0.3], "vec_id",
        limit=10, norm_score=True,
    )


# --- decay rerank: gauss decay on vec_id distance from origin -----------------
@register(
    "vec_decay_rerank",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("COSINE")},
    topk AS (SELECT * FROM ranked WHERE rank <= 50),
    decayed AS (
      SELECT qid, vec_id,
             round(score * exp(pow(greatest(0.0, abs(CAST(vec_id AS DOUBLE) - 0.0) - 10.0), 2)
                               / (pow(200.0, 2) / ln(0.5))), 4) AS score
      FROM topk
    )
    SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
      FROM decayed
    ) WHERE rank <= 10
    """,
)
def vec_decay_rerank(spark: SparkSession, sf: str) -> DataFrame:
    emb, qs = _load_queries(spark, sf)
    topk = brute_force_search(emb, qs, "embedding", "vec_id", metric="COSINE", k=50)
    decayed = topk.select(
        "qid",
        "vec_id",
        F.round(
            F.col("score")
            * decay_factor(
                F.col("vec_id").cast("double"),
                function="gauss", origin=0.0, scale=200.0, offset=10.0, decay=0.5,
            ),
            4,
        ).alias("score"),
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        decayed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
    )


# --- boost rerank: ×2 where label == 3 ---------------------------------------
@register(
    "vec_boost_rerank",
    oracle=f"""
    WITH {_Q},
    scored AS (
      SELECT q.qid, e.vec_id, e.label, {_SCORE["COSINE"]} AS score
      FROM embeddings e, q
    ),
    boosted AS (
      SELECT qid, vec_id,
             round(score * (CASE WHEN label = 3 THEN 2.0 ELSE 1.0 END), 4) AS score
      FROM scored
    )
    SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT qid, vec_id, score,
             row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
      FROM boosted
    ) WHERE rank <= 10
    """,
)
def vec_boost_rerank(spark: SparkSession, sf: str) -> DataFrame:
    emb, qs = _load_queries(spark, sf)
    # boost applies to the full scored set (RescoresNode sits before top-k),
    # so score all rows (k = corpus size upper bound via large k) — here we
    # push the boost into the scoring pipeline by scoring with k large enough
    # to cover all candidates whose boosted score could reach top-10: boosting
    # only label==3 by 2× means any candidate could flip, so score everything.
    n = emb.count()
    scored = brute_force_search(emb, qs, "embedding", "vec_id", metric="COSINE", k=n)
    # no hint: scored is nq x corpus and lab is corpus-sized — neither side
    # is broadcastable by construction, so the equi-join shuffles on vec_id
    # and AQE picks the strategy at runtime (r7, registry hint audit)
    lab = emb.select("vec_id", "label")
    boosted = (
        scored.join(lab, "vec_id")
        .select(
            "qid",
            "vec_id",
            F.round(boost_score(F.col("score"), F.col("label") == 3, 2.0), 4).alias("score"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        boosted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("qid", "vec_id", "score", "rank")
    )


# --- grouping search, strict_group_size over a thinned candidate set ----------
@register(
    "vec_grouping_strict",
    oracle=f"""
    WITH {_Q},
    scored AS (
      SELECT q.qid, e.vec_id, e.label, {_SCORE["COSINE"]} AS score
      FROM embeddings e, q
      WHERE e.vec_id % 37 = 0
    ),
    kept AS (
      SELECT * FROM (
        SELECT qid, vec_id, label, score,
               row_number() OVER (PARTITION BY qid, label ORDER BY score DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= 2
    ),
    best AS (
      SELECT qid, label, max(score) AS best_score, count(*) AS n_hits
      FROM kept GROUP BY qid, label
    ),
    topg AS (
      SELECT * FROM (
        SELECT qid, label,
               CAST(row_number() OVER (PARTITION BY qid ORDER BY best_score DESC, label) AS BIGINT) AS grank
        FROM best WHERE n_hits >= 2
      ) WHERE grank <= 3
    )
    SELECT k.qid, k.label, k.vec_id, k.score, g.grank
    FROM kept k JOIN topg g ON k.qid = g.qid AND k.label = g.label
    """,
)
def vec_grouping_strict(spark: SparkSession, sf: str) -> DataFrame:
    """strict_group_size=True (QueryInfo plan.proto:91-104): singleton label
    groups in the thinned candidate set cannot fill group_size=2 slots and
    are excluded from group ranking (SearchGroupByNode.cpp strict mode)."""
    emb, qs = _load_queries(spark, sf)
    return grouping_search(
        emb.filter(F.col("vec_id") % 37 == 0),
        qs,
        "embedding",
        "vec_id",
        "label",
        metric="COSINE",
        limit=3,
        group_size=2,
        strict_group_size=True,
    )


# --- search over a mutated collection (MVCC-visible ANN) ----------------------
@register(
    "vec_search_after_dml",
    oracle=f"""
    WITH {_Q},
    eff AS (
      SELECT vec_id,
             CASE WHEN vec_id % 50 = 0 THEN list_reverse(CAST(embedding AS DOUBLE[]))
                  ELSE CAST(embedding AS DOUBLE[]) END AS emb
      FROM embeddings WHERE vec_id % 37 <> 0
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             round(list_cosine_similarity(e.emb, q.qv), 4) AS score
      FROM eff e, q
    ),
    ranked AS (
      SELECT qid, vec_id, score,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 10
    """,
)
def vec_search_after_dml(spark: SparkSession, sf: str) -> DataFrame:
    """ANN search over MVCC-visible collection state — the serving-path
    composition Milvus tests as search-after-upsert/delete: queries must see
    ts=2 upserted vectors (reversed) and must not see pks deleted at ts=3
    (task_upsert.go, task_delete.go, MvccNode.cpp:56 + VectorSearchNode.cpp).
    The corpus is the Collection's snapshot read (tombstone anti-join), not
    the base table; query vectors come from the base table."""
    import os
    import shutil
    import tempfile

    from milvus_spark.operators.lifecycle import Collection

    path = scratch_mkdtemp("searchdml_")
    shutil.rmtree(path)
    emb = load_table(spark, sf, "embeddings")
    coll = Collection(spark, path, pk="vec_id")
    coll.append(emb, ts=1)
    coll.upsert(
        emb.filter(F.col("vec_id") % 50 == 0).withColumn(
            "embedding", F.reverse(F.col("embedding"))
        ),
        ts=2,
    )
    coll.delete_pks(emb.filter(F.col("vec_id") % 37 == 0), ts=3)
    state = coll.read().drop("_ts")
    _, qs = _load_queries(spark, sf)
    return brute_force_search(state, qs, "embedding", "vec_id", metric="COSINE", k=10)


# --- sealed + growing union search with pk-dedup reduce -----------------------
@register(
    "vec_sealed_growing_merge",
    oracle=f"""
    WITH {_Q},
    eff AS (
      SELECT vec_id,
             CASE WHEN vec_id % 10 = 0 THEN list_reverse(CAST(embedding AS DOUBLE[]))
                  ELSE CAST(embedding AS DOUBLE[]) END AS emb
      FROM embeddings
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             round(list_cosine_similarity(e.emb, q.qv), 4) AS score
      FROM eff e, q
    ),
    ranked AS (
      SELECT qid, vec_id, score,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 10
    """,
)
def vec_sealed_growing_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Sealed + growing segment search, merged at reduce — the delegator
    shape (organizeSubTask delegator.go:990; ReduceSearchResults
    result.go:50): the growing segment holds vectors upserted at ts=2
    (vec_id % 10 == 0, reversed). Upsert = delete + insert, so the sealed
    copies of those pks are tombstoned and the delete bitset is applied
    BEFORE scoring (DeletedRecord.h:69, FilterBits → VectorSearch) — the
    sealed scan anti-joins the growing pk set. Each segment class is then
    searched independently and the reduce merges per-class top-k, deduping
    any pk seen in both classes by freshest seg_ts (the ReduceSearchResults
    pk-dedup; a no-op here by construction, load-bearing during compaction
    windows when a pk exists in two sealed generations)."""
    emb, qs = _load_queries(spark, sf)
    growing = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "embedding", F.reverse(F.col("embedding"))
    )
    k = 10
    tombstoned = growing.select("vec_id")
    sealed = emb.join(F.broadcast(tombstoned), "vec_id", "left_anti")
    sealed_hits = brute_force_search(
        sealed, qs, "embedding", "vec_id", metric="COSINE", k=k
    ).withColumn("seg_ts", F.lit(1))
    growing_hits = brute_force_search(
        growing, qs, "embedding", "vec_id", metric="COSINE", k=k
    ).withColumn("seg_ts", F.lit(2))
    merged = sealed_hits.unionByName(growing_hits)
    dedup = W.partitionBy("qid", "vec_id").orderBy(F.col("seg_ts").desc())
    fresh = (
        merged.withColumn("_dup", F.row_number().over(dedup))
        .filter(F.col("_dup") == 1)
        .drop("_dup", "rank", "seg_ts")
    )
    rerank = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        fresh.withColumn("rank", F.row_number().over(rerank).cast("long"))
        .filter(F.col("rank") <= k)
    )


# --- iterative post-filter mode (hints="iterative_filter") --------------------
@register(
    "vec_iterative_postfilter",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("COSINE", where="e.label >= 2")}
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 10
    """,
)
def vec_iterative_postfilter(spark: SparkSession, sf: str) -> DataFrame:
    """Post-filter execution order (PlanProto.cpp:667-698, hint
    "iterative_filter": Mvcc → VectorSearch → IterativeFilter): score first,
    apply the scalar filter to the candidates, and widen the fetch until
    every query has k survivors — the reference's iterative batches. Must be
    result-identical to pre-filter mode (same oracle as the flagship), the
    equivalence Milvus's own tests assert between the two orderings."""
    emb, qs = _load_queries(spark, sf)
    k, cond = 10, (F.col("label") >= 2)
    total = emb.count()
    kf = 4 * k
    while True:
        hits = brute_force_search(
            emb, qs, "embedding", "vec_id", metric="COSINE", k=min(kf, total)
        )
        kept = hits.join(
            emb.filter(cond).select("vec_id"), "vec_id", "left_semi"
        )
        short = (
            kept.groupBy("qid").agg(F.count("*").alias("n"))
            .filter(F.col("n") < k).count()
        )
        if short == 0 or kf >= total:
            break
        kf *= 4
    rerank = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        kept.drop("rank")
        .withColumn("rank", F.row_number().over(rerank).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "score", "rank")
    )


# --- large top-k mode (relaxed limit path) ------------------------------------
@register(
    "vec_large_topk",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("COSINE")}
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank <= 1000
    """,
)
def vec_large_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Large top-k mode (LargeTopKLimit quota_param.go:126, queryMode=
    LargeTopK task_search.go:193; hard cap topk ≤ 16384 quota_param.go:
    1445-1450): same plan as standard search with a relaxed k — the per-batch
    partial top-k keeps shuffle volume O(batches · nq · k) even at k=1000."""
    emb, qs = _load_queries(spark, sf)
    return brute_force_search(emb, qs, "embedding", "vec_id", metric="COSINE", k=1000)


# --- search pagination offset -------------------------------------------------
@register(
    "vec_search_offset",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("COSINE")}
    SELECT qid, vec_id, score, rank FROM ranked WHERE rank > 10 AND rank <= 20
    """,
)
def vec_search_offset(spark: SparkSession, sf: str) -> DataFrame:
    """Search pagination (offset in QueryInfo, SURVEY §2.5): fetch
    offset+limit candidates, emit ranks (offset, offset+limit] — the page-2
    slice. Oracle pins that rank numbering continues across pages."""
    emb, qs = _load_queries(spark, sf)
    hits = brute_force_search(emb, qs, "embedding", "vec_id", metric="COSINE", k=20)
    return hits.filter(F.col("rank") > 10)


# --- decay rerank variants: linear and exp (decay_expr.go:81-100) -------------
def _decay_query(function: str):
    def q(spark: SparkSession, sf: str) -> DataFrame:
        emb, qs = _load_queries(spark, sf)
        topk = brute_force_search(emb, qs, "embedding", "vec_id", metric="COSINE", k=50)
        decayed = topk.select(
            "qid",
            "vec_id",
            F.round(
                F.col("score")
                * decay_factor(
                    F.col("vec_id").cast("double"),
                    function=function, origin=0.0, scale=400.0, offset=10.0, decay=0.5,
                ),
                4,
            ).alias("score"),
        )
        w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
        return (
            decayed.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 10)
        )

    return q


_DECAY_SQL = {
    # adjusted = greatest(0, |vec_id - 0| - 10); same trees as decay_factor
    "linear": "greatest(0.5, 1.0 - ((1.0 - 0.5) / 400.0) * greatest(0.0, abs(CAST(vec_id AS DOUBLE)) - 10.0))",
    "exp": "exp((ln(0.5) / 400.0) * greatest(0.0, abs(CAST(vec_id AS DOUBLE)) - 10.0))",
}

for _fn in ("linear", "exp"):
    register(
        f"vec_decay_{_fn}",
        oracle=f"""
        WITH {_Q}, {_ranked_cte("COSINE")},
        topk AS (SELECT * FROM ranked WHERE rank <= 50),
        decayed AS (
          SELECT qid, vec_id, round(score * {_DECAY_SQL[_fn]}, 4) AS score
          FROM topk
        )
        SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank
        FROM (
          SELECT qid, vec_id, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
          FROM decayed
        ) WHERE rank <= 10
        """,
    )(_decay_query(_fn))


# --- search aggregation: faceted buckets over ANN hits -------------------------
@register(
    "vec_search_agg_buckets",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("COSINE")},
    hits AS (
      SELECT r.qid, r.vec_id, r.score, e.label
      FROM ranked r JOIN embeddings e ON r.vec_id = e.vec_id
      WHERE r.rank <= 50
    ),
    buckets AS (
      SELECT qid, label,
             CAST(count(*) AS BIGINT) AS count,
             round(avg(score), 4) AS avg_score,
             max(score) AS max_score
      FROM hits GROUP BY qid, label
    )
    SELECT qid, label, count, avg_score, max_score FROM (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY count DESC, label) AS rk
      FROM buckets
    ) WHERE rk <= 3
    """,
)
def vec_search_agg_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Search aggregation (SearchAggregation,
    internal/proxy/search_pipeline.go:813, search_agg computer;
    test_milvus_client_search_aggregation.py): ANN top-50 hits bucketed by
    ``label``, per bucket count + avg/max score, the 3 largest buckets per
    query survive. The facet step runs over the already-reduced hit set
    (≤ nq·50 rows) — it never touches the corpus again."""
    from milvus_spark.operators.search_agg import aggregate_search_hits

    emb, qs = _load_queries(spark, sf)
    res = brute_force_search(emb, qs, "embedding", "vec_id", metric="COSINE", k=50)
    hits = res.join(emb.select("vec_id", "label"), "vec_id")
    return aggregate_search_hits(
        hits, ["label"], size=3,
        metrics={"avg_score": {"avg": "score"}, "max_score": {"max": "score"}},
    ).select("qid", "label", "count", "avg_score", "max_score")


@register(
    "vec_search_agg_nested",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("COSINE")},
    hits AS (
      SELECT r.qid, r.vec_id, r.score, e.label, CAST(r.vec_id % 3 AS BIGINT) AS b2
      FROM ranked r JOIN embeddings e ON r.vec_id = e.vec_id
      WHERE r.rank <= 50
    ),
    leaf AS (
      SELECT qid, label, b2, CAST(count(*) AS BIGINT) AS count
      FROM hits GROUP BY qid, label, b2
    ),
    l1 AS (SELECT qid, label, sum(count) AS n FROM leaf GROUP BY qid, label),
    k1 AS (
      SELECT qid, label FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY n DESC, label) AS rk FROM l1
      ) WHERE rk <= 2
    ),
    kept AS (SELECT leaf.* FROM leaf JOIN k1 USING (qid, label))
    SELECT qid, label, b2, count FROM (
      SELECT *, row_number() OVER (PARTITION BY qid, label ORDER BY count DESC, b2) AS rk
      FROM kept
    ) WHERE rk <= 2
    """,
)
def vec_search_agg_nested(spark: SparkSession, sf: str) -> DataFrame:
    """Nested search aggregation (sub_groups,
    test_milvus_client_search_aggregation.py four-level cases): two group
    levels — per query the 2 largest label buckets survive, and within
    each, the 2 largest sub-buckets. Pruning at level k ranks by total
    count within the level-(k-1) parent, the reference's nesting rule."""
    from milvus_spark.operators.search_agg import aggregate_search_hits

    emb, qs = _load_queries(spark, sf)
    res = brute_force_search(emb, qs, "embedding", "vec_id", metric="COSINE", k=50)
    hits = res.join(emb.select("vec_id", "label"), "vec_id").withColumn(
        "b2", (F.col("vec_id") % 3).cast("long")
    )
    return aggregate_search_hits(hits, ["label", "b2"], size=2).select(
        "qid", "label", "b2", "count"
    )


# --- kNN classification over the label column ---------------------------------
@register(
    "vec_knn_classify",
    oracle=f"""
    WITH {_Q}, {_ranked_cte("COSINE", where="e.vec_id <> q.qid")},
    hits AS (SELECT qid, vec_id FROM ranked WHERE rank <= 10),
    lab AS (
      SELECT h.qid, e.label, count(*) AS votes
      FROM hits h JOIN embeddings e USING (vec_id)
      GROUP BY 1, 2
    ),
    best AS (
      SELECT qid, label, votes,
             row_number() OVER (PARTITION BY qid
                                ORDER BY votes DESC, label ASC) AS rn
      FROM lab
    )
    SELECT qid, label AS pred_label, CAST(votes AS BIGINT) AS votes
    FROM best WHERE rn = 1
    """,
)
def vec_knn_classify(spark: SparkSession, sf: str) -> DataFrame:
    """kNN classification: majority label among the 10 nearest non-self
    neighbors (ties to the smallest label) — the similarity-search
    application layer. Fetch k+1 so dropping the self hit still leaves the
    exact non-self top-10 (any true non-self top-10 member is within the
    overall top-11); the re-rank window runs over ≤11 rows per query."""
    emb, qs = _load_queries(spark, sf)
    hits = brute_force_search(emb, qs, "embedding", "vec_id", metric="COSINE", k=11)
    nonself = hits.filter(F.col("vec_id") != F.col("qid"))
    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    top = nonself.withColumn("rr", F.row_number().over(w)).filter(F.col("rr") <= 10)
    # broadcast the nq*10 hit list against the corpus label column (2-col
    # pruned scan, no shuffle) — NOT the other way around: the label frame
    # is sf-proportional and broadcasting it OOMs at warehouse scale (r7,
    # caught by the registry hint audit)
    lab = (
        emb.select("vec_id", "label")
        .join(F.broadcast(top.select("qid", "vec_id")), "vec_id")
        .groupBy("qid", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = W.partitionBy("qid").orderBy(F.col("votes").desc(), F.col("label").asc())
    return (
        lab.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("pred_label"), "votes")
    )
