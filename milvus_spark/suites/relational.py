"""Milvus ``query()`` surface on the TPC-H-ish tables.

Covers SURVEY.md §2.2 (filter expression variants), §2.4 (group-by
aggregation sum/count/avg/min/max), §2.5 (order-by with null placement,
limit/offset, query-iterator cursor) — each query demonstrates one operator
family and has an exact DuckDB oracle.

Reference parity notes (file:line into /root/reference):
  - UnaryRangeExpr / TermExpr / BinaryRangeExpr: pkg/proto/plan.proto:132,140,161
  - CompareExpr (column vs column): internal/core/src/exec/expression/CompareExpr.cpp
  - BinaryArithOpEvalRangeExpr: .../BinaryArithOpEvalRangeExpr.cpp
  - NullExpr 3VL: .../NullExpr.cpp; JSON path: ColumnInfo.nested_path plan.proto:110
  - Aggregation partial/final: internal/agg/aggregate.go:59, AggregationNode.cpp
  - OrderByNode nulls first/last: internal/core/src/exec/operator/QueryOrderByNode.cpp
  - Query iterator cursor: plan.proto:377-381 (QueryIteratorCursor)
  - RandomSampleExpr: exec/operator/RandomSampleNode.cpp (made deterministic here
    via md5(pk) so the result is reproducible and oracle-checkable at any scale)
  - Requery-by-pk after top-k: internal/proxy/task_search.go:53-63,262

Scale notes: every filter here is a plain Column predicate → parquet
pushdown; aggregations are partial+final hash agg (map-side combine) by
Catalyst; the requery join broadcasts the small side explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from milvus_spark.registry import register
from milvus_spark.scratch import mkdtemp as scratch_mkdtemp
from milvus_spark.session import load_table


# --- scan + filter: UnaryRangeExpr (>) AND TermExpr (IN) --------------------
@register(
    "rel_filter_range_in",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag IN ('A', 'R')
    """,
)
def rel_filter_range_in(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.filter((F.col("l_quantity") > 45) & F.col("l_returnflag").isin("A", "R")).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


# --- BinaryRangeExpr: 10 <= x < 20 ------------------------------------------
@register(
    "rel_between",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_quantity >= 10 AND l_quantity < 20 AND l_discount >= 0.05
    """,
)
def rel_between(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 10) & (F.col("l_quantity") < 20) & (F.col("l_discount") >= 0.05)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


# --- CompareExpr: column vs column ------------------------------------------
@register(
    "rel_compare_columns",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_discount - l_tax, 4) AS disc_minus_tax
    FROM lineitem WHERE l_discount > l_tax
    """,
)
def rel_compare_columns(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.filter(F.col("l_discount") > F.col("l_tax")).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_discount") - F.col("l_tax"), 4).alias("disc_minus_tax"),
    )


# --- BinaryArithOpEvalRangeExpr: (a + 5) % 2 == 0, a * b > c -----------------
@register(
    "rel_arith_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber
    FROM lineitem
    WHERE (CAST(l_quantity AS BIGINT) + 5) % 7 = 0
      AND l_extendedprice * (1 - l_discount) > 30000
    """,
)
def rel_arith_filter(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        ((F.col("l_quantity").cast("long") + 5) % 7 == 0)
        & (F.col("l_extendedprice") * (1 - F.col("l_discount")) > 30000)
    ).select("l_orderkey", "l_linenumber")


# --- LIKE prefix/inner match (pattern_match.go rewrites; Catalyst native) ----
@register(
    "rel_like_match",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_name LIKE 'small%' OR p_name LIKE '%bolt%'
    """,
)
def rel_like_match(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    return part.filter(F.col("p_name").like("small%") | F.col("p_name").like("%bolt%")).select(
        "p_partkey", "p_name", "p_brand"
    )


# --- regex match (=~ operator, OpType RegexMatch plan.proto:16) --------------
@register(
    "rel_regex_match",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE regexp_matches(p_name, '^(red|blue|hot).*(bolt|gear|widget)$')
    """,
)
def rel_regex_match(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    return part.filter(F.col("p_name").rlike("^(red|blue|hot).*(bolt|gear|widget)$")).select(
        "p_partkey", "p_name", "p_type"
    )


# --- NullExpr + three-valued logic -------------------------------------------
# The TPC-H tables are null-free, so nulls are introduced by nullif() —
# identically on both sides — then filtered with IS NULL / IS NOT NULL under
# NOT, exercising UNKNOWN propagation (coverage_matrix.md FILTER-NULL rows).
@register(
    "rel_null_3vl",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             nullif(o_orderstatus, 'O') AS st,
             nullif(o_totalprice, 0.0) AS tp
      FROM orders
    )
    SELECT o_orderkey, st
    FROM t
    WHERE st IS NULL OR NOT (st = 'F' AND tp > 100000)
    """,
)
def rel_null_3vl(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    t = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("st"),
        F.nullif(F.col("o_totalprice"), F.lit(0.0)).alias("tp"),
    )
    return t.filter(F.col("st").isNull() | ~((F.col("st") == "F") & (F.col("tp") > 100000))).select(
        "o_orderkey", "st"
    )


# --- group-by aggregation: count/sum/avg/min/max (TPC-H Q1 shape) ------------
@register(
    "rel_agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(min(l_discount), 4) AS min_disc,
           round(max(l_tax), 4) AS max_tax
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rel_agg_group(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.min("l_discount"), 4).alias("min_disc"),
            F.round(F.max("l_tax"), 4).alias("max_tax"),
        )
    )


# --- count(*) fast path (QueryPlanNode.is_count plan.proto:369) ---------------
@register(
    "rel_count_star",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS cnt
    FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 50000
    """,
)
def rel_count_star(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    return (
        o.filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 50000))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --- order by (multi-field, nulls last) + limit ------------------------------
@register(
    "rel_orderby_nulls",
    oracle="""
    WITH t AS (
      SELECT c_custkey, c_name, nullif(c_acctbal, 0.0) AS bal, c_mktsegment
      FROM customer
    )
    SELECT c_custkey, c_name, bal
    FROM t
    ORDER BY bal DESC NULLS LAST, c_custkey ASC
    LIMIT 50
    """,
)
def rel_orderby_nulls(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    t = c.select(
        "c_custkey", "c_name", F.nullif(F.col("c_acctbal"), F.lit(0.0)).alias("bal")
    )
    return t.orderBy(F.col("bal").desc_nulls_last(), F.col("c_custkey").asc()).limit(50)


# --- limit/offset pagination --------------------------------------------------
@register(
    "rel_limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
)
def rel_limit_offset(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    # offset via deterministic order + offset(); Spark 4 has DataFrame.offset.
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .offset(40)
        .limit(20)
    )


# --- query iterator: pk-ordered cursor page (plan.proto:377-381) --------------
@register(
    "rel_query_iterator_page",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey > 500 AND o_orderstatus = 'O'
    ORDER BY o_orderkey
    LIMIT 100
    """,
)
def rel_query_iterator_page(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    return (
        o.filter((F.col("o_orderkey") > 500) & (F.col("o_orderstatus") == "O"))
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


# --- deterministic random_sample (RandomSampleNode.cpp, made reproducible) ----
# Hash-based Bernoulli sample: keep row iff md5(pk) (hex) sorts below the
# fraction threshold. Deterministic, partition-independent, oracle-exact, and
# at 100 TB it's a pure map-side filter (no RNG state, no shuffle).
@register(
    "rel_random_sample",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '1000'
    """,
)
def rel_random_sample(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4) < "1000"
    ).select("o_orderkey", "o_totalprice")


# --- JSON path access + typed compare (dynamic field $meta semantics) ---------
@register(
    "rel_json_path",
    oracle="""
    SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
      AND event_type IN ('click', 'view')
    """,
)
def rel_json_path(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.filter((k > 50) & F.col("event_type").isin("click", "view")).select(
        "event_id", "user_id", k.alias("k_val")
    )


# --- JSON key existence (ExistsExpr plan.proto:123) ---------------------------
@register(
    "rel_json_exists",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_with_k,
           CAST(sum(CASE WHEN json_extract_string(props, '$.missing') IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_missing
    FROM events
    """,
)
def rel_json_exists(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    has_k = F.get_json_object(F.col("props"), "$.k").isNotNull()
    has_m = F.get_json_object(F.col("props"), "$.missing").isNotNull()
    return e.agg(
        F.sum(F.when(has_k, 1).otherwise(0)).alias("n_with_k"),
        F.sum(F.when(has_m, 1).otherwise(0)).alias("n_with_missing"),
    )


# --- requery-by-pk after top-k (task_search.go:53-63) -------------------------
# Top 30 orders by price, then wide output fields fetched via a second join
# on the pk — the small top-k side is broadcast (no shuffle of customer).
@register(
    "rel_requery_join",
    oracle="""
    WITH topk AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 30
    )
    SELECT t.o_orderkey, t.o_totalprice, c.c_name, c.c_mktsegment
    FROM topk t JOIN customer c ON t.o_custkey = c.c_custkey
    """,
)
def rel_requery_join(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    topk = o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(30)
    return (
        F.broadcast(topk)
        .join(c, topk.o_custkey == c.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


# --- registered scalar fns: empty(varchar), starts_with (CallExpr) ------------
@register(
    "rel_call_fns",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE NOT (s_name = '') AND starts_with(s_name, 'Supplier')
    """,
)
def rel_call_fns(spark: SparkSession, sf: str) -> DataFrame:
    s = load_table(spark, sf, "supplier")
    return s.filter(
        ~(F.col("s_name") == "") & F.col("s_name").startswith("Supplier")
    ).select("s_suppkey", "s_name")


# --- timestamptz interval arithmetic compare (plan.proto:298) ------------------
@register(
    "rel_ts_interval",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
    FROM events
    WHERE CAST(ts AS TIMESTAMP) + INTERVAL 10 DAY > TIMESTAMP '2024-01-25'
      AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-20'
    """,
)
def rel_ts_interval(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    return e.filter(
        (F.col("ts") + F.expr("INTERVAL 10 DAY") > F.lit("2024-01-25").cast("timestamp"))
        & (F.col("ts") <= F.lit("2024-01-20").cast("timestamp"))
    ).select("event_id", "ts")


# --- TTL filter injection (MvccNode TTL, PlanProto.cpp:747-756) ----------------
# Rows expire ttl seconds after their insert timestamp; reads filter
# now < ts + ttl. "now" is pinned for reproducibility.
@register(
    "rel_ttl_filter",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
    FROM events
    WHERE CAST(ts AS TIMESTAMP) + INTERVAL 5 DAY > TIMESTAMP '2024-01-31'
    """,
)
def rel_ttl_filter(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    now = F.lit("2024-01-31").cast("timestamp")
    return e.filter(F.col("ts") + F.expr("INTERVAL 5 DAY") > now).select("event_id", "ts")


# --- analyzer with stopword filter (multi-filter pipeline) ---------------------
# standard tokenizer → lowercase → stopword removal (internal/util/analyzer/,
# filters stop/lowercase; tests test_milvus_client_analyzer.py)
@register(
    "rel_analyzer_stop",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '' AND NOT list_contains(['the', 'a', 'of', 'and', 'to', 'in', 'is'], x)) AS toks
      FROM documents
    )
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks[1] AS first_tok
    FROM t WHERE len(toks) > 0
    """,
)
def rel_analyzer_stop(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents")
    stop = ["the", "a", "of", "and", "to", "in", "is"]
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda x: (x != "") & ~x.isin(stop),
    )
    t = d.select("doc_id", toks.alias("toks"))
    return t.filter(F.size("toks") > 0).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.element_at("toks", 1).alias("first_tok"),
    )


# --- join pipeline (Spark-native extension; Milvus is single-table) -----------
# TPC-H Q3 shape: dimension filters → fact join → grouped agg → top-k.
# Scale posture: customer filter prunes before the join; both joins shuffle on
# the fact keys with AQE; the final top-k is TakeOrdered, not a full sort.
@register(
    "rel_join_topk_revenue",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_custkey AS BIGINT) AS o_custkey
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus <> 'F'
    GROUP BY l.l_orderkey, o.o_custkey
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def rel_join_topk_revenue(spark: SparkSession, sf: str) -> DataFrame:
    # NO broadcast hint on customer: it scales with sf (a forced hint
    # overrides AQE's size check and OOMs the build side at warehouse
    # scale). AQE broadcasts it at runtime when the filtered side is
    # actually small — the same r6 fix the star join got, generalized by
    # the registry-wide hint sweep (scripts/plan_sweep.py).
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") != "F")
    li = load_table(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_custkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(20)
        .select("l_orderkey", "revenue", "o_custkey")
    )


# --- beyond-reference aggregates (SURVEY §2.4: Milvus lacks these; Spark-native)
@register(
    "rel_agg_distinct_percentile",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def rel_agg_distinct_percentile(spark: SparkSession, sf: str) -> DataFrame:
    """count(DISTINCT) + exact interpolated percentiles — not in the reference
    (no distinct-agg / median / percentile, internal/agg/aggregate.go:59);
    Spark supplies them natively (partial+final with distinct rewrite)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
    )


# --- JSON flat ("shredded") index: typed path column with parquet pushdown ----
@register(
    "rel_json_flat_index",
    oracle="""
    SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
      AND event_type = 'click'
    """,
)
def rel_json_flat_index(spark: SparkSession, sf: str) -> DataFrame:
    """JSON path index analog (JsonFlatIndex.cpp; json-stats shredding,
    index zoo index_type.go:30-40): the JSON path is parsed ONCE at index
    build into a typed parquet column, so the query-time predicate is a
    plain pushed scan filter (min/max row-group pruning + PushedFilters)
    instead of a per-row JSON parse. The flat table carries (pk, typed path
    value); hits semi-join back to the base table — broadcast, candidates
    are small. Result must equal the direct json_extract scan (the oracle).
    """
    import os
    import shutil
    import tempfile

    root = scratch_mkdtemp("jsonflat_")
    shutil.rmtree(root)
    e = load_table(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    # index build: shred $.k to a typed column (sorted by k → row-group stats)
    e.select("event_id", k.alias("k_val")).sort("k_val").write.parquet(root)
    flat = spark.read.parquet(root)
    cands = flat.filter(F.col("k_val") > 90)
    return (
        e.join(F.broadcast(cands), "event_id")
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "k_val")
    )


# --- skew-safe exact distinct count (salted two-stage) ------------------------
@register(
    "rel_skew_salted_distinct",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def rel_skew_salted_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Exact count(DISTINCT) per key via salted two-stage aggregation
    (operators/skew.py): per-task dedup state for a hot key is bounded by
    1/buckets of its distinct set. Result must equal the plain distinct
    count (the oracle)."""
    from milvus_spark.operators.skew import salted_distinct_count

    e = load_table(spark, sf, "events")
    return salted_distinct_count(e, "event_type", "user_id", buckets=16)


# --- template variables (server-side placeholder fill) ------------------------
@register(
    "rel_template_params",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 250000 AND o_orderkey % 3 = 1
    """,
)
def rel_template_params(spark: SparkSession, sf: str) -> DataFrame:
    """Template-variable expressions ({placeholder} filled server-side:
    plan.proto:341 is_template, planparserv2/fill_expression_value.go): the
    filter string is compiled once with placeholders and bound with a params
    dict at execution — no string interpolation of user values."""
    from milvus_spark.plans.expr import compile_expr

    o = load_table(spark, sf, "orders")
    cond = compile_expr(
        'o_orderstatus == {status} && o_totalprice > {floor} && o_orderkey % 3 == {m}',
        o.schema,
        params={"status": "O", "floor": 250000, "m": 1},
    )
    return o.filter(cond).select("o_orderkey", "o_totalprice")


# --- bloom_match: client-supplied bloom membership (plan.proto:306) ------------
@register(
    "rel_bloom_match",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (7, 14, 21, 28, 35, 42, 49, 56, 63, 70, 77, 84, 91, 98, 105, 112, 119, 126, 133, 140, 147, 154, 161, 168, 175, 182, 189, 196, 203, 210, 217, 224, 231, 238, 245, 252, 259, 266, 273, 280, 287, 294, 301, 308, 315, 322, 329, 336, 343, 350, 357, 364, 371, 378, 385, 392, 399, 406, 413, 420, 427, 434, 441, 448, 455, 462, 469, 476, 483, 490, 497, 504, 511, 518, 525, 532, 539, 546, 553, 560, 567, 574, 581, 588, 595, 602, 609, 616, 623, 630, 637, 644, 651, 658, 665, 672, 679, 686, 693) AND o_orderstatus = 'O'
    """,
)
def rel_bloom_match(spark: SparkSession, sf: str) -> DataFrame:
    """bloom_match(field, blob) filter (BloomFilterExpr plan.proto:306;
    planparserv2/bloom_match.go; exec BloomFilterExpr.cpp). Semantically a
    big-set membership test; the expr compiler lowers the key set to isin —
    at cluster scale the same predicate lands on parquet pk bloom filters
    (written by compaction) so row groups without any key are skipped."""
    from milvus_spark.plans.expr import compile_expr

    o = load_table(spark, sf, "orders")
    keys = list(range(7, 700, 7))
    cond = compile_expr(
        f'bloom_match(o_custkey, {keys}) && o_orderstatus == "O"', o.schema
    )
    return o.filter(cond).select("o_orderkey", "o_custkey")


# --- dynamic field ($meta): undeclared identifiers resolve into JSON -----------
@register(
    "rel_dynamic_field",
    oracle="""
    WITH packed AS (
      SELECT doc_id, text,
             to_json(struct_pack(lang := lang, source := source, n_chars := n_chars)) AS meta
      FROM documents
    )
    SELECT doc_id,
           json_extract_string(meta, '$.lang') AS lang,
           CAST(CAST(json_extract_string(meta, '$.n_chars') AS DOUBLE) AS BIGINT) AS n_chars
    FROM packed
    WHERE CAST(json_extract_string(meta, '$.n_chars') AS DOUBLE) > 500
      AND json_extract_string(meta, '$.lang') = 'en'
      AND json_extract_string(meta, '$.source') != 'web'
    """,
)
def rel_dynamic_field(spark: SparkSession, sf: str) -> DataFrame:
    """enable_dynamic_field semantics (chap02_schema.md; proxy meta_cache
    dynamic-field fill): lang/source/n_chars are packed into the hidden
    $meta JSON column, the declared schema is (doc_id, text), and the filter
    references the undeclared names directly — the expr compiler resolves
    them to typed get_json_object probes on $meta. Both engines filter the
    packed JSON, not the raw columns, so the dynamic path itself is what's
    hash-checked."""
    from milvus_spark.plans.expr import compile_expr

    d = load_table(spark, sf, "documents")
    packed = d.select(
        "doc_id", "text",
        F.to_json(F.struct("lang", "source", "n_chars")).alias("$meta"),
    )
    cond = compile_expr(
        'n_chars > 500 and lang == "en" and source != "web"',
        packed.schema,
        dynamic_field="$meta",
    )
    return packed.filter(cond).select(
        "doc_id",
        F.get_json_object(F.col("$meta"), "$.lang").alias("lang"),
        F.get_json_object(F.col("$meta"), "$.n_chars").cast("double").cast("long").alias("n_chars"),
    )


# --- mixed-type JSON IN canonicalization (typed buckets) -----------------------
@register(
    "rel_json_mixed_type_in",
    oracle="""
    WITH j AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN '{"v": ' || CAST(doc_id % 5 AS VARCHAR) || '}'
               WHEN 1 THEN '{"v": "' || CAST(doc_id % 5 AS VARCHAR) || '"}'
               WHEN 2 THEN '{"v": ' || (CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END) || '}'
               ELSE '{}' END AS js
      FROM documents
    )
    SELECT doc_id,
           ((json_type(js, '$.v') IN ('BIGINT', 'UBIGINT', 'DOUBLE')
               AND TRY_CAST(json_extract_string(js, '$.v') AS DOUBLE) IN (1.0, 2.0))
            OR (json_type(js, '$.v') = 'VARCHAR' AND json_extract_string(js, '$.v') IN ('2'))
            OR (json_type(js, '$.v') = 'BOOLEAN'
               AND TRY_CAST(json_extract_string(js, '$.v') AS BOOLEAN) = true)) AS in_hit,
           (json_type(js, '$.v') = 'BOOLEAN'
               AND TRY_CAST(json_extract_string(js, '$.v') AS BOOLEAN) = true) AS eq_true
    FROM j
    """,
)
def rel_json_mixed_type_in(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-type JSON IN canonicalization (issues #51489/#51567;
    coverage_matrix.md FILTER-REG-51489-MIXED-JSON-IN / 51567-BOOL-IN
    rows): literals bucket by stored JSON type — number 2 matches literal
    2 but never "2" or true; string "2" matches only "2"; bool true only
    true. Implemented via VariantType (parse once, schema_of_variant type
    dispatch) because get_json_object erases the stored type. The oracle
    replays the same bucketing with DuckDB's json_type. Rows carry all
    four JSON shapes (number / string / bool / missing key) so every
    bucket and the 3VL missing-key path have witnesses."""
    from milvus_spark.plans.expr import compile_expr

    d = load_table(spark, sf, "documents")
    n = (F.col("doc_id") % 5).cast("string")
    js = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit('{"v": '), n, F.lit("}")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit('{"v": "'), n, F.lit('"}')))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit('{"v": '),
                F.when(F.col("doc_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
                F.lit("}"),
            ),
        )
        .otherwise(F.lit("{}"))
    )
    t = d.select("doc_id", js.alias("js"))
    in_hit = compile_expr('js["v"] in [1, 2, "2", true]', t.schema)
    eq_true = compile_expr('js["v"] == true', t.schema)
    return t.select("doc_id", in_hit.alias("in_hit"), eq_true.alias("eq_true"))


# --- timestamptz language surface: iso / interval literals --------------------
@register(
    "rel_tstz_language",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
    FROM events
    WHERE CAST(ts AS TIMESTAMP) + INTERVAL 1 MONTH + INTERVAL 10 DAY
            > TIMESTAMP '2024-02-25'
      AND TIMESTAMP '2024-01-20 12:00:00' >= CAST(ts AS TIMESTAMP)
    """,
)
def rel_tstz_language(spark: SparkSession, sf: str) -> DataFrame:
    """TimestamptzCompareForward/Reverse FROM THE FILTER STRING
    (Plan.g4:4-5: ``col ± interval '<ISO-8601>' <op> iso '<ts>'`` and the
    reversed operand order; parseISODuration utils.go:981, micros
    semantics timestamptz.go:117-124). Calendar-aware month arithmetic via
    make_interval — identical plan to the DataFrame-API rel_ts_interval,
    so the language adds zero execution cost."""
    from milvus_spark.plans.expr import compile_expr

    e = load_table(spark, sf, "events")
    cond = compile_expr(
        'ts + interval "P1M10D" > iso "2024-02-25T00:00:00Z"'
        ' and iso "2024-01-20 12:00:00" >= ts',
        e.schema,
    )
    return e.filter(cond).select("event_id", "ts")


# --- pivot report: order revenue by year x market segment ---------------------
@register(
    "rel_pivot_report",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
           round(sum(CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN o.o_totalprice END), 2) + 0 AS automobile,
           round(sum(CASE WHEN c.c_mktsegment = 'BUILDING'   THEN o.o_totalprice END), 2) + 0 AS building,
           round(sum(CASE WHEN c.c_mktsegment = 'MACHINERY'  THEN o.o_totalprice END), 2) + 0 AS machinery
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def rel_pivot_report(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT: revenue matrix year × market segment — the cross-tab report
    every analytics engine owes its users (beyond the reference's surface,
    like the funnel/cohort ops). Spark's relational pivot compiles to the
    same conditional partial aggregation the oracle spells out — one
    map-side-combined shuffle on the year key, segments as columns, no
    second pass."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "MACHINERY"]
    out = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.year("o_orderdate").cast("long").alias("yr"), "c_mktsegment", "o_totalprice")
        .groupBy("yr")
        .pivot("c_mktsegment", segs)
        .agg(F.round(F.sum("o_totalprice"), 2) + F.lit(0.0))
    )
    return out.select(
        "yr",
        F.col(segs[0]).alias("automobile"),
        F.col(segs[1]).alias("building"),
        F.col(segs[2]).alias("machinery"),
    )


# --- rollup: revenue totals at (year, segment), (year), and grand level -------
@register(
    "rel_rollup_revenue",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr, c.c_mktsegment AS seg,
           round(sum(o.o_totalprice), 2) + 0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY GROUPING SETS ((1, 2), (1), ())
    """,
)
def rel_rollup_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP over (year, segment): detail rows, per-year subtotals, and
    the grand total in ONE pass (Spark Expand + partial agg — the rollup
    never rescans the fact table per level, which is what makes it viable
    at 100 TB; super-aggregate rows carry NULL keys, matching the
    GROUPING SETS oracle exactly)."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.col("c_mktsegment").alias("seg"),
            "o_totalprice",
        )
        .rollup("yr", "seg")
        .agg(
            (F.round(F.sum("o_totalprice"), 2) + F.lit(0.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --- semi / anti joins: EXISTS and NOT EXISTS ---------------------------------
@register(
    "rel_semi_anti_join",
    oracle="""
    SELECT c.c_custkey,
           EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
             AS has_big_order
    FROM customer c
    WHERE c.c_custkey % 13 = 0
    """,
)
def rel_semi_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """EXISTS / NOT EXISTS as LEFT SEMI + LEFT ANTI joins — Spark's
    dedicated join types: no row multiplication from the many-side, the
    probe side never materializes matched rows (the plan stops at first
    match per key). One equi-shuffle; the big-order filter pushes below
    the join."""
    c = load_table(spark, sf, "customer").filter(F.col("c_custkey") % 13 == 0)
    big = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 150000)
    semi = c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", F.lit(True).alias("has_big_order")
    )
    anti = c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", F.lit(False).alias("has_big_order")
    )
    return semi.unionByName(anti)


# --- set operations: INTERSECT / EXCEPT ---------------------------------------
@register(
    "rel_intersect_except",
    oracle="""
    WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    in_both AS (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers),
    only_click AS (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
    SELECT user_id, 'both' AS cohort FROM in_both
    UNION ALL
    SELECT user_id, 'click_only' AS cohort FROM only_click
    """,
)
def rel_intersect_except(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT / EXCEPT set semantics (distinct both sides) — compiled to
    Spark's LeftSemi/LeftAnti over aggregated inputs; one shuffle per set
    op on the user key, no row multiplication."""
    e = load_table(spark, sf, "events")
    clickers = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    both = clickers.intersect(buyers).withColumn("cohort", F.lit("both"))
    only = clickers.exceptAll(buyers).withColumn("cohort", F.lit("click_only"))
    return both.unionByName(only)


# --- statistical aggregates: correlation / covariance / stddev ----------------
@register(
    "rel_corr_stats",
    oracle="""
    SELECT c.c_mktsegment AS seg,
           CAST(count(*) AS BIGINT) AS n,
           round(corr(o.o_totalprice, c.c_acctbal), 4) + 0 AS price_bal_corr,
           round(covar_samp(o.o_totalprice, c.c_acctbal), 2) + 0 AS price_bal_cov,
           round(stddev_samp(o.o_totalprice), 2) + 0 AS price_sd
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def rel_corr_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical aggregates per segment: Pearson correlation, sample
    covariance, sample stddev — one map-side-combined pass (all three are
    algebraic: sums/sums-of-squares/cross-products merge associatively, so
    they scale exactly like count/sum)."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.corr("o_totalprice", "c_acctbal"), 4) + F.lit(0.0)).alias("price_bal_corr"),
            (F.round(F.covar_samp("o_totalprice", "c_acctbal"), 2) + F.lit(0.0)).alias("price_bal_cov"),
            (F.round(F.stddev_samp("o_totalprice"), 2) + F.lit(0.0)).alias("price_sd"),
        )
    )


# --- value histogram: fixed-width buckets -------------------------------------
@register(
    "rel_price_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / 25000) * 25000 AS DOUBLE) + 0 AS lo,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(o_totalprice), 2) + 0 AS mean_in_bucket
    FROM orders
    GROUP BY 1, 2
    """,
)
def rel_price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width value histogram (the profiling readout behind every
    quality dashboard): bucket = floor(x/width), one map-side-combined
    aggregate — histogramming 100 TB costs exactly one scan + a
    bucket-keyed reduce."""
    o = load_table(spark, sf, "orders")
    b = F.floor(F.col("o_totalprice") / 25000)
    return (
        o.groupBy(
            b.cast("long").alias("bucket"),
            ((b * 25000).cast("double") + F.lit(0.0)).alias("lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.avg("o_totalprice"), 2) + F.lit(0.0)).alias("mean_in_bucket"),
        )
    )


# --- 5-table star join: revenue by nation (TPC-H Q5 shape) --------------------
@register(
    "rel_nation_revenue_join",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) + 0 AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def rel_nation_revenue_join(spark: SparkSession, sf: str) -> DataFrame:
    """The TPC-H Q5 join shape: region→nation→customer→orders→lineitem
    revenue rollup. Declared as plain joins. Only the constant-size dims
    (region: 5 rows, nation: 25 rows) carry broadcast hints; customer
    grows with sf (150k rows × sf in TPC-H), so its join strategy is left
    to AQE's runtime size check — at small sf AQE broadcasts it anyway, at
    warehouse scale it becomes a shuffle join instead of a forced
    multi-GB broadcast that OOMs executors. Catalyst reorders around the
    fact table and pushes the region filter below the join, so the only
    corpus-sized shuffle is the final nation-keyed aggregate. The query a
    warehouse migration tries first."""
    r = load_table(spark, sf, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.round(F.sum(rev), 2) + F.lit(0.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
