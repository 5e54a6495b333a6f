"""End-to-end client scenario mirroring the reference's
tests/python_client/milvus_client/test_milvus_client_e2e.py flow:
create → insert → search(filter) → query(agg) → upsert → delete → count."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from milvus_spark.scratch import mkdtemp
from milvus_spark.client import MilvusSparkClient


@pytest.fixture()
def client(spark):
    # plan assertions below look for an artifact's directory name in the
    # scan location, which Spark cuts at 100 characters by default, and the
    # scratch root's length depends on where the checkout lives
    cut = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    root = mkdtemp("msc_")
    yield MilvusSparkClient(spark, root)
    spark.conf.set("spark.sql.maxMetadataStringLength", cut)
    shutil.rmtree(root, ignore_errors=True)


def test_e2e(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("vecs", pk_field="vec_id", vector_field="embedding")
    assert client.list_collections() == ["vecs"]

    n = client.insert("vecs", emb)
    assert n == emb.count()
    assert client.count("vecs") == n

    # filtered search: results respect filter, are ranked, k bounded
    q = [r.embedding for r in emb.filter(F.col("vec_id") == 0).collect()]
    hits = client.search("vecs", data=q, limit=5, filter="label >= 2").collect()
    assert 0 < len(hits) <= 5
    labels = {r.label for r in spark.createDataFrame([(h.vec_id,) for h in hits], ["vec_id"]).join(emb, "vec_id").select("label").collect()}
    assert all(lb >= 2 for lb in labels)
    assert [h.rank for h in hits] == list(range(1, len(hits) + 1))

    # query with aggregation output fields
    agg = client.query("vecs", filter="label == 3", output_fields=["count(*)"]).collect()
    assert agg[0].count_all == emb.filter("label = 3").count()

    grouped = client.query("vecs", output_fields=["label", "count(*)"]).collect()
    assert {r.label: r.count_all for r in grouped} == {
        r.label: r.cnt for r in emb.groupBy("label").agg(F.count("*").alias("cnt")).collect()
    }

    # upsert: change label of vec_id 0, visible after
    row0 = emb.filter("vec_id = 0").withColumn("label", F.lit(99))
    client.upsert("vecs", row0)
    assert client.query("vecs", filter="vec_id == 0").collect()[0].label == 99
    assert client.count("vecs") == n  # no duplicate pk

    # simple + complex delete
    client.delete("vecs", ids=[0, 1])
    assert client.count("vecs") == n - 2
    before = client.count("vecs", filter="label == 4")
    client.delete("vecs", filter="label == 4")
    assert client.count("vecs", filter="label == 4") == 0
    assert client.count("vecs") == n - 2 - before

    # compaction preserves content
    pre = sorted(r.vec_id for r in client.query("vecs").select("vec_id").collect())
    client.compact("vecs")
    post = sorted(r.vec_id for r in client.query("vecs").select("vec_id").collect())
    assert pre == post

    # hybrid search fuses two sub-searches
    q2 = [r.embedding for r in emb.filter(F.col("vec_id") == 5).collect()]
    fused = client.hybrid_search(
        "vecs",
        reqs=[
            {"data": q2, "limit": 10, "metric_type": "COSINE"},
            {"data": q2, "limit": 10, "metric_type": "L2"},
        ],
        rerank="rrf",
        limit=5,
    ).collect()
    assert 0 < len(fused) <= 5 and fused[0].rank == 1

    client.drop_collection("vecs")
    assert client.list_collections() == []


def test_search_and_query_iterators(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("it", pk_field="vec_id", vector_field="embedding")
    client.insert("it", emb)
    q = [emb.filter(F.col("vec_id") == 0).collect()[0].embedding]

    pages = []
    for page in client.search_iterator("it", q, batch_size=5, max_pages=3):
        pages.append(page)
    assert len(pages) == 3
    all_ids = [r.vec_id for p in pages for r in p]
    assert len(all_ids) == len(set(all_ids)) == 15  # no dups across pages
    # pages are score-ordered: page1 worst >= page2 best (COSINE desc)
    assert min(r.score for r in pages[0]) >= max(r.score for r in pages[1]) - 1e-9

    total = emb.count()
    seen = 0
    last_pk = -1
    for rows in client.query_iterator("it", batch_size=64):
        assert rows[0].vec_id > last_pk
        last_pk = rows[-1].vec_id
        seen += len(rows)
    assert seen == total
    client.drop_collection("it")


def test_partition_key_collection(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection(
        "pkc", pk_field="vec_id", vector_field="embedding", partition_key_field="label"
    )
    client.insert("pkc", emb)
    assert client.count("pkc") == emb.count()
    # partition-key filter prunes the scan
    df = client.query("pkc", filter="label == 3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "label" in plan.split("PartitionFilters")[1][:200]
    assert df.count() == emb.filter("label = 3").count()
    client.drop_collection("pkc")


def test_schema_evolution_add_drop_field(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("nat", pk_field="n_nationkey")
    client.insert("nat", nation.limit(10))
    client.add_field("nat", "tier", default="bronze")
    # pre-evolution rows surface the default
    rows = client.query("nat", output_fields=["n_nationkey", "tier"]).collect()
    assert rows and all(r.tier == "bronze" for r in rows)
    # post-evolution insert carries real values, old rows keep the default
    batch = nation.limit(12).filter("n_nationkey >= 10").withColumn("tier", F.lit("gold"))
    client.insert("nat", batch)
    tiers = {r.n_nationkey: r.tier for r in client.query("nat", output_fields=["n_nationkey", "tier"]).collect()}
    assert "gold" in set(tiers.values()) and "bronze" in set(tiers.values())
    client.drop_field("nat", "tier")
    assert "tier" not in client.query("nat").columns
    with pytest.raises(ValueError):
        client.drop_field("nat", "n_nationkey")


def test_external_collection_read_only(client, spark, sf_dir):
    client.create_external_collection("ext", f"{sf_dir}/nation.parquet", pk_field="n_nationkey")
    assert client.count("ext", filter="n_regionkey == 1") > 0
    got = client.query("ext", filter="n_nationkey < 5", output_fields=["n_name"]).count()
    assert got == 5
    with pytest.raises(ValueError):
        client.insert("ext", spark.read.parquet(f"{sf_dir}/nation.parquet"))


def test_consistency_levels(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("cl", pk_field="n_nationkey")
    client.insert("cl", nation.limit(5))          # ts=1
    client.insert("cl", nation.filter("n_nationkey >= 5").limit(5))  # ts=2
    strong = client.query("cl", consistency_level="Strong").count()
    bounded = client.query("cl", consistency_level="Bounded").count()
    session = client.query("cl", consistency_level="Session").count()
    assert strong == 10 and session == 10
    assert bounded == 5  # one write-batch of tolerated staleness
    with pytest.raises(ValueError):
        client.query("cl", consistency_level="quantum")


def test_index_lifecycle(client, spark, sf_dir):
    """create_index / list / describe / drop; IVF-backed search recall;
    staleness fallback to exact scan after DML."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("vx", pk_field="vec_id", vector_field="embedding")
    client.insert("vx", emb)

    entry = client.create_index("vx", "embedding", "IVF_FLAT", {"nlist": 8})
    assert entry["materialized"] and entry["nlist"] == 8
    client.create_index("vx", "vec_id", "INVERTED")
    assert client.list_indexes("vx") == ["embedding__IVF_FLAT", "vec_id__INVERTED"]
    # scalar indexes materialize real posting tables as of r9
    assert client.describe_index("vx", "vec_id", "INVERTED")["materialized"] is True
    assert client.describe_index("vx", "vec_id", "INVERTED")["cur_epoch"] == 0

    q = [r.embedding for r in emb.filter(F.col("vec_id") < 2).collect()]
    # filtered searches ride the IVF layout too (r6): full probe + an
    # all-matching filter is exact ground truth THROUGH the filtered path
    exact = client.search(
        "vx", data=q, limit=10, filter="vec_id >= 0", search_params={"nprobe": 10**6}
    )
    approx = client.search("vx", data=q, limit=10, search_params={"nprobe": 6})
    exact_ids = {(r.qid, r.vec_id) for r in exact.collect()}
    approx_ids = {(r.qid, r.vec_id) for r in approx.collect()}
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.9, recall
    # a selective filter through the index returns only matching ids
    filt = client.search(
        "vx", data=q, limit=10, filter="vec_id % 2 == 0",
        search_params={"nprobe": 10**6},
    ).collect()
    assert len(filt) == 10 * len(q) and all(r.vec_id % 2 == 0 for r in filt)

    # DML after build → index stale → search falls back to the exact scan
    client.delete("vx", ids=[int(next(iter(exact_ids))[1])])
    post = client.search("vx", data=q, limit=10)
    deleted = next(iter(exact_ids))[1]
    assert all(r.vec_id != deleted for r in post.collect())

    client.drop_index("vx", "embedding", "IVF_FLAT")
    assert client.list_indexes("vx") == ["vec_id__INVERTED"]


def test_graph_index_family_api_parity(client, spark, sf_dir):
    """HNSW builds a REAL per-segment graph (operators/hnsw.py; searched by
    per-bucket beam + merge, the reference's per-segment fan-out,
    SearchOnIndex.cpp); DISKANN/SCANN are accepted (index_type.go:30-40)
    onto the partition-pruned IVF layout with search_list → probe width.
    FLAT is metadata-only: the default exact scan IS flat. The graph's
    contract is recall vs brute force — knowhere's HNSW is not exact
    either."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("gx", pk_field="vec_id", vector_field="embedding")
    client.insert("gx", emb)

    entry = client.create_index(
        "gx", "embedding", "HNSW", {"M": 8, "efConstruction": 64}
    )
    assert entry["materialized"] and entry["n_partitions"] == 8
    assert entry["graph_params"] == {"M": 8, "efConstruction": 64}
    q = [emb.filter(F.col("vec_id") == 0).first().embedding]
    # exhaustive ef + all-matching filter rides the graph but visits every
    # node — exact ground truth THROUGH the FilterBits→VectorSearch path
    exact = [
        (r.vec_id, r.score)
        for r in client.search(
            "gx", q, limit=10, filter="vec_id >= 0", search_params={"ef": 10**6}
        ).collect()
    ]
    wide = [
        (r.vec_id, r.score)
        for r in client.search("gx", q, limit=10, search_params={"ef": 64}).collect()
    ]
    # self-match first, scores in the collection metric, recall >= 0.9
    assert wide[0][0] == 0 and abs(wide[0][1] - 1.0) < 1e-6
    assert len({v for v, _ in wide} & {v for v, _ in exact}) >= 9
    # graph hits carry the SAME metric scores as the exact path
    escore = dict(exact)
    assert all(abs(s - escore[v]) < 1e-6 for v, s in wide if v in escore)
    # narrow ef still returns a full page
    assert len(client.search("gx", q, limit=10, search_params={"ef": 12}).collect()) == 10
    # a SELECTIVE filter also rides the graph (r6: no more exact-scan
    # fallback for filters) — every hit satisfies the predicate and the
    # exhaustive-ef result equals the brute-force filtered top-k
    filt = client.search(
        "gx", q, limit=10, filter="vec_id % 2 == 0", search_params={"ef": 10**6}
    ).collect()
    assert len(filt) == 10 and all(r.vec_id % 2 == 0 for r in filt)
    import numpy as np

    rows = emb.collect()
    qv = np.asarray(q[0]) / np.linalg.norm(q[0])
    cos = {
        r.vec_id: float(
            np.dot(np.asarray(r.embedding) / np.linalg.norm(r.embedding), qv)
        )
        for r in rows
        if r.vec_id % 2 == 0
    }
    truth = set(sorted(cos, key=lambda i: (-round(cos[i], 12), i))[:10])
    assert {r.vec_id for r in filt} == truth

    diskann = client.create_index("gx", "embedding", "DISKANN", {"nlist": 8, "search_list_size": 32})
    assert diskann["nlist"] == 8  # disk family rides the IVF layout

    flat = client.create_index("gx", "embedding", "FLAT")
    assert flat["materialized"] is False
    with pytest.raises(ValueError, match="unsupported index type"):
        client.create_index("gx", "embedding", "NOPE")
    client.drop_collection("gx")


def test_ngram_index_build(client, spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    client.create_collection("dx", pk_field="doc_id")
    client.insert("dx", docs)
    entry = client.create_index("dx", "text", "NGRAM", {"n": 3})
    posting = spark.read.parquet(entry["path"] + "/posting")
    # r9: gram-hash bucket partitioning + epoch lifecycle, like the zoo
    assert set(posting.columns) == {"id", "gram", "gbucket", "_epoch"}
    assert posting.count() > 0 and entry["cur_epoch"] == 0


def test_search_topk_quota(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("vq", pk_field="vec_id", vector_field="embedding")
    client.insert("vq", emb)
    q = [[0.0] * 64]
    with pytest.raises(ValueError, match="16384"):
        client.search("vq", data=q, limit=16385)
    with pytest.raises(ValueError, match="16384"):
        client.search("vq", data=q, limit=0)


def test_search_output_fields_requery(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("vr", pk_field="vec_id", vector_field="embedding")
    client.insert("vr", emb)
    q = [r.embedding for r in emb.filter(F.col("vec_id") == 3).collect()]
    hits = client.search("vr", data=q, limit=5, output_fields=["label"]).collect()
    assert len(hits) == 5
    want = {r.vec_id: r.label for r in emb.collect()}
    assert all(h.label == want[h.vec_id] for h in hits)
    assert sorted(h.rank for h in hits) == [1, 2, 3, 4, 5]


def test_hybrid_identical_subrequest_dedup(client, spark, sf_dir):
    """check_identical.go analog: equal sub-requests share one scored plan;
    fusion result equals running them naively (RRF sums both ranks)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("vh", pk_field="vec_id", vector_field="embedding")
    client.insert("vh", emb)
    q = [r.embedding for r in emb.filter(F.col("vec_id") == 1).collect()]
    req = {"data": q, "limit": 10, "metric_type": "COSINE"}
    fused = client.hybrid_search("vh", [req, dict(req)], rerank="rrf", limit=5)
    rows = fused.collect()
    assert len(rows) == 5
    # both sub-searches identical → fused rrf score = 2/(60+rank)
    top = max(rows, key=lambda r: r.score)
    assert top.score == round(2 * (1.0 / 61), 4)


def test_multi_vector_fields(client, spark, sf_dir):
    """Multiple vector fields per collection: per-field anns_field search and
    hybrid fusion across two fields of the same collection."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    two = emb.withColumn("emb2", F.reverse(F.col("embedding")))
    client.create_collection(
        "mv", pk_field="vec_id", vector_field=["embedding", "emb2"]
    )
    client.insert("mv", two)
    q = [r.embedding for r in emb.filter(F.col("vec_id") == 2).collect()]

    h1 = client.search("mv", data=q, limit=3).collect()  # default field
    h2 = client.search("mv", data=q, limit=3, anns_field="emb2").collect()
    assert h1[0].vec_id == 2 and h1[0].score == 1.0
    # reversed field: query (unreversed) need not match itself first
    assert [r.rank for r in h2] == [1, 2, 3]

    fused = client.hybrid_search(
        "mv",
        [
            {"data": q, "limit": 10},
            {"data": [list(reversed(q[0]))], "limit": 10, "anns_field": "emb2"},
        ],
        rerank="rrf",
        limit=5,
    ).collect()
    assert len(fused) == 5
    # vec 2 ranks #1 in both sub-searches -> top fused score 2/(60+1)
    top = max(fused, key=lambda r: r.score)
    assert top.vec_id == 2 and top.score == round(2 / 61, 4)

    with pytest.raises(ValueError, match="anns_field"):
        client.search("mv", data=q, limit=3, anns_field="nope")


def test_query_inner_match_uses_ngram_index(client, spark, sf_dir):
    """Index selection: like "%pat%" with a fresh NGRAM index routes through
    the posting table; results identical to the scan path; DML staleness
    falls back to the scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    client.create_collection("di", pk_field="doc_id")
    client.insert("di", docs)
    want = sorted(r.doc_id for r in docs.filter(F.col("text").contains("merge")).collect())

    # scan path (no index yet)
    scan = client.query("di", filter='text like "%merge%"')
    assert sorted(r.doc_id for r in scan.collect()) == want

    client.create_index("di", "text", "NGRAM")
    idx_df = client.query("di", filter='text like "%merge%"')
    assert sorted(r.doc_id for r in idx_df.collect()) == want
    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "posting" in plan  # posting parquet participates in the plan

    # other filters keep the normal path
    other = client.query("di", filter='n_chars > 100 && text like "%merge%"')
    assert other.count() == docs.filter("n_chars > 100 AND contains(text, 'merge')").count()

    # staleness: DML after build -> scan path, fresh results
    client.delete("di", ids=[int(want[0])])
    post = sorted(r.doc_id for r in client.query("di", filter='text like "%merge%"').collect())
    assert post == want[1:]


def test_query_json_compare_uses_flat_index(client, spark, sf_dir):
    """JSON_FLAT index selection: props["k"] > N routes through the shredded
    parquet column; results identical to the json-parse scan path."""
    from milvus_spark.session import load_table

    events = load_table(spark, sf_dir, "events").drop("ts")
    client.create_collection("ej", pk_field="event_id")
    client.insert("ej", events)
    want = sorted(
        r.event_id
        for r in events.filter(
            F.get_json_object("props", "$.k").cast("double") > 60
        ).collect()
    )
    scan = sorted(r.event_id for r in client.query("ej", filter='props["k"] > 60').collect())
    assert scan == want

    client.create_index("ej", "props", "JSON_FLAT", {"json_path": "$.k"})
    idx_df = client.query("ej", filter='props["k"] > 60')
    assert sorted(r.event_id for r in idx_df.collect()) == want
    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "flat" in plan and "LeftSemi" in plan

    with pytest.raises(ValueError, match="json_path"):
        client.create_index("ej", "props", "JSON_FLAT")


def test_query_json_typed_cast_index(client, spark, sf_dir):
    """json_cast_type (r9 — the reference's typed JSON-path index params,
    indexparamcheck/*_index_checker.go): VARCHAR and BOOL shredded
    columns serve string/bool equality on the path; results identical to
    the json-parse scan path; unsupported cast types refuse."""
    from milvus_spark.session import load_table

    events = load_table(spark, sf_dir, "events").drop("ts")
    j = events.select(
        "event_id",
        F.to_json(
            F.struct(
                F.concat(F.lit("s"), (F.col("user_id") % 5).cast("string")).alias("status"),
                (F.col("value") > 100).alias("flag"),
            )
        ).alias("props"),
    )
    client.create_collection("tj", pk_field="event_id")
    client.insert("tj", j)
    want_s = sorted(
        r.event_id
        for r in j.filter(F.get_json_object("props", "$.status") == "s2").collect()
    )
    scan = sorted(
        r.event_id for r in client.query("tj", filter='props["status"] == "s2"').collect()
    )
    assert scan == want_s and want_s
    client.create_index(
        "tj", "props", "JSON_FLAT",
        {"json_path": "$.status", "json_cast_type": "VARCHAR"},
    )
    idx_df = client.query("tj", filter='props["status"] == "s2"')
    assert sorted(r.event_id for r in idx_df.collect()) == want_s
    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "flat" in plan and "LeftSemi" in plan
    # BOOL cast on a second collection (one JSON_FLAT entry per field)
    client.create_collection("tj2", pk_field="event_id")
    client.insert("tj2", j)
    want_b = sorted(
        r.event_id
        for r in j.filter(
            F.get_json_object("props", "$.flag").cast("boolean") == True  # noqa: E712
        ).collect()
    )
    client.create_index(
        "tj2", "props", "JSON_FLAT",
        {"json_path": "$.flag", "json_cast_type": "BOOL"},
    )
    idx_b = client.query("tj2", filter='props["flag"] == true')
    assert sorted(r.event_id for r in idx_b.collect()) == want_b and want_b
    assert "flat" in idx_b._jdf.queryExecution().executedPlan().toString()
    with pytest.raises(ValueError, match="json_cast_type"):
        client.create_index(
            "tj2", "props", "JSON_FLAT",
            {"json_path": "$.x", "json_cast_type": "ARRAY"},
        )
    client.drop_collection("tj")
    client.drop_collection("tj2")


def test_text_search_bm25(client, spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    client.create_collection("ft", pk_field="doc_id")
    client.insert("ft", docs)
    hits = client.text_search("ft", "text", "spark merge vector", limit=10).collect()
    assert len(hits) == 10
    assert [h.rank for h in hits] == list(range(1, 11))
    assert all(hits[i].score >= hits[i + 1].score for i in range(9))
    # top hit must actually contain at least one query term
    top_text = docs.filter(F.col("doc_id") == hits[0].doc_id).collect()[0].text
    assert any(w in top_text for w in ("spark", "merge", "vector"))


def test_rename_load_release(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("rn", pk_field="n_nationkey")
    client.insert("rn", nation)
    client.rename_collection("rn", "rn2")
    assert client.list_collections() == ["rn2"]
    assert client.count("rn2") == nation.count()
    with pytest.raises(KeyError):
        client.count("rn")

    client.load_collection("rn2")
    assert client._loaded[client._load_key("rn2")].storageLevel.useMemory
    client.release_collection("rn2")
    assert "rn2" not in client._loaded


def test_named_partitions(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("np", pk_field="vec_id", vector_field="embedding")
    client.create_partition("np", "hot")
    client.create_partition("np", "cold")
    assert client.list_partitions("np") == ["_default", "hot", "cold"]

    a, b = emb.filter("vec_id % 2 = 0"), emb.filter("vec_id % 2 = 1")
    client.insert("np", a, partition_name="hot")
    client.insert("np", b, partition_name="cold")
    assert client.count("np") == emb.count()

    hot = client.query("np", partition_names=["hot"])
    assert hot.count() == a.count()
    assert all(r.vec_id % 2 == 0 for r in hot.select("vec_id").collect())

    # partition-scoped search only returns hits from that partition
    q = [emb.filter("vec_id = 1").collect()[0].embedding]
    hits = client.search("np", data=q, limit=5, partition_names=["cold"]).collect()
    ids = [h.vec_id for h in hits]
    assert all(i % 2 == 1 for i in ids) and 1 in ids

    client.drop_partition("np", "hot")
    assert client.count("np") == b.count()
    assert client.list_partitions("np") == ["_default", "cold"]
    with pytest.raises(ValueError):
        client.insert("np", a, partition_name="nope")


def test_alias_swap_and_stats(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("v1", pk_field="n_nationkey")
    client.insert("v1", nation.limit(10))
    client.create_collection("v2", pk_field="n_nationkey")
    client.insert("v2", nation)

    client.create_alias("v1", "prod")
    assert client.count("prod") == 10
    # zero-downtime swap: repoint prod at v2
    client.alter_alias("v2", "prod")
    assert client.count("prod") == nation.count()
    # DML through the alias lands on the target
    client.delete("prod", ids=[0])
    assert client.count("v2") == nation.count() - 1
    client.drop_alias("prod")
    with pytest.raises(KeyError):
        client.count("prod")
    with pytest.raises(ValueError):
        client.create_alias("v1", "v2")  # alias may not shadow a collection

    client.flush("v1")  # no-op barrier
    client.create_partition("v1", "px")
    client.insert("v1", nation.filter("n_nationkey >= 20"), partition_name="px")
    stats = client.get_collection_stats("v1")
    assert stats["row_count"] == client.count("v1")
    assert stats["partitions"]["px"] == nation.filter("n_nationkey >= 20").count()


def test_mvcc_ts_survives_client_restart(client, spark, sf_dir):
    """A new client on the same root must continue the MVCC timeline, not
    reissue ts=1 over existing segments."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("rt", pk_field="n_nationkey")
    client.insert("rt", nation.limit(5))  # ts=1

    reopened = MilvusSparkClient(spark, client.root)
    reopened.insert("rt", nation.filter("n_nationkey >= 5").limit(5))  # must be ts=2
    ts_vals = sorted(
        r["_ts"]
        for r in reopened._coll("rt").read().select("_ts").distinct().collect()
    )
    assert ts_vals == [1, 2]
    # delete through the reopened client kills rows from BOTH epochs
    reopened.delete("rt", ids=[0, 5])
    assert reopened.count("rt") == 8


def test_index_freshness_survives_restart(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("ir", pk_field="vec_id", vector_field="embedding")
    client.insert("ir", emb)
    client.create_index("ir", "embedding", "IVF_FLAT", {"nlist": 8})
    reopened = MilvusSparkClient(spark, client.root)
    assert reopened._fresh_index("ir", "embedding", "IVF_FLAT") is not None
    reopened.delete("ir", ids=[0])
    assert reopened._fresh_index("ir", "embedding", "IVF_FLAT") is None


def test_pre_partition_rows_belong_to_default(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("pd", pk_field="n_nationkey")
    client.insert("pd", nation.limit(5))          # before partitions existed
    client.create_partition("pd", "extra")
    client.insert("pd", nation.filter("n_nationkey >= 20"), partition_name="extra")
    dflt = client.query("pd", partition_names=["_default"])
    assert dflt.count() == 5
    stats = client.get_collection_stats("pd")
    assert stats["partitions"]["_default"] == 5


def test_hybrid_partition_scope_and_output_fields(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("hp", pk_field="vec_id", vector_field="embedding")
    client.create_partition("hp", "odd")
    client.insert("hp", emb.filter("vec_id % 2 = 0"))
    client.insert("hp", emb.filter("vec_id % 2 = 1"), partition_name="odd")
    q = [emb.filter("vec_id = 1").collect()[0].embedding]
    fused = client.hybrid_search(
        "hp",
        [{"data": q, "limit": 10}, {"data": q, "limit": 10, "metric_type": "L2"}],
        limit=5,
        partition_names=["odd"],
        output_fields=["label"],
    ).collect()
    assert fused and all(h.vec_id % 2 == 1 for h in fused)
    want = {r.vec_id: r.label for r in emb.collect()}
    assert all(h.label == want[h.vec_id] for h in fused)


def test_pq_index_backed_search(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("pqx", pk_field="vec_id", vector_field="embedding")
    client.insert("pqx", emb)
    entry = client.create_index("pqx", "embedding", "IVF_PQ", {"m": 16})
    assert entry["materialized"] and entry["m"] == 16

    q = [r.embedding for r in emb.filter(F.col("vec_id") < 2).collect()]
    # filters now ride the PQ layout (r6): all-matching filter + a
    # corpus-sized shortlist = exact ground truth THROUGH the filtered path
    exact = client.search(
        "pqx", data=q, limit=10, filter="vec_id >= 0",
        search_params={"shortlist": 10**6},
    )
    approx = client.search("pqx", data=q, limit=10)
    exact_ids = {(r.qid, r.vec_id) for r in exact.collect()}
    approx_ids = {(r.qid, r.vec_id) for r in approx.collect()}
    recall = len(exact_ids & approx_ids) / len(exact_ids)
    assert recall >= 0.9, recall
    # a selective filter returns only matching ids, exact under full shortlist
    filt = client.search(
        "pqx", data=q, limit=10, filter="vec_id % 2 == 0",
        search_params={"shortlist": 10**6},
    ).collect()
    assert len(filt) == 10 * len(q) and all(r.vec_id % 2 == 0 for r in filt)

    # DML after build → stale → exact fallback still correct
    client.delete("pqx", ids=[int(next(iter(exact_ids))[1])])
    deleted = next(iter(exact_ids))[1]
    post = client.search("pqx", data=q, limit=10)
    assert all(r.vec_id != deleted for r in post.collect())
    client.drop_index("pqx", "embedding", "IVF_PQ")
    client.drop_collection("pqx")


def test_sparse_inverted_search(client, spark, sf_dir):
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # derive a sparse map column: dims with weight > 0.15 (like a SPLADE head)
    sparse = emb.select(
        "vec_id",
        F.map_from_entries(
            F.filter(
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x, i: F.struct(i.alias("dim"), x.alias("val")),
                ),
                lambda s: s.val > 0.15,
            )
        ).alias("sv"),
    )
    client.create_collection("spx", pk_field="vec_id")
    client.insert("spx", sparse)
    client.create_index("spx", "sv", "SPARSE_INVERTED")

    rows = sparse.collect()
    by_id = {r.vec_id: dict(r.sv) for r in rows}
    queries = [by_id[0], by_id[1]]
    got = client.sparse_search("spx", queries, field="sv", limit=5)
    got_rows = {(r.qid, r.vec_id) for r in got.collect()}

    # numpy ground truth: exact IP over the sparse dicts
    for qid, qv in enumerate(queries):
        scores = []
        for vid, sv in by_id.items():
            s = sum(qv.get(d, 0.0) * v for d, v in sv.items())
            if s != 0.0:
                scores.append((round(s, 4), vid))
        top = sorted(scores, key=lambda t: (-t[0], t[1]))[:5]
        for s, vid in top:
            assert (qid, vid) in got_rows, (qid, vid, s)

    # index freshness: post-DML falls back to inline explode, same answer
    client.delete("spx", ids=[int(max(by_id))])
    again = client.sparse_search("spx", queries, field="sv", limit=5)
    assert again.count() > 0
    client.drop_collection("spx")


def test_auto_id_insert(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").drop("n_nationkey")
    client.create_collection("aid", pk_field="row_id", auto_id=True)
    n1 = client.insert("aid", nation)
    n2 = client.insert("aid", nation)
    rows = client.query("aid", output_fields=["row_id"]).collect()
    ids = [r.row_id for r in rows]
    assert len(ids) == n1 + n2 and len(set(ids)) == len(ids)  # unique across batches
    # carrying the pk column is an error on auto_id collections
    import pytest as _pytest

    with _pytest.raises(ValueError):
        client.insert("aid", nation.withColumn("row_id", F.lit(1)))
    client.drop_collection("aid")


def test_database_namespaces(client, spark, sf_dir):
    import pytest as _pytest

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_database("staging")
    assert "staging" in client.list_databases()
    client.use_database("staging")
    client.create_collection("nat_db", pk_field="n_nationkey")
    client.insert("nat_db", nation)
    assert client.count("nat_db") == nation.count()
    # same name is free in the default db — namespaces are isolated
    client.use_database("default")
    with _pytest.raises(KeyError):
        client.count("nat_db")
    # drop rules: non-empty and current dbs refuse
    with _pytest.raises(ValueError):
        client.drop_database("staging")  # not empty
    client.use_database("staging")
    client.drop_collection("nat_db")
    with _pytest.raises(ValueError):
        client.drop_database("staging")  # current
    client.use_database("default")
    client.drop_database("staging")
    assert client.list_databases() == ["default"]


def test_round_decimal_search_param(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("rdx", pk_field="vec_id", vector_field="embedding")
    client.insert("rdx", emb)
    q = [emb.first().embedding]
    coarse = client.search("rdx", data=q, limit=5, filter="vec_id >= 0", round_decimal=1)
    fine = client.search("rdx", data=q, limit=5, filter="vec_id >= 0", round_decimal=6)
    cs = [r.score for r in coarse.collect()]
    fs = [r.score for r in fine.collect()]
    assert all(round(s, 1) == s for s in cs)
    assert any(round(s, 1) != s for s in fs)  # finer scores carry more digits
    client.drop_collection("rdx")


def test_group_by_search(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("gbx", pk_field="vec_id", vector_field="embedding")
    client.insert("gbx", emb)
    q = [emb.first().embedding]
    got = client.search("gbx", data=q, limit=3, group_by_field="label", group_size=2)
    rows = got.collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r.label, []).append(r)
    assert len(by_group) <= 3 and all(len(v) <= 2 for v in by_group.values())
    assert len(by_group) == 3  # enough labels exist to fill the group quota
    client.drop_collection("gbx")


def test_hybrid_dense_plus_sparse(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    both = emb.select(
        "vec_id",
        "embedding",
        F.map_from_entries(
            F.filter(
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x, i: F.struct(i.alias("dim"), x.alias("val")),
                ),
                lambda s: s.val > 0.15,
            )
        ).alias("sv"),
    )
    client.create_collection("hds", pk_field="vec_id", vector_field="embedding")
    client.insert("hds", both)
    r0 = both.first()
    reqs = [
        {"data": [list(r0.embedding)], "limit": 20},
        {"data": [dict(r0.sv)], "sparse_field": "sv", "limit": 20},
    ]
    fused = client.hybrid_search("hds", reqs, rerank="rrf", limit=5)
    rows = fused.collect()
    assert len(rows) == 5 and rows[0].vec_id == r0.vec_id  # self is rank 1 in both
    again = {(r.vec_id, r.score) for r in client.hybrid_search("hds", reqs, limit=5).collect()}
    assert {(r.vec_id, r.score) for r in rows} == again  # deterministic
    client.drop_collection("hds")


def test_has_collection(client):
    client.create_collection("hcx", pk_field="a")
    assert client.has_collection("hcx") and not client.has_collection("nope")
    client.drop_collection("hcx")
    assert not client.has_collection("hcx")


def test_partition_alias_introspection(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("pai", pk_field="n_nationkey")
    client.insert("pai", nation)
    client.create_partition("pai", "hot")
    assert client.has_partition("pai", "hot") and not client.has_partition("pai", "cold")
    client.create_alias("pai", "pai_live")
    assert client.list_aliases("pai") == ["pai_live"]
    d = client.describe_alias("pai_live")
    assert d["collection"] == "pai" and d["db_name"] == "default"
    client.drop_alias("pai_live")
    assert client.list_aliases() == []
    client.drop_collection("pai")


def test_partition_load_state(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("pls", pk_field="n_nationkey")
    client.create_partition("pls", "hot")
    client.insert("pls", nation.limit(10), partition_name="hot")
    client.insert("pls", nation.filter("n_nationkey >= 10"))
    assert client.get_load_state("pls")["state"] == "NotLoad"
    client.load_partitions("pls", ["hot"])
    st = client.get_load_state("pls")
    assert st["state"] == "PartiallyLoaded" and st["partitions"] == ["hot"]
    client.release_partitions("pls", ["hot"])
    client.load_collection("pls")
    assert client.get_load_state("pls")["state"] == "Loaded"
    client.release_collection("pls")
    assert client.get_load_state("pls")["state"] == "NotLoad"
    client.drop_collection("pls")


def test_auto_id_unique_across_many_partitions(client, spark, sf_dir):
    """>=128 input partitions used to overflow monotonically_increasing_id's
    partition bits into the ts field and silently collide pks across
    batches; explicit bit fields keep them unique."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").drop("n_nationkey")
    wide = nation.repartition(130)
    client.create_collection("aidp", pk_field="row_id", auto_id=True)
    n1 = client.insert("aidp", wide)
    n2 = client.insert("aidp", wide)
    ids = [r.row_id for r in client.query("aidp", output_fields=["row_id"]).collect()]
    assert len(ids) == n1 + n2 and len(set(ids)) == len(ids)
    client.drop_collection("aidp")


def _sparse_collection(client, spark, sf_dir, name):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sv = emb.select(
        "vec_id",
        "label",
        F.map_from_entries(
            F.filter(
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x, i: F.struct(i.alias("dim"), x.alias("val")),
                ),
                lambda s: s.val > 0.15,
            )
        ).alias("sv"),
    )
    client.create_collection(name, pk_field="vec_id")
    client.insert(name, sv)
    return sv


def test_sparse_search_honors_filter_and_partitions(client, spark, sf_dir):
    sv = _sparse_collection(client, spark, sf_dir, "spf")
    q = [dict(sv.first().sv)]
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ok_labels = {r.vec_id for r in emb.filter("label >= 2").collect()}

    unfiltered = client.sparse_search("spf", q, field="sv", limit=50).collect()
    filtered = client.sparse_search("spf", q, field="sv", limit=50, filter="label >= 2").collect()
    assert all(r.vec_id in ok_labels for r in filtered)
    assert {r.vec_id for r in filtered} != {r.vec_id for r in unfiltered}

    # hybrid: two sparse reqs differing ONLY by filter must not be deduped
    # into the same (wrong) result
    reqs = [
        {"data": q, "sparse_field": "sv", "limit": 20},
        {"data": q, "sparse_field": "sv", "limit": 20, "filter": "label >= 2"},
    ]
    fused = client.hybrid_search("spf", reqs, rerank="rrf", limit=10)
    assert fused.count() > 0
    client.drop_collection("spf")


def test_sparse_search_partition_scope(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sv = emb.select(
        "vec_id",
        F.map_from_entries(
            F.filter(
                F.transform(
                    F.col("embedding").cast("array<double>"),
                    lambda x, i: F.struct(i.alias("dim"), x.alias("val")),
                ),
                lambda s: s.val > 0.15,
            )
        ).alias("sv"),
    )
    client.create_collection("spp", pk_field="vec_id")
    client.create_partition("spp", "hot")
    client.insert("spp", sv.filter("vec_id < 50"), partition_name="hot")
    client.insert("spp", sv.filter("vec_id >= 50"))
    q = [dict(sv.first().sv)]
    scoped = client.sparse_search("spp", q, field="sv", limit=100, partition_names=["hot"]).collect()
    assert scoped and all(r.vec_id < 50 for r in scoped)
    client.drop_collection("spp")


def test_alias_lifecycle_rules(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("alr", pk_field="n_nationkey")
    client.insert("alr", nation)
    client.create_alias("alr", "alr_live")

    with pytest.raises(ValueError):
        client.drop_collection("alr_live")  # alias arg rejected
    with pytest.raises(ValueError):
        client.drop_collection("alr")  # has live aliases
    with pytest.raises(ValueError):
        client.rename_collection("alr_live", "other")  # alias arg rejected
    with pytest.raises(ValueError):
        client.rename_collection("alr", "other")  # has live aliases
    assert client.has_collection("alr") and client.list_aliases("alr") == ["alr_live"]

    client.drop_alias("alr_live")
    client.rename_collection("alr", "alr2")
    assert client.count("alr2") == nation.count()
    client.drop_collection("alr2")


def test_grouping_search_output_fields(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("gbo", pk_field="vec_id", vector_field="embedding")
    client.insert("gbo", emb)
    q = [emb.first().embedding]
    got = client.search(
        "gbo", data=q, limit=3, group_by_field="label", group_size=2,
        output_fields=["embedding"],
    )
    rows = got.collect()
    assert rows and "embedding" in got.columns
    assert all(r.embedding is not None for r in rows)
    client.drop_collection("gbo")


def test_dynamic_field_roundtrip(client, spark, sf_dir):
    """enable_dynamic_field: undeclared insert columns pack into $meta;
    filters and output_fields referencing them resolve with typed-compare
    semantics (chap02_schema.md dynamic field; JSON typed buckets)."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection(
        "dyn", pk_field="n_nationkey", enable_dynamic_field=True,
        fields=["n_nationkey", "n_name"],
    )
    n = client.insert("dyn", nation)  # n_regionkey, n_comment are undeclared
    assert n == nation.count()

    # numeric typed compare on a dynamic key
    got = client.query("dyn", filter="n_regionkey >= 2", output_fields=["n_nationkey"])
    want = nation.filter("n_regionkey >= 2").count()
    assert got.count() == want

    # dynamic key in output_fields surfaces from $meta
    rows = client.query(
        "dyn", filter="n_nationkey == 3", output_fields=["n_name", "n_regionkey"]
    ).collect()
    orig = nation.filter("n_nationkey = 3").collect()[0]
    assert rows[0].n_name == orig.n_name
    assert int(rows[0].n_regionkey) == orig.n_regionkey

    # $meta itself stays hidden unless requested
    assert "$meta" not in client.query("dyn", limit=1).columns

    # delete through a dynamic filter
    client.delete("dyn", filter='n_regionkey == 0')
    assert client.count("dyn") == nation.filter("n_regionkey <> 0").count()
    client.drop_collection("dyn")


def test_dynamic_field_search_filter(client, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection(
        "dynv", pk_field="vec_id", vector_field="embedding",
        enable_dynamic_field=True, fields=["vec_id", "embedding"],
    )
    client.insert("dynv", emb)  # label is undeclared -> $meta
    q = [emb.first().embedding]
    hits = client.search("dynv", data=q, limit=5, filter="label >= 2").collect()
    assert 0 < len(hits) <= 5
    ok = {r.vec_id for r in emb.filter("label >= 2").collect()}
    assert all(h.vec_id in ok for h in hits)
    client.drop_collection("dynv")


def test_dynamic_field_requires_schema(client):
    with pytest.raises(ValueError):
        client.create_collection("dynx", pk_field="a", enable_dynamic_field=True)


def test_collection_ttl_expiry_and_compaction(client, spark, sf_dir):
    """collection.ttl.seconds: rows expire by write-time wall clock —
    invisible to reads once past TTL, physically reclaimed at compaction."""
    import time

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection(
        "ttlc", pk_field="n_nationkey",
        properties={"collection.ttl.seconds": 3600},
    )
    client.insert("ttlc", nation.filter("n_nationkey < 10"))
    assert client.count("ttlc") == 10

    # age the first batch artificially past the TTL
    meta = client.describe_collection("ttlc")
    old_ts = list(meta["ts_wall"])[0]
    client._catalog["ttlc"]["ts_wall"][old_ts] = time.time() - 7200
    client._save_catalog()
    assert client.count("ttlc") == 0  # expired -> invisible

    client.insert("ttlc", nation.filter("n_nationkey >= 10"))
    assert client.count("ttlc") == 15  # fresh batch visible

    client.compact("ttlc")  # reclaims the expired batch permanently
    assert client.count("ttlc") == 15
    assert old_ts not in client.describe_collection("ttlc")["ts_wall"]

    # TTL can be set later via alter
    client.alter_collection_properties("ttlc", {"collection.ttl.seconds": 0.0001})
    time.sleep(0.2)
    assert client.count("ttlc") == 0
    client.drop_collection("ttlc")


def test_field_defaults_fill_missing_and_null(client, spark, sf_dir):
    """FieldSchema default_value: fills absent columns and null cells at
    insert; partial upsert never default-fills absent columns."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection(
        "defc", pk_field="n_nationkey", field_defaults={"tier": "bronze"},
    )
    client.insert("defc", nation.limit(5))  # no 'tier' column at all
    assert {r.tier for r in client.query("defc", output_fields=["tier"]).collect()} == {"bronze"}

    withcol = nation.filter("n_nationkey >= 5 and n_nationkey < 10").withColumn(
        "tier", F.when(F.col("n_nationkey") == 5, "gold")
    )  # null for 6..9
    client.insert("defc", withcol)
    rows = {r.n_nationkey: r.tier for r in client.query(
        "defc", filter="n_nationkey >= 5", output_fields=["n_nationkey", "tier"]
    ).collect()}
    assert rows[5] == "gold" and all(rows[k] == "bronze" for k in (6, 7, 8, 9))

    # partial upsert of an unrelated field must keep tier as-is
    client.upsert(
        "defc",
        nation.filter("n_nationkey == 5").select("n_nationkey", F.lit("zz").alias("n_name")),
        partial_update=True,
    )
    got = client.query("defc", filter="n_nationkey == 5", output_fields=["n_name", "tier"]).collect()[0]
    assert got.n_name == "zz" and got.tier == "gold"
    client.drop_collection("defc")


def test_lsh_index_backed_search(client, spark, sf_dir):
    """create_index('LSH'): bucketed corpus + probe-list pruning; recall vs
    brute force on the same queries, staleness fallback after DML."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("lshx", pk_field="vec_id", vector_field="embedding")
    client.insert("lshx", emb)
    client.create_index("lshx", "embedding", "LSH", params={"nbits": 8})

    # plant near-duplicates of the two query vectors: the index contract is
    # high recall on actually-near neighbors (cos ~= 0.999), not on the
    # random background corpus
    import numpy as np

    rng = np.random.default_rng(5)
    qrows = emb.filter(F.col("vec_id") < 2).collect()
    planted = []
    for r in qrows:
        base = np.asarray(r.embedding, dtype=np.float64)
        for j in range(5):
            v = base + 0.01 * rng.standard_normal(base.shape)
            planted.append((int(900000 + r.vec_id * 10 + j), [float(x) for x in v], int(r.vec_id)))
    pdf = spark.createDataFrame(
        [(i, v, 0) for i, v, _ in planted], "vec_id long, embedding array<float>, label int"
    )
    client.insert("lshx", pdf)
    client.create_index("lshx", "embedding", "LSH", params={"nbits": 8})  # rebuild fresh

    q = [r.embedding for r in qrows]
    approx = client.search("lshx", data=q, limit=10, search_params={"probe_radius": 1})
    got = {(r.qid, r.vec_id) for r in approx.collect()}
    want = {(qid, pid) for pid, _, qid in planted}
    recall = len(got & want) / len(want)
    assert recall >= 0.9, recall  # planted near-dups collide in the probe ball

    # DML staleness: post-insert search falls back to exact (still correct)
    client.insert("lshx", emb.filter("vec_id < 5").withColumn("vec_id", F.col("vec_id") + 1000000))
    again = client.search("lshx", data=q, limit=10)
    assert again.count() > 0
    client.drop_collection("lshx")


def test_function_rankers_on_search(client, spark, sf_dir):
    """Function-based rerankers (decay/boost/model ranker param): rescore
    only the broadcast top-k, matching the operator-level semantics."""
    import math

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("rkr", pk_field="vec_id", vector_field="embedding")
    client.insert("rkr", emb)
    q = [emb.first().embedding]

    base = client.search("rkr", data=q, limit=20)
    base_rows = base.collect()
    labels = {r.vec_id: r.label for r in emb.collect()}

    # decay: score becomes gauss(label; origin=2, scale=2) — verify values
    dec = client.search(
        "rkr", data=q, limit=10,
        ranker={"type": "decay", "input_field": "label", "function": "gauss",
                "origin": 2, "scale": 2, "decay": 0.5},
    ).collect()
    for r in dec:
        want = math.exp((abs(labels[r.vec_id] - 2) ** 2) / ((2 ** 2) / math.log(0.5)))
        assert abs(r.score - round(want, 4)) < 1e-9
    scores = [r.score for r in dec]
    assert scores == sorted(scores, reverse=True)

    # boost: matching rows double their fused score; order respects boosts
    boosted = client.search(
        "rkr", data=q, limit=10,
        ranker={"type": "boost", "filter": "label >= 3", "weight": 2.0},
    ).collect()
    base_score = {r.vec_id: r.score for r in base_rows}
    for r in boosted:
        mult = 2.0 if labels[r.vec_id] >= 3 else 1.0
        assert abs(r.score - round(base_score[r.vec_id] * mult, 4)) < 1e-9
    client.drop_collection("rkr")


def test_model_ranker_on_hybrid(client, spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    both = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    client.create_collection("mrk", pk_field="doc_id", vector_field="embedding")
    client.insert("mrk", both)
    q = [emb.first().embedding]
    out = client.hybrid_search(
        "mrk",
        reqs=[{"data": q, "limit": 30}, {"data": q, "limit": 30, "metric_type": "L2"}],
        limit=10,
        ranker={"type": "model", "query": "spark join agg", "field": "text"},
    ).collect()
    assert out and len(out) <= 10
    rs = [r.rerank_score for r in out]
    assert rs == sorted(rs, reverse=True) and rs[0] > 0
    client.drop_collection("mrk")


def test_load_collection_mmap_storage_level(client, spark, sf_dir):
    """mmap_enabled load maps to MEMORY_AND_DISK persistence (the tiered
    cachinglayer/mmap analog); default load is memory-only."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("mml", pk_field="n_nationkey")
    client.insert("mml", nation)

    client.load_collection("mml")
    lvl = client._loaded[client._load_key("mml")].storageLevel
    assert lvl.useMemory and not lvl.useDisk
    client.release_collection("mml")

    client.load_collection("mml", mmap_enabled=True)
    lvl = client._loaded[client._load_key("mml")].storageLevel
    assert lvl.useMemory and lvl.useDisk
    client.release_collection("mml")
    client.drop_collection("mml")


def test_misc_introspection_api(client, spark, sf_dir):
    """get_partition_stats / drop_collection_properties / compaction state /
    refresh_load / server version — the remaining MilvusClient surface."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("misc", pk_field="n_nationkey",
                             properties={"collection.ttl.seconds": 3600, "x": 1})
    client.create_partition("misc", "hot")
    client.insert("misc", nation.limit(10), partition_name="hot")
    client.insert("misc", nation.filter("n_nationkey >= 10"))

    assert client.get_partition_stats("misc", "hot") == {"row_count": 10}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        client.get_partition_stats("misc", "cold")

    client.drop_collection_properties("misc", ["x", "nope"])
    assert "x" not in client.describe_collection("misc")["properties"]
    assert client.describe_collection("misc")["properties"]["collection.ttl.seconds"] == 3600

    client.compact("misc")
    assert client.get_compaction_state("misc") == {"state": "Completed"}

    client.load_collection("misc")
    n0 = client._loaded[client._load_key("misc")].count()
    client.insert("misc", nation.limit(3).withColumn("n_nationkey", F.col("n_nationkey") + 500))
    client.refresh_load("misc")
    assert client._loaded[client._load_key("misc")].count() == n0 + 3  # newest segments visible
    client.release_collection("misc")

    assert "milvus-spark" in client.get_server_version()
    client.drop_collection("misc")


def test_review_fixes_round2(client, spark, sf_dir):
    """Regression bundle from the round-2 code review."""
    import math
    import time

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    # 1. ranker is honored on index-backed search paths (was silently dropped)
    client.create_collection("rf1", pk_field="vec_id", vector_field="embedding")
    client.insert("rf1", emb)
    client.create_index("rf1", "embedding", "IVF_FLAT", params={"nlist": 8})
    q = [emb.first().embedding]
    labels = {r.vec_id: r.label for r in emb.collect()}
    dec = client.search(
        "rf1", data=q, limit=5,
        ranker={"type": "decay", "input_field": "label", "function": "gauss",
                "origin": 2, "scale": 2, "decay": 0.5},
    ).collect()
    for r in dec:
        want = math.exp((abs(labels[r.vec_id] - 2) ** 2) / ((2 ** 2) / math.log(0.5)))
        assert abs(r.score - round(want, 4)) < 1e-9
    with pytest.raises(ValueError):
        client.search("rf1", data=q, limit=3, group_by_field="label",
                      ranker={"type": "boost", "filter": "label >= 2", "weight": 2})
    client.drop_collection("rf1")

    # 2. TTL "0" (string, the Milvus property convention) means never expire
    client.create_collection("rf2", pk_field="n_nationkey",
                             properties={"collection.ttl.seconds": "0"})
    client.insert("rf2", nation.limit(5))
    assert client.count("rf2") == 5
    client.drop_collection("rf2")

    # 3. index-backed search hides TTL-expired rows (visibility consistency)
    client.create_collection("rf3", pk_field="vec_id", vector_field="embedding",
                             properties={"collection.ttl.seconds": 3600})
    client.insert("rf3", emb)
    client.create_index("rf3", "embedding", "IVF_FLAT", params={"nlist": 8})
    for t in list(client._catalog["rf3"]["ts_wall"]):
        client._catalog["rf3"]["ts_wall"][t] = time.time() - 7200
    client._save_catalog()
    assert client.search("rf3", data=q, limit=5).count() == 0  # falls back to scan
    client.drop_collection("rf3")

    # 4. dynamic partial upsert merges $meta keys (absent keys survive)
    client.create_collection("rf4", pk_field="n_nationkey",
                             enable_dynamic_field=True, fields=["n_nationkey", "n_name"])
    client.insert("rf4", nation.limit(3).withColumn("color", F.lit("red"))
                  .withColumn("size", F.lit(9)))
    client.upsert(
        "rf4",
        nation.limit(1).select("n_nationkey", F.lit("blue").alias("color")),
        partial_update=True,
    )
    row = client.query("rf4", filter="n_nationkey == 0",
                       output_fields=["color", "size"]).collect()[0]
    assert row.color == "blue" and row.size == "9"  # size kept, JSON string type

    # 5. search output_fields resolves dynamic keys (query() parity)
    client.drop_collection("rf4")
    client.create_collection("rf5", pk_field="vec_id", vector_field="embedding",
                             enable_dynamic_field=True, fields=["vec_id", "embedding"])
    client.insert("rf5", emb)  # label -> $meta; embedding NOT packed (vector field)
    hits = client.search("rf5", data=q, limit=3, output_fields=["label"]).collect()
    assert all(h.label is not None for h in hits)
    client.drop_collection("rf5")


def test_get_resolves_dynamic_keys(client, spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("gdy", pk_field="n_nationkey",
                             enable_dynamic_field=True, fields=["n_nationkey", "n_name"])
    client.insert("gdy", nation.limit(5))  # n_regionkey -> $meta
    rows = client.get("gdy", ids=[0, 1], output_fields=["n_name", "n_regionkey"]).collect()
    assert len(rows) == 2
    want = sorted(r.n_regionkey for r in nation.filter("n_nationkey < 2").collect())
    assert sorted(int(r.n_regionkey) for r in rows) == want
    client.drop_collection("gdy")


def test_clustering_compaction_via_client(client, spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(2000)
    client.create_collection("clc", pk_field="o_orderkey")
    client.insert("clc", orders)
    pre = client.count("clc")
    client.compact("clc", num_partitions=4, clustering_key="o_custkey")
    assert client.count("clc") == pre  # content preserved
    import json
    import os

    mpath = os.path.join(client.root, "clc", "partition_stats.json")
    with open(mpath) as f:
        manifest = json.load(f)
    assert manifest["key"] == "o_custkey" and manifest["files"]
    # range layout: every file's [min, max] is internally ordered, and the
    # clustering key spans partition the domain (mins strictly increase)
    ranges = sorted(manifest["files"].values(), key=lambda r: float(r[0]))
    assert all(float(lo) <= float(hi) for lo, hi in ranges)
    mins = [float(lo) for lo, _ in ranges]
    assert mins == sorted(mins)
    client.drop_collection("clc")


def test_query_uses_clustering_manifest(client, spark, sf_dir, monkeypatch):
    """A fresh clustering manifest turns a range filter on the clustering
    key into file-skip pruning; DML staleness falls back to the scan."""
    from milvus_spark.operators.lifecycle import Collection

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(2000)
    client.create_collection("clq", pk_field="o_orderkey")
    client.insert("clq", orders)
    client.compact("clq", num_partitions=4, clustering_key="o_custkey")

    calls = []
    orig = Collection.read_pruned

    def spy(self, lo, hi):
        calls.append((lo, hi))
        return orig(self, lo, hi)

    monkeypatch.setattr(Collection, "read_pruned", spy)
    got = client.query("clq", filter="o_custkey >= 200 and o_custkey <= 500")
    want = orders.filter("o_custkey between 200 and 500")
    assert got.count() == want.count()
    assert calls == [(200.0, 500.0)]  # pruned path taken

    # post-DML the manifest is stale: same answer via the scan path
    client.insert("clq", orders.limit(1).withColumn("o_orderkey", F.lit(999999999).cast("long")))
    calls.clear()
    got2 = client.query("clq", filter="o_custkey >= 200 and o_custkey <= 500")
    assert got2.count() >= want.count() and calls == []
    client.drop_collection("clq")


def test_plain_compact_invalidates_clustering_manifest(client, spark, sf_dir):
    """Regression: compact() after compact(clustering_key=...) rewrites
    segment files under new names without bumping the write ts; the
    clustering manifest must be invalidated so a range filter on the
    clustering key takes the exact scan path, not an empty pruned read."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(2000)
    client.create_collection("clp", pk_field="o_orderkey")
    client.insert("clp", orders)
    client.compact("clp", num_partitions=4, clustering_key="o_custkey")
    client.compact("clp", num_partitions=2)  # plain mix compaction
    assert "clustered" not in client._meta("clp")
    got = client.query("clp", filter="o_custkey >= 200 and o_custkey <= 500")
    want = orders.filter("o_custkey between 200 and 500")
    assert got.count() == want.count()
    client.drop_collection("clp")


def test_partial_upsert_preserves_meta_value_types(client, spark, sf_dir):
    """Regression: the $meta merge on partial upsert must preserve JSON
    value types — a stored number stays a number, nested objects stay
    nested — rather than round-tripping through map<string,string>."""
    import json

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection(
        "pmt", pk_field="n_nationkey", enable_dynamic_field=True,
        fields=["n_nationkey", "n_name"],
    )
    client.insert(
        "pmt",
        nation.limit(2)
        .withColumn("size", F.lit(9))
        .withColumn("flag", F.lit(True)),
    )
    client.upsert(
        "pmt",
        nation.limit(1).select("n_nationkey", F.lit("blue").alias("color")),
        partial_update=True,
    )
    blob = client.query(
        "pmt", filter="n_nationkey == 0", output_fields=["$meta"]
    ).collect()[0]["$meta"]
    parsed = json.loads(blob)
    assert parsed["size"] == 9 and parsed["size"] is not True  # number, not "9"
    assert parsed["flag"] is True
    assert parsed["color"] == "blue"
    client.drop_collection("pmt")


def test_lsh_index_empty_collection_errors(client, spark, sf_dir):
    """Regression: LSH build on an empty collection raises a clear error
    (not TypeError from first() returning None); dim can come from params."""
    import pytest as _pytest

    client.create_collection("lshe", pk_field="vec_id", vector_field="embedding")
    with _pytest.raises(ValueError, match="empty collection"):
        client.create_index("lshe", "embedding", "LSH", params={"nbits": 4})
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    client.insert("lshe", emb)
    dim = len(emb.select("embedding").first()[0])
    entry = client.create_index(
        "lshe", "embedding", "LSH", params={"nbits": 4, "dim": dim}
    )
    assert entry["nbits"] == 4
    client.drop_collection("lshe")


def test_partial_upsert_array_field_ops(client, spark, sf_dir):
    """FieldOp array_append / array_remove on partial upsert
    (test_milvus_client_partial_update_array_op.py, issue #49241):
    append concatenates, remove drops ALL occurrences (duplicates of
    other values survive), field_ops implies partial_update, and
    non-array / pk / unknown / missing-data targets error."""
    import pytest as _pytest

    client.create_collection("afo", pk_field="id")
    df = spark.createDataFrame(
        [(0, [10, 20, 10, 30], "a"), (1, [1, 1, 2, 1, 3], "b")],
        "id long, tags array<bigint>, name string",
    )
    client.insert("afo", df)

    # append (no partial_update flag — field_ops implies it)
    client.upsert(
        "afo",
        spark.createDataFrame([(0, [40, 50])], "id long, tags array<bigint>"),
        field_ops={"tags": "array_append"},
    )
    got = {r.id: r.tags for r in client.query("afo", output_fields=["id", "tags"]).collect()}
    assert got[0] == [10, 20, 10, 30, 40, 50]
    assert got[1] == [1, 1, 2, 1, 3]  # untouched pk keeps stored value

    # remove drops ALL occurrences, keeps duplicates of other values
    client.upsert(
        "afo",
        spark.createDataFrame([(1, [1])], "id long, tags array<bigint>"),
        field_ops={"tags": "array_remove"},
    )
    got = {r.id: r.tags for r in client.query("afo", output_fields=["id", "tags"]).collect()}
    assert got[1] == [2, 3]

    # remove down to empty
    client.upsert(
        "afo",
        spark.createDataFrame([(1, [2, 3])], "id long, tags array<bigint>"),
        field_ops={"tags": "array_remove"},
    )
    got = {r.id: r.tags for r in client.query("afo", output_fields=["id", "tags"]).collect()}
    assert got[1] == []

    # other columns untouched throughout
    names = {r.id: r.name for r in client.query("afo", output_fields=["id", "name"]).collect()}
    assert names == {0: "a", 1: "b"}

    # validation errors
    bad = spark.createDataFrame([(0, [1])], "id long, tags array<bigint>")
    with _pytest.raises(ValueError, match="not an ARRAY"):
        client.upsert("afo", bad.withColumnRenamed("tags", "name")
                      .select("id", F.lit("x").alias("name")),
                      field_ops={"name": "array_append"})
    with _pytest.raises(ValueError, match="primary key"):
        client.upsert("afo", bad, field_ops={"id": "array_append"})
    with _pytest.raises(ValueError, match="unknown field"):
        client.upsert("afo", bad, field_ops={"nope": "array_append"})
    with _pytest.raises(ValueError, match="missing data"):
        client.upsert("afo", bad.select("id"), field_ops={"tags": "array_append"})
    with _pytest.raises(ValueError, match="unknown field op"):
        client.upsert("afo", bad, field_ops={"tags": "array_pop"})
    client.drop_collection("afo")


def test_optimize_targets_segment_size(client, spark, sf_dir):
    """optimize()/force_merge(): mix compaction sized by live bytes /
    target segment size (test_milvus_client_optimize.py,
    test_milvus_client_force_merge.py); invalid targets error."""
    import glob
    import os

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    client.create_collection("opt", pk_field="o_orderkey")
    for i in range(4):  # four small segments
        client.insert("opt", orders.filter(F.col("o_orderkey") % 4 == i))
    pre = client.count("opt")
    seg_dir = os.path.join(client.root, "opt", "segments")
    assert len(glob.glob(f"{seg_dir}/*.parquet")) >= 4

    client.optimize("opt", target_size_mb=10_000)  # target >> data → 1 segment
    assert len(glob.glob(f"{seg_dir}/*.parquet")) == 1
    assert client.count("opt") == pre  # content preserved

    with pytest.raises(ValueError):
        client.force_merge("opt", target_size_mb=-1)
    with pytest.raises(ValueError):
        client.optimize("opt", target_size_mb=0)
    client.drop_collection("opt")


def test_file_resource_stopwords(client, spark, sf_dir):
    """File-resource stop-word list (test_milvus_client_file_resource.py):
    registered file feeds the analyzer's stop filter on both corpus and
    query; editing the file takes effect on the next query (refresh
    semantics); lifecycle list/drop; missing path errors."""
    import os

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    client.create_collection("fres", pk_field="doc_id", fields=["doc_id", "text"])
    client.insert("fres", docs.select("doc_id", "text"))

    sw = os.path.join(client.root, "stop.txt")
    with open(sw, "w") as f:
        f.write("table\nthe\n")
    client.create_file_resource("stops", sw)
    assert client.list_file_resources() == ["stops"]

    # stopped term contributes nothing: "table" alone yields no hits
    hits = client.text_search("fres", "text", "table", limit=5,
                              stopwords_resource="stops").collect()
    assert hits == []
    # same query without the resource scores normally
    assert client.text_search("fres", "text", "table", limit=5).count() > 0

    # refresh: editing the file un-stops the word on the next query
    with open(sw, "w") as f:
        f.write("the\n")
    assert client.text_search("fres", "text", "table", limit=5,
                              stopwords_resource="stops").count() > 0

    client.drop_file_resource("stops")
    with pytest.raises(KeyError):
        client.text_search("fres", "text", "table", stopwords_resource="stops")
    with pytest.raises(ValueError):
        client.create_file_resource("nope", "/no/such/file.txt")
    # resources never leak into the collection listing
    assert client.list_collections() == ["fres"]
    client.drop_collection("fres")


def test_alter_field_and_index_properties(client, spark, sf_dir):
    """AlterCollectionField / AlterIndex surface (test_milvus_client_alter.py):
    field descriptions on any field type (repeatable, empty, special chars),
    max_length validation, mmap hints; unknown keys error; dynamic-field
    flag flips via collection properties."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("alt", pk_field="vec_id", vector_field="embedding")
    client.insert("alt", emb.limit(100))

    # descriptions: pk, vector, scalar; repeatable; empty; special chars
    client.alter_collection_field("alt", "vec_id", {"description": "the pk"})
    client.alter_collection_field("alt", "embedding", {"description": "vec col"})
    client.alter_collection_field("alt", "label", {"description": "第一 – ünïcode ✓"})
    client.alter_collection_field("alt", "label", {"description": ""})
    assert client.describe_field("alt", "label")["description"] == ""
    assert client.describe_field("alt", "vec_id")["description"] == "the pk"

    client.alter_collection_field("alt", "label", {"max_length": 100})
    with pytest.raises(ValueError):
        client.alter_collection_field("alt", "label", {"max_length": 0})
    with pytest.raises(ValueError):
        client.alter_collection_field("alt", "label", {"nope": 1})

    client.create_index("alt", "embedding", "IVF_FLAT", {"nlist": 4})
    client.alter_index_properties("alt", "embedding", "IVF_FLAT", {"mmap.enabled": True})
    assert client.describe_index("alt", "embedding", "IVF_FLAT")["properties"][
        "mmap.enabled"
    ] is True
    with pytest.raises(ValueError):
        client.alter_index_properties("alt", "embedding", "IVF_FLAT", {"x": 1})

    # dynamic-field flag flip: future inserts pack undeclared columns
    client.create_collection("dynf", pk_field="n_nationkey",
                             fields=["n_nationkey", "n_name"])
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.insert("dynf", nation.limit(2).select("n_nationkey", "n_name"))
    client.alter_collection_properties("dynf", {"enable_dynamic_field": True})
    client.insert("dynf", nation.filter("n_nationkey >= 2").limit(2)
                  .select("n_nationkey", "n_name", F.lit("x").alias("extra")))
    rows = {r.n_nationkey: r.extra for r in client.query(
        "dynf", output_fields=["n_nationkey", "extra"]).collect()}
    assert rows[2] == "x" and rows[0] is None  # pre-flip rows: null dynamic keys
    client.drop_collection("alt")
    client.drop_collection("dynf")


def test_search_iterator_nq_and_range(client, spark, sf_dir):
    """Iterator v2: nq must be 1; range variant honors radius bound."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("itv2", pk_field="vec_id", vector_field="embedding")
    client.insert("itv2", emb)
    q = [emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    with pytest.raises(ValueError, match="nq=1"):
        next(client.search_iterator("itv2", q + q, batch_size=5))
    pages = list(client.search_iterator("itv2", q, batch_size=5, max_pages=2,
                                        radius=0.2))
    assert pages and all(r.score >= 0.2 - 1e-9 for p in pages for r in p)
    client.drop_collection("itv2")


def test_search_iterator_caches_scans(client, spark, sf_dir):
    """The cursor serves pages from its cached ranking prefix: N pages cost
    O(log N) search scans, not N (the CachedSearchIterator economy), and
    the paged stream equals one big top-k exactly."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("itc", pk_field="vec_id", vector_field="embedding")
    client.insert("itc", emb)
    q = [emb.filter(F.col("vec_id") == 0).collect()[0].embedding]

    calls = {"n": 0}
    real_search = client.search

    def counting_search(*a, **kw):
        calls["n"] += 1
        return real_search(*a, **kw)

    client.search = counting_search
    try:
        pages = list(client.search_iterator("itc", q, batch_size=5, max_pages=4))
    finally:
        client.search = real_search
    assert len(pages) == 4 and all(len(p) == 5 for p in pages)
    # 4 pages fit in the first prefetch (4 pages/scan) — exactly one scan
    assert calls["n"] == 1
    # 6 pages: one prefetch + one doubling re-fetch
    client.search = counting_search
    calls["n"] = 0
    try:
        pages6 = list(client.search_iterator("itc", q, batch_size=5, max_pages=6))
    finally:
        client.search = real_search
    assert len(pages6) == 6 and calls["n"] == 2
    # paged stream == one-shot top-k, in order
    flat = [r.vec_id for p in pages6 for r in p]
    top = [r.vec_id for r in client.search("itc", q, limit=30).collect()]
    assert flat == top
    client.drop_collection("itc")


def test_query_order_by_dict_form_and_long_text(client, spark, sf_dir):
    """order_by accepts the reference's order_by_fields dict form
    (test_milvus_client_query_order.py: single/multi field, asc/desc,
    with filter); TEXT/LOB-sized values (>64 KB) round-trip through
    storage and text_match (test_milvus_client_text_lob.py)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(500)
    client.create_collection("qord", pk_field="o_orderkey")
    client.insert("qord", orders)

    got = [r.o_totalprice for r in client.query(
        "qord", order_by=[{"field": "o_totalprice", "order": "desc"}], limit=5
    ).collect()]
    assert got == sorted(got, reverse=True) and len(got) == 5

    multi = client.query(
        "qord",
        filter="o_orderstatus == \"F\"",
        order_by=[{"field": "o_orderstatus", "order": "asc"},
                  {"field": "o_totalprice", "order": "desc"}],
        limit=10,
    ).collect()
    prices = [r.o_totalprice for r in multi]
    assert prices == sorted(prices, reverse=True)

    with pytest.raises(ValueError, match="asc|desc"):
        client.query("qord", order_by=[{"field": "o_totalprice", "order": "sideways"}])
    client.drop_collection("qord")

    # TEXT LOB: a >64 KB document stores, reads back intact, and matches
    big = "lorem " * 20000 + "needleword tail"
    assert len(big) > 65536
    client.create_collection("lob", pk_field="id", fields=["id", "text"])
    client.insert("lob", spark.createDataFrame([(1, big), (2, "short doc")],
                                               "id long, text string"))
    row = client.query("lob", filter="id == 1", output_fields=["text"]).collect()[0]
    assert row.text == big  # byte-exact round trip
    hits = client.query("lob", filter='text_match(text, "needleword")').collect()
    assert [r.id for r in hits] == [1]
    client.drop_collection("lob")


def test_run_analyzer_api(client):
    """run_analyzer: debug tokenization through a declared analyzer config,
    including file-resource stop words."""
    import os

    toks = client.run_analyzer("The Quick FOXES jumped")
    assert toks == ["the", "quick", "foxes", "jumped"]
    toks = client.run_analyzer(
        "The Quick FOXES jumped",
        {"tokenizer": "standard",
         "filter": [{"type": "stemmer"}, {"type": "stop", "stop_words": ["the"]}]},
    )
    assert toks == ["quick", "fox", "jump"]
    sw = os.path.join(client.root, "sw.txt")
    with open(sw, "w") as f:
        f.write("quick\n")
    client.create_file_resource("sw", sw)
    toks = client.run_analyzer(
        "The quick fox",
        {"tokenizer": "standard",
         "filter": [{"type": "stop", "stopwords_resource": "sw"}]},
    )
    assert toks == ["the", "fox"]


def test_collection_declared_analyzer(client, spark, sf_dir):
    """analyzer_params on the schema: text_search tokenizes corpus AND
    query through the declared pipeline (stemmer makes 'streaming' and
    'streams' the same term); invalid configs rejected at declare time."""
    docs = spark.createDataFrame(
        [(1, "streams of data"), (2, "streaming data engine"), (3, "batch only")],
        "id long, text string",
    )
    client.create_collection(
        "ana", pk_field="id", fields=["id", "text"],
        analyzer_params={"tokenizer": "standard", "filter": [{"type": "stemmer"}]},
    )
    client.insert("ana", docs)
    hits = {r.id for r in client.text_search("ana", "text", "streaming").collect()}
    assert hits == {1, 2}  # stemmed query term matches the stemmed corpus
    with pytest.raises(ValueError):
        client.create_collection(
            "bad", pk_field="id",
            analyzer_params={"tokenizer": "nope"},
        )
    assert "bad" not in client.list_collections()
    client.drop_collection("ana")


def test_search_aggregation_buckets(client, spark, sf_dir):
    """SearchAggregation (test_milvus_client_search_aggregation.py): hit
    set bucketed by group fields with count/metrics, size buckets per
    level survive; validation mirrors the reference (size required, ≤4
    levels, mutual exclusivity with group_by_field)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("sagg", pk_field="vec_id", vector_field="embedding")
    client.insert("sagg", emb)
    q = [r.embedding for r in emb.filter(F.col("vec_id") < 2).collect()]

    buckets = client.search(
        "sagg", data=q, limit=30,
        search_aggregation={
            "fields": ["label"], "size": 2,
            "metrics": {"doc_count": {"count": "*"}, "best": {"max": "score"}},
        },
    ).collect()
    per_q = {}
    for b in buckets:
        per_q.setdefault(b.qid, []).append(b)
    assert set(per_q) == {0, 1}
    for qid, bs in per_q.items():
        assert 1 <= len(bs) <= 2
        assert all(b.doc_count == b["count"] and b.doc_count >= 1 for b in bs)
        assert all(b.best <= 1.0 + 1e-9 for b in bs)
    assert sum(b["count"] for b in per_q[0]) <= 30

    with pytest.raises(ValueError, match="mutually exclusive"):
        client.search("sagg", data=q, search_aggregation={"fields": ["label"], "size": 1},
                      group_by_field="label")
    with pytest.raises(ValueError, match="size"):
        client.search("sagg", data=q, search_aggregation={"fields": ["label"]})
    with pytest.raises(ValueError, match="group levels"):
        client.search("sagg", data=q,
                      search_aggregation={"fields": ["label"] * 5, "size": 1})
    client.drop_collection("sagg")


def test_advanced_search_batch(client, spark, sf_dir):
    """advanced_search: independent per-request search params, results
    unioned with req_id (REST v2 advanced_search — no fusion)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("advs", pk_field="vec_id", vector_field="embedding")
    client.insert("advs", emb)
    q = [emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    res = client.advanced_search("advs", [
        {"data": q, "limit": 3},
        {"data": q, "limit": 5, "filter": "label >= 2"},
    ]).collect()
    by_req = {}
    for r in res:
        by_req.setdefault(r.req_id, []).append(r)
    assert len(by_req[0]) == 3 and len(by_req[1]) <= 5
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r.vec_id] >= 2 for r in by_req[1])
    with pytest.raises(ValueError):
        client.advanced_search("advs", [])
    client.drop_collection("advs")


def test_search_aggregation_top_hits(client, spark, sf_dir):
    """TopHits: each bucket carries its best hits (score desc), bounded by
    the requested size; hit fields agree with the bucket key."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("sath", pk_field="vec_id", vector_field="embedding")
    client.insert("sath", emb)
    q = [emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    buckets = client.search(
        "sath", data=q, limit=30,
        search_aggregation={"fields": ["label"], "size": 3, "top_hits": 2},
    ).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert buckets
    for b in buckets:
        assert 1 <= len(b.hits) <= 2
        scores = [h.score for h in b.hits]
        assert scores == sorted(scores, reverse=True)
        assert all(labels[h.vec_id] == b.label for h in b.hits)
    client.drop_collection("sath")


def test_load_state_and_refresh(client, spark, sf_dir):
    """GetLoadState / RefreshLoad: state transitions and post-DML
    re-pinning of the visible snapshot."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("lds", pk_field="n_nationkey")
    client.insert("lds", nation.limit(10))
    assert client.get_load_state("lds")["state"] == "NotLoad"
    client.load_collection("lds")
    assert client.get_load_state("lds")["state"] == "Loaded"
    client.insert("lds", nation.filter("n_nationkey >= 10").limit(5))
    client.refresh_load("lds")
    assert client.get_load_state("lds")["state"] == "Loaded"
    assert client.count("lds") == 15
    client.release_collection("lds")
    assert client.get_load_state("lds")["state"] == "NotLoad"
    with pytest.raises(ValueError):
        client.refresh_load("lds")
    client.drop_collection("lds")


def test_partial_field_load(client, spark, sf_dir):
    """Partial field loading (testcases/test_field_partial_load.py): only
    the named columns (+pk) pin in cache; queries on unloaded fields still
    answer from the scan; unknown fields error."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("pfl", pk_field="vec_id", vector_field="embedding")
    client.insert("pfl", emb)
    client.load_collection("pfl", load_fields=["embedding"])
    assert client.get_load_state("pfl")["state"] == "Loaded"
    cached = client._loaded[client._load_key("pfl")]
    assert set(cached.columns) == {"vec_id", "embedding"}
    # a query on the unloaded column still works (scan path)
    assert client.query("pfl", filter="label >= 2").count() == emb.filter("label >= 2").count()
    client.release_collection("pfl")
    with pytest.raises(ValueError, match="load_fields"):
        client.load_collection("pfl", load_fields=["nope"])
    client.drop_collection("pfl")


def test_sq8_index_backed_search(client, spark, sf_dir):
    """create_index('IVF_SQ8'): code-table-backed search matches exact
    brute force at near-perfect recall; DML staleness falls back to scan."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("sq8", pk_field="vec_id", vector_field="embedding",
                             metric_type="L2")
    client.insert("sq8", emb)
    client.create_index("sq8", "embedding", "IVF_SQ8")
    q = [r.embedding for r in emb.filter(F.col("vec_id") < 2).collect()]

    idx_hits = {(r.qid, r.vec_id) for r in client.search("sq8", q, limit=10).collect()}
    # exact baseline via the scan path (stale the index with a no-op DML)
    client.insert("sq8", emb.limit(1).withColumn("vec_id", F.lit(10**9).cast("long")))
    exact_hits = {(r.qid, r.vec_id) for r in client.search("sq8", q, limit=10).collect()}
    inter = len(idx_hits & exact_hits)
    assert inter / len(exact_hits) >= 0.9
    client.drop_collection("sq8")


def test_search_hints_iterative_filter(spark, tmp_path):
    """hints="iterative_filter" (ParseSearchInfo, query/PlanProto.cpp:103-112)
    must be result-identical to the default pre-filter order, and reject the
    range-search combination."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "hints"))
    df = spark.createDataFrame(
        [(i, i % 3, [float(i % 7), float(i % 5)]) for i in range(60)],
        "id long, label long, emb array<float>",
    )
    c.create_collection("hc", "id", vector_field="emb", metric_type="L2")
    c.insert("hc", df)
    pre = c.search("hc", [[2.0, 3.0]], limit=5, filter="label == 1").collect()
    post = c.search(
        "hc", [[2.0, 3.0]], limit=5, filter="label == 1", hints="iterative_filter"
    ).collect()
    key = lambda r: r.rank
    assert [(r.id, r.score) for r in sorted(pre, key=key)] == [
        (r.id, r.score) for r in sorted(post, key=key)
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="range search"):
        c.search(
            "hc", [[2.0, 3.0]], limit=5, filter="label == 1",
            hints="iterative_filter", radius=50.0,
        )
    with _pytest.raises(ValueError, match="unknown hints"):
        c.search("hc", [[2.0, 3.0]], limit=5, hints="bogus")


def test_partition_key_isolation(spark, tmp_path):
    """partitionkey.isolation=true (common.go:340): every search must pin the
    partition key with an AND-reachable equality; IN / ranges / OR / NOT over
    the key and key-less filters are rejected
    (exprutil/expr_checker.go ValidatePartitionKeyIsolation;
    test_milvus_client_partition_key_isolation.py)."""
    from milvus_spark.client import MilvusSparkClient
    from milvus_spark.plans.expr import ExprError

    c = MilvusSparkClient(spark, root=str(tmp_path / "iso"))
    df = spark.createDataFrame(
        [(i, f"tenant_{i % 3}", [float(i), 1.0]) for i in range(30)],
        "id long, tenant string, emb array<float>",
    )
    c.create_collection(
        "iso", "id", vector_field="emb", metric_type="L2",
        partition_key_field="tenant",
        properties={"partitionkey.isolation": "true"},
    )
    c.insert("iso", df)
    hits = c.search(
        "iso", [[5.0, 1.0]], limit=3, filter='tenant == "tenant_2" && id > 0'
    ).collect()
    assert hits and all(r.id % 3 == 2 for r in hits)
    bad = [
        ('tenant in ["tenant_0", "tenant_1"]', "IN"),
        ('tenant > "tenant_0"', ">"),
        ('tenant == "tenant_0" || id > 5', "OR"),
        ('not (tenant == "tenant_0")', "NOT"),
        ("id > 5", "not found"),
        (None, "not found"),
    ]
    import pytest as _pytest

    for f, msg in bad:
        with _pytest.raises(ExprError, match=msg):
            c.search("iso", [[5.0, 1.0]], limit=3, filter=f)


def test_add_function_field_bm25(spark, tmp_path):
    """BM25 function fields on an existing collection
    (test_add_function_field_feature.py): the output field is virtual —
    search via anns_field=<output> with a query string scores BOTH
    pre-existing and later rows (backfill-free computed projection); manual
    writes to the output are rejected; filters compose."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "fn"))
    c.create_collection("docs", "id", fields=["id", "txt", "grp"])
    pre = spark.createDataFrame(
        [(1, "spark query engine", 0), (2, "query planner rules", 1),
         (3, "storage layer", 0)],
        "id long, txt string, grp long",
    )
    c.insert("docs", pre)  # rows BEFORE the function lands
    c.add_function_field(
        "docs",
        {"type": "BM25", "input_field": "txt", "output_field": "txt_sparse"},
    )
    post = spark.createDataFrame(
        [(4, "vector query search", 1)], "id long, txt string, grp long"
    )
    c.insert("docs", post)  # rows AFTER
    hits = c.search("docs", ["query"], limit=10, anns_field="txt_sparse").collect()
    ids = {r.id for r in hits}
    assert ids == {1, 2, 4}  # pre- and post-function rows both covered
    fhits = c.search(
        "docs", ["query"], limit=10, anns_field="txt_sparse", filter="grp == 1"
    ).collect()
    assert {r.id for r in fhits} == {2, 4}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="function output"):
        bad = post.withColumn("txt_sparse", post.id.cast("string"))
        c.insert("docs", bad)
    with _pytest.raises(ValueError, match="already bound"):
        c.add_function_field(
            "docs", {"type": "BM25", "input_field": "txt", "output_field": "txt_sparse"}
        )
    with _pytest.raises(ValueError, match="input field"):
        c.add_function_field(
            "docs", {"type": "BM25", "input_field": "nope", "output_field": "x"}
        )


def test_search_order_by_fields(spark, tmp_path):
    """search(order_by_fields=...) reorders the distance top-k page by scalar
    fields (test_milvus_client_search_order.py): single/multi field, all four
    direction forms, dynamic fields, fields outside output_fields, and
    group-by where GROUPS reorder by their top-1 hit's value."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "ord"))
    rows = [
        (i, float((i * 7) % 5), float(i % 4), f"cat{i % 3}", [float(i), 1.0])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "id long, price double, rating double, category string, emb array<float>")
    c.create_collection("ord", "id", vector_field="emb", metric_type="L2")
    c.insert("ord", df)
    q = [[3.0, 1.0]]

    plain = c.search("ord", q, limit=6).collect()
    topk_ids = {r.id for r in plain}

    got = c.search(
        "ord", q, limit=6,
        order_by_fields=[{"field": "price", "order": "asc"}],
        output_fields=["price"],
    ).collect()
    # same hit SET as the distance top-k, reordered by price
    assert {r.id for r in got} == topk_ids
    prices = [r.price for r in sorted(got, key=lambda r: r.rank)]
    assert prices == sorted(prices)

    got2 = c.search(
        "ord", q, limit=6,
        order_by_fields=[{"field": "price", "order": "descending"},
                         {"field": "rating", "order": "desc"}],
        output_fields=["price", "rating"],
    ).collect()
    key2 = [(-r.price, -r.rating) for r in sorted(got2, key=lambda r: r.rank)]
    assert key2 == sorted(key2)

    # group-by: groups reorder by top-1 price
    g = c.search(
        "ord", q, limit=3, group_by_field="category", group_size=2,
        order_by_fields=[{"field": "price", "order": "asc"}],
        output_fields=["price", "category"],
    ).collect()
    by_cat: dict = {}
    for r in g:
        by_cat.setdefault(r.category, []).append(r)
    # top-1 of each group = its best (lowest L2, pk tie) hit; groups must be
    # ordered (by grank) according to that row's price ascending
    tops = {c: min(rows, key=lambda r: (r.score, r.id)) for c, rows in by_cat.items()}
    grank_of = {c: rows[0].grank for c, rows in by_cat.items()}
    top1 = [tops[c].price for c in sorted(grank_of, key=grank_of.get)]
    assert top1 == sorted(top1)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="invalid order"):
        c.search("ord", q, order_by_fields=[{"field": "price", "order": "up"}])
    with _pytest.raises(ValueError, match="unknown order_by"):
        c.search("ord", q, order_by_fields=[{"field": "nope"}])


def test_query_output_subfield_projection(spark, tmp_path):
    """query(output_fields=["structA[sub]"]) surfaces a struct-array
    sub-field as an array column — same projection surface as the filter
    language (PR #47172)."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "proj"))
    df = spark.createDataFrame(
        [(1, [(5, "a"), (6, "b")]), (2, [(9, "c")])],
        "id long, sa array<struct<x:long, s:string>>",
    )
    c.create_collection("pj", "id")
    c.insert("pj", df)
    out = c.query("pj", filter="id >= 1", output_fields=["id", "sa[x]"]).collect()
    assert sorted((r["id"], list(r["sa[x]"])) for r in out) == [(1, [5, 6]), (2, [9])]


def test_iterative_filter_zero_survivor_widening(spark, tmp_path):
    """Regression: a widening round where NO candidate survives the filter
    must keep widening (a qid absent from the survivor groupBy is short,
    not satisfied) — pre/post filter results stay identical even when the
    filter matches only the far tail."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "itz"))
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(100)], "id long, emb array<float>"
    )
    c.create_collection("itz", "id", vector_field="emb", metric_type="L2")
    c.insert("itz", df)
    pre = c.search("itz", [[0.0, 0.0]], limit=5, filter="id >= 90").collect()
    post = c.search(
        "itz", [[0.0, 0.0]], limit=5, filter="id >= 90", hints="iterative_filter"
    ).collect()
    assert [(r.id, r.score) for r in sorted(pre, key=lambda r: r.rank)] == [
        (r.id, r.score) for r in sorted(post, key=lambda r: r.rank)
    ]
    assert [r.id for r in sorted(post, key=lambda r: r.rank)] == [90, 91, 92, 93, 94]
    # hint value validated on every path, including group_by
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown hints"):
        c.search("itz", [[0.0, 0.0]], limit=5, hints="bogus", group_by_field="id")


def test_bm25_stats_global_across_partition_scope(spark, tmp_path):
    """BM25 corpus stats are collection-global in the function-field path
    even under a partition scope (r4 advice): a document's score must be
    IDENTICAL whether the search is collection-wide or restricted to its
    partition — the scope restricts candidates, never rescales IDF/avgdl."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "bm25g"))
    c.create_collection("docs", "id", fields=["id", "txt"])
    c.create_partition("docs", "p1")
    a = spark.createDataFrame(
        [(1, "spark query engine"), (2, "query planner rules")], "id long, txt string"
    )
    b = spark.createDataFrame(
        [(3, "query optimizer"), (4, "storage layer manager stuff")], "id long, txt string"
    )
    c.insert("docs", a, partition_name="p1")
    c.insert("docs", b)  # _default: changes global N/avgdl/IDF
    c.add_function_field(
        "docs", {"type": "BM25", "input_field": "txt", "output_field": "sp"}
    )
    full = {r.id: r.score for r in c.search("docs", ["query"], limit=10, anns_field="sp").collect()}
    part = {
        r.id: r.score
        for r in c.search(
            "docs", ["query"], limit=10, anns_field="sp", partition_names=["p1"]
        ).collect()
    }
    assert set(part) == {1, 2}  # candidates restricted to p1
    for i in part:
        assert part[i] == full[i], f"doc {i}: partition-scoped score drifted"
    # and with a scalar filter on top, scores still match the global ones
    filt = {
        r.id: r.score
        for r in c.search(
            "docs", ["query"], limit=10, anns_field="sp",
            partition_names=["p1"], filter="id == 2",
        ).collect()
    }
    assert filt == {2: full[2]}


def test_field_warmup_properties(spark, tmp_path):
    """Per-field warmup (test_milvus_client_alter_warmup.py): declared at
    create (field_warmup) or via alter_collection_field, surfaced by
    describe_field, validated, and honored at load — warmup='disable'
    fields stay a lazy parquet tier (still queryable), 'sync' fields pin."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "warm"))
    c.create_collection(
        "w", "pk", vector_field="vec",
        fields=["pk", "vec", "i64", "vstr"],
        field_warmup={"vec": "sync", "i64": "disable", "vstr": "disable"},
    )
    assert c.describe_field("w", "vec") == {"warmup": "sync"}
    assert c.describe_field("w", "i64")["warmup"] == "disable"
    assert c.describe_field("w", "pk") == {}  # undeclared → no warmup key
    rows = spark.createDataFrame(
        [(i, [float(i), 1.0], i * 10, f"s{i}") for i in range(20)],
        "pk long, vec array<float>, i64 long, vstr string",
    )
    c.insert("w", rows)
    c.load_collection("w")
    # cold fields still answer (lazy tier, not a visibility gate)
    got = c.query("w", filter="i64 >= 100", output_fields=["pk", "i64", "vstr"])
    assert got.count() == 10
    hits = c.search("w", [[1.0, 1.0]], limit=5, output_fields=["i64"]).collect()
    assert len(hits) == 5
    c.release_collection("w")

    # alter path + validation matrix
    c.alter_collection_field("w", "i64", {"warmup": "sync"})
    assert c.describe_field("w", "i64")["warmup"] == "sync"
    for bad in ("eager", 1, None, "Sync"):
        with pytest.raises(ValueError, match="invalid warmup"):
            c.alter_collection_field("w", "i64", {"warmup": bad})
    with pytest.raises(ValueError, match="invalid warmup"):
        c.create_collection("w2", "pk", field_warmup={"x": "nope"})
    with pytest.raises(ValueError, match="invalid warmup"):
        c.create_collection("w3", "pk", properties={"warmup": "bogus"})

    # collection-level default coexists with per-field overrides
    c.create_collection(
        "w4", "pk", fields=["pk", "a", "b"],
        properties={"warmup": "disable"},
        field_warmup={"a": "sync"},
    )
    c.insert("w4", spark.createDataFrame([(1, 2, 3)], "pk long, a long, b long"))
    c.load_collection("w4")  # b is cold by collection default, a pinned
    assert c.query("w4", filter="b == 3").count() == 1
    c.release_collection("w4")

    # async warmup: load returns without blocking; reads still correct
    c.create_collection("w5", "pk", fields=["pk", "a"], field_warmup={"a": "async"})
    c.insert("w5", spark.createDataFrame([(1, 2)], "pk long, a long"))
    c.load_collection("w5")
    assert c.query("w5", filter="a == 2").count() == 1
    c.release_collection("w5")


def test_database_properties_and_force_deny(spark, tmp_path):
    """Database properties (test_milvus_client_database.py:213-284):
    create with properties, describe returns them, alter merges,
    drop_database_properties removes; database.force.deny.writing/reading
    are ENFORCED at the DML/query entry points; invalid names rejected."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "dbp"))
    c.create_database(
        "prod", properties={"database.force.deny.writing": "true",
                            "database.replica.number": "3"}
    )
    assert c.describe_database("prod") == {
        "name": "prod",
        "database.force.deny.writing": "true",
        "database.replica.number": "3",
    }
    c.alter_database_properties("prod", {"database.max.collections": "10"})
    assert c.describe_database("prod")["database.max.collections"] == "10"
    c.drop_database_properties("prod", ["database.replica.number"])
    assert "database.replica.number" not in c.describe_database("prod")

    # deny-writing enforcement in the affected database only
    rows = spark.createDataFrame([(1, 2)], "pk long, a long")
    c.use_database("prod")
    c.create_collection("t", "pk", fields=["pk", "a"])
    with pytest.raises(PermissionError, match="deny.writing"):
        c.insert("t", rows)
    c.use_database("default")
    c.create_collection("t", "pk", fields=["pk", "a"])
    c.insert("t", rows)  # default db unaffected

    # deny-reading
    c.alter_database_properties("prod", {"database.force.deny.writing": "false",
                                         "database.force.deny.reading": "true"})
    c.use_database("prod")
    c.insert("t", rows)  # writing re-enabled
    with pytest.raises(PermissionError, match="deny.reading"):
        c.query("t", filter="a == 2")
    c.drop_database_properties("prod", ["database.force.deny.reading"])
    assert c.query("t", filter="a == 2").count() == 1
    c.use_database("default")

    # validation matrix
    for bad in ["12-s", "12 s", "(mn)", "%$#", "  ", ""]:
        with pytest.raises(ValueError, match="underscore or letter"):
            c.create_database(bad)
    with pytest.raises(ValueError, match="underscore or letter"):
        c.describe_database("12-s")
    with pytest.raises(ValueError, match="not found"):
        c.describe_database("ghost")
    with pytest.raises(ValueError, match="not found"):
        c.alter_database_properties("ghost", {"x": 1})
    with pytest.raises(ValueError, match="already exist"):
        c.create_database("prod")
    with pytest.raises(ValueError, match="must be a dict"):
        c.create_database("pp", properties="hhh")
    c.flush_all()  # all-collections barrier runs


def test_database_quota_properties(spark, tmp_path, sf_dir):
    """database.max.collections (create_collection_task.go:118-155: db
    property outranks the global default, create refused at the cap) and
    database.diskQuota.mb (common.go:302: writes denied once stored size
    exceeds the quota; reads unaffected)."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "quota_root"))
    c.create_database("capped", properties={"database.max.collections": "2"})
    c.use_database("capped")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c.create_collection("c1", pk_field="n_nationkey")
    c.create_collection("c2", pk_field="n_nationkey")
    with pytest.raises(ValueError, match="collection num limit exceeded"):
        c.create_collection("c3", pk_field="n_nationkey")
    # lifting the property unblocks; a junk value errors like the reference
    c.drop_database_properties("capped", ["database.max.collections"])
    c.create_collection("c3", pk_field="n_nationkey")
    c.alter_database_properties("capped", {"database.max.collections": "zzz"})
    with pytest.raises(ValueError, match="parse value of property fail"):
        c.create_collection("c4", pk_field="n_nationkey")
    c.drop_database_properties("capped", ["database.max.collections"])

    # disk quota: fill past a tiny quota, writes deny, reads still serve
    c.insert("c1", nation)
    c.alter_database_properties("capped", {"database.diskQuota.mb": "0.0001"})
    with pytest.raises(PermissionError, match="diskQuota"):
        c.insert("c2", nation)
    assert c.query("c1", filter="n_regionkey == 1").count() > 0  # reads OK
    c.alter_database_properties("capped", {"database.diskQuota.mb": "10000"})
    c.insert("c2", nation)  # under quota again


def test_ddl_force_deny_family(spark, tmp_path, sf_dir):
    """database.force.deny.{ddl,collectionDDL,partitionDDL,index,flush,
    compaction} (common.go:307-312): each scope blocks its DDL verbs; the
    blanket .ddl key blocks all of them; data reads/writes unaffected."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "ddl_root"))
    c.create_database("locked")
    c.use_database("locked")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c.create_collection("nat", pk_field="n_nationkey")
    c.insert("nat", nation)

    c.alter_database_properties("locked", {"database.force.deny.collectionDDL": "true"})
    with pytest.raises(PermissionError, match="collectionDDL"):
        c.create_collection("nat2", pk_field="n_nationkey")
    with pytest.raises(PermissionError, match="collectionDDL"):
        c.drop_collection("nat")
    with pytest.raises(PermissionError, match="collectionDDL"):
        c.rename_collection("nat", "nat9")
    c.insert("nat", nation.limit(1))  # DML still allowed
    c.drop_database_properties("locked", ["database.force.deny.collectionDDL"])

    c.alter_database_properties("locked", {"database.force.deny.partitionDDL": "true"})
    with pytest.raises(PermissionError, match="partitionDDL"):
        c.create_partition("nat", "p1")
    c.drop_database_properties("locked", ["database.force.deny.partitionDDL"])

    c.alter_database_properties("locked", {"database.force.deny.index": "true"})
    with pytest.raises(PermissionError, match="index"):
        c.create_index("nat", "n_name", "NGRAM")
    c.drop_database_properties("locked", ["database.force.deny.index"])

    # blanket .ddl blocks every scope
    c.alter_database_properties("locked", {"database.force.deny.ddl": "true"})
    for fn in (
        lambda: c.create_collection("nat3", pk_field="n_nationkey"),
        lambda: c.create_partition("nat", "p2"),
        lambda: c.flush("nat"),
        lambda: c.compact("nat"),
    ):
        with pytest.raises(PermissionError, match="force.deny.ddl"):
            fn()
    c.drop_database_properties("locked", ["database.force.deny.ddl"])
    c.create_partition("nat", "p2")
    c.flush("nat")


def test_collection_disk_quota(spark, tmp_path, sf_dir):
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "cq_root"))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c.create_collection(
        "nat", pk_field="n_nationkey",
        properties={"collection.diskProtection.diskQuota.mb": "0.0001"},
    )
    c.insert("nat", nation)  # first write: size 0 < quota
    with pytest.raises(PermissionError, match="diskQuota"):
        c.insert("nat", nation.limit(1))
    assert c.query("nat", filter="n_regionkey == 1").count() > 0  # reads OK
    # other collections in the db are unaffected
    c.create_collection("other", pk_field="n_nationkey")
    c.insert("other", nation)


def test_load_property_defaults(spark, tmp_path, sf_dir):
    """collection.replica.number / collection.resource_groups (and the
    database-level fallbacks) drive load_collection when no explicit
    arguments are given; explicit arguments win."""
    from milvus_spark.client import MilvusSparkClient
    from milvus_spark.resource_groups import DEFAULT_RESOURCE_GROUP

    c = MilvusSparkClient(spark, root=str(tmp_path / "lp_root"))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c.create_resource_group("rg_l", {"requests": {"node_num": 1}, "limits": {"node_num": 1}})
    c.create_collection(
        "nat", pk_field="n_nationkey",
        properties={"collection.replica.number": "2",
                    "collection.resource_groups": "rg_l"},
    )
    c.insert("nat", nation)
    c.load_collection("nat")
    assert [r["resource_group"] for r in c.describe_replica("nat")] == ["rg_l", "rg_l"]
    c.release_collection("nat")
    # explicit arguments override the properties
    c.load_collection("nat", replica_number=1, resource_groups=[DEFAULT_RESOURCE_GROUP])
    assert [r["resource_group"] for r in c.describe_replica("nat")] == [
        DEFAULT_RESOURCE_GROUP
    ]
    c.release_collection("nat")
    # db-level fallback when the collection carries no properties
    c.create_database("dbp", properties={"database.replica.number": "3"})
    c.use_database("dbp")
    c.create_collection("nat2", pk_field="n_nationkey")
    c.insert("nat2", nation)
    c.load_collection("nat2")
    assert len(c.describe_replica("nat2")) == 3


def test_textembedding_function_and_output_property(spark, tmp_path, sf_dir):
    """TEXTEMBEDDING FunctionSchema executes at ingest (proxy/util.go:
    3485-3513 function executor); manual writes to function outputs are
    rejected UNLESS collection.function.allowInsertNonBM25FunctionOutputs
    is set — and BM25 outputs stay rejected regardless (common.go:278-282)."""
    from milvus_spark.client import MilvusSparkClient
    from milvus_spark.operators.embedding import md5_embed_batch

    c = MilvusSparkClient(spark, root=str(tmp_path / "fn_root"))
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    c.create_collection("d", pk_field="doc_id")
    c.add_function_field(
        "d", {"type": "TEXTEMBEDDING", "input_field": "text",
              "output_field": "emb", "params": {"dim": 8}},
    )
    c.insert("d", docs)
    got = {r.doc_id: r.emb for r in c.query("d", output_fields=["doc_id", "emb"]).collect()}
    import pandas as pd

    want = md5_embed_batch(pd.Series(["alpha beta"]), 8)[0]
    assert [round(x, 9) for x in got[1]] == [round(x, 9) for x in want]
    # manual write rejected by default...
    with pytest.raises(ValueError, match="function output"):
        c.insert("d", docs.withColumn("emb", F.array(F.lit(1.0))))
    # ...allowed once the property opts in (non-BM25 only)
    c.alter_collection_properties(
        "d", {"collection.function.allowInsertNonBM25FunctionOutputs": "true"}
    )
    c.insert(
        "d",
        spark.createDataFrame([(3, "x", [1.0] * 8)], "doc_id long, text string, emb array<double>"),
    )
    got3 = c.query("d", filter="doc_id == 3", output_fields=["emb"]).first().emb
    assert got3 == [1.0] * 8
    # BM25 outputs are always engine-owned
    c.add_function_field(
        "d", {"type": "BM25", "input_field": "text", "output_field": "sparse"}
    )
    with pytest.raises(ValueError, match="function output"):
        c.insert(
            "d",
            spark.createDataFrame([(4, "y", "z")], "doc_id long, text string, sparse string"),
        )


def test_field_evolution_edge_matrix(spark, tmp_path, sf_dir):
    """The reference drop/add-field edge matrix (test_drop_field_feature.py):
    re-add after drop never resurrects old values; one vector field can drop
    while another remains (never the last); indexes on a dropped field
    cascade; drop_function_field removes the binding + output + index."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "evo_root"))
    rows = spark.createDataFrame(
        [(1, "alpha", 7, [1.0, 0.0], [0.5, 0.5])],
        "pk long, txt string, x long, v1 array<double>, v2 array<double>",
    )
    c.create_collection("t", pk_field="pk", vector_field=["v1", "v2"])
    c.insert("t", rows)

    # drop x, re-add with default: the old 7 must NOT come back
    c.drop_field("t", "x")
    assert "x" not in c.query("t").columns
    c.add_field("t", "x", default=0)
    assert c.query("t", filter="pk == 1", output_fields=["x"]).first().x == 0
    # rows written after the re-add carry their own values
    c.insert("t", spark.createDataFrame(
        [(2, "beta", 9, [0.1, 0.9], [0.9, 0.1])],
        "pk long, txt string, x long, v1 array<double>, v2 array<double>",
    ))
    got = {r.pk: r.x for r in c.query("t", output_fields=["pk", "x"]).collect()}
    assert got == {1: 0, 2: 9}

    # constraint matrix
    with pytest.raises(ValueError, match="pk field"):
        c.drop_field("t", "pk")
    c.drop_field("t", "v1")  # another vector remains → legal
    with pytest.raises(ValueError, match="only vector field"):
        c.drop_field("t", "v2")

    # indexed scalar drop cascades its index
    c.create_index("t", "txt", "NGRAM")
    assert any(k.startswith("txt__") for k in c.list_indexes("t"))
    c.drop_field("t", "txt")
    assert not any(k.startswith("txt__") for k in c.list_indexes("t"))

    # drop_function_field removes the binding and hides the output
    c.add_function_field(
        "t", {"type": "BM25", "input_field": "x", "output_field": "sparse"}
    )
    with pytest.raises(ValueError, match="function output"):
        c.drop_field("t", "sparse")
    c.drop_function_field("t", "sparse")
    with pytest.raises(ValueError, match="no function"):
        c.drop_function_field("t", "sparse")


def test_management_parity_apis(spark, tmp_path, sf_dir):
    """GetPersistentSegmentInfo, snapshot client APIs (create/list/describe/
    drop/restore + restore state), RefreshExternalCollection job surface,
    Close (admin.go:79-99; external_table.go:36-90; task_snapshot.go)."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "mgmt_root"))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c.create_collection("nat", pk_field="n_nationkey")
    c.insert("nat", nation)
    c.insert("nat", nation.limit(3).withColumn("n_nationkey", F.col("n_nationkey") + 100))

    segs = c.get_persistent_segment_info("nat")
    assert len(segs) >= 2 and all(s["state"] == "Flushed" for s in segs)
    assert sum(s["num_rows"] for s in segs) == 28

    # snapshots
    c.create_snapshot("nat", "s1")
    assert c.list_snapshots("nat") == ["s1"]
    d = c.describe_snapshot("nat", "s1")
    assert d["num_segments"] >= 2 and d["bytes"] > 0
    c.delete("nat", filter="n_nationkey >= 100")
    assert c.query("nat").count() == 25
    c.restore_snapshot("nat", "s1")
    assert c.query("nat").count() == 28
    assert c.get_restore_snapshot_state("nat")["state"] == "Completed"
    c.drop_snapshot("nat", "s1")
    assert c.list_snapshots("nat") == []
    with pytest.raises(ValueError, match="no snapshot"):
        c.describe_snapshot("nat", "s1")

    # external refresh: new files land → refresh reports them; non-external errors
    ext = tmp_path / "ext"
    nation.limit(5).write.mode("overwrite").parquet(str(ext / "d.parquet"))
    c.create_external_collection("x", str(ext / "d.parquet"), pk_field="n_nationkey")
    job = c.refresh_external_collection("x")
    info = c.get_refresh_external_collection_progress("x", job["job_id"])
    assert info["state"] == "Finished" and info["num_rows"] == 5
    assert len(c.list_refresh_external_collection_jobs("x")) == 1
    with pytest.raises(ValueError, match="not an external table"):
        c.refresh_external_collection("nat")

    c.close()
    assert c.query("nat").count() == 28  # close drops caches, not data


def test_drop_index_properties(spark, tmp_path, sf_dir):
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "ip_root"))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c.create_collection("nat", pk_field="n_nationkey")
    c.insert("nat", nation)
    c.create_index("nat", "n_name", "NGRAM")
    c.alter_index_properties("nat", "n_name", "NGRAM", {"mmap.enabled": "true"})
    assert c.describe_index("nat", "n_name", "NGRAM")["properties"] == {
        "mmap.enabled": "true"
    }
    c.drop_index_properties("nat", "n_name", "NGRAM", ["mmap.enabled"])
    assert c.describe_index("nat", "n_name", "NGRAM")["properties"] == {}


def test_snapshot_export_pin_restore(spark, tmp_path, sf_dir):
    """ExportSnapshot / RestoreExternalSnapshot / Pin/UnpinSnapshotData:
    exported state restores as a NEW collection; pins block drop."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "snap_root"))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c.create_collection("nat", pk_field="n_nationkey")
    c.insert("nat", nation)
    c.delete("nat", filter="n_regionkey == 4")
    c.create_snapshot("nat", "s1")

    c.pin_snapshot_data("nat", "s1")
    with pytest.raises(ValueError, match="pinned"):
        c.drop_snapshot("nat", "s1")

    out = str(tmp_path / "exported_s1")
    mf = c.export_snapshot("nat", "s1", out)
    assert mf["collection"] == "nat"
    # mutate the source AFTER the export; the restore must see the snapshot
    c.insert("nat", nation.limit(2).withColumn("n_nationkey", F.col("n_nationkey") + 500))

    c.restore_external_snapshot("nat_copy", out)
    assert c.query("nat_copy").count() == nation.filter("n_regionkey != 4").count()
    assert c.query("nat_copy", filter="n_nationkey >= 500").count() == 0

    c.unpin_snapshot_data("nat", "s1")
    c.drop_snapshot("nat", "s1")
    with pytest.raises(ValueError, match="no snapshot"):
        c.export_snapshot("nat", "s1", str(tmp_path / "x"))


def test_struct_array_nullable_lifecycle(spark, tmp_path):
    """Nullable struct-array values through the full DML lifecycle
    (test_milvus_client_struct_array_nullable.py:1627-1910): insert with
    NULL and empty arrays, element filters skip them (3VL, no error),
    upsert flips null <-> non-null, and compaction preserves null/empty
    values and element offsets."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "san_root"))
    schema = "pk long, items array<struct<q:long, tag:string>>"
    rows = [
        (1, [(5, "a"), (150, "b")]),
        (2, []),
        (3, None),
        (4, [(200, "x")]),
    ]
    c.create_collection("sa", pk_field="pk")
    c.insert("sa", spark.createDataFrame(rows, schema))

    # element filter: null/empty arrays simply never match
    hits = c.query("sa", filter="element_filter(items, $[q] > 100)")
    assert sorted(r.pk for r in hits.collect()) == [1, 4]
    # nulls are retrievable as nulls
    got = {r.pk: r["items"] for r in c.query("sa", output_fields=["pk", "items"]).collect()}
    assert got[3] is None and got[2] == []

    # upsert: null -> values, values -> null
    c.upsert("sa", spark.createDataFrame([(3, [(999, "z")]), (1, None)], schema))
    hits = c.query("sa", filter="element_filter(items, $[q] > 100)")
    assert sorted(r.pk for r in hits.collect()) == [3, 4]

    # compaction rewrites segments without disturbing null/empty/order
    c.compact("sa")
    got = {r.pk: r["items"] for r in c.query("sa", output_fields=["pk", "items"]).collect()}
    assert got[1] is None and got[2] == [] and [tuple(e) for e in got[3]] == [(999, "z")]
    assert [tuple(e) for e in got[4]] == [(200, "x")]


def test_progress_utility_apis(spark, tmp_path, sf_dir):
    """utility.loading_progress / wait_for_loading_complete /
    index_building_progress / wait_for_index_building_complete analogs:
    synchronous jobs report complete; stale indexes report the pending gap."""
    from milvus_spark.client import MilvusSparkClient

    c = MilvusSparkClient(spark, root=str(tmp_path / "prog_root"))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c.create_collection("nat", pk_field="n_nationkey")
    c.insert("nat", nation)

    assert c.loading_progress("nat") == {"loading_progress": "0%"}
    with pytest.raises(ValueError, match="not loading"):
        c.wait_for_loading_complete("nat")
    c.load_collection("nat")
    assert c.loading_progress("nat") == {"loading_progress": "100%"}
    c.wait_for_loading_complete("nat")

    c.create_index("nat", "n_name", "NGRAM")
    p = c.index_building_progress("nat", "n_name", "NGRAM")
    assert p["indexed_rows"] == p["total_rows"] == 25 and p["pending_index_rows"] == 0
    c.wait_for_index_building_complete("nat", "n_name", "NGRAM")
    # DML after build -> the index is stale, rows report as pending
    c.insert("nat", nation.limit(2).withColumn("n_nationkey", F.col("n_nationkey") + 100))
    p = c.index_building_progress("nat", "n_name", "NGRAM")
    assert p["total_rows"] == 27 and p["pending_index_rows"] == 27
    with pytest.raises(KeyError, match="no index"):
        c.index_building_progress("nat", "n_name", "NOPE")


def test_add_struct_field(client, spark, sf_dir):
    """Struct-array schema evolution (AddCollectionStructField,
    client/milvusclient/collection.go:273-282): the added column reads a
    TYPED null on pre-evolution rows, later inserts carry real struct
    arrays, element access works, and the refusal matrix holds."""
    import pytest as _pt
    from pyspark.sql import functions as F

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("asf", pk_field="n_nationkey")
    client.insert("asf", n.select("n_nationkey", "n_name").filter(F.col("n_nationkey") < 10))
    client.add_struct_field("asf", "clips", {"emb": "array<double>", "tag": "string"})
    out = client.query("asf", output_fields=["n_nationkey", "clips"])
    assert dict(out.dtypes)["clips"] == "array<struct<emb:array<double>,tag:string>>"
    assert all(r.clips is None for r in out.collect())
    # post-evolution insert carries the column
    rows = spark.createDataFrame(
        [[90, "x", [([0.1, 0.2], "a"), ([0.3, 0.4], "b")]]],
        "n_nationkey int, n_name string, clips array<struct<emb:array<double>,tag:string>>",
    )
    client.insert("asf", rows)
    got = client.query("asf", filter="n_nationkey == 90", output_fields=["clips"]).collect()
    assert [c.tag for c in got[0].clips] == ["a", "b"]
    assert (
        client.query("asf", output_fields=["n_nationkey", "clips"])
        .filter(F.size("clips") == 2)
        .count()
        == 1
    )
    with _pt.raises(ValueError, match="already evolved"):
        client.add_struct_field("asf", "clips", {"emb": "array<double>"})
    with _pt.raises(ValueError, match="null default"):
        client.add_struct_field("asf", "c2", {"emb": "array<double>"}, default=[])
    with _pt.raises(ValueError, match="invalid element_fields"):
        client.add_struct_field("asf", "c3", {"emb": "not_a_type"})
    client.drop_collection("asf")


def test_add_struct_field_readd_after_drop(client, spark, sf_dir):
    """r11 regression (ADVICE): re-adding a struct field after drop_field
    must unhide the name and mask pre-re-add stored values behind the typed
    null (mirrors add_field's since_ts handling) — before the fix the
    dropped_fields loop silently dropped the freshly evolved column."""
    from pyspark.sql import functions as F

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    client.create_collection("asfr", pk_field="n_nationkey")
    client.insert(
        "asfr", n.select("n_nationkey", "n_name").filter(F.col("n_nationkey") < 5)
    )
    client.add_struct_field("asfr", "clips", {"emb": "array<double>", "tag": "string"})
    rows = spark.createDataFrame(
        [[91, "x", [([0.1], "old")]]],
        "n_nationkey int, n_name string, "
        "clips array<struct<emb:array<double>,tag:string>>",
    )
    client.insert("asfr", rows)
    client.drop_field("asfr", "clips")
    assert "clips" not in client.query("asfr", output_fields=["*"]).columns
    # re-add: column visible again, typed, and the OLD stored struct data
    # must NOT resurrect
    client.add_struct_field("asfr", "clips", {"emb": "array<double>", "tag": "string"})
    out = client.query("asfr", output_fields=["n_nationkey", "clips"])
    assert dict(out.dtypes)["clips"] == "array<struct<emb:array<double>,tag:string>>"
    assert all(r.clips is None for r in out.collect()), "old struct data resurrected"
    # inserts after the re-add carry real values
    rows2 = spark.createDataFrame(
        [[92, "y", [([0.5], "new")]]],
        "n_nationkey int, n_name string, "
        "clips array<struct<emb:array<double>,tag:string>>",
    )
    client.insert("asfr", rows2)
    got = client.query("asfr", filter="n_nationkey == 92", output_fields=["clips"])
    assert [c.tag for c in got.collect()[0].clips] == ["new"]
    assert (
        client.query("asfr", filter="n_nationkey == 91", output_fields=["clips"])
        .collect()[0]
        .clips
        is None
    )
    client.drop_collection("asfr")


def test_surface_parity_batch(client, spark, sf_dir):
    """Round-10 client-surface parity batch: operate_privilege_group (the
    raw add/remove proto op), list_restore_snapshot_jobs, and
    dump_messages (the WAL change-message dump riding the changefeed)."""
    import pytest as _pt
    from pyspark.sql import functions as F

    # operate_privilege_group dispatches to the named wrappers
    client.create_privilege_group("pg_op")
    client.operate_privilege_group("pg_op", ["Query"], "add")
    assert "Query" in client.list_privilege_groups()["pg_op"]
    client.operate_privilege_group("pg_op", ["Query"], "remove")
    assert "Query" not in client.list_privilege_groups()["pg_op"]
    with _pt.raises(ValueError, match="operate_type"):
        client.operate_privilege_group("pg_op", ["Query"], "toggle")
    client.drop_privilege_group("pg_op")

    # dump_messages: insert + delete appear as ordered change messages
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    client.create_collection("dmp", pk_field="n_nationkey")
    client.insert("dmp", n.filter(F.col("n_nationkey") < 5))
    client.delete("dmp", ids=[2])
    msgs = client.dump_messages("dmp").collect()
    assert [(m.op, m.n_nationkey) for m in msgs if m.n_nationkey == 2] == [
        ("insert", 2), ("delete", 2),
    ]
    assert sum(1 for m in msgs if m.op == "insert") == 5

    # restore-job listing surfaces per-collection restore state
    client.create_snapshot("dmp", "s1")
    client.restore_snapshot("dmp", "s1")
    jobs = client.list_restore_snapshot_jobs()
    assert any(j["collection"] == "dmp" for j in jobs)
    client.drop_collection("dmp")


def test_search_request_shape_quotas(client, spark, sf_dir):
    """Proxy request validation (util.go): nq in [1, 16384], round_decimal
    -1 or in [0, 6] — refused for every search before any path serves it."""
    import pytest
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection(
        "quo", pk_field="vec_id", vector_field="embedding", metric_type="COSINE"
    )
    client.insert("quo", emb.select("vec_id", "embedding"))
    q = [list(map(float, emb.limit(1).collect()[0].embedding))]
    with pytest.raises(ValueError, match="nq"):
        client.search("quo", [], limit=3)
    for bad in (7, -2, 3.5):
        with pytest.raises(ValueError, match="round_decimal"):
            client.search("quo", q, limit=3, round_decimal=bad)
    assert client.search("quo", q, limit=3, round_decimal=-1).count() == 3


def test_search_wildcard_output_fields(client, spark, sf_dir):
    """output_fields=["*"] expands to the collection's fields once —
    never duplicate columns (translateOutputFields) — and composes with
    explicitly named fields."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection(
        "wld", pk_field="vec_id", vector_field="embedding", metric_type="COSINE"
    )
    client.insert("wld", emb.select("vec_id", "embedding", "label"))
    q = [list(map(float, emb.limit(1).collect()[0].embedding))]
    cols = client.search("wld", q, limit=3, output_fields=["*"]).columns
    assert len(cols) == len(set(cols)), cols
    assert {"embedding", "label", "vec_id", "score"} <= set(cols)
    cols2 = client.search("wld", q, limit=3, output_fields=["label", "*"]).columns
    assert len(cols2) == len(set(cols2)), cols2


def test_query_result_window_and_hybrid_caps(client, spark, sf_dir):
    """Proxy quotas (util.go:79,182-194; util_test.go:2425-2429): query
    offset/limit window bounded at 16384, hybrid sub-requests at 1024,
    caller-named partitions must exist, ragged query batches refuse."""
    import pytest
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection(
        "qw", pk_field="vec_id", vector_field="embedding", metric_type="COSINE"
    )
    client.insert("qw", emb.select("vec_id", "embedding"))
    q = [list(map(float, emb.limit(1).collect()[0].embedding))]
    with pytest.raises(ValueError, match="result window"):
        client.query("qw", filter="true", output_fields=["vec_id"], limit=16000, offset=1000)
    with pytest.raises(ValueError, match="gte than 0"):
        client.query("qw", filter="true", output_fields=["vec_id"], offset=-1)
    with pytest.raises(ValueError, match="greater than 0"):
        client.query("qw", filter="true", output_fields=["vec_id"], limit=0)
    with pytest.raises(ValueError, match="maximum of ann search requests"):
        client.hybrid_search("qw", [{"data": q, "limit": 1}] * 1025, limit=1)
    with pytest.raises(ValueError, match="partition name"):
        client.search("qw", q, limit=3, partition_names=["nope"])
    with pytest.raises(ValueError, match="partition name"):
        client.query("qw", filter="true", output_fields=["vec_id"], partition_names=["nope"])
    with pytest.raises(ValueError, match="inconsistent dimensions"):
        client.search("qw", [q[0], [1.0, 2.0]], limit=3)
    with pytest.raises(ValueError, match="missing declared vector"):
        client.insert("qw", emb.select("vec_id"))
