"""Vector search unit tests: numpy brute-force ground truth (the reference
methodology — SearchBruteForce.cpp is the semantic all Milvus paths reduce to)."""

from __future__ import annotations

import numpy as np

from milvus_spark.scratch import mkdtemp
from milvus_spark.operators.rounding import round_half_up
import pytest
from pyspark.sql import functions as F

from milvus_spark.operators.knn import brute_force_search, grouping_search


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding", "label").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    labels = np.array([r.label for r in rows])
    return ids, V, labels


def _ground_truth_topk(ids, V, q, metric, k):
    if metric == "COSINE":
        s = (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
        s = round_half_up(s, 4)
        order = np.lexsort((ids, -s))
    elif metric == "IP":
        s = round_half_up(V @ q, 4)
        order = np.lexsort((ids, -s))
    elif metric == "L2":
        s = round_half_up(((V - q) ** 2).sum(axis=1), 4)
        order = np.lexsort((ids, s))
    return ids[order[:k]].tolist()


@pytest.mark.parametrize("metric", ["COSINE", "IP", "L2"])
def test_brute_force_matches_numpy(emb, emb_np, metric):
    ids, V, _ = emb_np
    queries = [(int(ids[i]), V[i].tolist()) for i in range(3)]
    res = brute_force_search(emb, queries, "embedding", "vec_id", metric=metric, k=8)
    got = {
        qid: [r.vec_id for r in rows]
        for qid, rows in _group_rows(res.collect())
    }
    for qid, qv in queries:
        expect = _ground_truth_topk(ids, V, np.asarray(qv), metric, 8)
        assert got[qid] == expect, f"{metric} qid={qid}"


def _group_rows(rows):
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        yield qid, rs


def test_filtered_search_respects_filter(emb, emb_np):
    ids, V, labels = emb_np
    queries = [(int(ids[0]), V[0].tolist())]
    res = brute_force_search(
        emb, queries, "embedding", "vec_id", metric="COSINE", k=10,
        filter_cond=F.col("label") == 3,
    ).collect()
    allowed = set(ids[labels == 3].tolist())
    assert res and all(r.vec_id in allowed for r in res)


def test_range_search_bounds(emb, emb_np):
    ids, V, _ = emb_np
    queries = [(int(ids[0]), V[0].tolist())]
    res = brute_force_search(
        emb, queries, "embedding", "vec_id", metric="COSINE", k=50,
        radius=0.3, range_filter=0.95,
    ).collect()
    assert res
    for r in res:
        assert 0.3 < r.score <= 0.95


def test_grouping_search_shape(emb):
    qrows = emb.filter(F.col("vec_id") < 2).collect()
    queries = [(r.vec_id, list(r.embedding)) for r in qrows]
    res = grouping_search(
        emb, queries, "embedding", "vec_id", "label", metric="COSINE",
        limit=3, group_size=2,
    ).collect()
    per_q = {}
    for r in res:
        per_q.setdefault(r.qid, set()).add(r.label)
    for qid, groups in per_q.items():
        assert len(groups) == 3
    # group_size respected
    cnt = {}
    for r in res:
        cnt[(r.qid, r.label)] = cnt.get((r.qid, r.label), 0) + 1
    assert all(v <= 2 for v in cnt.values())


def test_brute_force_scales_by_partition(spark, sf_dir):
    """Kernel shape check at 50x the corpus (100k vectors): per-batch
    partial top-k means shuffle volume stays O(batches * nq * k) regardless
    of corpus size; results on the replicated corpus must put the exact
    duplicates of each query first (score 1.0 for COSINE)."""
    from pyspark.sql import functions as F

    from milvus_spark.operators.knn import brute_force_search, queries_from_table
    from milvus_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    expanded = emb
    for i in range(1, 50):
        expanded = expanded.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + i * n)
        )
    expanded = expanded.repartition(32).cache()
    assert expanded.count() == 50 * n

    qs = queries_from_table(emb, "vec_id", "embedding", F.col("vec_id") < 2)
    hits = brute_force_search(expanded, qs, "embedding", "vec_id", metric="COSINE", k=60)
    rows = hits.collect()
    assert len(rows) == 2 * 60
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        # 50 exact replicas of the query vector rank first at score 1.0
        assert all(r["score"] == 1.0 for r in rs[:50]), qid
        assert {r["vec_id"] % n for r in rs[:50]} == {qid}
        # scores non-increasing with rank
        assert all(rs[i]["score"] >= rs[i + 1]["score"] for i in range(len(rs) - 1))
    expanded.unpersist()


def test_binary_vector_client_search(spark, sf_dir):
    """BINARY_VECTOR end to end through the client: packed-byte vectors,
    HAMMING/JACCARD brute force vs numpy ground truth (binary wire format,
    Types.h BinaryVector; knowhere binary metric family)."""
    import shutil

    import numpy as np
    from pyspark.sql import functions as F

    from milvus_spark.client import MilvusSparkClient

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    rows = emb.collect()
    packed = {
        r.vec_id: np.packbits((np.asarray(r.embedding) > 0).astype(np.uint8))
        for r in rows
    }
    df = spark.createDataFrame(
        [(int(i), [int(b) for b in v]) for i, v in packed.items()],
        "vec_id long, bvec array<smallint>",
    )
    root = mkdtemp("bvc_")
    try:
        client = MilvusSparkClient(spark, root)
        client.create_collection("bv", pk_field="vec_id", vector_field="bvec", metric_type="HAMMING")
        client.insert("bv", df)
        qids = [0, 1]
        qs = [[int(b) for b in packed[q]] for q in qids]
        for metric in ("HAMMING", "JACCARD"):
            hits = client.search("bv", data=qs, limit=5, metric_type=metric).collect()
            got = {(h.qid, h.rank): h.vec_id for h in hits}
            for qi, qid in enumerate(qids):
                qb = np.unpackbits(packed[qid])
                scored = []
                for vid, v in packed.items():
                    vb = np.unpackbits(v)
                    if metric == "HAMMING":
                        s = float((qb != vb).sum())
                    else:
                        inter = float((qb & vb).sum())
                        union = float((qb | vb).sum())
                        s = 1.0 - inter / union if union else 0.0
                    scored.append((round(s, 4), vid))
                want = [vid for _, vid in sorted(scored, key=lambda t: (t[0], t[1]))[:5]]
                for rank, vid in enumerate(want, start=1):
                    assert got[(qi, rank)] == vid, (metric, qid, rank)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_multi_metric_search_matches_per_metric_searches(spark, sf_dir):
    """r8: the one-scan hybrid kernel's per-sid slices must equal a
    standalone brute_force_search of each metric exactly (same rounding,
    same (score, pk) total order) — including the all-descending case
    where the sign-folded order key has no ascending sids."""
    from pyspark.sql import functions as F

    from milvus_spark.operators.knn import (
        brute_force_search, multi_metric_search, queries_from_table,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = queries_from_table(emb, "vec_id", "embedding", F.col("vec_id") < 3)
    for metrics in (["COSINE", "L2"], ["COSINE", "IP"], ["L2"]):
        both = multi_metric_search(
            emb, qs, "embedding", "vec_id", metrics=metrics, k=15
        )
        rows = both.collect()
        for sid, met in enumerate(metrics):
            want = sorted(
                map(tuple, brute_force_search(
                    emb, qs, "embedding", "vec_id", metric=met, k=15
                ).collect())
            )
            got = sorted(
                (r.qid, r.vec_id, r.score, r.rank) for r in rows if r.sid == sid
            )
            assert got == want, (metrics, met)
