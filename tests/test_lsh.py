"""LSH ANN + near-dup: planted-ground-truth recall tests (the reference's ANN
test methodology — approximate paths are judged by recall vs brute force /
known truth, tests/python_client search-test style)."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from milvus_spark.scratch import mkdtemp
from milvus_spark.operators.lsh import (
    embedding_near_dup,
    hyperplane_tables,
    hyperplanes,
    lsh_index,
    lsh_search,
    write_bucketed,
)

DIM = 16
N_BASE = 200
N_DUP = 40


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with planted near-duplicates: row i and row N_BASE+i (i < N_DUP)
    are the same vector + 1% noise → cosine ≈ 0.9999; unrelated rows are
    near-orthogonal random Gaussians."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((N_BASE, DIM))
    dup = base[:N_DUP] + 0.01 * rng.standard_normal((N_DUP, DIM))
    V = np.vstack([base, dup])
    rows = [(i, [float(x) for x in V[i]]) for i in range(len(V))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, V


def test_near_dup_finds_all_planted_pairs(spark, planted):
    df, V = planted
    HT = hyperplane_tables(DIM, nbits=8, n_tables=10)
    got = embedding_near_dup(df, "embedding", "vec_id", HT, threshold=0.98)
    pairs = {(r.ia, r.ib) for r in got.collect()}
    expected = {(i, N_BASE + i) for i in range(N_DUP)}
    assert expected <= pairs
    # only the planted pairs clear the 0.98 threshold
    assert pairs == expected


def test_candidate_set_is_subquadratic(spark, planted):
    df, V = planted
    HT = hyperplane_tables(DIM, nbits=8, n_tables=10)
    idx = lsh_index(df, "embedding", "vec_id", HT)
    i2 = idx.select(
        F.col("vec_id").alias("pk2"), F.col("table").alias("t2"), F.col("bucket").alias("b2")
    )
    n_cand = (
        idx.join(i2, (idx.table == i2.t2) & (idx.bucket == i2.b2) & (idx.vec_id < i2.pk2))
        .select("vec_id", "pk2")
        .distinct()
        .count()
    )
    n = len(V)
    assert n_cand < 0.2 * n * (n - 1) / 2, f"{n_cand} candidates ≈ quadratic"


def test_lsh_topk_search_finds_planted_neighbor(spark, planted):
    df, V = planted
    H = hyperplanes(DIM, nbits=6)
    path = mkdtemp("lshb_")
    shutil.rmtree(path)
    try:
        write_bucketed(df, "embedding", H, path)
        # query with the duplicate vectors: their planted partner must be
        # the top non-self hit (cosine ≈ 1, same bucket in nearly all bits)
        qs = [(N_BASE + i, [float(x) for x in V[N_BASE + i]]) for i in range(10)]
        got = lsh_search(
            spark, path, H, qs, "embedding", "vec_id", k=2, probe_radius=1
        ).collect()
        top = {}
        for r in got:
            if r.vec_id != r.qid:  # skip self-match
                top.setdefault(r.qid, r.vec_id)
        for i in range(10):
            assert top[N_BASE + i] == i, (i, top)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_incremental_refresh_lsh(spark, sf_dir, tmp_path):
    """LSH refresh: the delta buckets with the KEPT hyperplanes and appends
    into the bucket-partitioned layout; deleted pks join the persisted
    bitset and never surface."""
    import numpy as np
    from pyspark.sql import functions as F

    from milvus_spark.client import MilvusSparkClient

    client = MilvusSparkClient(spark, root=str(tmp_path))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("lshr", pk_field="vec_id", vector_field="embedding")
    client.insert("lshr", emb.filter(F.col("vec_id") % 3 != 0))
    client.create_index("lshr", "embedding", "LSH", {"nbits": 6})
    client.insert("lshr", emb.filter(F.col("vec_id") % 3 == 0))
    client.refresh_index("lshr", "embedding", "LSH")
    q = [emb.filter(F.col("vec_id") == 1).first().embedding]
    # full probe radius -> every bucket probed -> exact
    got = {
        r.vec_id
        for r in client.search(
            "lshr", q, limit=10, search_params={"probe_radius": 6}
        ).collect()
    }
    rows = emb.collect()
    qv = np.asarray(q[0]) / np.linalg.norm(q[0])
    cos = {
        r.vec_id: float(
            np.dot(np.asarray(r.embedding) / np.linalg.norm(r.embedding), qv)
        )
        for r in rows
    }
    truth = set(sorted(cos, key=lambda i: (-round(cos[i], 12), i))[:10])
    assert got == truth
    client.delete("lshr", ids=[1])
    entry = client.refresh_index("lshr", "embedding", "LSH")
    assert [p for p, _ in entry["masked_pks"]] == [1]  # [pk, bound] pairs (r7)
    post = client.search(
        "lshr", q, limit=10, search_params={"probe_radius": 6}
    ).collect()
    assert all(r.vec_id != 1 for r in post)
    # upsert ACCEPTED (r7): old bucketed copy version-masks below the new
    # epoch; the re-bucketed copy keeps serving (same vector -> same rank)
    client.upsert("lshr", emb.filter(F.col("vec_id") == 2))
    entry = client.refresh_index("lshr", "embedding", "LSH")
    assert sorted(p for p, _ in entry["masked_pks"]) == [1, 2]
    up = {
        r.vec_id
        for r in client.search(
            "lshr", q, limit=10, search_params={"probe_radius": 6}
        ).collect()
    }
    assert up == {r.vec_id for r in post}
    client.drop_collection("lshr")
