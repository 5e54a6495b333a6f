"""IVF ANN: recall@10 ≥ 0.95 vs brute force (the reference's ANN correctness
contract — BASELINE.md vector-ops row), and partition pruning at the scan."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from milvus_spark.scratch import mkdtemp
from milvus_spark.operators.ivf import build_centroids, ivf_search, l2_normalize, write_clustered
from milvus_spark.operators.knn import brute_force_search


@pytest.fixture(scope="module")
def clustered(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # COSINE collection → spherical k-means over normalized vectors
    norm = l2_normalize(emb, "embedding")
    cents = build_centroids(norm, "embedding", k=16, seed=42)
    path = mkdtemp("ivf_")
    shutil.rmtree(path)
    write_clustered(norm, "embedding", cents, path)
    yield emb, norm, cents, path
    shutil.rmtree(path, ignore_errors=True)


def test_ivf_recall(spark, clustered):
    emb, norm, cents, path = clustered
    qrows = norm.filter(F.col("vec_id") < 8).collect()
    queries = [(r.vec_id, list(r.embedding)) for r in qrows]

    exact = brute_force_search(emb, queries, "embedding", "vec_id", metric="COSINE", k=10)
    truth = {}
    for r in exact.collect():
        truth.setdefault(r.qid, set()).add(r.vec_id)

    approx = ivf_search(
        spark, path, cents, queries, "embedding", "vec_id",
        metric="COSINE", k=10, nprobe=12,
    )
    got = {}
    for r in approx.collect():
        got.setdefault(r.qid, set()).add(r.vec_id)

    recalls = [len(got.get(q, set()) & truth[q]) / len(truth[q]) for q in truth]
    assert np.mean(recalls) >= 0.95, f"recall {np.mean(recalls):.3f} ({recalls})"


def test_ivf_filtered_recall_and_pruning(spark, clustered):
    """Filtered IVF (FilterBits→VectorSearch on the cluster layout): every
    hit satisfies the filter, recall vs the exact FILTERED top-k holds at
    pruned nprobe, and the scan still partition-prunes to probed clusters
    (the id semi-join must not defeat pruning)."""
    emb, norm, cents, path = clustered
    qrows = norm.filter(F.col("vec_id") < 8).collect()
    queries = [(r.vec_id, list(r.embedding)) for r in qrows]
    matches = emb.filter(F.col("label") % 3 == 0).select("vec_id")

    exact = brute_force_search(
        emb.filter(F.col("label") % 3 == 0), queries, "embedding", "vec_id",
        metric="COSINE", k=10,
    )
    truth = {}
    for r in exact.collect():
        truth.setdefault(r.qid, set()).add(r.vec_id)

    approx = ivf_search(
        spark, path, cents, queries, "embedding", "vec_id",
        metric="COSINE", k=10, nprobe=12, matches=matches,
    )
    ok_ids = {r.vec_id for r in matches.collect()}
    got = {}
    for r in approx.collect():
        assert r.vec_id in ok_ids  # the bitset is exact, not fuzzy
        got.setdefault(r.qid, set()).add(r.vec_id)
    recalls = [len(got.get(q, set()) & truth[q]) / len(truth[q]) for q in truth]
    assert np.mean(recalls) >= 0.9, f"filtered recall {np.mean(recalls):.3f}"
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan


def test_partition_pruning(spark, clustered):
    _, _, cents, path = clustered
    corpus = spark.read.parquet(path)
    plan = corpus.filter(F.col("cluster_id").isin([1, 2, 3]))._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan
    # pruned scan reads fewer files than the full corpus
    full_parts = corpus.rdd.getNumPartitions()
    pruned_parts = corpus.filter(F.col("cluster_id").isin([1, 2, 3])).rdd.getNumPartitions()
    assert pruned_parts <= full_parts


def test_ivf_cosine_probe_is_scale_invariant(spark):
    """Regression: COSINE probing must normalize the query before ranking
    centroids by L2 — a tiny-magnitude query (cosine is scale-invariant)
    previously degenerated probe order to centroid-norm order and probed the
    wrong cells."""
    import shutil

    import numpy as np
    from pyspark.sql import functions as F

    from milvus_spark.operators.ivf import (
        build_centroids, ivf_search, l2_normalize, write_clustered,
    )
    from milvus_spark.operators.knn import brute_force_search

    rng = np.random.default_rng(3)
    V = rng.normal(size=(400, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)],
        "vec_id long, embedding array<float>",
    )
    norm = l2_normalize(df, "embedding")
    cents = build_centroids(norm, "embedding", k=8, seed=1, max_iter=6)
    path = mkdtemp("ivfprobe_")
    shutil.rmtree(path)
    write_clustered(norm, "embedding", cents, path)
    q_dir = V[7] / np.linalg.norm(V[7])
    for scale in (1.0, 1e-3, 1e3):
        q = [(0, [float(x) for x in (q_dir * scale)])]
        got = ivf_search(
            spark, path, cents, q, "embedding", "vec_id",
            metric="COSINE", k=5, nprobe=3,
        ).collect()
        want = brute_force_search(
            norm, q, "embedding", "vec_id", metric="COSINE", k=5
        ).collect()
        g = [r.vec_id for r in sorted(got, key=lambda r: r.rank)]
        w = [r.vec_id for r in sorted(want, key=lambda r: r.rank)]
        # identical probe behavior at every scale; recall of the top-1 exact
        assert g[0] == w[0], (scale, g, w)
        assert len(set(g) & set(w)) >= 4, (scale, g, w)


def test_incremental_refresh_ivf(spark, sf_dir, tmp_path):
    """IVF refresh: the delta assigns to the EXISTING centroids and
    appends into the cluster-partitioned layout — the index serves again
    without retraining, full probe stays exact over old+new rows, and
    non-append-only DML is refused."""
    from milvus_spark.client import MilvusSparkClient

    client = MilvusSparkClient(spark, root=str(tmp_path))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("ivr", pk_field="vec_id", vector_field="embedding")
    client.insert("ivr", emb.filter(F.col("vec_id") % 3 != 0))
    client.create_index("ivr", "embedding", "IVF_FLAT", {"nlist": 8})
    client.insert("ivr", emb.filter(F.col("vec_id") % 3 == 0))
    client.refresh_index("ivr", "embedding", "IVF_FLAT")
    q = [emb.filter(F.col("vec_id") == 1).first().embedding]
    got = client.search("ivr", q, limit=10, search_params={"nprobe": 10**6}).collect()
    rows = emb.collect()
    qv = np.asarray(q[0]) / np.linalg.norm(q[0])
    cos = {
        r.vec_id: float(
            np.dot(np.asarray(r.embedding) / np.linalg.norm(r.embedding), qv)
        )
        for r in rows
    }
    truth = set(sorted(cos, key=lambda i: (-round(cos[i], 12), i))[:10])
    assert {r.vec_id for r in got} == truth
    # deletes join the persisted delete bitset: refresh succeeds and the
    # tombstoned pk never surfaces from the index path
    client.delete("ivr", ids=[1])
    entry = client.refresh_index("ivr", "embedding", "IVF_FLAT")
    # masks are [pk, epoch-bound] pairs (r7): pk masked below the bound
    assert [p for p, _ in entry["masked_pks"]] == [1]
    post = client.search("ivr", q, limit=10, search_params={"nprobe": 10**6}).collect()
    assert all(r.vec_id != 1 for r in post)
    cos.pop(1)
    truth_del = set(sorted(cos, key=lambda i: (-round(cos[i], 12), i))[:10])
    assert {r.vec_id for r in post} == truth_del
    # upsert ACCEPTED (r7): rows carry _epoch, so the old assigned copy
    # version-masks below the new epoch while the re-inserted row keeps
    # serving — the delete-bitset-plus-new-segment semantics
    client.upsert("ivr", emb.filter(F.col("vec_id") == 2))
    entry = client.refresh_index("ivr", "embedding", "IVF_FLAT")
    assert sorted(p for p, _ in entry["masked_pks"]) == [1, 2]
    up = client.search("ivr", q, limit=10, search_params={"nprobe": 10**6}).collect()
    assert {r.vec_id for r in up} == truth_del  # pk 2 still present, pk 1 not
    # a duplicate insert WITHOUT a tombstone stays refused
    client.insert("ivr", emb.filter(F.col("vec_id") == 4))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="still have live"):
        client.refresh_index("ivr", "embedding", "IVF_FLAT")
    client.drop_collection("ivr")


def test_trained_mask_fold_rewrites_only_affected_clusters(spark, sf_dir, tmp_path):
    """r8 (the r7 verdict's #3 ask): when epochs cross MAX_INDEX_EPOCHS,
    version-masked copies physically drop from the clustered layout by
    rewriting ONLY the cluster partitions that contain them — unaffected
    cluster dirs must be BYTE-IDENTICAL (mask-sized IO, not corpus-sized),
    the mask folds to empty, and full probe stays exact."""
    import hashlib
    import os

    from milvus_spark.client import MilvusSparkClient

    def _cluster_state(apath):
        state = {}
        for d in sorted(os.listdir(apath)):
            if not d.startswith("cluster_id="):
                continue
            for fn in sorted(os.listdir(os.path.join(apath, d))):
                with open(os.path.join(apath, d, fn), "rb") as f:
                    state[(d, fn)] = hashlib.sha256(f.read()).hexdigest()
        return state

    client = MilvusSparkClient(spark, root=str(tmp_path))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("mf", pk_field="vec_id", vector_field="embedding")
    client.insert("mf", emb)
    client.create_index("mf", "embedding", "IVF_FLAT", {"nlist": 8})
    entry = client.describe_index("mf", "embedding", "IVF_FLAT")
    apath = os.path.join(entry["path"], "clustered")
    before = _cluster_state(apath)
    # five upsert→refresh cycles over the SAME two pks: masks accumulate
    # until the 5th refresh crosses MAX_INDEX_EPOCHS and folds them
    up = emb.filter(F.col("vec_id").isin(3, 11))
    for _cycle in range(5):
        client.upsert("mf", up)
        entry = client.refresh_index("mf", "embedding", "IVF_FLAT")
    assert entry["cur_epoch"] == 5
    assert not entry.get("masked_pks")  # folded to empty
    after = _cluster_state(apath)
    # the two pks' copies live in a bounded set of clusters; every other
    # cluster partition is untouched on disk
    changed = {d for (d, fn) in set(before) ^ set(after)} | {
        d for k in before if k in after and before[k] != after[k] for d in [k[0]]
    }
    untouched = {d for (d, _fn) in before} - changed
    assert untouched, "some cluster partitions must be untouched"
    for k, h in before.items():
        if k[0] in untouched:
            assert after.get(k) == h
    # shadowed copies are physically gone: each upserted pk keeps exactly
    # one row in the artifact (the epoch-5 copy)
    c = spark.read.parquet(apath)
    counts = {
        r[0]: r[1]
        for r in c.filter(F.col("vec_id").isin(3, 11))
        .groupBy("vec_id").count().collect()
    }
    assert counts == {3: 1, 11: 1}
    assert int(c.filter(F.col("vec_id").isin(3, 11)).agg(
        F.min("_epoch")).first()[0]) == 5
    # and search over the folded artifact stays exact (identical vectors
    # re-upserted, so the full-probe top-k equals the plain corpus truth)
    q = [emb.filter(F.col("vec_id") == 1).first().embedding]
    qv = np.asarray(q[0]) / np.linalg.norm(q[0])
    cos = {
        r.vec_id: float(
            np.dot(np.asarray(r.embedding) / np.linalg.norm(r.embedding), qv)
        )
        for r in emb.collect()
    }
    got = client.search("mf", q, limit=10, search_params={"nprobe": 10**6}).collect()
    truth = set(sorted(cos, key=lambda i: (-round(cos[i], 12), i))[:10])
    assert {r.vec_id for r in got} == truth
    client.drop_collection("mf")


def test_sealed_growing_serving_ivf(spark, sf_dir, tmp_path):
    """r8: the sealed+growing composition extends to the trained family —
    a stale IVF index serves its probed clusters while only the
    post-build delta exact-scans (PushedFilters on _ts), post-build
    deletes mask every artifact epoch, and the merged full-probe result
    is exact. A refresh hands back to the pure sealed dispatch."""
    from milvus_spark.client import MilvusSparkClient

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    client = MilvusSparkClient(spark, root=str(tmp_path))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    client.create_collection("sgi", pk_field="vec_id", vector_field="embedding")
    client.insert("sgi", emb.filter(F.col("vec_id") % 3 != 0))
    client.create_index("sgi", "embedding", "IVF_FLAT", {"nlist": 8})
    client.insert("sgi", emb.filter(F.col("vec_id") % 3 == 0))
    client.delete("sgi", ids=[2, 3])  # one indexed (2), one growing (3)
    q = [emb.filter(F.col("vec_id") == 1).first().embedding]
    hits = client.search("sgi", q, limit=10, search_params={"nprobe": 10**6})
    plan = plan_of(hits)
    assert "GreaterThan(_ts" in plan  # growing side scans ONLY the delta
    assert "cluster_id" in plan  # sealed side reads the clustered layout
    got = {r.vec_id for r in hits.collect()}
    qv = np.asarray(q[0]) / np.linalg.norm(q[0])
    cos = {
        r.vec_id: float(
            np.dot(np.asarray(r.embedding) / np.linalg.norm(r.embedding), qv)
        )
        for r in emb.collect()
        if r.vec_id not in (2, 3)
    }
    truth = set(sorted(cos, key=lambda i: (-round(cos[i], 12), i))[:10])
    assert got == truth
    # refresh folds the delta in; the delta filter leaves the plan
    client.refresh_index("sgi", "embedding", "IVF_FLAT")
    fresh = client.search("sgi", q, limit=10, search_params={"nprobe": 10**6})
    assert "GreaterThan(_ts" not in plan_of(fresh)
    assert {r.vec_id for r in fresh.collect()} == truth
    client.drop_collection("sgi")


def test_ivf_probe_dispatch_is_closure_mask_not_join(spark, clustered):
    """r12 pin: the probe dispatch must NOT join a (qid, cluster_id) probe
    list against the corpus — that join duplicated every candidate row once
    per query probing its cluster (x nq*nprobe/nlist scan/shuffle bytes at
    scale). The cluster->queries map rides the task closure instead, so the
    plan between the scan and the scoring MapInPandas is join-free, and the
    scan still partition-prunes to the probed clusters."""
    emb, norm, cents, path = clustered
    qrows = norm.filter(F.col("vec_id") < 8).collect()
    queries = [(r.vec_id, list(r.embedding)) for r in qrows]
    approx = ivf_search(
        spark, path, cents, queries, "embedding", "vec_id",
        metric="COSINE", k=10, nprobe=12,
    )
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan  # no probe join (this query has no filter)
    assert "PartitionFilters" in plan and "cluster_id" in plan


def _jobs_of(spark, fn):
    """(fn's result, Spark jobs it ran), counted with the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup("jobs_of", "count jobs")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup("jobs_of"))
        out = fn()
        return out, len(set(sc.statusTracker().getJobIdsForGroup("jobs_of")) - before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture(scope="module")
def train_files(spark, tmp_path_factory):
    """One 2,000 × 8 corpus written as 1 file and as 4 files."""
    rng = np.random.default_rng(5)
    V = rng.normal(size=(2000, 8)) + 4 * rng.integers(0, 4, size=(2000, 1))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(V)], "id long, vec array<double>"
    )
    root = tmp_path_factory.mktemp("train")
    one, four = str(root / "one"), str(root / "four")
    df.coalesce(1).write.parquet(one)
    df.repartition(4).write.parquet(four)
    return spark.read.parquet(one), spark.read.parquet(four)


def test_trainer_reads_one_bounded_sample_in_one_job(spark, train_files, monkeypatch):
    """Centroid training collects at most SAMPLE_PER_LIST·k rows (and at
    most SAMPLE_BYTES of float64) to the driver, in one Spark job."""
    from milvus_spark.operators import ivf

    one, _ = train_files
    seen = []
    real = ivf.kmeans
    monkeypatch.setattr(ivf, "kmeans", lambda X, *a, **kw: seen.append(X.shape) or real(X, *a, **kw))
    cents, jobs = _jobs_of(spark, lambda: ivf.build_centroids(one, "vec", k=4, seed=3, max_iter=5))
    assert jobs == 1
    assert cents.shape == (4, 8)
    assert seen[-1] == (ivf.SAMPLE_PER_LIST * 4, 8)
    monkeypatch.setattr(ivf, "SAMPLE_BYTES", 100 * 8 * 8)
    ivf.build_centroids(one, "vec", k=4, seed=3, max_iter=5)
    assert seen[-1] == (100, 8)


def test_trainer_is_independent_of_partitioning(train_files):
    """The same rows split 1 way and 4 ways train identical centroids."""
    one, four = train_files
    a = build_centroids(one, "vec", k=4, seed=9, max_iter=10)
    b = build_centroids(four, "vec", k=4, seed=9, max_iter=10)
    assert np.array_equal(a, b)


def test_trainer_centroid_count_and_empty_collection(spark, tmp_path):
    """min(k, distinct vectors) centroids, and create_index names an empty
    collection instead of surfacing a JVM error."""
    from milvus_spark.client import MilvusSparkClient

    five = spark.createDataFrame([(i, [float(i), 1.0]) for i in range(5)], "id long, v array<double>")
    assert build_centroids(five, "v", k=8).shape == (5, 2)
    two = spark.createDataFrame([(i, [float(i % 2), 1.0]) for i in range(9)], "id long, v array<double>")
    assert sorted(map(tuple, build_centroids(two, "v", k=8))) == [(0.0, 1.0), (1.0, 1.0)]
    client = MilvusSparkClient(spark, root=str(tmp_path))
    client.create_collection("empt", pk_field="id", vector_field="v")
    client.insert("empt", five)
    client.delete("empt", ids=list(range(5)))
    with pytest.raises(ValueError, match="empty collection 'empt'"):
        client.create_index("empt", "v", "IVF_FLAT", {"nlist": 4})


def test_sorted_edges_increase_and_ranges_equal_scan(spark, tmp_path):
    """Sort-index bucket edges come from one sampling job and strictly
    increase over a NaN-bearing double column and a string column; the
    artifact write does not range-partition again (a shuffle job and a write
    job); range reads equal the plain scan."""
    from milvus_spark.operators.scalar_index import build_sorted, read_sorted_range

    rows = [
        (i, float("nan") if i % 4 == 0 else float(i % 97), f"k{(i * 7) % 61:02d}")
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "id long, x double, s string")
    cases = {
        "x": [(None, 10.0), (20.0, 60.0), (50.0, None), (None, None)],
        "s": [("k10", "k20"), (None, "k05"), ("k40", None)],
    }
    for field, ranges in cases.items():
        (art, bounds), jobs = _jobs_of(spark, lambda: build_sorted(df, field, "id"))
        assert jobs == 1
        assert len(bounds) > 4
        assert all(a < b for a, b in zip(bounds, bounds[1:])), bounds
        path = str(tmp_path / field)
        _, jobs = _jobs_of(spark, lambda: art.write.partitionBy("sbucket").parquet(path))
        assert jobs <= 2
        stored = spark.read.parquet(path)
        for lo, hi in ranges:
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(field) >= lo)
            if hi is not None:
                cond = cond & (F.col(field) <= hi)
            want = sorted(r.id for r in df.filter(cond).collect())
            got = sorted(r.id for r in read_sorted_range(stored, bounds, lo, hi).collect())
            assert got == want, (field, lo, hi)
