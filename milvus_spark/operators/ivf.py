"""IVF-style approximate nearest-neighbor: the 100 TB scale path.

Reference parity (file:line into /root/reference):
  - Clustering compaction (k-means on vector clustering key, per-cluster
    segments + PartitionStatsSnapshot): internal/datanode/compactor/
    clustering_compactor.go:64,249; internal/core/src/clustering/
    KmeansClustering.cpp.
  - Segment pruning by centroid distance: internal/querynodev2/delegator/
    segment_pruner.go:36,207,297.
  - IVF index search (nprobe clusters, exact within): knowhere IVF via
    query/SearchOnSealed.cpp — correctness contract is recall vs brute force
    (brute force = SearchBruteForce.cpp, our operators/knn.py).

Spark design:
  - "Index build" = (a) centroids trained on a bounded driver sample and
    (b) a corpus rewrite partitioned by cluster_id — exactly clustering
    compaction. The sample is the ≤ SAMPLE_PER_LIST·k rows with the
    smallest ``xxhash64(vector, seed)``, capped at SAMPLE_BYTES of float64
    vectors, collected in ONE Spark job (knowhere's faiss trainer caps
    training at 256 points per list; Milvus's KmeansClustering.cpp samples
    too). Seeded k-means++ and Lloyd iterations then run in numpy with the
    same ``_score_block`` L2 that assigns rows, so the centroids depend on
    the data only, never on how it is partitioned. Centroids live
    driver-side/broadcast (k ≤ a few thousand).
  - "Index search" = rank centroids per query (driver numpy, nq×k tiny),
    build a (qid, cluster_id) probe list, broadcast-join it against the
    cluster-partitioned corpus — Spark prunes non-probed partitions from the
    parquet scan (the segment-pruner analog, but free) — then exact scoring
    within, same kernel as brute force.
  - Shuffle volume: only per-batch top-k rows (O(batches · nq · k)); the
    corpus is read once, filtered at the source by partition pruning.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd

from milvus_spark.operators.rounding import round_half_up
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from milvus_spark.operators.knn import _score_block, metric_ascending

# Training sample per IVF list: knowhere's faiss trainer caps training at
# 256 points per centroid.
SAMPLE_PER_LIST = 256
# Most float64 vector bytes one index build collects to the driver.
SAMPLE_BYTES = 256 << 20


def l2_normalize(df: DataFrame, vec_col: str) -> DataFrame:
    """Unit-normalize a vector column (JVM-side). For COSINE collections the
    IVF pipeline clusters/stores normalized vectors: cosine is scale-invariant
    so scores are unchanged, and L2 cells on the unit sphere = cosine cells."""
    v = F.col(vec_col).cast("array<double>")
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    safe = F.when(n == 0, F.lit(1.0)).otherwise(n)
    return df.withColumn(vec_col, F.transform(v, lambda x: x / safe))


def unpack_bits_expr(col: Column | str) -> Column:
    """Unpack a packed-byte BINARY_VECTOR column (Milvus wire format:
    uint8 bytes, MSB-first — the np.unpackbits convention the scoring
    kernel uses) into an array<double> of 0/1 bits, JVM-side.

    The bit expansion stays inside whole-stage codegen (shift/mask per
    bit, flatten), so binary IVF builds never round-trip packed vectors
    through Python just to cluster them."""
    v = F.col(col).cast("array<int>") if isinstance(col, str) else col.cast("array<int>")
    return F.flatten(
        F.transform(
            v,
            lambda b: F.array(
                *[
                    F.shiftright(b, 7 - i).bitwiseAND(F.lit(1)).cast("double")
                    for i in range(8)
                ]
            ),
        )
    )


def hash_sample(df: DataFrame, cols: Sequence[str], n: int, seed: int) -> DataFrame:
    """The ``n`` rows with the smallest ``xxhash64(cols, seed)`` (ties broken
    by ``cols``): a deterministic sample that does not depend on how the
    data is partitioned. Spark plans it as one TakeOrderedAndProject, so
    collecting it is one job; its output is one partition in hash order."""
    h = F.xxhash64(*[F.col(c) for c in cols], F.lit(seed))
    return df.orderBy(h, *cols).limit(int(n))


def _arrow_matrix(col) -> np.ndarray:
    """(n, d) float64 from an Arrow list array of equal-length rows."""
    if len(col) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    lens = col.value_lengths().to_numpy(zero_copy_only=False)
    if (lens != lens[0]).any():
        raise ValueError(
            f"vectors of different dimensions ({int(lens.min())}..{int(lens.max())}) "
            "in one field"
        )
    return col.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(
        len(col), int(lens[0])
    )


def _nearest(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of the L2-nearest centroid per row — assign_clusters' rule,
    blocked so the (k, rows) distance matrix stays near 32 MB."""
    step = max(1, (1 << 22) // max(1, len(C)))
    return np.concatenate(
        [_score_block(X[i : i + step], C, "L2").argmin(axis=0) for i in range(0, len(X), step)]
    )


def kmeans(X: np.ndarray, k: int, seed: int = 42, max_iter: int = 20) -> np.ndarray:
    """Seeded k-means++ then Lloyd iterations over a driver-side sample
    (n × d), stopping when assignments stop changing or at ``max_iter``.
    Returns min(k, distinct rows) centroids: with no more distinct rows than
    k, the distinct rows themselves. An empty list keeps its centroid."""
    X = np.asarray(X, dtype=np.float64)
    distinct = np.unique(X, axis=0)
    if len(distinct) <= k:
        return distinct
    rng = np.random.default_rng(seed)
    C = np.empty((k, X.shape[1]), dtype=np.float64)
    C[0] = X[rng.integers(len(X))]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        # every chosen row has d2 == 0 exactly, so k distinct seeds exist
        C[j] = X[rng.choice(len(X), p=d2 / d2.sum())]
        np.minimum(d2, ((X - C[j]) ** 2).sum(axis=1), out=d2)
    assign = None
    for _ in range(max_iter):
        new = _nearest(X, C)
        if assign is not None and np.array_equal(new, assign):
            break
        assign = new
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        full = counts > 0
        C[full] = sums[full] / counts[full, None]
    return C


def build_centroids(
    df: DataFrame, vec_col: str, k: int, seed: int = 42, max_iter: int = 20
) -> np.ndarray:
    """K-means centroids (≤ k × d) of the vector column, trained on one
    bounded sample: the ≤ SAMPLE_PER_LIST·k non-null vectors with the
    smallest ``xxhash64(vector, seed)``, cut at SAMPLE_BYTES of float64
    values, read in one Spark job. Returns min(k, distinct sampled
    vectors) rows — zero rows for a column with no vectors, which callers
    refuse by name."""
    v = df.select(F.col(vec_col).cast("array<double>").alias("v")).filter(
        F.col("v").isNotNull()
    )
    sample = hash_sample(v, ["v"], SAMPLE_PER_LIST * int(k), seed)
    # the sample is one partition in hash order, so the id is the row's rank
    within = (F.monotonically_increasing_id() + 1) * F.size("v") * 8 <= SAMPLE_BYTES
    X = _arrow_matrix(sample.filter(within).toArrow().column("v").combine_chunks())
    return kmeans(X, int(k), seed=seed, max_iter=max_iter)


def assign_clusters(df: DataFrame, vec_col: str, centroids: np.ndarray) -> DataFrame:
    """Add cluster_id = argmin L2 distance to centroid (map-side, Arrow
    batch): the vector column is read straight from Arrow into one (n, d)
    matrix and passed through untouched, with no pandas conversion."""
    C = centroids

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            vec = b.column(vec_col)
            cid = _nearest(_arrow_matrix(vec), C).astype(np.int32)
            names = [n for n in b.schema.names if n != vec_col]
            yield pa.RecordBatch.from_arrays(
                [b.column(n) for n in names] + [pa.array(cid), vec],
                names + ["cluster_id", vec_col],
            )

    fields = [f"{name} {dt}" for name, dt in df.dtypes if name != vec_col]
    vec_dt = dict(df.dtypes)[vec_col]
    schema = ", ".join(fields + ["cluster_id int", f"{vec_col} {vec_dt}"])
    return df.mapInArrow(assign, schema=schema)


def write_clustered(
    df: DataFrame, vec_col: str, centroids: np.ndarray, path: str
) -> None:
    """Clustering compaction: rewrite the corpus partitioned by cluster_id.
    The shuffle by cluster_id lets the write run one task per shuffle
    partition, whatever the input's file count, and leaves one file per
    list."""
    assign_clusters(df, vec_col, centroids).repartition("cluster_id").write.mode(
        "overwrite"
    ).partitionBy("cluster_id").parquet(path)


def ivf_search(
    spark: SparkSession,
    clustered_path: str,
    centroids: np.ndarray,
    queries: Sequence[tuple[int, Sequence[float]]],
    vec_col: str,
    pk_col: str,
    metric: str = "COSINE",
    k: int = 10,
    nprobe: int = 8,
    round_to: int = 4,
    matches: Optional[DataFrame] = None,
    excluded: Optional[Sequence[int]] = None,
    probe_q: Optional[np.ndarray] = None,
) -> DataFrame:
    """ANN top-k probing ``nprobe`` clusters per query; exact scoring within.

    The probe-list filter lands on the partition column → parquet partition
    pruning skips all non-probed cluster directories at the scan.

    ``matches`` (optional, one long pk column) is the FilterBits →
    VectorSearch mode on the IVF layout: the scalar filter runs
    Catalyst-side on the base table, and the surviving pk ids semi-join
    the probed candidate rows BEFORE scoring — only ids move, the probed
    partitions are still the only ones scanned, and AQE broadcasts the id
    list when the filter is selective. Recall contract matches the
    reference: a filtered probe can return fewer than k hits when the
    filter thins the probed cells (widen nprobe, same as Milvus).

    ``probe_q`` (optional, nq × d_centroid) overrides the representation
    used for CENTROID ranking only — the binary IVF family
    (BIN_IVF_FLAT) clusters in unpacked-bit space while storing and
    scoring packed bytes, so its probe geometry (L2 over bits = Hamming)
    differs from the stored query layout."""
    asc = metric_ascending(metric)
    qids = np.asarray([int(q[0]) for q in queries], dtype=np.int64)
    Q = np.asarray([list(map(float, q[1])) for q in queries], dtype=np.float64)

    # Rank centroids per query driver-side (nq × k_centroids — tiny).
    # Probes use L2 against the centroids — the ASSIGNMENT geometry — not the
    # search metric: rows were placed in cells by L2, so cells must be probed
    # by L2 or recall craters. For COSINE, cluster normalized vectors
    # (spherical k-means — l2_normalize below) so L2 cells ≡ cosine cells.
    Qp = probe_q if probe_q is not None else Q
    if probe_q is None and metric.upper() == "COSINE":
        # centroids live on the unit sphere (spherical k-means) — the query
        # must too, or ||q-c||^2 ranking degenerates to centroid-norm order
        # for small/large-magnitude queries and the wrong cells get probed
        n = np.linalg.norm(Q, axis=1, keepdims=True)
        n[n == 0] = 1.0
        Qp = Q / n
    D = _score_block(centroids, Qp, "L2")
    order = np.argsort(D, axis=1)
    probes = order[:, :nprobe]  # (nq, nprobe)

    # closure-mask probe dispatch (r12 — the RaBitQ estimator's shape): a
    # tiny cluster_id -> [query index] map rides the task closure instead
    # of a broadcast (qid, cluster_id) join. The join duplicated every
    # candidate row once per query probing its cluster — x(nq*nprobe/nlist)
    # shuffle/scan bytes at scale — and scored each (batch, qid) group with
    # a 1-row matmul; the closure map reads each corpus row ONCE and scores
    # all probing queries of a cluster batch in one BLAS call.
    probe_lists: dict[int, list[int]] = {}
    for i in range(len(qids)):
        for c in probes[i]:
            probe_lists.setdefault(int(c), []).append(i)

    corpus = spark.read.parquet(clustered_path)
    # prune scan to the union of probed clusters (partition filter)
    cand = corpus.filter(F.col("cluster_id").isin(sorted(probe_lists)))
    if matches is not None:
        mt = matches.select(F.col(matches.columns[0]).cast("long").alias(pk_col))
        cand = cand.join(mt, pk_col, "left_semi")
    if excluded:
        # the persisted delete bitset (sealed artifacts never rewrite on
        # delete): tombstoned pks drop from the candidates before scoring;
        # [pk, bound] entries mask only epochs below the bound (upserts)
        from milvus_spark.operators.bitset import apply_delete_bitset

        cand = apply_delete_bitset(cand, pk_col, excluded)

    sign = 1.0 if asc else -1.0
    kk, met, rt = int(k), metric, round_to

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for cid, grp in pdf.groupby("cluster_id"):
                qis = probe_lists.get(int(cid))
                if not qis:
                    continue
                V = np.asarray([np.asarray(v, dtype=np.float64) for v in grp[vec_col]])
                ids = grp[pk_col].to_numpy()
                S = _score_block(V, Q[qis], met)  # (len(qis), n)
                for row, qi in enumerate(qis):
                    s = round_half_up(S[row], rt)
                    idx = np.lexsort((ids, sign * s))[: min(kk, len(ids))]
                    frames.append(
                        pd.DataFrame(
                            {"qid": int(qids[qi]), pk_col: ids[idx], "score": s[idx]}
                        )
                    )
            if frames:
                yield pd.concat(frames)

    partial = cand.select("cluster_id", pk_col, vec_col).mapInPandas(
        score, schema=f"qid long, {pk_col} long, score double"
    )
    orderby = [F.col("score").asc() if asc else F.col("score").desc(), F.col(pk_col).asc()]
    w = W.partitionBy("qid").orderBy(*orderby)
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qid", pk_col, "score", "rank")
    )
