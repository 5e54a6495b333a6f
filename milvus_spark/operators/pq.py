"""Product quantization: the compressed-index scale path (IVF_PQ family).

Reference parity (file:line into /root/reference):
  - Knowhere's PQ/SQ compressed indexes are selected through the same index
    zoo the proxy validates (internal/util/indexparamcheck/index_type.go;
    AUTOINDEX tuning pkg/util/paramtable/autoindex_param.go); their
    correctness contract — like every ANN path — is recall against brute
    force (query/SearchBruteForce.cpp), which is the gate tests/test_pq.py
    enforces here.

Spark design (100 TB posture):
  - "Index build" = train per-subspace codebooks on a bounded driver-side
    sample (standard PQ practice — faiss trains on samples too), then a
    map-side Arrow pass encodes every vector to m small codes. The encoded
    table stores ~m bytes/row instead of 4·d — a 32x scan-size reduction at
    (m=8, d=64, fp32).
  - "Search" = ADC: the query builds an (m × k) distance lookup table
    driver-side (tiny), broadcast into a mapInPandas scan over ONLY the code
    column (column pruning keeps the wide vector column unread), summing
    table entries per row — no per-row float math beyond m lookups.
  - "Refine" = exact rescoring of the ADC shortlist: the shortlist pks are
    broadcast-joined back to the full-precision vectors (touching only
    shortlist rows), the same requery plan shape as search output_fields.
    Shuffle volume is O(batches · nq · shortlist), never O(rows).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from milvus_spark.operators.rounding import round_half_up
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from milvus_spark.operators.knn import _score_block, metric_ascending


def fit_codebook(X: np.ndarray, k: int, seed: int, max_iter: int = 25) -> np.ndarray:
    """k codewords for one subspace sample: the engine's k-means
    (ivf.kmeans); a subspace with fewer than k distinct values repeats its
    last codeword, which encoding never picks over the first copy."""
    from milvus_spark.operators.ivf import kmeans

    C = kmeans(X, k, seed, max_iter=max_iter)
    return np.concatenate([C, np.repeat(C[-1:], k - len(C), axis=0)])


def train_codebooks(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    sample_n: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """Train (m, k, d/m) codebooks on a bounded sample of the corpus."""
    sample = [
        np.asarray(r[0], dtype=np.float64)
        for r in df.select(vec_col).limit(sample_n).collect()
        if r[0] is not None
    ]
    if len(sample) < k:
        raise ValueError(
            f"cannot train PQ codebooks: {len(sample)} sample vectors "
            f"< k={k} codewords (empty or tiny collection)"
        )
    X = np.asarray(sample)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack(
        [fit_codebook(X[:, i * dsub : (i + 1) * dsub], k, seed + i) for i in range(m)]
    )


def encode_pq(df: DataFrame, vec_col: str, pk_col: str, codebooks: np.ndarray) -> DataFrame:
    """Map-side Arrow pass: vector → m nearest-codeword ids (the code table)."""
    C = codebooks
    m, _, dsub = C.shape

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            codes = np.empty((len(V), m), dtype=np.int32)
            for i in range(m):
                sub = V[:, i * dsub : (i + 1) * dsub]
                d = ((sub[:, None, :] - C[i][None, :, :]) ** 2).sum(axis=2)
                codes[:, i] = d.argmin(axis=1)
            yield pd.DataFrame({pk_col: pdf[pk_col], "code": list(codes)})

    return df.select(pk_col, vec_col).mapInPandas(
        enc, schema=f"{pk_col} long, code array<int>"
    )


def pq_search(
    encoded: DataFrame,
    corpus: DataFrame,
    codebooks: np.ndarray,
    queries: Sequence[tuple[int, Sequence[float]]],
    vec_col: str,
    pk_col: str,
    metric: str = "L2",
    k: int = 10,
    shortlist: int = 200,
    round_to: int = 4,
    matches: DataFrame | None = None,
    excluded: list | None = None,
) -> DataFrame:
    """ADC shortlist over the code table, then exact refine of shortlist rows.

    The scan touches only (pk, code); full vectors are read for at most
    nq × shortlist rows via a broadcast semi-join (requery shape).

    ``matches`` (optional, one long pk column): FilterBits→VectorSearch on
    the PQ layout — surviving pk ids semi-join the code table BEFORE the
    ADC scan, so the shortlist holds only filter-passing rows and filtered
    recall needs no shortlist widening.

    shortlist sizing: ~20×k holds recall ≥ 0.9 even on uniform synthetic
    vectors — the adversarial case for PQ (distance concentration). Real
    embedding corpora cluster, so ADC ranks far better there and 5-10×k is
    typical; the refine cost stays O(nq · shortlist) either way.
    """
    asc = metric_ascending(metric)
    C = codebooks
    m, _, dsub = C.shape
    qids = np.asarray([int(q[0]) for q in queries], dtype=np.int64)
    Q = np.asarray([list(map(float, q[1])) for q in queries], dtype=np.float64)
    mu = metric.upper()
    Qt = Q
    if mu == "COSINE":
        # codes encode the l2-normalized corpus (build path) — normalize the
        # query so dot tables rank by cosine
        n = np.linalg.norm(Q, axis=1, keepdims=True)
        n[n == 0] = 1.0
        Qt = Q / n

    # Per-query (m × k) ADC lookup tables — tiny, broadcast via closure.
    # L2: per-subspace squared distance contributions summing to squared-L2
    # against the quantized vector (shortlist ascending). IP/COSINE:
    # per-subspace dot products summing to the inner product (shortlist
    # DESCENDING — an ascending-L2 shortlist would cut large-norm vectors
    # that have the top inner product).
    if mu in ("IP", "COSINE"):
        tables = np.stack(
            [
                np.stack(
                    [C[i] @ Qt[qi, i * dsub : (i + 1) * dsub] for i in range(m)]
                )
                for qi in range(len(Qt))
            ]
        )  # (nq, m, k)
        adc_sign = -1.0  # higher is better → negate for ascending lexsort
    else:
        tables = np.stack(
            [
                np.stack(
                    [
                        ((C[i] - Qt[qi, i * dsub : (i + 1) * dsub][None, :]) ** 2).sum(axis=1)
                        for i in range(m)
                    ]
                )
                for qi in range(len(Qt))
            ]
        )  # (nq, m, k)
        adc_sign = 1.0

    sl = int(shortlist)

    def adc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.asarray(list(pdf["code"]), dtype=np.int64)  # (n, m)
            ids = pdf[pk_col].to_numpy()
            rows = np.arange(m)
            frames = []
            for qi in range(len(Q)):
                s = tables[qi][rows[None, :], codes].sum(axis=1)
                idx = np.lexsort((ids, adc_sign * s))[: min(sl, len(ids))]
                frames.append(
                    pd.DataFrame({"qid": qids[qi], pk_col: ids[idx], "adc": s[idx]})
                )
            yield pd.concat(frames)

    if matches is not None:
        mt = matches.select(F.col(matches.columns[0]).cast("long").alias(pk_col))
        encoded = encoded.join(mt, pk_col, "left_semi")
    if excluded:
        # persisted delete bitset: tombstoned pks drop before the ADC scan;
        # [pk, bound] entries mask only epochs below the bound (upserts)
        from milvus_spark.operators.bitset import apply_delete_bitset

        encoded = apply_delete_bitset(encoded, pk_col, excluded)
    partial = encoded.mapInPandas(adc, schema=f"qid long, {pk_col} long, adc double")
    adc_order = F.col("adc").asc() if adc_sign > 0 else F.col("adc").desc()
    w_sl = W.partitionBy("qid").orderBy(adc_order, F.col(pk_col).asc())
    short = (
        partial.withColumn("srank", F.row_number().over(w_sl))
        .filter(F.col("srank") <= sl)
        .select("qid", pk_col)
    )

    # exact refine: full vectors only for shortlist rows (broadcast requery)
    # force the broadcast only when the shortlist is production-bounded
    # (nq x shortlist rows, a few MB); the exhaustive oracle regime
    # (shortlist >= corpus) must NOT override AQE's size check — at scale
    # that hint would broadcast the whole scored corpus
    short_side = (
        F.broadcast(short) if sl * len(queries) <= 200_000 else short
    )
    cand = short_side.join(corpus.select(pk_col, vec_col), pk_col)
    sign = 1.0 if asc else -1.0
    met, rt, kk = metric, round_to, int(k)

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for qid, grp in pdf.groupby("qid"):
                qi = int(np.where(qids == qid)[0][0])
                V = np.asarray([np.asarray(v, dtype=np.float64) for v in grp[vec_col]])
                s = round_half_up(_score_block(V, Q[qi : qi + 1], met)[0], rt)
                ids = grp[pk_col].to_numpy()
                idx = np.lexsort((ids, sign * s))[: min(kk, len(ids))]
                frames.append(
                    pd.DataFrame({"qid": qid, pk_col: ids[idx], "score": s[idx]})
                )
            if frames:
                yield pd.concat(frames)

    scored = cand.select("qid", pk_col, vec_col).mapInPandas(
        refine, schema=f"qid long, {pk_col} long, score double"
    )
    orderby = [F.col("score").asc() if asc else F.col("score").desc(), F.col(pk_col).asc()]
    w = W.partitionBy("qid").orderBy(*orderby)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= kk)
        .select("qid", pk_col, "score", "rank")
    )
