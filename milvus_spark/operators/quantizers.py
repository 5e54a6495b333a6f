"""Quantizers for the refine-capable index families (HNSW_SQ / HNSW_PQ /
HNSW_PRQ / IVF_RABITQ).

Reference parity (file:line into /root/reference):
  - tests/python_client/testcases/indexes/idx_hnsw_sq.py — sq_type in
    {SQ6, SQ8, BF16, FP16} ("invalid scalar quantizer type" otherwise),
    M in [2, 2048], efConstruction in [1, 2^31), refine is a boolean
    ("should be a boolean"), refine_type, refine_k >= 1 search param.
  - idx_hnsw_pq.py — m in [1, dim] and dim % m == 0, nbits in [1, 24].
  - idx_hnsw_prq.py — nrq in [1, 16] (product RESIDUAL quantization: nrq
    stacked PQ layers over successive residuals).
  - idx_ivf_rabitq.py — refine_type in {SQ6, SQ8, FP16, BF16, FP32}
    case-insensitive ("PQ" invalid), rbq_bits_query in [0, 8].

Design: the quantized families store vectors in the QUANTIZED DOMAIN —
this module's transforms replace the vector column with its quantizer
RECONSTRUCTION, which is information-equivalent to the packed codes given
the persisted bounds/codebooks (parquet's FP compression stands in for
bit-packing; the distances every serving path computes are exactly the
distances a packed-code scorer would compute). The refine step re-scores
a bounded candidate set at ``refine_type`` precision (FP32 = the raw
corpus), knowhere's refine contract.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SQ_TYPES = ("SQ6", "SQ8", "BF16", "FP16")
REFINE_TYPES = ("SQ6", "SQ8", "FP16", "BF16", "FP32")


def check_int(params: dict, key: str, lo: int, hi: int, default: int) -> int:
    """Reference-style integer param validation: bools and lists refuse,
    numeric strings coerce, None falls back to the default."""
    v = params.get(key, default)
    if v is None:
        return default
    if isinstance(v, bool) or isinstance(v, (list, dict)):
        raise ValueError(
            f"invalid integer value, key: '{key}', value: '{v}': invalid parameter"
        )
    if isinstance(v, float) and not float(v).is_integer():
        raise ValueError(f"wrong data type in json: param '{key}' ({v})")
    try:
        iv = int(v)
    except (TypeError, ValueError):
        raise ValueError(
            f"invalid integer value, key: '{key}', value: '{v}': invalid parameter"
        )
    if not lo <= iv <= hi:
        raise ValueError(f"param '{key}' ({iv}) should be in range [{lo}, {hi}]")
    return iv


def check_bool(params: dict, key: str, default: bool) -> bool:
    v = params.get(key, default)
    if v is None:
        return default
    if isinstance(v, bool):
        return v
    if isinstance(v, str) and v.lower() in ("true", "false"):
        return v.lower() == "true"
    raise ValueError(f"param '{key}' ({v!r}) should be a boolean: invalid parameter")


def check_sq_type(params: dict, key: str = "sq_type", default: str = "SQ8") -> str:
    v = params.get(key, default)
    if v is None:
        return default
    if not isinstance(v, str) or v.strip().upper() not in SQ_TYPES:
        raise ValueError(f"invalid scalar quantizer type: invalid parameter ({v!r})")
    return v.strip().upper()


def check_refine_type(params: dict, default: str = "FP32") -> str:
    v = params.get("refine_type", default)
    if v is None:
        return default
    if not isinstance(v, str) or v.strip() != v or v.upper() not in REFINE_TYPES:
        raise ValueError(f"invalid refine type: invalid parameter ({v!r})")
    return v.upper()


# ---------------------------------------------------------------- kernels
def train_bounds(df: DataFrame, vec_col: str, dim: int) -> np.ndarray:
    """Per-dim [min, max] (2, d) — the SQ codomain (one tiny shuffle)."""
    from milvus_spark.operators.sq import train_sq8

    return train_sq8(df, vec_col, dim)


def sq_reconstruct_np(V: np.ndarray, bounds: np.ndarray, levels: int) -> np.ndarray:
    """Scalar quantization round-trip: encode to ``levels`` uniform steps
    per dim, decode to the step midpoints' grid values."""
    mins, maxs = np.asarray(bounds[0]), np.asarray(bounds[1])
    rng = np.maximum(maxs - mins, 1e-12)
    codes = np.clip(np.rint(levels * (V - mins[None, :]) / rng[None, :]), 0, levels)
    return mins[None, :] + codes * (rng[None, :] / levels)


def fp16_reconstruct_np(V: np.ndarray) -> np.ndarray:
    return V.astype(np.float16).astype(np.float64)


def bf16_reconstruct_np(V: np.ndarray) -> np.ndarray:
    """bfloat16 = float32 with the low 16 mantissa bits dropped
    (round-to-nearest via the +0x8000 carry, the standard conversion)."""
    f32 = V.astype(np.float32)
    bits = f32.view(np.uint32)
    rounded = (bits + 0x8000 + ((bits >> 16) & 1)) & 0xFFFF0000
    return rounded.view(np.float32).astype(np.float64)


def pq_reconstruct_np(V: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """PQ round-trip: nearest codeword per subspace, decode concatenation."""
    C = codebooks  # (m, k, dsub)
    m, _, dsub = C.shape
    out = np.empty_like(V)
    for j in range(m):
        sub = V[:, j * dsub : (j + 1) * dsub]
        d2 = ((sub[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
        out[:, j * dsub : (j + 1) * dsub] = C[j][np.argmin(d2, axis=1)]
    return out


def reconstruct_np(V: np.ndarray, qspec: dict) -> np.ndarray:
    """Dispatch on a persisted quantizer spec (catalog JSON)."""
    kind = qspec["kind"]
    if kind == "SQ6":
        return sq_reconstruct_np(V, np.asarray(qspec["bounds"]), 63)
    if kind == "SQ8":
        return sq_reconstruct_np(V, np.asarray(qspec["bounds"]), 255)
    if kind == "FP16":
        return fp16_reconstruct_np(V)
    if kind == "BF16":
        return bf16_reconstruct_np(V)
    if kind == "FP32":
        return V
    if kind == "PQ":
        return pq_reconstruct_np(V, np.asarray(qspec["codebooks"]))
    if kind == "PRQ":
        # product residual quantization: nrq stacked PQ layers, each
        # encoding the residual the previous layers left behind
        out = np.zeros_like(V)
        for books in qspec["layers"]:
            out += pq_reconstruct_np(V - out, np.asarray(books))
        return out
    raise ValueError(f"unknown quantizer kind {kind!r}")


def train_qspec(
    df: DataFrame,
    vec_col: str,
    kind: str,
    dim: int,
    m: int = 16,
    nbits: int = 8,
    nrq: int = 2,
    seed: int = 42,
) -> dict:
    """Train the quantizer's codomain (bounds / codebooks) on the corpus."""
    if kind in ("SQ6", "SQ8"):
        return {"kind": kind, "bounds": train_bounds(df, vec_col, dim).tolist()}
    if kind in ("FP16", "BF16", "FP32"):
        return {"kind": kind}
    if kind in ("PQ", "PRQ"):
        from milvus_spark.operators.pq import train_codebooks

        k = min(2**nbits, 256)
        if kind == "PQ":
            books = train_codebooks(df, vec_col, m=m, k=k, seed=seed)
            return {"kind": "PQ", "codebooks": books.tolist()}
        # PRQ: train layer i on the residual after layers < i. The sample
        # is bounded (train_codebooks samples), so residual layers train
        # on the driver from one collected sample per layer.
        sample = [
            np.asarray(r[0], dtype=np.float64)
            for r in df.select(vec_col).limit(2048).collect()
        ]
        S = np.asarray(sample)
        layers = []
        resid = S.copy()
        for li in range(nrq):
            books = _fit_pq_np(resid, m, k, seed + li)
            layers.append(books.tolist())
            resid = resid - pq_reconstruct_np(resid, books)
        return {"kind": "PRQ", "layers": layers}
    raise ValueError(f"unknown quantizer kind {kind!r}")


def _fit_pq_np(S: np.ndarray, m: int, k: int, seed: int) -> np.ndarray:
    """Driver-side PQ codebook fit (k-means per subspace) on a bounded
    sample — each PRQ residual layer's input depends on the previous fit,
    so every layer fits from the one collected sample."""
    from milvus_spark.operators.pq import fit_codebook

    dsub = S.shape[1] // m
    return np.stack(
        [fit_codebook(S[:, j * dsub : (j + 1) * dsub], k, seed + j, 10) for j in range(m)]
    )


def quantize_frame(df: DataFrame, vec_col: str, qspec: dict) -> DataFrame:
    """Replace the vector column with its quantizer reconstruction
    (map-side Arrow pass, no shuffle)."""
    if qspec["kind"] == "FP32":
        return df
    cols = df.columns
    spec = dict(qspec)

    def rec(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            out = reconstruct_np(V, spec)
            pdf = pdf.copy()
            pdf[vec_col] = [r.tolist() for r in out]
            yield pdf

    schema = ", ".join(
        f"{c} {'array<double>' if c == vec_col else dict(df.dtypes)[c]}" for c in cols
    )
    return df.select(*cols).withColumn(
        vec_col, F.col(vec_col).cast("array<double>")
    ).mapInPandas(rec, schema=schema)


# ------------------------------------------------------------- RaBitQ
def rotation_matrix(dim: int, seed: int) -> np.ndarray:
    """Seeded random orthogonal rotation (QR of a Gaussian) — RaBitQ's
    randomizer (Gao & Long, SIGMOD'24: randomized 1-bit codes of the
    cluster residual give an unbiased inner-product estimate)."""
    rng = np.random.default_rng(seed)
    Q, R = np.linalg.qr(rng.standard_normal((dim, dim)))
    return Q * np.sign(np.diag(R))[None, :]


def rabitq_encode_np(R: np.ndarray, X: np.ndarray, cent: np.ndarray):
    """Per-row 1-bit residual codes + residual norms for one cluster."""
    resid = X - cent[None, :]
    rot = resid @ R
    bits = (rot > 0).astype(np.int8)
    norms = np.linalg.norm(resid, axis=1)
    return bits, norms


def rabitq_estimate_np(
    bits: np.ndarray, norms: np.ndarray, qrot: np.ndarray, bits_query: int
) -> np.ndarray:
    """Estimated <residual, q_residual> from the sign codes: the code
    direction is sign(rot)/sqrt(d); scaling by the stored residual norm
    gives the RaBitQ-style estimator. ``bits_query`` > 0 additionally
    quantizes the rotated query to that many uniform bits (the
    rbq_bits_query search knob; 0 = full-precision query)."""
    d = bits.shape[1]
    q = qrot
    if bits_query > 0:
        lo, hi = float(q.min()), float(q.max())
        levels = (1 << bits_query) - 1
        step = max((hi - lo) / max(levels, 1), 1e-12)
        q = lo + np.rint((q - lo) / step) * step
    signs = bits.astype(np.float64) * 2.0 - 1.0
    return norms * (signs @ q) / np.sqrt(d)
