"""Deterministic integer-exact Lloyd's k-means — the fourth exactly-oracled
iterative algorithm (after PageRank, BPE, label propagation).

``pyspark.ml`` KMeans' float sum-order and RNG make it unreplayable
cross-engine. THIS module restates Lloyd's iteration over exact integers so a
DuckDB recursive CTE replays every assignment and centroid bit for bit:

- vectors are quantized once: ``q = floor(x * 10^6 + 0.5)`` per component
  (double multiply+add+floor, fixed order per element — IEEE-identical in
  any engine; |x| < 1 keeps |q| <= 10^6).
- distances are exact int64: ``d2 = sum((q_i - c_i)^2)`` <= 64 * (2*10^6)^2
  ~ 2.6*10^14 — order-free integer sums.
- argmin uses the label-propagation packed trick: ``min(d2 * k + cid)``
  (exact lexicographic (d2, cid) min — deterministic tie-break on the
  lowest cluster id; max packed value ~ 2*10^15 << 2^63).
- centroid update is ``floor(sum / count + 0.5)`` per component: the int64
  sum (< 2^53, exactly representable) divided as IEEE double, identical in
  Spark, DuckDB, and driver-side Python.
- init is RNG-free: the k vectors with the lowest ids are the seeds.

Clusters may go empty (a duplicate seed's points all tie to the lower id);
an empty cluster simply drops out of the centroid table — identically in
both engines — which is standard Lloyd behavior, not a divergence.

Scale: the corpus is touched once per iteration by a MAP-ONLY assignment
(centroids ride along in the UDF closure — k*dim values, collected per
iteration exactly like BPE's argmax rows: a driver-sized contract, T
round-trips total) followed by one map-side-combinable (cid, dim) sum
whose shuffle is k*dim rows. No join, no corpus-sized shuffle. The
assignment is ``_matmul_assign_udf``: one int64 numpy matmul per Arrow
batch, whose generated code does not grow with k.

``packed_distances`` is the ONE implementation of the packed ranking
rule: k-means assignment, IVF cell routing and probing
(datapipe/ann_index.py) and PQ encoding all rank centroids through it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000


def quantize_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = SCALE,
) -> DataFrame:
    """(id, qv): the integer-quantized vectors every iteration reuses."""
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)),
        ).alias("qv"),
    )


def packed_distances(centroids: list[tuple[int, list[int]]], k: int):
    """Return ``packed(m)``: for an (n, dim) int64 matrix of quantized
    vectors (one Arrow batch), the (n, k') int64 matrix of
    ``d2 * k + cid`` against each of the k' centroids.

    All arithmetic stays in int64 — d2 via |q|² − 2·q·c + |c|²
    (≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴) — so there is no float summation order to
    diverge on. With every cid < k, a row's packed order is the exact
    lexicographic (d2, cid) order: its min is the nearest centroid with
    the lowest-cid tie-break, its sorted prefix the nearest cells, and
    ``% k`` recovers the cid. The centroid norms are computed here, once
    per caller, not once per batch."""
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cm = np.array([v for _, v in centroids], dtype=np.int64)  # (k', dim)
    cc = (cm * cm).sum(axis=1)  # (k',) int64
    kk = np.int64(k)

    def packed(m: np.ndarray) -> np.ndarray:
        d2 = (m * m).sum(axis=1)[:, None] - 2 * (m @ cm.T) + cc[None, :]
        return d2 * kk + cids[None, :]

    return packed


def batch_matrix(qv: pd.Series) -> np.ndarray:
    """(n, dim) int64 matrix of one Arrow batch of quantized vectors."""
    return np.stack([np.asarray(v, dtype=np.int64) for v in qv])


def _matmul_assign_udf(centroids: list[tuple[int, list[int]]], k: int):
    """cluster_id of the nearest centroid per vector: the row min of
    ``packed_distances`` — the same packed min(d2*k + cid) integers the
    recursive-CTE oracle folds, so the lowest-cid tie-break is the packed
    min itself, not np.argmin's first-hit."""
    packed = packed_distances(centroids, k)

    @F.pandas_udf("long")
    def assign(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="int64")
        return pd.Series(packed(batch_matrix(qv)).min(axis=1) % np.int64(k))

    return assign


def kmeans_fit(
    qvec: DataFrame, k: int = 8, iters: int = 4
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Run ``iters`` Lloyd iterations; return (final assignment DataFrame
    with columns (vec_id, cluster_id), final centroid list).

    Iteration t assigns every point to the nearest current centroid, then
    recomputes centroids from that assignment; the returned assignment is
    the one that PRODUCED the returned centroids (same convention as the
    recursive oracle)."""
    if iters < 1:
        raise ValueError(f"kmeans_fit requires iters >= 1, got {iters}")
    qvec = qvec.persist()
    try:
        # "k vectors with the lowest ids" — robust to sparse/hashed ids,
        # unlike a `vec_id < k` filter which silently under-seeds.
        seeds = qvec.orderBy("vec_id").limit(k).collect()
        if len(seeds) < k:
            raise ValueError(
                f"kmeans_fit: need >= {k} input vectors, got {len(seeds)}"
            )
        # Renumber seeds 0..k-1 in vec_id order: packed_distances packs
        # the cluster id into d2*k + cid, which requires cid < k.
        centroids = [
            (i, vec)
            for i, (_, vec) in enumerate(
                sorted((int(r.vec_id), [int(v) for v in r.qv]) for r in seeds)
            )
        ]
        assigned = None
        for _ in range(iters):
            cid = _matmul_assign_udf(centroids, k)(F.col("qv")).alias(
                "cluster_id"
            )
            assigned = qvec.select("vec_id", "qv", cid)
            sums = (
                assigned.select(
                    "cluster_id", F.posexplode("qv").alias("dim", "qval")
                )
                .groupBy("cluster_id", "dim")
                .agg(F.sum("qval").alias("s"), F.count("*").alias("c"))
                .collect()  # <= k*dim rows — driver-sized by contract
            )
            by_cid: dict[int, dict[int, int]] = {}
            for r in sums:
                by_cid.setdefault(int(r.cluster_id), {})[int(r.dim)] = (
                    int(math.floor(r.s / r.c + 0.5))
                )
            centroids = sorted(
                (cid_, [comps[d] for d in sorted(comps)])
                for cid_, comps in by_cid.items()
            )
        return assigned.select("vec_id", "cluster_id"), centroids
    finally:
        qvec.unpersist()


def kmeans_centroid_table(assigned: DataFrame, qvec: DataFrame) -> DataFrame:
    """(cluster_id, dim_idx, centroid_q, n_points): the centroid relation
    derived from a final assignment — the persistable model state."""
    return (
        assigned.join(qvec, "vec_id")
        .select("cluster_id", F.posexplode("qv").alias("dim0", "qval"))
        .groupBy("cluster_id", (F.col("dim0") + 1).cast("int").alias("dim_idx"))
        .agg(
            F.floor(F.sum("qval") / F.count("*") + F.lit(0.5))
            .cast("long")
            .alias("centroid_q"),
            F.count("*").alias("n_points"),
        )
    )
