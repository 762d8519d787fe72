"""Deterministic k-means library tests (ml/kmeans_det.py) — the properties
the recursive-CTE oracle can't express directly: partition totality,
run-to-run determinism, inertia improvement over the seed assignment, and
the k/iters parameter surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.ml.kmeans_det import (
    kmeans_centroid_table,
    kmeans_fit,
    quantize_vectors,
)
from telemetry_parquet_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def qvec(spark, sf_dir):
    return quantize_vectors(load_table(spark, sf_dir, "embeddings")).cache()


def test_assignment_partitions_corpus(spark, qvec):
    n = qvec.count()
    assigned, centroids = kmeans_fit(qvec, k=8, iters=3)
    rows = assigned.collect()
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    assert {r.cluster_id for r in rows} <= set(range(8))
    assert 1 <= len(centroids) <= 8
    assert all(len(vec) == 64 for _, vec in centroids)


def test_deterministic_rerun(spark, qvec):
    a1, c1 = kmeans_fit(qvec, k=4, iters=2)
    a2, c2 = kmeans_fit(qvec, k=4, iters=2)
    assert c1 == c2
    assert a1.exceptAll(a2).union(a2.exceptAll(a1)).count() == 0


def test_iterations_do_not_worsen_inertia(spark, qvec):
    """Total within-cluster distance after 4 iterations must not exceed the
    1-iteration (seed-assignment) inertia. Integer-rounded centroid updates
    perturb exact Lloyd monotonicity by at most half a quantum per
    component, far below the improvement the first real update makes."""

    def inertia(iters: int) -> int:
        assigned, _ = kmeans_fit(qvec, k=8, iters=iters)
        cent = kmeans_centroid_table(assigned, qvec)
        pts = assigned.join(qvec, "vec_id").select(
            "cluster_id", F.posexplode("qv").alias("dim0", "qval")
        ).withColumn("dim_idx", (F.col("dim0") + 1).cast("int"))
        return (
            pts.join(cent, ["cluster_id", "dim_idx"])
            .select(
                ((F.col("qval") - F.col("centroid_q"))
                 * (F.col("qval") - F.col("centroid_q"))).alias("d2")
            )
            .agg(F.sum("d2").alias("s"))
            .collect()[0]
            .s
        )

    assert inertia(4) <= inertia(1)


def test_sparse_ids_seed_exactly_k(spark, qvec):
    """Seeding survives sparse/hashed ids: with vec_ids shifted by 10^9 the
    fit still selects the k lowest ids, renumbers them 0..k-1, and
    produces a total partition (the r8 advisor's under-seeding case)."""
    shifted = qvec.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000_000))
    assigned, centroids = kmeans_fit(shifted, k=4, iters=2)
    assert assigned.count() == qvec.count()
    assert {r.cluster_id for r in assigned.select("cluster_id").distinct().collect()} <= set(range(4))
    assert all(cid < 4 for cid, _ in centroids)


def test_iters_and_seed_count_validation(spark, qvec):
    with pytest.raises(ValueError, match="iters >= 1"):
        kmeans_fit(qvec, k=4, iters=0)
    tiny = qvec.limit(3)
    with pytest.raises(ValueError, match="need >= 8"):
        kmeans_fit(tiny, k=8, iters=1)


def test_centroid_table_matches_fit_centroids(spark, qvec):
    """kmeans_centroid_table over the final assignment reproduces the fit's
    own returned centroid vectors component for component."""
    assigned, centroids = kmeans_fit(qvec, k=8, iters=2)
    table = {
        (r.cluster_id, r.dim_idx): r.centroid_q
        for r in kmeans_centroid_table(assigned, qvec).collect()
    }
    for cid, vec in centroids:
        for d, v in enumerate(vec, start=1):
            assert table[(cid, d)] == v


def test_packed_distances_matches_python_reference():
    """The int64 kernel equals the plain-integer definition d2*k + cid,
    including exact distance ties (broken by the lower cid) and sparse,
    unsorted cids."""
    import numpy as np

    from telemetry_parquet_spark.ml.kmeans_det import packed_distances

    k = 8
    centroids = [(5, [2, 0, -1]), (1, [0, 2, -1]), (6, [1_000_000, -3, 7])]
    vecs = [[1, 1, -1], [0, 0, 0], [-1_000_000, 999_999, 5]]
    got = packed_distances(centroids, k)(np.array(vecs, dtype=np.int64))
    want = [
        [sum((a - b) ** 2 for a, b in zip(v, c)) * k + cid
         for cid, c in centroids]
        for v in vecs
    ]
    assert got.tolist() == want
    # [1, 1, -1] is equidistant from cids 5 and 1: the min picks cid 1
    assert int(got[0].min()) % k == 1
