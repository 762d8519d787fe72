"""Deterministic k-means queries (ml/kmeans_det.py): final assignments and
the derived centroid relation, both under EXACT recursive-CTE DuckDB
oracles — the fourth exactly-oracled iterative algorithm (PageRank, BPE,
label propagation precedent) — and the IVF / IVF-PQ indexes trained by it.
This family proves the Lloyd iteration itself cross-engine:
integer-quantized vectors, exact int64 distances, packed (d2, cid) argmin,
floor-rounded centroid updates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.queries.registry import query
from telemetry_parquet_spark.sources.tables import load_table

K = 8
ITERS = 4
_SCALE = 1_000_000

# Quantized (vec_id, 0-based dim, int64 component) — the relation every
# iteration of the recursive oracle reuses. floor(x*scale + 0.5) is one
# double multiply+add+floor per element: IEEE-identical cross-engine.
_Q = f"""
q AS (
  SELECT vec_id, CAST(dim AS INT) - 1 AS dim,
         CAST(floor(val * {_SCALE} + 0.5) AS BIGINT) AS qval
  FROM (SELECT vec_id, UNNEST(CAST(embedding AS DOUBLE[])) AS val,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings WHERE embedding IS NOT NULL)
)
"""

# Lloyd recursion on the ASSIGNMENT as state (one recursive reference per
# step): iteration 1 assigns to the k lowest-id seed vectors; step t+1
# derives centroids from step t's assignment (floor(sum/count + 0.5), the
# int64 sums < 2^53 so the double division is exact-input IEEE), then
# re-assigns every point by packed argmin MIN(d2 * k + cid) — exact
# lexicographic (d2, cid) minimum, lowest-cid tie-break.
def _a_cte(k: int, iters: int) -> str:
    """The Lloyd recursion CTE at a given (k, iters) — shared verbatim by
    the k=8 queries and the k=256 query, so both cell counts answer to
    the same oracle."""
    return f"""
a(iter, vec_id, cid) AS (
  SELECT 1 AS iter, vec_id, CAST(packed % {k} AS BIGINT) AS cid FROM (
    SELECT vec_id, MIN(d2 * {k} + scid) AS packed FROM (
      SELECT p.vec_id, s.vec_id AS scid,
             SUM((p.qval - s.qval) * (p.qval - s.qval)) AS d2
      FROM q p JOIN q s ON s.vec_id < {k} AND s.dim = p.dim
      GROUP BY p.vec_id, s.vec_id
    ) GROUP BY vec_id
  )
  UNION ALL
  SELECT d.iter + 1, d.vec_id, CAST(d.packed % {k} AS BIGINT) FROM (
    SELECT dd.iter, dd.vec_id, MIN(dd.d2 * {k} + dd.cid) AS packed FROM (
      SELECT c.iter, p.vec_id, c.cid,
             SUM((p.qval - c.cval) * (p.qval - c.cval)) AS d2
      FROM q p JOIN (
        SELECT a.iter, a.cid, p2.dim,
               CAST(floor(CAST(SUM(p2.qval) AS DOUBLE) / COUNT(*) + 0.5)
                    AS BIGINT) AS cval
        FROM a JOIN q p2 ON p2.vec_id = a.vec_id
        WHERE a.iter < {iters}
        GROUP BY a.iter, a.cid, p2.dim
      ) c ON c.dim = p.dim
      GROUP BY c.iter, p.vec_id, c.cid
    ) dd GROUP BY dd.iter, dd.vec_id
  ) d
)
"""


_A = _a_cte(K, ITERS)


def _fit(spark: SparkSession, sf_dir: str):
    from telemetry_parquet_spark.ml.kmeans_det import kmeans_fit, quantize_vectors

    qvec = quantize_vectors(load_table(spark, sf_dir, "embeddings"))
    assigned, _ = kmeans_fit(qvec, k=K, iters=ITERS)
    return assigned, qvec


@query(
    "ml_kmeans_assignments",
    oracle=f"""
    WITH RECURSIVE {_Q}, {_A}
    SELECT vec_id, cid AS cluster_id FROM a WHERE iter = {ITERS}
    """,
)
def ml_kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final Lloyd assignment (vec_id, cluster_id) after {ITERS} exactly
    replayed iterations — every per-point argmin across all rounds must
    agree cross-engine for this to hash green."""
    assigned, _ = _fit(spark, sf_dir)
    return assigned


@query(
    "ml_kmeans_centroids",
    oracle=f"""
    WITH RECURSIVE {_Q}, {_A}
    SELECT f.cid AS cluster_id, CAST(p.dim + 1 AS INT) AS dim_idx,
           CAST(floor(CAST(SUM(p.qval) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS centroid_q,
           COUNT(*) AS n_points
    FROM (SELECT vec_id, cid FROM a WHERE iter = {ITERS}) f
    JOIN q p ON p.vec_id = f.vec_id
    GROUP BY f.cid, p.dim
    """,
)
def ml_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid relation derived from the final assignment — the
    persistable model state (cluster_id, dim_idx, centroid_q, n_points),
    quantized components hash-gated bit for bit."""
    from telemetry_parquet_spark.ml.kmeans_det import kmeans_centroid_table

    assigned, qvec = _fit(spark, sf_dir)
    return kmeans_centroid_table(assigned, qvec)


K_LARGE = 256
ITERS_LARGE = 2


@query(
    "ml_kmeans_k256_assignments",
    # Same recursive oracle at IVF-realistic cell count k=256.
    # d2*k + cid at k=256 peaks at ~6.6e16 << 2^63, so the packed argmin
    # stays exact int64.
    oracle=f"""
    WITH RECURSIVE {_Q}, {_a_cte(K_LARGE, ITERS_LARGE)}
    SELECT vec_id, cid AS cluster_id FROM a WHERE iter = {ITERS_LARGE}
    """,
)
def ml_kmeans_k256_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final Lloyd assignment at k=256 — the hundreds-of-cells index
    scale, exact-gated against the SAME recursive CTE as k=8."""
    from telemetry_parquet_spark.ml.kmeans_det import kmeans_fit, quantize_vectors

    qvec = quantize_vectors(load_table(spark, sf_dir, "embeddings"))
    assigned, _ = kmeans_fit(qvec, k=K_LARGE, iters=ITERS_LARGE)
    return assigned


N_QUERIES = 5
NPROBE = 2
TOPK = 10

# Persisted-index parameters: IVF-realistic cell count, trained on the
# %10<>9 slice (the %10==9 slice arrives later as an incremental append).
K_IDX = 256
ITERS_IDX = 2


@query(
    "sim_ivf_det_topk",
    # End-to-end EXACT IVF: cells = the recursive-CTE k-means above,
    # probe = top-NPROBE cells by integer centroid distance (packed
    # d2*k+cid ordering), candidates = final-assignment members of those
    # cells, scoring = exact int64 dot products of the quantized vectors.
    # THIS query pins the whole assign→probe→rescore shape cross-engine.
    oracle=f"""
    WITH RECURSIVE {_Q}, {_A},
    fin AS (SELECT vec_id, cid FROM a WHERE iter = {ITERS}),
    cent AS (
      SELECT f.cid, p.dim,
             CAST(floor(CAST(SUM(p.qval) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS cval
      FROM fin f JOIN q p ON p.vec_id = f.vec_id
      GROUP BY f.cid, p.dim
    ),
    qd AS (
      SELECT p.vec_id AS qid, c.cid,
             SUM((p.qval - c.cval) * (p.qval - c.cval)) AS d2
      FROM q p JOIN cent c ON c.dim = p.dim
      WHERE p.vec_id < {N_QUERIES}
      GROUP BY p.vec_id, c.cid
    ),
    probe AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY d2 * {K} + cid) AS rn
        FROM qd
      ) WHERE rn <= {NPROBE}
    ),
    cand AS (
      SELECT pr.qid, f.vec_id AS cand_id
      FROM probe pr JOIN fin f ON f.cid = pr.cid
      WHERE f.vec_id <> pr.qid
    ),
    dots AS (
      SELECT c.qid, c.cand_id,
             CAST(SUM(p1.qval * p2.qval) AS BIGINT) AS score_q
      FROM cand c
      JOIN q p1 ON p1.vec_id = c.qid
      JOIN q p2 ON p2.vec_id = c.cand_id AND p2.dim = p1.dim
      GROUP BY c.qid, c.cand_id
    )
    SELECT qid, cand_id, score_q, CAST(rn AS INT) AS rank
    FROM (
      SELECT qid, cand_id, score_q,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score_q DESC, cand_id) AS rn
      FROM dots
    ) WHERE rn <= {TOPK}
    """,
)
def sim_ivf_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IVF top-k: k-means cells, NPROBE nearest cells per
    query, exact int64 dot-product rescore over the candidates — every
    stage (training iterations included) hash-gated cross-engine."""
    from pyspark.sql.window import Window as W

    from telemetry_parquet_spark.datapipe.ann_index import _probe_cells_udf
    from telemetry_parquet_spark.ml.kmeans_det import (
        kmeans_fit,
        quantize_vectors,
    )

    qvec = quantize_vectors(load_table(spark, sf_dir, "embeddings")).persist()
    assigned, centroids = kmeans_fit(qvec, k=K, iters=ITERS)

    # top-NPROBE cells per query by packed integer distance, from the
    # driver-held centroids (k*dim ints — the BPE-argmax contract)
    probe = qvec.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.explode(_probe_cells_udf(centroids, K, NPROBE)(F.col("qv"))).alias(
            "cluster_id"
        ),
    )
    cand = (
        probe.join(assigned, "cluster_id")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cand_id"))
    )
    qside = qvec.select(F.col("vec_id").alias("qid"), F.col("qv").alias("qv_q"))
    cside = qvec.select(
        F.col("vec_id").alias("cand_id"), F.col("qv").alias("qv_c")
    )
    dots = (
        cand.join(F.broadcast(qside), "qid")
        .join(cside, "cand_id")
        .select(
            "qid",
            "cand_id",
            F.aggregate(
                F.zip_with("qv_q", "qv_c", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score_q"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("score_q"), F.asc("cand_id"))
    return (
        dots.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOPK)
        .select("qid", "cand_id", "score_q", "rank")
    )


def _parquet_files(root: str, *rels: str) -> set[str]:
    """Every parquet file under ``root``'s ``rels`` directories — the
    append-only check compares this set before and after an append."""
    return {
        os.path.join(dp, n)
        for rel in rels
        for dp, _, ns in os.walk(os.path.join(root, rel))
        for n in ns
        if n.endswith(".parquet")
    }


def _train_ctes(k: int, iters: int) -> str:
    """The train-slice Lloyd CTEs (qt/qh/seeds + recursion) at an
    arbitrary (k, iters) — ONE copy of the recursion text, shared by
    the k=256 exact-IVF oracle and the k=16 IVF-PQ oracle so the
    shape can never drift between them."""
    return f"""
qt AS (SELECT * FROM q WHERE vec_id % 10 <> 9),
qh AS (SELECT * FROM q WHERE vec_id % 10 = 9),
seeds AS (
  SELECT vec_id, CAST(rn - 1 AS BIGINT) AS cid FROM (
    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
    FROM (SELECT DISTINCT vec_id FROM qt)
  ) WHERE rn <= {k}
),
a(iter, vec_id, cid) AS (
  SELECT 1 AS iter, vec_id, CAST(packed % {k} AS BIGINT) AS cid FROM (
    SELECT vec_id, MIN(d2 * {k} + scid) AS packed FROM (
      SELECT p.vec_id, c.cid AS scid,
             SUM((p.qval - c.qval) * (p.qval - c.qval)) AS d2
      FROM qt p JOIN (
        SELECT s.cid, sq.dim, sq.qval
        FROM seeds s JOIN qt sq ON sq.vec_id = s.vec_id
      ) c ON c.dim = p.dim
      GROUP BY p.vec_id, c.cid
    ) GROUP BY vec_id
  )
  UNION ALL
  SELECT d.iter + 1, d.vec_id, CAST(d.packed % {k} AS BIGINT) FROM (
    SELECT dd.iter, dd.vec_id, MIN(dd.d2 * {k} + dd.cid) AS packed FROM (
      SELECT c.iter, p.vec_id, c.cid,
             SUM((p.qval - c.cval) * (p.qval - c.cval)) AS d2
      FROM qt p JOIN (
        SELECT a.iter, a.cid, p2.dim,
               CAST(floor(CAST(SUM(p2.qval) AS DOUBLE) / COUNT(*) + 0.5)
                    AS BIGINT) AS cval
        FROM a JOIN qt p2 ON p2.vec_id = a.vec_id
        WHERE a.iter < {iters}
        GROUP BY a.iter, a.cid, p2.dim
      ) c ON c.dim = p.dim
      GROUP BY c.iter, p.vec_id, c.cid
    ) dd GROUP BY dd.iter, dd.vec_id
  ) d
)
"""



@query(
    "sim_ivf_persisted_topk",
    # The persisted-index LIFECYCLE under one exact oracle: train k=256
    # cells on the %10<>9 slice (rank-renumbered seeds), persist
    # centroids + cell-partitioned postings, FREEZE the quantizer and
    # append the %10==9 slice (oracle: `hold` assigns holdout vectors to
    # the trained centroids), then probe: top-NPROBE cells per query by
    # packed integer distance, candidates = the probed cells' MEMBERS
    # (train ∪ appended), exact int64 dot rescore, top-k. The Spark side
    # RAISES unless the probe scan's files all live under probed cell
    # directories — a green row proves partition pruning engaged.
    oracle=f"""
    WITH RECURSIVE {_Q}, {_train_ctes(K_IDX, ITERS_IDX)},
    fin AS (SELECT vec_id, cid FROM a WHERE iter = {ITERS_IDX}),
    cent AS (
      SELECT f.cid, p.dim,
             CAST(floor(CAST(SUM(p.qval) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS cval
      FROM fin f JOIN qt p ON p.vec_id = f.vec_id
      GROUP BY f.cid, p.dim
    ),
    hold AS (
      SELECT vec_id, CAST(packed % {K_IDX} AS BIGINT) AS cid FROM (
        SELECT vec_id, MIN(d2 * {K_IDX} + cid) AS packed FROM (
          SELECT p.vec_id, c.cid,
                 SUM((p.qval - c.cval) * (p.qval - c.cval)) AS d2
          FROM qh p JOIN cent c ON c.dim = p.dim
          GROUP BY p.vec_id, c.cid
        ) GROUP BY vec_id
      )
    ),
    members AS (SELECT * FROM fin UNION ALL SELECT * FROM hold),
    qd AS (
      SELECT p.vec_id AS qid, c.cid,
             SUM((p.qval - c.cval) * (p.qval - c.cval)) AS d2
      FROM q p JOIN cent c ON c.dim = p.dim
      WHERE p.vec_id < {N_QUERIES}
      GROUP BY p.vec_id, c.cid
    ),
    probe AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY d2 * {K_IDX} + cid) AS rn
        FROM qd
      ) WHERE rn <= {NPROBE}
    ),
    cand AS (
      SELECT pr.qid, mm.vec_id AS cand_id
      FROM probe pr JOIN members mm ON mm.cid = pr.cid
      WHERE mm.vec_id <> pr.qid
    ),
    dots AS (
      SELECT c.qid, c.cand_id,
             CAST(SUM(p1.qval * p2.qval) AS BIGINT) AS score_q
      FROM cand c
      JOIN q p1 ON p1.vec_id = c.qid
      JOIN q p2 ON p2.vec_id = c.cand_id AND p2.dim = p1.dim
      GROUP BY c.qid, c.cand_id
    )
    SELECT qid, cand_id, score_q, CAST(rn AS INT) AS rank
    FROM (
      SELECT qid, cand_id, score_q,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score_q DESC, cand_id) AS rn
      FROM dots
    ) WHERE rn <= {TOPK}
    """,
)
def sim_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vector index as a TABLE (datapipe/ann_index.py): k=256 cells
    trained with the int64 matmul assignment, persisted as centroids +
    cell-partitioned postings, incrementally APPENDED to under the
    frozen quantizer (append-only — build asserts no original file was
    touched), and probed by reading ONLY the probed cells' partitions
    (raise-proven per run). Train→persist→append→probe→rescore, all
    exact integers, one recursive-CTE oracle."""
    from telemetry_parquet_spark.datapipe.ann_index import (
        append_vectors,
        build_ivf_table,
        ivf_table_topk,
    )
    from telemetry_parquet_spark.ml.kmeans_det import quantize_vectors
    from telemetry_parquet_spark.sources.skipping import materialize_cached

    src = os.path.join(sf_dir, "embeddings.parquet")

    def build(root: str) -> None:
        qvec = quantize_vectors(load_table(spark, sf_dir, "embeddings"))
        train = qvec.where(F.col("vec_id") % 10 != 9)
        hold = qvec.where(F.col("vec_id") % 10 == 9)
        build_ivf_table(spark, root, train, k=K_IDX, iters=ITERS_IDX)
        before = _parquet_files(root, "postings")
        append_vectors(spark, root, hold, k=K_IDX)
        after = _parquet_files(root, "postings")
        if not before < after:
            raise RuntimeError(
                "incremental append rewrote or dropped index files"
            )

    root = materialize_cached(
        spark, src,
        "ivfidx_embeddings_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    qvec = quantize_vectors(load_table(spark, sf_dir, "embeddings"))
    queries = qvec.where(F.col("vec_id") < N_QUERIES)
    return ivf_table_topk(
        spark, root, queries, k=K_IDX, nprobe=NPROBE, topk=TOPK,
        require_pruned=True,
    )


# --- IVF-PQ persisted index (datapipe/ann_index.py IVFPQ section) ---
# Small enough cells that ADC pruning BITES at test scale: 16 cells over
# ~450 train vectors ≈ 28/cell, nprobe 2 ≈ 56 candidates, ADC keeps 16.
K_PQ = 16
ITERS_PQ = 2
M_SUB = 4
K_CODE = 16    # == K_PQ, so the Lloyd seeds relation doubles as the
SUBDIM = 16    # codebook seed set (16 lowest train ids)
ADC_M = 16


@query(
    "sim_ivfpq_persisted_topk",
    # The IVF-PQ lifecycle under ONE exact recursive-CTE oracle:
    # train 16 cells on the %10<>9 slice → derive sub-codebooks from
    # the 16 lowest train ids (seeds relation reused) → ENCODE every
    # vector to M=4 codes by per-subspace packed argmin → freeze both
    # models and append the %10==9 slice → probe top-2 cells per query
    # → ADC over the probed cells' CODES (per-query 4×16 int distance
    # table, SUM of M lookups) → keep the ADC top-16 → EXACT int64 dot
    # rescore of only the survivors → top-10. The Spark side RAISES
    # unless BOTH scans (codes, vectors) touch only probed-cell files.
    oracle=f"""
    WITH RECURSIVE {_Q}, {_train_ctes(K_PQ, ITERS_PQ)},
    fin AS (SELECT vec_id, cid FROM a WHERE iter = {ITERS_PQ}),
    cent AS (
      SELECT f.cid, p.dim,
             CAST(floor(CAST(SUM(p.qval) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS cval
      FROM fin f JOIN qt p ON p.vec_id = f.vec_id
      GROUP BY f.cid, p.dim
    ),
    hold AS (
      SELECT vec_id, CAST(packed % {K_PQ} AS BIGINT) AS cid FROM (
        SELECT vec_id, MIN(d2 * {K_PQ} + cid) AS packed FROM (
          SELECT p.vec_id, c.cid,
                 SUM((p.qval - c.cval) * (p.qval - c.cval)) AS d2
          FROM qh p JOIN cent c ON c.dim = p.dim
          GROUP BY p.vec_id, c.cid
        ) GROUP BY vec_id
      )
    ),
    members AS (SELECT * FROM fin UNION ALL SELECT * FROM hold),
    cb AS (
      SELECT s.cid AS c, sq.dim, sq.qval
      FROM seeds s JOIN qt sq ON sq.vec_id = s.vec_id
    ),
    codes AS (
      SELECT vec_id, j, CAST(packed % {K_CODE} AS BIGINT) AS code FROM (
        SELECT vec_id, j, MIN(d2 * {K_CODE} + c) AS packed FROM (
          SELECT p.vec_id, CAST(p.dim // {SUBDIM} AS INT) AS j, cb.c,
                 SUM((p.qval - cb.qval) * (p.qval - cb.qval)) AS d2
          FROM q p JOIN cb ON cb.dim = p.dim
          GROUP BY p.vec_id, 2, cb.c
        ) GROUP BY vec_id, j
      )
    ),
    dtab AS (
      SELECT p.vec_id AS qid, CAST(p.dim // {SUBDIM} AS INT) AS j, cb.c,
             SUM((p.qval - cb.qval) * (p.qval - cb.qval)) AS d2
      FROM q p JOIN cb ON cb.dim = p.dim
      WHERE p.vec_id < {N_QUERIES}
      GROUP BY 1, 2, cb.c
    ),
    qd AS (
      SELECT p.vec_id AS qid, c.cid,
             SUM((p.qval - c.cval) * (p.qval - c.cval)) AS d2
      FROM q p JOIN cent c ON c.dim = p.dim
      WHERE p.vec_id < {N_QUERIES}
      GROUP BY p.vec_id, c.cid
    ),
    probe AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY d2 * {K_PQ} + cid) AS rn
        FROM qd
      ) WHERE rn <= {NPROBE}
    ),
    adc AS (
      SELECT pr.qid, mm.vec_id AS cand_id, SUM(dt.d2) AS adc_dist
      FROM probe pr
      JOIN members mm ON mm.cid = pr.cid AND mm.vec_id <> pr.qid
      JOIN codes co ON co.vec_id = mm.vec_id
      JOIN dtab dt ON dt.qid = pr.qid AND dt.j = co.j
                  AND dt.c = co.code
      GROUP BY pr.qid, mm.vec_id
    ),
    adctop AS (
      SELECT qid, cand_id FROM (
        SELECT qid, cand_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_dist, cand_id) AS rn
        FROM adc
      ) WHERE rn <= {ADC_M}
    ),
    dots AS (
      SELECT c.qid, c.cand_id,
             CAST(SUM(p1.qval * p2.qval) AS BIGINT) AS score_q
      FROM adctop c
      JOIN q p1 ON p1.vec_id = c.qid
      JOIN q p2 ON p2.vec_id = c.cand_id AND p2.dim = p1.dim
      GROUP BY c.qid, c.cand_id
    )
    SELECT qid, cand_id, score_q, CAST(rn AS INT) AS rank
    FROM (
      SELECT qid, cand_id, score_q,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score_q DESC, cand_id) AS rn
      FROM dots
    ) WHERE rn <= {TOPK}
    """,
)
def sim_ivfpq_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF-PQ index (datapipe/ann_index.py): PQ codes in
    the cell-partitioned postings, raw vectors in a SEPARATE
    cell-partitioned relation — the probe is an ADC scan of codes (M=4
    small ints per vector instead of 64 raw components: at 100 TB the
    probe I/O drops ~16×), and only the ADC top-m survivors' raw
    vectors are read for the exact rescore. Both scans raise unless
    every touched file lives under a probed cell (pruning proven per
    run); the frozen-model append keeps maintenance map-only. Standard
    IVFPQ (Jégou et al.), by_residual=False so the whole
    train→encode→append→probe→ADC→rescore lifecycle is exact integers
    under one recursive-CTE oracle."""
    from telemetry_parquet_spark.datapipe.ann_index import (
        append_vectors_pq,
        build_ivfpq_table,
        ivfpq_table_topk,
    )
    from telemetry_parquet_spark.ml.kmeans_det import quantize_vectors
    from telemetry_parquet_spark.sources.skipping import materialize_cached

    src = os.path.join(sf_dir, "embeddings.parquet")

    def build(root: str) -> None:
        qvec = quantize_vectors(load_table(spark, sf_dir, "embeddings"))
        train = qvec.where(F.col("vec_id") % 10 != 9)
        hold = qvec.where(F.col("vec_id") % 10 == 9)
        build_ivfpq_table(
            spark, root, train, k=K_PQ, iters=ITERS_PQ,
            m_sub=M_SUB, k_code=K_CODE,
        )
        before = _parquet_files(root, "postings", "vectors")
        append_vectors_pq(spark, root, hold, k=K_PQ)
        after = _parquet_files(root, "postings", "vectors")
        if not before < after:
            raise RuntimeError(
                "incremental IVF-PQ append rewrote or dropped index files"
            )

    root = materialize_cached(
        spark, src,
        "ivfpqidx_embeddings_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    qvec = quantize_vectors(load_table(spark, sf_dir, "embeddings"))
    queries = qvec.where(F.col("vec_id") < N_QUERIES)
    return ivfpq_table_topk(
        spark, root, queries, k=K_PQ, nprobe=NPROBE, adc_m=ADC_M,
        topk=TOPK, require_pruned=True,
    )
