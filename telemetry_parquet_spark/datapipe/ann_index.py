"""Persisted IVF vector index as a TABLE: cell-partitioned postings,
incremental appends, partition-pruned probes.

The ANN family (datapipe/similarity.py, pq.py) computes indexes
in-flight; a 100 TB corpus wants the index to be a first-class TABLE
artifact instead — built once, appended to as vectors land, probed by
reading only the probed cells' files:

- ``build_ivf_table`` trains deterministic integer k-means
  (ml/kmeans_det.py — the int64 matmul assignment, the
  hundreds-of-cells production path) and persists TWO relations:
  ``centroids`` (cluster_id, cvec — k rows, the model) and ``postings``
  (vec_id, qv) written ``partitionBy(cluster_id)``, so each cell is its
  own directory of parquet files.
- ``append_vectors`` assigns NEW vectors to the FROZEN centroids (one
  map-only matmul pass) and appends them into their cells' directories —
  no existing file is touched, append cost ∝ new vectors. This is the
  standard IVF maintenance contract: the coarse quantizer is frozen
  between retrains, inserts route to cells.
- ``probe_cells`` / ``ivf_table_topk`` read ONLY the probed cells via a
  partition-pruning ``isin`` filter — the scan cost is ∝ probed cells'
  bytes, never the corpus. ``require_pruned`` RAISES unless every file
  the scan touches lives under a probed cell directory, so a green
  driver row proves the pruning ENGAGED.

Everything stays in the exact-integer regime (quantized vectors, packed
``min(d2*k + cid)`` argmin, int64 dot-product rescore), so the WHOLE
lifecycle — train, persist, freeze-assign appends, probe, rescore — is
replayable by one DuckDB recursive CTE (queries/kmeans.py::
sim_ivf_persisted_topk).

Scale: centroids are k*dim integers (driver-sized by the BPE-argmax
contract); postings shuffle once at build (the partitionBy write);
appends are map-only + small per-cell files; probes read
nprobe*n_queries cells. No corpus-sized driver collect anywhere.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.ml.kmeans_det import (
    _matmul_assign_udf,
    batch_matrix,
    kmeans_fit,
    packed_distances,
)
from telemetry_parquet_spark.sources.tables import read_parquet

_CENTROIDS = "centroids"
_POSTINGS = "postings"


def build_ivf_table(
    spark: SparkSession,
    root: str,
    qvec: DataFrame,
    k: int,
    iters: int,
) -> None:
    """Train on ``qvec`` (vec_id, qv int64 arrays) and persist the index:
    ``root/centroids`` (cluster_id, cvec) and ``root/postings``
    partitioned by cluster_id."""
    assigned, centroids = kmeans_fit(qvec, k=k, iters=iters)
    (
        assigned.join(qvec, "vec_id")
        .select("vec_id", "qv", "cluster_id")
        .write.partitionBy("cluster_id")
        .parquet(os.path.join(root, _POSTINGS))
    )
    spark.createDataFrame(
        [(int(cid), [int(v) for v in vec]) for cid, vec in centroids],
        "cluster_id long, cvec array<long>",
    ).coalesce(1).write.parquet(os.path.join(root, _CENTROIDS))


def load_centroids(spark: SparkSession, root: str) -> list[tuple[int, list[int]]]:
    """The frozen coarse quantizer — k rows, driver-sized by contract."""
    rows = read_parquet(spark, os.path.join(root, _CENTROIDS)).collect()
    return sorted(
        (int(r.cluster_id), [int(v) for v in r.cvec]) for r in rows
    )


def append_vectors(
    spark: SparkSession,
    root: str,
    qvec_new: DataFrame,
    k: int,
    dedup: bool = False,
) -> None:
    """Incremental maintenance: route new vectors to their cells under
    the FROZEN centroids (one map-only int64 matmul pass) and append
    their files into the cell directories — existing files untouched.

    ``dedup=True`` makes the append IDEMPOTENT on vec_id: the batch's
    target cells are read back (a partition-pruned scan ∝ the touched
    cells, the index's own pruning machinery) and already-present ids
    are anti-joined away — so a replayed micro-batch adds nothing. This
    is what turns the at-least-once delivery of a checkpointed stream
    into exactly-once index content (``stream_index_vectors``)."""
    centroids = load_centroids(spark, root)
    assign = _matmul_assign_udf(centroids, k)
    assigned = qvec_new.select(
        "vec_id", "qv", assign(F.col("qv")).alias("cluster_id")
    )
    pinned = None
    if dedup:
        pinned = assigned = assigned.persist()
        cells = [
            int(r.cluster_id)
            for r in assigned.select("cluster_id").distinct().collect()
        ]  # <= min(k, batch) rows — driver-sized
        if cells:
            existing = (
                read_parquet(spark, os.path.join(root, _POSTINGS))
                .where(F.col("cluster_id").isin(cells))
                .select("vec_id")
            )
            assigned = assigned.join(existing, "vec_id", "left_anti")
    try:
        (
            assigned.write.mode("append")
            .partitionBy("cluster_id")
            .parquet(os.path.join(root, _POSTINGS))
        )
    finally:
        if pinned is not None:
            # each streaming micro-batch calls this once; an unreleased
            # persist would leak one CacheManager entry per batch
            pinned.unpersist()


def stream_index_vectors(
    spark: SparkSession,
    src_path: str,
    root: str,
    checkpoint: str,
    k: int,
    schema=None,
) -> None:
    """Streaming maintenance of the persisted index: an ``availableNow``
    file-source stream over the landing zone routes each micro-batch of
    raw (vec_id, embedding) rows into the index under the frozen
    quantizer. Exactly-once index content: the checkpoint gives
    at-least-once batches, and the idempotent append (``dedup=True`` —
    replayed ids anti-join away against the touched cells only) makes
    the replay a no-op, the same discipline as the snapshot sink's
    batch-id stamps (streaming/pipelines.py::stream_commit_snapshots)."""
    from telemetry_parquet_spark.ml.kmeans_det import quantize_vectors

    if schema is None:
        schema = read_parquet(spark, src_path).schema

    def feed(batch_df: DataFrame, batch_id: int) -> None:
        append_vectors(
            spark, root, quantize_vectors(batch_df), k=k, dedup=True
        )

    (
        spark.readStream.schema(schema)
        .parquet(src_path)
        .writeStream.foreachBatch(feed)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def compact_index(spark: SparkSession, root: str) -> tuple[int, int]:
    """Maintenance after many streaming appends: rewrite the postings to
    ONE file per cell (hash-repartition on cluster_id — every cell's
    rows land in one task, parallelism = shuffle partitions; one
    index-sized shuffle, never corpus-extra work since the index IS the
    postings). Probes are unaffected mid-flight because they address
    cells, not files, and the rewrite goes through a staging directory
    with an atomic directory swap — a crash leaves the old or the new
    layout, never a mix. Returns (files_before, files_after); content
    equality is pytest-gated."""
    import shutil

    posts_dir = os.path.join(root, _POSTINGS)
    staged_dir = os.path.join(root, _POSTINGS + ".compact")
    old_dir = os.path.join(root, _POSTINGS + ".old")

    def _count(d: str) -> int:
        return sum(
            1
            for dp, _, ns in os.walk(d)
            for n in ns
            if n.endswith(".parquet")
        )

    # recover residue from a crashed earlier run: a leftover .old means
    # the previous swap died between its two renames (postings may be
    # missing entirely) — restore it; a leftover stage is garbage
    if os.path.isdir(old_dir):
        if not os.path.isdir(posts_dir):
            os.rename(old_dir, posts_dir)
        else:
            shutil.rmtree(old_dir)
    shutil.rmtree(staged_dir, ignore_errors=True)
    before = _count(posts_dir)
    posts = read_parquet(spark, posts_dir)
    (
        posts.repartition("cluster_id")
        .write.partitionBy("cluster_id")
        .parquet(staged_dir)
    )
    # two renames, not one atomic swap: a crash in the window between
    # them leaves only .old — which the recovery block above restores
    # on the next run, so every crash converges to old-or-new layout
    os.rename(posts_dir, old_dir)
    os.rename(staged_dir, posts_dir)
    shutil.rmtree(old_dir)
    return before, _count(posts_dir)


def _nearest_cells(centroids: list[tuple[int, list[int]]], k: int, nprobe: int):
    """Return ``cells(m)``: per row of an int64 vector matrix, the
    ``nprobe`` nearest cells — the first ``nprobe`` of its sorted
    ``packed_distances`` row, the same exact-integer ordering the
    assignment uses, so the probe ranking is tie-free and replayable."""
    packed = packed_distances(centroids, k)
    n = min(nprobe, len(centroids))

    def cells(m: np.ndarray) -> np.ndarray:
        return np.sort(packed(m), axis=1)[:, :n] % np.int64(k)

    return cells


def _probe_cells_udf(centroids: list[tuple[int, list[int]]], k: int, nprobe: int):
    """array<long> of the ``nprobe`` nearest cells per query vector."""
    cells = _nearest_cells(centroids, k, nprobe)

    @F.pandas_udf("array<long>")
    def probe(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="object")
        return pd.Series(list(cells(batch_matrix(qv))))

    return probe


def _require_cell_pruned(df: DataFrame, cells: list[int], what: str) -> None:
    """RAISES unless every file the (post-prune) scan touches lives
    under a probed cell directory — the proof partition pruning engaged."""
    touched = {
        r.f
        for r in df.select(
            F.col("_metadata.file_path").alias("f")
        ).distinct().collect()
    }
    allowed = tuple(f"cluster_id={c}/" for c in cells)
    stray = [f for f in touched if not any(a in f for a in allowed)]
    if stray:
        raise RuntimeError(
            f"{what} scan escaped the probed cells: {stray[:3]}"
        )


def ivf_table_topk(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int,
    nprobe: int,
    topk: int,
    require_pruned: bool = True,
) -> DataFrame:
    """Top-k by exact int64 dot product over the probed cells of the
    persisted index. The postings scan carries a partition-pruning
    ``isin(probed cells)``; with ``require_pruned`` the files actually
    read are checked to live under probed cell directories (RAISES
    otherwise) — scan cost ∝ probed cells, proven per run."""
    from pyspark.sql.window import Window as W

    centroids = load_centroids(spark, root)
    probe_pairs = [
        (int(r.qid), int(c))
        for r in queries.select(
            F.col("vec_id").alias("qid"),
            _probe_cells_udf(centroids, k, nprobe)(F.col("qv")).alias(
                "cells"
            ),
        ).collect()  # n_queries rows — driver-sized by contract
        for c in r.cells
    ]
    cells = sorted({c for _, c in probe_pairs})
    posts = read_parquet(spark, os.path.join(root, _POSTINGS)).where(
        F.col("cluster_id").isin(cells)
    )
    if require_pruned:
        _require_cell_pruned(posts, cells, "probe")
    probe_df = F.broadcast(
        spark.createDataFrame(probe_pairs, "qid long, cluster_id long")
    )
    cand = (
        posts.join(probe_df, "cluster_id")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cand_id"), F.col("qv").alias("qv_c"))
    )
    qside = F.broadcast(
        queries.select(F.col("vec_id").alias("qid"), F.col("qv").alias("qv_q"))
    )
    dots = cand.join(qside, "qid").select(
        "qid",
        "cand_id",
        F.aggregate(
            F.zip_with("qv_q", "qv_c", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score_q"),
    )
    w = W.partitionBy("qid").orderBy(F.desc("score_q"), F.asc("cand_id"))
    return (
        dots.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select("qid", "cand_id", "score_q", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: PQ codes in the postings, raw vectors in a separate cell-
# partitioned relation read only for the final rescore (Jégou et al.,
# "Product Quantization for Nearest Neighbor Search"; the FAISS IVFPQ
# shape with by_residual=False — codes quantize the RAW vector, not the
# cell residual, keeping the whole lifecycle one exact-integer relation
# both engines can replay).
#
# Why this matters at 100 TB: the exact-IVF probe above reads the probed
# cells' RAW vectors — probe I/O ∝ cells × dim × 8 bytes. Here the probe
# is an ADC scan of the CODES column (M small ints per vector, 16×
# smaller at M=4/dim=64), and only the ADC top-m survivors' raw vectors
# are read back — both scans cell-pruned and raise-proven.
# ---------------------------------------------------------------------------

_CODEBOOK = "codebook"
_VECTORS = "vectors"


def _sub_codebook(train_seed_rows: list, m_sub: int) -> np.ndarray:
    """(m_sub, k_code, subdim) int64: subspace j's codebook = the seed
    vectors' j-th slices (the datapipe/pq.py discipline — codebooks
    derive from the k_code lowest train ids, re-derivable by both
    engines from the table itself)."""
    mat = np.array([v for _, v in train_seed_rows], dtype=np.int64)
    k_code, dim = mat.shape
    subdim = dim // m_sub
    return mat.reshape(k_code, m_sub, subdim).transpose(1, 0, 2).copy()


def _pq_encode_udf(cb: np.ndarray):
    """array<long> of M codes per vector: per subspace the row min of
    ``packed_distances`` over that subspace's codebook (cid = code) —
    the same tie-free exact-integer ordering the cell assignment uses,
    one int64 matmul per subspace per Arrow batch."""
    m_sub, k_code, subdim = cb.shape
    packs = [packed_distances(list(enumerate(cb[j])), k_code)
             for j in range(m_sub)]

    @F.pandas_udf("array<long>")
    def encode(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="object")
        mat = batch_matrix(qv)
        out = np.empty((mat.shape[0], m_sub), dtype=np.int64)
        for j, packed in enumerate(packs):
            s = mat[:, j * subdim:(j + 1) * subdim]
            out[:, j] = packed(s).min(axis=1) % np.int64(k_code)
        return pd.Series(list(out))

    return encode


def _load_codebook(spark: SparkSession, root: str) -> np.ndarray:
    rows = read_parquet(spark, os.path.join(root, _CODEBOOK)).collect()
    m_sub = 1 + max(int(r.j) for r in rows)
    k_code = 1 + max(int(r.c) for r in rows)
    subdim = len(rows[0].sub)
    cb = np.zeros((m_sub, k_code, subdim), dtype=np.int64)
    for r in rows:
        cb[int(r.j), int(r.c)] = np.asarray(r.sub, dtype=np.int64)
    return cb


def build_ivfpq_table(
    spark: SparkSession,
    root: str,
    qvec: DataFrame,
    k: int,
    iters: int,
    m_sub: int,
    k_code: int,
) -> None:
    """Train the coarse quantizer (deterministic int64 k-means), derive
    the sub-codebooks from the k_code LOWEST train ids, and persist FOUR
    relations: ``centroids`` (the coarse model), ``codebook`` (j, c,
    sub — the PQ model), ``postings`` (vec_id, codes) and ``vectors``
    (vec_id, qv), the last two written ``partitionBy(cluster_id)``.
    Codes and raw vectors are SEPARATE relations so the ADC probe scan
    never pays raw-vector bytes."""
    assigned, centroids = kmeans_fit(qvec, k=k, iters=iters)
    seed_rows = sorted(
        (int(r.vec_id), [int(v) for v in r.qv])
        for r in qvec.orderBy("vec_id").limit(k_code).collect()
    )  # k_code rows — driver-sized by the BPE-argmax contract
    cb = _sub_codebook(seed_rows, m_sub)
    enc = _pq_encode_udf(cb)
    # persist across the two writes: without it each .write re-runs the
    # assignment join AND the encode UDF over every vector — doubling
    # the most expensive build pass (correct either way, the encode is
    # deterministic, but 2× the corpus matmuls at 100 TB is real money)
    base = (
        assigned.join(qvec, "vec_id")
        .select("vec_id", "qv", enc(F.col("qv")).alias("codes"),
                "cluster_id")
        .persist()
    )
    try:
        (
            base.select("vec_id", "codes", "cluster_id")
            .write.partitionBy("cluster_id")
            .parquet(os.path.join(root, _POSTINGS))
        )
        (
            base.select("vec_id", "qv", "cluster_id")
            .write.partitionBy("cluster_id")
            .parquet(os.path.join(root, _VECTORS))
        )
    finally:
        base.unpersist()
    spark.createDataFrame(
        [(int(cid), [int(v) for v in vec]) for cid, vec in centroids],
        "cluster_id long, cvec array<long>",
    ).coalesce(1).write.parquet(os.path.join(root, _CENTROIDS))
    spark.createDataFrame(
        [
            (j, c, [int(v) for v in cb[j, c]])
            for j in range(cb.shape[0])
            for c in range(cb.shape[1])
        ],
        "j int, c int, sub array<long>",
    ).coalesce(1).write.parquet(os.path.join(root, _CODEBOOK))


def append_vectors_pq(
    spark: SparkSession,
    root: str,
    qvec_new: DataFrame,
    k: int,
) -> None:
    """Incremental IVF-PQ maintenance: route new vectors to cells under
    the FROZEN coarse quantizer and encode them under the FROZEN
    codebook (both map-only matmul passes), then append into the cell
    directories — no existing file touched."""
    centroids = load_centroids(spark, root)
    cb = _load_codebook(spark, root)
    assign = _matmul_assign_udf(centroids, k)
    enc = _pq_encode_udf(cb)
    assigned = qvec_new.select(
        "vec_id", "qv", assign(F.col("qv")).alias("cluster_id"),
        enc(F.col("qv")).alias("codes"),
    ).persist()  # two writes below — one UDF pass, not two
    try:
        (
            assigned.select("vec_id", "codes", "cluster_id")
            .write.mode("append").partitionBy("cluster_id")
            .parquet(os.path.join(root, _POSTINGS))
        )
        (
            assigned.select("vec_id", "qv", "cluster_id")
            .write.mode("append").partitionBy("cluster_id")
            .parquet(os.path.join(root, _VECTORS))
        )
    finally:
        assigned.unpersist()


def ivfpq_table_topk(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int,
    nprobe: int,
    adc_m: int,
    topk: int,
    require_pruned: bool = True,
) -> DataFrame:
    """IVF-PQ probe: (1) top-``nprobe`` cells per query by packed
    integer centroid distance; (2) ADC over the probed cells' CODES —
    each query's (M × k_code) int64 distance table is tiny and
    broadcast, scoring is M lookups per candidate; (3) EXACT int64
    dot-product rescore of only the ADC top-``adc_m`` survivors,
    reading the ``vectors`` relation cell-pruned + survivor-filtered.
    Both scans are raise-proven cell-pruned. Ordering is tie-free end
    to end (packed mins; (adc_dist, cand_id); (score desc, cand_id)),
    so one DuckDB recursive CTE replays the whole lifecycle
    (queries/kmeans.py::sim_ivfpq_persisted_topk)."""
    from pyspark.sql.window import Window as W

    centroids = load_centroids(spark, root)
    cb = _load_codebook(spark, root)
    m_sub, k_code, subdim = cb.shape
    qrows = queries.select("vec_id", "qv").collect()  # driver-sized
    # probe cells in plain numpy from the already-collected queries ×
    # driver-resident centroids — same packed min(d2*k + cid) ordering
    # as _probe_cells_udf, without launching a second Spark job per call
    probe_pairs = []
    if qrows:
        top = _nearest_cells(centroids, k, nprobe)(
            batch_matrix(r.qv for r in qrows)
        )
        probe_pairs = [
            (int(r.vec_id), int(c)) for r, row in zip(qrows, top) for c in row
        ]
    cells = sorted({c for _, c in probe_pairs})
    # per-query ADC distance tables: n_q × M × k_code rows, broadcast
    dtab_rows = []
    for r in qrows:
        qv = np.asarray(r.qv, dtype=np.int64)
        for j in range(m_sub):
            s = qv[j * subdim:(j + 1) * subdim]
            d2 = ((s[None, :] - cb[j]) ** 2).sum(axis=1)
            dtab_rows.extend(
                (int(r.vec_id), j, c, int(d2[c])) for c in range(k_code)
            )
    dtab = F.broadcast(spark.createDataFrame(
        dtab_rows, "qid long, j int, code long, d2 long"
    ))
    probe_df = F.broadcast(
        spark.createDataFrame(probe_pairs, "qid long, cluster_id long")
    )
    posts = read_parquet(spark, os.path.join(root, _POSTINGS)).where(
        F.col("cluster_id").isin(cells)
    )
    if require_pruned:
        _require_cell_pruned(posts, cells, "ADC (postings)")
    adc = (
        posts.join(probe_df, "cluster_id")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cand_id"),
                F.posexplode("codes").alias("j", "code"))
        .join(dtab, ["qid", "j", "code"])
        .groupBy("qid", "cand_id")
        .agg(F.sum("d2").alias("adc_dist"))
    )
    wa = W.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("cand_id"))
    survivors = (
        adc.withColumn("__r", F.row_number().over(wa))
        .where(F.col("__r") <= adc_m)
        .select("qid", "cand_id")
    )
    vecs = read_parquet(spark, os.path.join(root, _VECTORS)).where(
        F.col("cluster_id").isin(cells)
    )
    if require_pruned:
        _require_cell_pruned(vecs, cells, "rescore (vectors)")
    qside = F.broadcast(spark.createDataFrame(
        [(int(r.vec_id), [int(v) for v in r.qv]) for r in qrows],
        "qid long, qv_q array<long>",
    ))
    dots = (
        survivors.join(
            vecs.select(F.col("vec_id").alias("cand_id"),
                        F.col("qv").alias("qv_c")),
            "cand_id",
        )
        .join(qside, "qid")
        .select(
            "qid", "cand_id",
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
        .where(F.col("rank") <= topk)
        .select("qid", "cand_id", "score_q", "rank")
    )
