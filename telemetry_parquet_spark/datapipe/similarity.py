"""Embedding similarity search over array<float> columns.

Column expressions (``dot`` / ``norm`` / ``cosine``): a JVM-side
higher-order fold in double precision. They serve the one-query
brute-force top-k (``sim_brute_force_topk``: the query vector is
broadcast and top-k compiles to TakeOrderedAndProject) and the
embedding dedup / semantic operators.

Exact top-k kernels: both score integer micro-cosines over
floor(x·10⁶ + 0.5)-quantized vectors and trim through ONE rule,
(score desc, id asc) (``_trim_top_k``), in the per-batch trim and in the
final rank window alike.

- ``matmul_batch_top_k``: batch KNN. The bounded query batch rides into
  a ``mapInPandas`` as a driver-side int64 matrix; one matmul per corpus
  Arrow batch.
- ``lsh_probe_matmul_top_k``: the corpus-sized-query scale path.
  Random-hyperplane signatures over quantized planes (``int_sigs_udf``)
  bucket both sides; each bucket is rescored by one int64 matmul.

The persisted IVF and IVF-PQ indexes live in ``ann_index.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from telemetry_parquet_spark.operators.topk import top_k_per_group


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays in double precision (left-to-right
    deterministic fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def cosine_presplit(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine`` with the norms supplied from precomputed columns —
    bit-identical (same fold, same product, same guard), but the hot
    rescore paths compute each vector's norm ONCE instead of once per
    candidate pair (higher-order folds are interpreted, not codegen'd, so
    dropping 2 of 3 per-pair folds is the cheapest large win; measured in
    SCALE.md)."""
    d = na * nb
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# Cosine-LSH (random hyperplanes)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side, tiny)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def lsh_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature: bit i = (vec · plane_i) >= 0."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        bits.append(
            F.when(dot(vec_col, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    out = F.lit(0).cast("long")
    for b in bits:
        out = out.bitwiseOR(b)
    return out


def table_seed(seed: int, t: int) -> int:
    """Per-table hyperplane seed (table 0 == the single-table config)."""
    return seed + 7919 * t


SIG_SCALE = 1_000_000


def quantize_plane(plane: list[float], scale: int = SIG_SCALE) -> list[int]:
    """floor(x * scale + 0.5) per component — the same one-multiply-one-
    add-one-floor recipe the k-means family uses, IEEE-identical in any
    engine."""
    import math

    return [int(math.floor(x * scale + 0.5)) for x in plane]


def _quantize(vecs, scale: int = SIG_SCALE) -> np.ndarray:
    """(n × dim) int64 matrix of floor(x·scale + 0.5) — ``quantize_plane``
    applied to a batch of vectors."""
    m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    return np.floor(m * float(scale) + 0.5).astype(np.int64)


def int_sigs_udf(dim: int, bits: int, tables: int, seed: int = 42):
    """ALL tables' signatures in ONE Arrow pass: quantize the vector and
    every hyperplane to int64 (floor(x·10⁶ + 0.5)), take the integer
    matmul (batch × dim) @ (dim × tables·bits), read the sign bits, pack
    per table. Returns a pandas_udf emitting array<long> of length
    ``tables``.

    Exactness: the dots are INTEGERS bounded by dim · (0.6·10⁶) · (5·10⁶)
    ≈ 2·10¹⁴ < 2⁵³, so they are exact in int64 AND as int-valued doubles
    under ANY summation order — the oracle's `list_inner_product` over the
    same quantized lists yields bit-identical signs with no dependence on
    either engine's fold order. Perf: one numpy matmul per Arrow batch
    instead of tables·bits interpreted per-element folds per vector."""
    planes = [
        p
        for t in range(tables)
        for p in _hyperplanes(dim, bits, table_seed(seed, t))
    ]
    qp = np.array(
        [quantize_plane(p) for p in planes], dtype=np.int64
    )  # (tables*bits, dim)
    weights = np.array([1 << i for i in range(bits)], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def sigs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        signs = (_quantize(vecs) @ qp.T >= 0).astype(np.int64)
        per_table = [
            signs[:, t * bits:(t + 1) * bits] @ weights
            for t in range(tables)
        ]
        return pd.Series(list(np.stack(per_table, axis=1)))

    return sigs


# ---------------------------------------------------------------------------
# Exact integer micro-cosine top-k: one trim rule, two kernels
# ---------------------------------------------------------------------------


def _trim_top_k(
    ids: np.ndarray,
    scores: np.ndarray,
    k: int,
    exclude: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The one top-k rule: the ``k`` best (score desc, id asc) entries,
    after dropping the id ``exclude`` (the query itself when the corpus
    holds it). Every trim in this module and every final rank window
    orders by this key, so a trim of any subset of the candidates keeps
    every member of that subset's share of the global top-k."""
    if exclude is not None:
        keep = ids != exclude
        ids, scores = ids[keep], scores[keep]
    top = np.lexsort((ids, -scores))[:k]
    return ids[top], scores[top]


def _nonzero(ids: np.ndarray, vecs, scale: int):
    """(ids, quantized matrix, norms) of ``vecs`` with zero-quantized-norm
    rows dropped: their cosine is undefined, and the oracles filter
    them identically."""
    if len(ids) == 0:
        return ids, np.zeros((0, 0), dtype=np.int64), np.zeros(0)
    qm = _quantize(vecs, scale)
    n2 = (qm * qm).sum(axis=1)
    ok = n2 > 0
    return ids[ok], qm[ok], np.sqrt(n2[ok].astype(np.float64))


def _micro_top_k(
    q, c, k: int, exclude_self: bool, query_id: str, corpus_id: str
) -> pd.DataFrame:
    """Per query of ``q`` its trimmed top-k among ``c`` (both
    ``_nonzero`` triples). The score is
    floor(dot / (‖q‖·‖c‖) · 10⁶ + 0.5) over the int64 dot: for
    embedding-sized components (|x| ≲ 1, as in ``int_sigs_udf``) the dot
    is exact (< 2⁵³ under any summation order) and the rest is a fixed
    chain of correctly-rounded IEEE ops, so numpy, Spark and DuckDB
    agree bit for bit and the operator carries an exact oracle."""
    qids, qm, qn = q
    cids, cm, cn = c
    parts = []
    if len(qids) and len(cids):
        s = (qm @ cm.T) / (qn[:, None] * cn[None, :])
        micros = np.floor(s * 1e6 + 0.5).astype(np.int64)
        for qid, row in zip(qids, micros):
            ids, scores = _trim_top_k(
                cids, row, k, qid if exclude_self else None
            )
            parts.append(pd.DataFrame(
                {query_id: qid, corpus_id: ids, "cos_micros": scores}
            ))
    if not parts:
        empty = np.zeros(0, dtype=np.int64)
        return pd.DataFrame(
            {query_id: empty, corpus_id: empty, "cos_micros": empty}
        )
    return pd.concat(parts, ignore_index=True)


def _rank(scored: DataFrame, query_id: str, corpus_id: str, k: int) -> DataFrame:
    """The final rank window: ``_trim_top_k``'s key over every query's
    trimmed candidates."""
    return top_k_per_group(
        scored, [query_id], [F.desc("cos_micros"), F.asc(corpus_id)], k
    ).drop("rnk")


# The batch path holds the whole query batch on the driver as one int64
# matrix. The largest in-repo caller is the exact self-KNN graph of the
# 2,000-vector sf0.1 corpus (scripts/lsh_frontier.py); corpus-sized query
# sets beyond this belong on ``lsh_probe_matmul_top_k``.
MAX_QUERY_BATCH = 4096


class QueryBatchTooLarge(ValueError):
    """The batch-KNN query side has more than ``MAX_QUERY_BATCH`` rows."""


def matmul_batch_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    scale: int = SIG_SCALE,
) -> DataFrame:
    """EXACT batch KNN as dense linear algebra: the query batch (at most
    ``MAX_QUERY_BATCH`` rows, else ``QueryBatchTooLarge``) rides into a
    ``mapInPandas`` as a driver-side int64 matrix, every corpus Arrow
    batch is scored in ONE (batch × dim) @ (dim × n_queries) integer
    matmul, and each batch emits only its per-query top-k — so the
    corpus is touched once with NO join and the only shuffle is the
    trimmed candidate set into the final rank window.

    Scores are ``_micro_top_k``'s integer micro-cosines; the per-batch
    trim and the final window share ``_trim_top_k``'s key, so the trim
    is a superset of the global top-k by construction. Zero-norm vectors
    are excluded on both sides. With ``exclude_self`` a corpus row whose
    id equals the query id is dropped before ranking (the KNN-graph
    shape, where the query batch is a slice of the corpus)."""
    q_rows = (
        queries.select(query_id, vec_col).limit(MAX_QUERY_BATCH + 1).collect()
    )
    if len(q_rows) > MAX_QUERY_BATCH:
        raise QueryBatchTooLarge(
            f"matmul_batch_top_k: the query batch has at least "
            f"{len(q_rows)} rows; the bound is {MAX_QUERY_BATCH}"
        )
    q = _nonzero(
        np.array([int(r[0]) for r in q_rows], dtype=np.int64),
        [r[1] for r in q_rows],
        scale,
    )
    out_schema = f"{query_id} long, {corpus_id} long, cos_micros long"

    def score(batches):
        for pdf in batches:
            c = _nonzero(
                pdf[corpus_id].to_numpy(dtype=np.int64), pdf[vec_col], scale
            )
            out = _micro_top_k(q, c, k, exclude_self, query_id, corpus_id)
            if len(out):
                yield out

    scored = corpus.select(
        F.col(corpus_id), F.col(vec_col)
    ).mapInPandas(score, out_schema)
    return _rank(scored, query_id, corpus_id, k)


def lsh_probe_matmul_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    bits: int = 6,
    k: int = 3,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = False,
    scale: int = SIG_SCALE,
    multiprobe: bool = True,
    tables: int = 1,
    self_corpus: bool = False,
) -> DataFrame:
    """Approximate per-query top-k: bucket corpus and queries by
    quantized hyperplane signature (``int_sigs_udf``), then rescore each
    bucket EXACTLY with one (nq_b × dim) @ (dim × nc_b) int64 matmul —
    Arrow moves each vector ONCE per bucket membership, never once per
    candidate pair. Scores are ``_micro_top_k``'s integer micro-cosines,
    the ``matmul_batch_top_k`` scores: approximation only prunes
    candidates, it never distorts a score.

    Three recall knobs, all deterministic (hence exactly oracle-able):
    - ``bits``: fewer bits = bigger buckets = more candidates (AND
      amplification; each extra bit multiplies the per-neighbor collision
      probability by p = 1 - angle/pi).
    - ``multiprobe``: additionally probes every 1-bit-flipped signature.
      The QUERY side explodes into bits+1 probe rows, the corpus side is
      unchanged, and within one table each (query, candidate) pair arises
      at most once (a candidate's single signature equals exactly one
      probe value), so no dedup stage exists. ``multiprobe=True,
      tables=1`` is the probe config.
    - ``tables``: L independent hyperplane sets, candidates = union of the
      per-table buckets (OR amplification: P(candidate) = 1-(1-p^bits)^L;
      measured frontier in SCALE.md). Both sides explode over (table,
      signature) composite buckets and a pair can collide in several
      tables — always with the SAME integer score, so a ``distinct`` over
      the trimmed (query, candidate, score) rows restores set semantics.
      The per-bucket trim stays a superset of the global top-k: within
      any one bucket each candidate appears once, the candidates beating
      a global-top-k member there are a subset of its global beaters, so
      it survives every bucket's trim.

    ``self_corpus=True`` is the KNN-GRAPH fast path (queries == corpus,
    the sim_knn_graph_lsh* shape): instead of scanning, signing, and
    shuffling the same vectors twice (once per cogroup side), each vector
    is tagged ONCE with role flags — its exact-signature row serves as
    both query probe and candidate; multiprobe bit-flip rows are
    query-only — and each bucket rescored by a single-sided
    ``groupBy().applyInPandas``. Halves the parquet scans, the Arrow
    signature passes, and the vector shuffle bytes; scores, trims, and
    output rows are IDENTICAL to the two-sided path (same bucket members,
    same matmul). ``queries`` is ignored for data in this mode (ids are
    taken from the corpus side; ``query_id`` names the output column).

    Shuffle ledger: one hash partition of each side by (table, signature)
    (vectors, not pairs; ONE side when self_corpus) + ≤
    k·tables·(bits+1)·|Q| trimmed rows into the dedup/final window — one
    exchange, not two: the pairs are hash-partitioned by query id, which
    clusters the multi-table ``distinct`` (subset of its keys) AND the
    final window. At 100 TB the bucket count (tables·2^bits) bounds
    parallelism — production raises bits with the corpus, keeping buckets
    cache-sized."""
    sig_arr = int_sigs_udf(dim, bits, tables, seed)
    out_schema = f"{query_id} long, {corpus_id} long, cos_micros long"

    def _score_block(
        q_vecs: pd.Series, q_ids: np.ndarray,
        c_vecs: pd.Series, c_ids: np.ndarray,
    ) -> pd.DataFrame:
        return _micro_top_k(
            _nonzero(q_ids, q_vecs, scale), _nonzero(c_ids, c_vecs, scale),
            k, exclude_self, query_id, corpus_id,
        )

    def entries_for(t: int, probe: bool, with_role: bool) -> list:
        s = F.col("__sigs")[t]
        mk = (
            (lambda sig, cand: F.struct(
                F.lit(t).alias("t"), sig.alias("s"),
                F.lit(cand).alias("c")))
            if with_role
            else (lambda sig, cand: F.struct(
                F.lit(t).alias("t"), sig.alias("s")))
        )
        out = [mk(s, True)]
        if probe:
            out.extend(
                mk(s.bitwiseXOR(F.lit(1 << i).cast("long")), False)
                for i in range(bits)
            )
        return out

    if self_corpus:
        base = corpus.select(
            F.col(corpus_id), F.col(vec_col),
            sig_arr(F.col(vec_col)).alias("__sigs"),
        )
        entries = [
            e for t in range(tables)
            for e in entries_for(t, multiprobe, True)
        ]
        tag = base.select(
            corpus_id, vec_col, F.explode(F.array(*entries)).alias("__p")
        ).select(
            corpus_id, vec_col,
            F.col("__p.t").alias("__tbl"), F.col("__p.s").alias("__sig"),
            F.col("__p.c").alias("__cand"),
        )
        # Pin the bucket-shuffle width (conf-driven, scale-adaptive): the
        # per-bucket matmuls are the compute here, and their cost is
        # invisible to AQE's byte-based coalescing — left adaptive, the
        # small single shuffle coalesces to ONE partition and the
        # tables·2^bits Python group calls run serially (measured 2×
        # slower at sf0.1). An explicit width keeps the Python stage as
        # wide as the session's shuffle parallelism.
        n_parts = int(
            corpus.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        tag = tag.repartition(n_parts, "__tbl", "__sig")

        def rescore_self(key, pdf: pd.DataFrame) -> pd.DataFrame:
            c_pdf = pdf[pdf["__cand"]]
            return _score_block(
                pdf[vec_col], pdf[corpus_id].to_numpy(dtype=np.int64),
                c_pdf[vec_col], c_pdf[corpus_id].to_numpy(dtype=np.int64),
            )

        scored = (
            tag.groupby("__tbl", "__sig")
            .applyInPandas(rescore_self, out_schema)
        )
    else:
        def tagged(df: DataFrame, idc: str, vname: str, probe: bool) -> DataFrame:
            base = df.select(
                F.col(idc), F.col(vec_col).alias(vname),
                sig_arr(F.col(vec_col)).alias("__sigs"),
            )
            entries = [
                e for t in range(tables) for e in entries_for(t, probe, False)
            ]
            return base.select(
                idc, vname, F.explode(F.array(*entries)).alias("__p")
            ).select(
                idc, vname,
                F.col("__p.t").alias("__tbl"), F.col("__p.s").alias("__sig"),
            )

        c = tagged(corpus, corpus_id, vec_col, False)
        q = tagged(queries, query_id, "__qv", multiprobe)

        def rescore(key, q_pdf: pd.DataFrame, c_pdf: pd.DataFrame):
            return _score_block(
                q_pdf["__qv"], q_pdf[query_id].to_numpy(dtype=np.int64),
                c_pdf[vec_col], c_pdf[corpus_id].to_numpy(dtype=np.int64),
            )

        scored = (
            q.groupby("__tbl", "__sig")
            .cogroup(c.groupby("__tbl", "__sig"))
            .applyInPandas(rescore, out_schema)
        )
    if tables > 1:
        # same pair from several tables carries the same integer score;
        # hash-partition by query id FIRST so the distinct (query id is a
        # subset of its grouping keys) and the final window share this one
        # exchange instead of shuffling the pair set twice.
        scored = scored.repartition(F.col(query_id)).distinct()
    return _rank(scored, query_id, corpus_id, k)


def quantize_int8(vec: Column, eps: float = 1e-12):
    """Symmetric per-vector int8 quantization: scale = max|x| (floored at
    ``eps`` so zero vectors stay defined), q_i = round(x_i·127/scale).

    Returns (codes array<int>, scale double). 4× storage reduction for
    vector stores with bounded cosine error (error-bound-tested). Pure
    column expressions — deterministic IEEE double arithmetic with
    identical operation order on any engine, so results are byte-exact
    cross-engine (both Spark and DuckDB round half away from zero);
    dequantize as q_i·scale/127."""
    scale = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))),
        F.lit(eps),
    )
    codes = F.transform(
        vec, lambda x: F.round(x.cast("double") * 127 / scale).cast("int")
    )
    return codes, scale
