"""Product quantization (PQ) — vector compression for ANN at 10^10-vector
scale (Jégou et al., "Product Quantization for Nearest Neighbor Search").

Splits each D-dim embedding into M subvectors of D/M dims; each subvector is
quantized to the id of its nearest sub-centroid, so a vector stores as M
small codes (here M=8 × 4-bit) instead of D floats — 64× smaller for the
sf embeddings — and query scoring becomes table lookups (ADC: asymmetric
distance computation) instead of full float dot products. Composes with IVF
(datapipe/ann_index.py): IVF prunes cells, PQ compresses what's scanned.

Relational shapes, all exactly oracle-able:
- **Codebooks** derive from the seed rows (``vec_id < k``) — deterministic
  and re-derivable by both engines from the table itself (the
  datapipe/semantic.py discipline; pyspark.ml KMeans per subspace is the
  quality option and changes nothing structural).
- **Encode**: vectors × (M·k) sub-centroids via a broadcast join; the
  argmin per (vector, subspace) reduces with a map-side-combinable
  ``min(struct(dist, c))`` — the candidate rows are generated co-located,
  so the encode shuffle carries M rows per vector, never N·M·k.
- **ADC score**: the query's M×k distance table is tiny (broadcast);
  scoring joins each vector's M codes against it and sums — per-vector
  work is M lookups. Distances round to 6dp and sum as DECIMAL so both
  engines agree bit-for-bit; top-k has a total (dist, id) order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def l2sq(a, b) -> F.Column:
    """Squared L2 distance of two equal-length arrays, double precision,
    deterministic left-to-right fold."""
    # explicit product, not pow(x, 2): libm pow is not guaranteed to equal
    # x*x in the last bit, and the oracle multiplies
    def sq(x, y):
        diff = x.cast("double") - y.cast("double")
        return diff * diff

    return F.aggregate(
        F.zip_with(a, b, sq), F.lit(0.0), lambda acc, v: acc + v
    )


def sub_centroids(
    emb: DataFrame, m: int, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(j, c, sub): subspace j's centroid c = that slice of seed vector c."""
    d_expr = F.floor(F.size(vec_col) / m).cast("int")
    seeds = emb.where(F.col(id_col) < k).select(
        F.col(id_col).alias("c"), F.col(vec_col).alias("sv"), d_expr.alias("__d")
    )
    return seeds.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"), "c", "sv", "__d"
    ).select(
        "j",
        "c",
        F.expr("slice(sv, j * __d + 1, __d)").alias("sub"),
    )


def pq_encode(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, j, code): each vector's nearest sub-centroid per subspace —
    rounded-distance argmin, ties to the lowest centroid id."""
    cents = sub_centroids(emb, m, k, id_col, vec_col)
    d_expr = F.floor(F.size(vec_col) / m).cast("int")
    scored = (
        emb.select(id_col, F.col(vec_col).alias("__v"), d_expr.alias("__d"))
        .crossJoin(F.broadcast(cents))
        .select(
            id_col,
            "j",
            "c",
            F.round(
                l2sq(F.expr("slice(__v, j * __d + 1, __d)"), F.col("sub")), 6
            ).alias("dist"),
        )
    )
    best = scored.groupBy(id_col, "j").agg(
        F.min(F.struct(F.col("dist"), F.col("c"))).alias("m")
    )
    return best.select(id_col, "j", F.col("m.c").alias("code"))


def adc_top_k(
    emb: DataFrame,
    query_vec: list[float],
    top: int = 10,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """(id, adc_dist): approximate distances from the PQ codes alone — the
    query's M×k lookup table joins each vector's M codes; per-vector cost
    is M lookups regardless of D.

    ``codes``: a persisted ``pq_encode`` output (the PQ INDEX — compress
    once, score from codes is the whole point of the method); recomputed
    from ``emb`` when absent. The caller owns (m, k) consistency."""
    if codes is None:
        codes = pq_encode(emb, m, k, id_col, vec_col)
    cents = sub_centroids(emb, m, k, id_col, vec_col)
    d = len(query_vec) // m
    dtab = cents.select(
        "j",
        "c",
        F.round(
            l2sq(F.expr(f"slice({_arr_sql(query_vec)}, j * {d} + 1, {d})"), F.col("sub")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("qd"),
    )
    return (
        codes.join(F.broadcast(dtab), (codes["j"] == dtab["j"]) & (codes["code"] == dtab["c"]))
        .groupBy(id_col)
        .agg(F.sum("qd").cast("double").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(top)
    )


def _arr_sql(vals: list[float]) -> str:
    return "array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")"


def adc_recall_eval(
    emb: DataFrame,
    n_queries: int = 4,
    top: int = 10,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """(query_id, n_overlap): |ADC top-k ∩ exact-L2 top-k| per query — the
    recall evaluation a PQ deployment monitors, as ONE relational plan.

    Both rankings are deterministic (rounded distances, (dist, id)
    tiebreaks), so the whole evaluation is exactness-gated — the operator
    that usually lives in an offline notebook becomes a driver-checkable
    query. Shapes: the query set (first ``n_queries`` vectors) and the
    distance tables broadcast; exact ranking scans the corpus once per
    query batch (a queries × N join reduced by a per-query window);
    ADC ranking reuses the M-lookup join."""
    qs = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # exact side: rounded L2^2 against every corpus vector
    from pyspark.sql import Window

    exact_scored = (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(qs))
        .select(
            "query_id",
            F.col(id_col),
            F.round(l2sq(F.col(vec_col), F.col("qv")), 6).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col(id_col).asc())
    exact_top = exact_scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= top
    )
    # ADC side: per-query distance tables against the shared codes
    cents = sub_centroids(emb, m, k, id_col, vec_col)
    d_expr = F.floor(F.size("qv") / m).cast("int")
    dtab = (
        qs.withColumn("__d", d_expr)
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "j",
            "c",
            F.round(l2sq(F.expr("slice(qv, j * __d + 1, __d)"), F.col("sub")), 6)
            .cast("decimal(18,6)")
            .alias("qd"),
        )
    )
    if codes is None:
        codes = pq_encode(emb, m, k, id_col, vec_col)
    adc = (
        codes.join(
            F.broadcast(dtab),
            (codes["j"] == dtab["j"]) & (codes["code"] == dtab["c"]),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("qd").cast("double").alias("adc_dist"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    adc_top = adc.withColumn("rn", F.row_number().over(wa)).where(F.col("rn") <= top)
    overlap = (
        exact_top.select("query_id", id_col)
        .join(adc_top.select("query_id", id_col), ["query_id", id_col])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    # queries with zero overlap must still appear
    return (
        qs.select("query_id")
        .join(overlap, ["query_id"], "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        )
    )
