"""SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
efficient learning at web-scale through semantic deduplication").

Embedding near-dup removal at corpus scale cannot afford all-pairs cosine;
SemDeDup's answer is: cluster the embedding space, compare ONLY within a
cluster, and keep one representative per semantic-duplicate group. This
module implements that shape relationally:

1. **Assign**: every vector scores against the (tiny) seed/centroid set via
   a broadcast join; the argmax cell is reduced with a map-side-combinable
   ``max(struct(score, -sid))`` — because each vector's C candidate rows are
   generated co-located from its own input row, the partial aggregate
   collapses them BEFORE the exchange, so the assignment shuffle carries one
   row per vector, not N×C.
2. **Prune**: a within-cell self-join (id_a < id_b) with exact cosine ≥
   threshold — the compare count is Σ|cell|²/2, the SemDeDup contract. The
   shuffle key is the cell id; a pathologically hot cluster is one hot key
   (AQE skew-join splits it, and the seed count is the operator's knob).
3. **Keep policy**: a vector is dropped iff some LOWER-id vector in its cell
   is within the threshold — deterministic, order-free, and exactly
   replayable in SQL (the oracle compares the full keep/drop labeling).

Seeds are the vectors with the C smallest ids — deterministic and derivable
by both engines from the table itself, which is what makes the oracle exact.

Cosine values are rounded to 6dp before every comparison (argmax and
threshold), the repo's established cross-engine float discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from telemetry_parquet_spark.datapipe.similarity import cosine_presplit, norm


def seed_set(emb: DataFrame, n_seeds: int, id_col: str, vec_col: str) -> DataFrame:
    return emb.where(F.col(id_col) < n_seeds).select(
        F.col(id_col).alias("sid"),
        F.col(vec_col).alias("sv"),
        norm(F.col(vec_col)).alias("__sn"),
    )


def assign_cells(
    emb: DataFrame,
    n_seeds: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, vec): nearest seed by rounded cosine, ties to the lowest
    seed id. One broadcast join + one agg whose shuffle is N rows."""
    seeds = seed_set(emb, n_seeds, id_col, vec_col)
    scored = (
        emb.select(id_col, vec_col, norm(F.col(vec_col)).alias("__n"))
        .crossJoin(F.broadcast(seeds))
        .select(
            id_col,
            vec_col,
            "sid",
            F.round(
                cosine_presplit(
                    F.col(vec_col), F.col("sv"), F.col("__n"), F.col("__sn")
                ),
                6,
            ).alias("score"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("score"), (-F.col("sid")).alias("nsid"))).alias("m"),
        F.first(vec_col).alias("__v"),
    )
    return best.select(
        id_col, (-F.col("m.nsid")).alias("cell"), F.col("__v").alias(vec_col)
    )


def semantic_prune(
    emb: DataFrame,
    n_seeds: int = 8,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, kept) for every vector: kept=false iff a lower-id vector
    in the same cell has rounded cosine >= threshold."""
    # the assignment feeds three consumers (both prune sides + the final
    # labeling); checkpoint it once so the scan + C-way cosine scoring run
    # once, not per consumer (Y4 discipline, global_index.py precedent)
    cells = assign_cells(emb, n_seeds, id_col, vec_col).localCheckpoint()
    a = cells.select(
        F.col("cell"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"), norm(F.col(vec_col)).alias("__na"),
    )
    b = cells.select(
        F.col("cell"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"), norm(F.col(vec_col)).alias("__nb"),
    )
    pruned = (
        a.join(b, ["cell"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(
                cosine_presplit(
                    F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            )
            >= threshold
        )
        .select(F.col("id_b").alias("pruned_id"))
        .distinct()
    )
    return (
        cells.join(pruned, cells[id_col] == pruned["pruned_id"], "left")
        .select(
            id_col,
            "cell",
            F.col("pruned_id").isNull().alias("kept"),
        )
    )
