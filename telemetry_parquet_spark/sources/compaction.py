"""Small-file compaction: manifest → deterministic bin-pack plan →
grouped rewrite.

The 100 TB operational complement of the layout family (z-order rewrite,
sources/layout.py; Bloom skipping, sources/skipping.py): streaming sinks,
per-day overwrites, and fine-grained partitioning all accumulate files far
below the parquet sweet spot, and every downstream scan then pays
per-file open/footer/seek costs plus task-scheduling overhead. Compaction
is a planning + rewrite pass:

1. **Manifest** — one row per physical file: a distributed ``binaryFile``
   listing (path + length only, content never read) left-joined with row
   counts from the ``_metadata`` column, so zero-row part files appear
   with n_rows = 0 instead of silently escaping the plan.
2. **Plan** — next-fit bin packing of the path-ordered file list into
   groups of ~``target_bytes``: group = floor(running_bytes_before / target).
   Deterministic (path order, integer arithmetic) and replayable — the
   planning window runs over the FILE LIST, which is manifest-sized, never
   row-sized (the same object any table format's compaction service
   materializes; partition the window by table partition when a single
   directory exceeds ~10^6 files).
3. **Rewrite** — the data joins its group id by a broadcast of the plan
   (file-count rows) and lands partitioned by group: each output directory
   holds ~target-sized files; input rows are preserved exactly (gated in
   tests by full-row multiset equality, and the rewrite never touches row
   CONTENT — it is a pure re-layout).

Not SQL-expressible (the unit of work is the physical file, which the
oracle's logical views cannot see), so this family is pytest-gated —
tests/test_compaction.py covers plan determinism, size bounds, row
preservation, and the file-count reduction itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from telemetry_parquet_spark.sources.tables import read_parquet


def file_manifest(spark: SparkSession, path: str) -> DataFrame:
    """(file_path, file_size, n_rows) per data file — one row per physical
    parquet file, INCLUDING zero-row files (a streaming sink can leave
    empty part files; they still cost an open/footer per scan and are
    exactly what compaction should fold away).

    The file list comes from the ``binaryFile`` reader — a distributed
    listing that never reads file CONTENT when only (path, length) are
    selected — and row counts ride in via a left join on the data scan's
    ``_metadata`` groups, so empty files land with n_rows = 0."""
    listing = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(
            F.col("path").alias("file_path"),
            F.col("length").alias("file_size"),
        )
        # every DATA file, whatever its extension — the data scan reads
        # extension-less parquet files too, and a manifest filtered to
        # *.parquet would drop their rows at the compaction join. Only
        # marker files (_SUCCESS, .crc) are excluded.
        .where(
            ~F.element_at(F.split("file_path", "/"), -1).startswith("_")
            & ~F.element_at(F.split("file_path", "/"), -1).startswith(".")
        )
    )
    counts = (
        read_parquet(spark, path)
        .groupBy(F.col("_metadata.file_path").alias("file_path"))
        .agg(F.count("*").alias("__n"))
    )
    return listing.join(counts, "file_path", "left").select(
        "file_path",
        "file_size",
        F.coalesce(F.col("__n"), F.lit(0)).alias("n_rows"),
    )


def compaction_plan(manifest: DataFrame, target_bytes: int) -> DataFrame:
    """(file_path, file_size, group_id): next-fit packing over the
    path-ordered manifest. A file starts a new group when the bytes before
    it cross the next target boundary, so every group except possibly the
    last holds >= target_bytes only if a single file exceeds the target
    (oversized files keep a group to themselves and are left alone by the
    rewrite threshold upstream)."""
    w = Window.orderBy("file_path")
    return (
        manifest.withColumn(
            "__before",
            F.coalesce(
                F.sum("file_size").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .select(
            "file_path",
            "file_size",
            (F.col("__before") / F.lit(int(target_bytes)))
            .cast("long")
            .alias("group_id"),
        )
    )


def compact(
    spark: SparkSession,
    src_path: str,
    out_path: str,
    target_bytes: int,
) -> DataFrame:
    """Rewrite ``src_path`` grouped to ~``target_bytes`` files under
    ``out_path``; returns the plan used. Rows ride to their group through a
    broadcast join on the file path (plan is file-count-sized), and each
    group writes as one task's output via an in-group repartition.

    Row CONTENT is preserved exactly, but the output is laid out as
    ``group_id=N/`` partition directories, so a raw ``spark.read.parquet``
    of ``out_path`` surfaces one extra discovered partition column
    (``group_id``) that the source schema does not have. Read through
    ``read_compacted`` to get the source schema back verbatim."""
    # materialize the plan ONCE: it is file-count-sized by design, and a
    # lazy plan would re-run the listing + row-count scan for the group
    # count AND again inside the rewrite join
    plan_rows = compaction_plan(
        file_manifest(spark, src_path), target_bytes
    ).collect()
    plan = spark.createDataFrame(
        plan_rows, "file_path string, file_size long, group_id long"
    )
    n_groups = len({r.group_id for r in plan_rows})
    data = read_parquet(spark, src_path).withColumn(
        "__file", F.col("_metadata.file_path")
    )
    (
        data.join(
            F.broadcast(plan.withColumnRenamed("file_path", "__file")),
            "__file",
        )
        .drop("__file", "file_size")
        .repartition(max(n_groups, 1), "group_id")
        .write.mode("overwrite")
        .partitionBy("group_id")
        .parquet(out_path)
    )
    return plan


def read_compacted(spark: SparkSession, out_path: str) -> DataFrame:
    """Read a ``compact`` output with the SOURCE schema — drops the
    ``group_id`` layout column that partition discovery adds, so the
    compacted table is schema-identical to the table it re-laid out."""
    return read_parquet(spark, out_path).drop("group_id")


def maintenance_pass(
    spark: SparkSession,
    landing_path: str,
    compacted_path: str,
    target_bytes: int,
    min_files: int = 2,
) -> dict:
    """One cycle of the table-maintenance loop a streaming landing zone
    needs: manifest the accumulated small files (zero-row ones included),
    and if there are at least ``min_files`` rewrite them into
    ~``target_bytes`` groups under ``compacted_path``. Returns the cycle's
    accounting — callers schedule this per closed partition (e.g. after a
    day's ``availableNow`` relay finishes) so compaction always runs
    behind the write frontier, never against in-flight files."""
    from pyspark.errors import AnalysisException

    try:
        n_files = file_manifest(spark, landing_path).count()
    except AnalysisException:
        # empty/initial landing zone: nothing to manifest — the exact
        # case a scheduled maintenance loop must survive gracefully
        return {"compacted": False, "n_files": 0, "n_groups": 0}
    if n_files < min_files:
        return {"compacted": False, "n_files": n_files, "n_groups": 0}
    plan = compact(spark, landing_path, compacted_path, target_bytes)
    n_groups = plan.select("group_id").distinct().count()
    return {"compacted": True, "n_files": n_files, "n_groups": n_groups}
