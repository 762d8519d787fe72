"""Versioned, date-partitioned dataset sinks — SURVEY.md §1.4 / S7-S8.

The reference wrote each day into a manually-built partition path
(``.../<job>/v<N>/submission_date_s3=YYYYMMDD``) because Spark 2.x couldn't
"replace exactly one day", then deleted ``_SUCCESS`` markers
(``SyncView.scala:88-106``, ``MainEventsView.scala:55-66``). Our engine uses
the feature that obsoletes the whole discipline: dynamic partition overwrite
— ``partitionBy(...)`` + ``partitionOverwriteMode=dynamic`` rewrites exactly
the partitions present in the incoming frame and leaves all others intact.

Scale notes:
- output file sizing replaces the reference's ``repartition(1)`` (Y1): we
  coalesce to ``files_per_partition`` per date partition via a partition-key
  repartition, letting AQE handle the small-file problem at other stages;
- parquet block size (the reference's 256-512 MiB tuning, Y6) comes from the
  session conf (session.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources.tables import read_parquet


def dataset_path(base: str, name: str, version: int) -> str:
    """``<base>/<name>/v<version>`` — the reference's versioned layout."""
    return os.path.join(base, name, f"v{version}")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] = ("submission_date_s3",),
    files_per_partition: int | None = 1,
    mode: str = "overwrite",
) -> None:
    """Atomic per-partition overwrite (S7). With ``mode='overwrite'`` and
    dynamic overwrite enabled (session default), only the partitions present
    in ``df`` are replaced — the reference's "replace exactly one day"."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        out = df
        if files_per_partition:
            out = df.repartition(files_per_partition, *partition_cols)
        out.write.mode(mode).partitionBy(*list(partition_cols)).parquet(path)
    finally:
        # session confs leak across callers; an unrelated later static
        # overwrite must not silently become a dynamic one
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def overwrite_single_day(
    df: DataFrame,
    path: str,
    day: str,
    date_col: str = "submission_date_s3",
    files_per_partition: int | None = 1,
) -> None:
    """Reference-faithful day job: constrain the frame to one day then
    dynamic-overwrite that partition only."""
    from pyspark.sql import functions as F

    one_day = df.where(F.col(date_col) == day)
    write_partitioned(one_day, path, [date_col], files_per_partition)


def _swap_partition_dirs(tmp: str, live: str, old: str) -> None:
    """Make ``tmp`` the live partition directory: two renames + a cleanup.
    Separated out so failure-injection tests can fault exactly here."""
    import shutil

    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


def compact_dataset(
    spark: SparkSession,
    path: str,
    partition_cols: list[str] = ("submission_date_s3",),
    target_file_bytes: int = 256 << 20,
) -> dict[str, int]:
    """Small-file compaction: rewrite each partition of a dataset into
    ~``target_file_bytes`` files (the lake-maintenance operator that keeps a
    streamed-into dataset scannable — thousands of micro-batch files per
    day otherwise destroy scan parallelism bookkeeping and metadata reads).

    Crash safety comes from write-then-swap, never in-place overwrite: the
    compacted files land in a hidden ``.compact-tmp-*`` sibling directory
    (invisible to scans), and only after that write fully commits do two
    directory renames swap it live. A job/executor loss any time during the
    rewrite — the expensive, long window — leaves the old partition intact
    and readers unaffected; the exposure shrinks to the two renames (atomic
    metadata ops on local/HDFS filesystems; object stores swap via their
    committer instead). This replaces the earlier ``localCheckpoint`` pin,
    which held a whole partition in executor storage as the high-water mark
    and failed the job if an executor died mid-overwrite. Leftover temp
    dirs from a previous crash are cleared on the next run. The loop stays
    per-partition (not cross-partition atomic) by design — that bounds any
    blast radius to one partition. Returns {partition_value: n_files}."""
    import glob
    import shutil

    pcol = partition_cols[0]
    sizes: dict[str, int] = {}
    # recover residue from a crash between the two swap renames: a
    # leftover .compact-old whose live dir is GONE holds the only copy
    # of that partition — restore it (deleting it, as before, was
    # data loss; with the live dir present the swap completed and the
    # old copy is garbage)
    for old in glob.glob(os.path.join(path, f".compact-old-{pcol}=*")):
        live = os.path.join(
            path, os.path.basename(old)[len(".compact-old-"):]
        )
        if os.path.isdir(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)
    # resolve the file index only AFTER recovery: a DataFrame created
    # before the restore would not see the recovered partition and the
    # row-count guard would (correctly, loudly) refuse every swap
    df = read_dataset(spark, path)
    for pdir in glob.glob(os.path.join(path, f"{pcol}=*")):
        val = os.path.basename(pdir).split("=", 1)[1]
        if val == "__HIVE_DEFAULT_PARTITION__" or "%" in val:
            # null or URI-escaped partition values do not round-trip
            # through an equality filter on the decoded column; a
            # rewrite would match zero rows and the swap would REPLACE
            # the partition with nothing — skip loudly instead
            sizes[val] = -1
            continue
        nbytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(pdir)
            for f in files
            if not f.startswith(("_", "."))
        )
        n_files = max(1, -(-nbytes // target_file_bytes))  # ceil
        tmp = os.path.join(path, f".compact-tmp-{pcol}={val}")
        old = os.path.join(path, f".compact-old-{pcol}={val}")
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        # pcol is directory-encoded in the target layout; drop the derived
        # column so the rewritten files don't duplicate it (deeper partition
        # levels, if any, keep their directory encoding via partitionBy)
        part = df.where(F.col(pcol) == val)
        writer = (
            part.drop(pcol).repartition(n_files).write.mode("overwrite")
        )
        if len(partition_cols) > 1:
            writer = writer.partitionBy(*list(partition_cols[1:]))
        writer.parquet(tmp)
        # the swap deletes the original: refuse it unless the rewrite
        # holds exactly the partition's rows (a value that fails to
        # round-trip through the filter would otherwise silently empty
        # the partition)
        before = read_parquet(spark, pdir).count()
        after = read_parquet(spark, tmp).count()
        if before != after:
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"compact_dataset: rewrite of {pcol}={val} holds "
                f"{after} rows vs {before} in the live partition; "
                "refusing the swap"
            )
        _swap_partition_dirs(tmp, pdir, old)
        sizes[val] = n_files
    return sizes


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_cols) at WRITE
    time so later equi-joins/aggregations on those columns skip the shuffle
    entirely (verified by plan assertion in tests/test_bucketing.py).

    At 100 TB this is the cheapest repeated-join strategy there is: pay one
    shuffle when the dataset lands, then every downstream join on the key is
    exchange-free. The modern replacement for the reference's deleted
    ConsistentPartitioner co-partitioning (GRAVEYARD.md:10)."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_dataset(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """S2/S3: partitioned dataset scan, optional schema merge
    (DatasetComparator.scala:92). Partition values stay strings (yyyyMMdd
    day keys must not be inferred to int — reference layout §1.4)."""
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        # partition schema resolves eagerly at DataFrame creation, so the
        # conf only needs to hold for this call — restore it after
        # (session confs must not leak into unrelated readers)
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def footer_stats(
    spark: SparkSession,
    path: str,
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """COUNT/MIN/MAX answered from parquet FOOTER METADATA — no row reads.

    At 100 TB, `SELECT count(*), min(x), max(x)` over a table is a full
    scan unless the engine answers it from row-group statistics; Spark's
    DSv2 parquet source does exactly that under
    ``spark.sql.parquet.aggregatePushdown`` (the scan node becomes
    ``BatchScan … [count(*), min(x), max(x)]`` and each task reads only
    footers). The v1 source — the default, and what ``load_table`` uses —
    never pushes aggregates, so this helper scopes BOTH confs
    (``useV1SourceList=''`` + the pushdown flag) around an EAGER
    computation and restores them before returning: the confs are read at
    physical-planning time, so the plan must materialize inside the scope
    (restore-then-collect silently replans as a full scan — verified).

    Raises if the pushdown did not engage (nullable/filtered/nested cases
    fall back to scans; callers asking for footer stats should know they
    got them). Returns the 1-row result as a local DataFrame.
    """
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushdown": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        aggs = [F.count("*").alias("cnt")]
        aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
        aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
        agg = read_parquet(spark, path).agg(*aggs)
        plan = agg._jdf.queryExecution().executedPlan().toString()
        if "BatchScan" not in plan or "count(*)" not in plan:
            raise RuntimeError(
                f"parquet aggregate pushdown did not engage for {path}; "
                "the plan would read rows — check for filters, nested or "
                "unsupported-typed columns"
            )
        rows = agg.collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, agg.schema)
