"""Streaming pipeline builders + a synchronous batch-replay runner.

Each builder takes a (possibly streaming) DataFrame and returns the
transformed frame — the same expression tree works for batch parity checks
(run it on the static table) and true streams (``readStream`` input). The
driver's oracle comparisons use ``run_available_now``: replay a static
parquet table through a real streaming query (file source, availableNow
trigger, memory sink) and hand back the materialized result.

Scale notes: windowed aggregations shuffle on (window ⊕ keys); watermarks
bound state (without one, streaming dedup/window state grows forever —
always set it from the source's real out-of-orderness, here 10 min on a
30-day synthetic stream). ``session_window`` is the native stateful session
operator; the batch analog in operators/sessionize.py exists for parity and
for engines replaying history.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.sources.tables import read_parquet

# Progress reports of the most recent run_available_now replay — runtime
# evidence (micro-batches, rows, state-store sizes) consumed by
# plans/audit.py, since streaming plans cannot be audited statically.
LAST_RUN_PROGRESS: list[dict] = []


def tumbling_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str = "10 minutes",
    streaming: bool = True,
) -> DataFrame:
    """Tumbling-window counts/sums per key. Output flattens window bounds to
    plain timestamp columns (stable schema for sinks + oracles)."""
    src = events.withWatermark(ts_col, watermark) if streaming else events
    from telemetry_parquet_spark.queries.registry import dec

    return (
        src.groupBy(F.window(ts_col, window_len).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str = "10 minutes",
    streaming: bool = True,
) -> DataFrame:
    src = events.withWatermark(ts_col, watermark) if streaming else events
    return (
        src.groupBy(F.window(ts_col, window_len, slide).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "10 minutes",
    streaming: bool = True,
) -> DataFrame:
    """Native stateful session windows (gap-based). Batch analog:
    operators/sessionize.py — the two agree on static data (tested)."""
    src = events.withWatermark(ts_col, watermark) if streaming else events
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def windowed_histogram(
    events: DataFrame,
    window_len: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    watermark: str = "10 minutes",
    streaming: bool = True,
) -> DataFrame:
    """Tumbling-window log-linear histogram sketch (datapipe/qsketch.py
    binning over floor(value)) per key — the streaming build of the
    mergeable quantile sketch. Because the sketch state is plain integer
    bin counts, the windowed streaming aggregate IS the sketch: per-window
    partials persist to any sink and later merge with the batch sketches
    by groupBy-sum. State per (window, key) is bounded by the bin count,
    not the event count."""
    from telemetry_parquet_spark.datapipe.qsketch import spark_bin_expr

    src = events.withWatermark(ts_col, watermark) if streaming else events
    binned = src.where(F.col(value_col).isNotNull()).withColumn(
        # CAST truncation, matching the batch sketch's _SPARK_BIN prep:
        # floor() would bin negative non-integers differently and break
        # the promised groupBy-sum mergeability with batch partials
        "__iv", F.col(value_col).cast("bigint")
    )
    return (
        binned.groupBy(
            F.window(ts_col, window_len).alias("w"),
            F.col(key_col),
            spark_bin_expr("__iv").alias("b"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            F.col("b.bin_lo").alias("bin_lo"),
            F.col("b.bin_hi").alias("bin_hi"),
            "cnt",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked exact dedup: state for each key is kept only within the
    watermark horizon — the streaming-native form of the reference's
    cross-day dedup (PioneerOnlineNewsDedupe.scala:97-121)."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys)


def run_available_now(
    spark: SparkSession,
    parquet_path: str,
    build,
    schema=None,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Replay a static parquet file through a genuine streaming query:
    file source → ``build(stream_df)`` → memory sink, availableNow trigger,
    processed synchronously. Returns the materialized result frame.

    This is the reference's batch-reprocessing story told with streaming
    machinery — identical code path to a live stream, but terminating.

    ``state_partitions`` sizes the stateful-operator shuffle: each shuffle
    partition owns a state store, and store setup dominates small local
    replays (32 stores ≈ 5 s vs 8 ≈ 1.2 s at sf0.1). Size it to key
    cardinality in production; the conf is restored after the run."""
    if schema is None:
        schema = read_parquet(spark, parquet_path).schema
    # the file source wants a directory; a single-file table is streamed by
    # glob-filtering its parent directory
    import os

    if os.path.isfile(parquet_path):
        reader = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", os.path.basename(parquet_path))
        )
        stream = reader.load(os.path.dirname(parquet_path))
    else:
        stream = spark.readStream.schema(schema).format("parquet").load(parquet_path)
    out = build(stream)
    name = f"mem_{uuid.uuid4().hex[:12]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(min(int(prev_parts), state_partitions)),
            )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Runtime evidence for the plan audit (streaming plans can't be
        # introspected statically without re-execution): micro-batch count,
        # rows processed, and state-store rows from the query's own
        # progress reports.
        global LAST_RUN_PROGRESS
        LAST_RUN_PROGRESS = []
        for p in q.recentProgress:
            LAST_RUN_PROGRESS.append(
                p if isinstance(p, dict) else json.loads(p.json)
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # materialize off the memory sink and DROP it: a parity sweep calls
    # this hundreds of times, and each leaked mem_<uuid> table would pin
    # its full result in driver memory for the session's lifetime
    result = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return result


def ohlc_bars(
    events: DataFrame,
    window_len: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    watermark: str = "10 minutes",
    streaming: bool = True,
) -> DataFrame:
    """Tumbling-window OHLC bars per key — the streaming sibling of
    ``queries/temporal.py::ts_ohlc_bars``. min_by/max_by carry one
    (value, ordkey) pair per group through the streaming state, so state
    is bars-sized regardless of event volume; the watermark closes bars
    and bounds the state store."""
    from telemetry_parquet_spark.queries.registry import dec

    src = events.withWatermark(ts_col, watermark) if streaming else events
    ordkey = F.struct(F.col(ts_col), F.col("event_id"))
    return (
        src.groupBy(F.window(ts_col, window_len).alias("w"), F.col(key_col))
        .agg(
            F.min_by("value", ordkey).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordkey).alias("close"),
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("volume"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "volume",
        )
    )


def stream_append_parquet(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    checkpoint: str,
    schema=None,
) -> None:
    """``availableNow`` file-to-file relay: stream NEW files under
    ``src_path`` (the checkpoint remembers processed ones across calls)
    into an append-mode parquet sink at ``dest_path`` — the landing-zone
    pattern whose small-file debris ``sources/compaction.py::
    maintenance_pass`` cleans up once a partition is closed. Synchronous;
    each call drains whatever arrived since the last one."""
    if schema is None:
        schema = read_parquet(spark, src_path).schema
    stream = _file_stream_reader(spark, src_path, schema)
    q = (
        stream.writeStream.format("parquet")
        .option("path", dest_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_commit_snapshots(
    spark: SparkSession,
    src_path: str,
    table_root: str,
    checkpoint: str,
    schema=None,
) -> None:
    """``availableNow`` stream into the versioned snapshot table
    (sources/snapshots.py): every micro-batch commits as ONE atomic
    append version, so readers see batch-aligned snapshots (never a
    half-written batch) and time travel works per micro-batch.

    Exactly-once across restarts by batch-id idempotence — the standard
    foreachBatch transactional-sink recipe: each commit records the
    stream's ``batch_id`` in its manifest, and a replayed batch (crash
    AFTER the snapshot commit but BEFORE the checkpoint advanced) is
    recognized by scanning the commit log for that batch id and skipped,
    so at-least-once delivery + idempotent commit = exactly-once table
    content. A crash BEFORE the commit leaves only uncommitted data files
    (invisible to readers, reclaimed by vacuum). The stamp rides in the
    manifest ATOMICALLY (written with the O_EXCL commit itself, via
    ``append``'s ``extra``), so there is no window where the batch is
    committed but unstamped."""
    import os as _os

    from telemetry_parquet_spark.sources import snapshots as S

    if schema is None:
        schema = read_parquet(spark, src_path).schema
    ckpt_tag = _os.path.abspath(checkpoint)

    def commit_batch(batch_df, batch_id: int) -> None:
        if batch_stamped(table_root, ckpt_tag, batch_id):
            return  # replayed batch: already committed
        S.append(
            spark, table_root, batch_df,
            extra={"batch_id": batch_id, "stream": ckpt_tag},
        )

    stream = _file_stream_reader(spark, src_path, schema)
    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def batch_stamped(root: str, stream_tag: str, batch_id: int) -> bool:
    """True iff some commit on ``root`` carries this (stream, batch_id)
    stamp. Walks newest -> oldest and STOPS at the first commit this
    stream stamped with a LOWER batch id — batch ids are monotone per
    stream, so a stamp for the current batch can only sit above that
    point. That bounds every micro-batch's replay check to the commits
    since the stream's previous batch (O(1) amortized, instead of the
    whole history each time) and treats vacuumed manifests as
    absence."""
    from telemetry_parquet_spark.sources import snapshots as S

    try:
        head = S.latest_version(root)
    except FileNotFoundError:
        return False
    for v in range(head, -1, -1):
        try:
            m = S.read_manifest(root, v)
        except FileNotFoundError:
            break  # vacuumed below this point: nothing deeper
        if m.get("stream") != stream_tag:
            continue
        if m.get("batch_id") == batch_id:
            return True
        if m.get("batch_id", -1) < batch_id:
            break
    return False


def _file_stream_reader(spark: SparkSession, src_path: str, schema):
    """A parquet ``readStream`` over a directory OR a single-file table
    (the file source wants a directory; a file is streamed by
    glob-filtering its parent) — the one recipe all streaming entry
    points share."""
    import os as _os

    if schema is None:
        schema = read_parquet(spark, src_path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if _os.path.isfile(src_path):
        reader = reader.option(
            "pathGlobFilter", _os.path.basename(src_path)
        )
        src_path = _os.path.dirname(src_path)
    return reader.load(src_path)


def catalog_txn_batch(
    spark: SparkSession,
    catalog,
    routes: dict,
    stream_tag: str,
    batch_df,
    batch_id: int,
) -> bool:
    """One micro-batch of the multi-table exactly-once sink — factored
    out so crash windows are testable deterministically. Fans
    ``batch_df`` into every cataloged table in ``routes`` (name ->
    fn(batch_df) -> rows for that table) and lands ONE catalog commit.

    Two-level idempotence makes at-least-once delivery exactly-once
    ACROSS TABLES:
    1. catalog stamp — a (stream, batch_id) already in the catalog log
       means the whole batch landed; skip.
    2. per-table recovery — WAP ids are DETERMINISTIC
       (``<tag>-b<id>-<table>``), so a replay after a partial crash
       resumes precisely where it died: a table whose log carries the
       stamp is reused, a table with the staged manifest left behind is
       published (the staged files ARE the replayed rows — checkpoint
       replay is byte-stable), an untouched table is staged fresh. The
       final catalog commit is the only all-or-nothing point a catalog
       reader observes.

    Returns True if this call committed the batch, False if it was a
    recognized replay."""
    import hashlib as _hashlib

    from telemetry_parquet_spark.sources import snapshots as S

    # Both replay scans walk newest -> oldest and STOP at the first
    # commit this stream stamped with a LOWER batch id: batch ids are
    # monotone per stream, so a stamp for the current batch can only sit
    # above that point. This bounds each micro-batch's scan to the
    # commits since the stream's previous batch — O(1) amortized instead
    # of O(batches) — and expired (vacuumed) catalog versions are simply
    # absent from the surviving list, never an error.
    for v in reversed(catalog._list_catalog_versions()):
        c = catalog.read_catalog_commit(v)
        if c.get("stream") != stream_tag:
            continue
        if c.get("batch_id") == batch_id:
            return False  # whole batch already landed
        if c.get("batch_id", -1) < batch_id:
            break
    stamp = {"batch_id": batch_id, "stream": stream_tag}
    short = _hashlib.md5(stream_tag.encode()).hexdigest()[:8]
    for name, route in routes.items():
        root = catalog.table_root(name)
        done = False
        try:
            for v in range(S.latest_version(root), -1, -1):
                try:
                    m = S.read_manifest(root, v)
                except FileNotFoundError:
                    break  # vacuumed below this point: nothing deeper
                if m.get("stream") != stream_tag:
                    continue
                if m.get("batch_id") == batch_id:
                    done = True  # published in a crashed earlier attempt
                    break
                if m.get("batch_id", -1) < batch_id:
                    break  # monotone stamps: not deeper
        except FileNotFoundError:
            pass
        if done:
            continue
        wap = f"ctxn-{short}-b{batch_id}-{name}"
        if wap not in S.list_staged(root):
            S.stage_append(spark, root, route(batch_df), wap)
        S.commit_with_retry(
            lambda r=root, w=wap: S.publish_staged(
                spark, r, w, extra=stamp
            ),
            retries=8,
        )
    S.commit_with_retry(
        lambda: catalog.commit_snapshot(
            action=f"stream-txn-b{batch_id}", extra=stamp
        )
    )
    return True


def stream_commit_catalog_txn(
    spark: SparkSession,
    src_path: str,
    catalog,
    routes: dict,
    checkpoint: str,
    schema=None,
) -> None:
    """``availableNow`` stream fanning every micro-batch into MULTIPLE
    cataloged snapshot tables under ONE catalog commit per batch — the
    multi-table analog of ``stream_commit_snapshots``: catalog readers
    see each batch appear in ALL tables at once (one consistent catalog
    version per batch), and crash-replay at any point resumes without
    duplicating a row (``catalog_txn_batch``'s two-level idempotence)."""
    import os as _os

    if schema is None:
        schema = read_parquet(spark, src_path).schema
    tag = _os.path.abspath(checkpoint)

    def commit_batch(batch_df, batch_id: int) -> None:
        catalog_txn_batch(spark, catalog, routes, tag, batch_df, batch_id)

    stream = _file_stream_reader(spark, src_path, schema)
    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_commit_branch(
    spark: SparkSession,
    src_path: str,
    table_root: str,
    branch: str,
    checkpoint: str,
    schema=None,
) -> None:
    """``availableNow`` stream landing on a BRANCH of the snapshot table
    (sources/branches.py): micro-batches commit as atomic branch versions
    that NO main reader can observe; once the ingest is audited
    (``read_branch``) the whole run merges to main as ONE metadata-only
    commit — write-audit-publish generalized from a single staged commit
    to a streaming ingest of any length.

    Exactly-once by the same batch-id idempotence recipe as
    ``stream_commit_snapshots``: the (stream, batch_id) stamp rides in
    each branch manifest atomically, and a replayed batch (crash after
    the branch commit but before the checkpoint advanced) is recognized
    by scanning the BRANCH chain and skipped. A crash before the commit
    leaves only uncommitted data files, invisible everywhere and
    vacuum-reclaimable."""
    import os as _os

    from telemetry_parquet_spark.sources import branches as B

    if schema is None:
        schema = read_parquet(spark, src_path).schema
    ckpt_tag = _os.path.abspath(checkpoint)

    def commit_batch(batch_df, batch_id: int) -> None:
        heads = B.list_branches(table_root)
        if branch in heads:
            for k in range(heads[branch], 0, -1):
                bm = B.read_branch_manifest(table_root, branch, k)
                if bm.get("stream") != ckpt_tag:
                    continue
                if bm.get("batch_id") == batch_id:
                    return  # replayed batch: already committed
                if bm.get("batch_id", -1) < batch_id:
                    break  # monotone stamps: not deeper
        B.branch_append(
            spark, table_root, branch, batch_df,
            extra={"batch_id": batch_id, "stream": ckpt_tag},
        )

    stream = _file_stream_reader(spark, src_path, schema)
    q = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
