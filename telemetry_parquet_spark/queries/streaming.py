"""Streaming queries — each runs a GENUINE Structured Streaming query
(file source → availableNow trigger → memory sink) over the static events
table and returns the materialized result, so the DuckDB oracle can check
real streaming semantics against its batch-SQL equivalent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.queries.registry import query
from telemetry_parquet_spark.sources.tables import read_parquet


def _events_stream_build(transform):
    """Compose nanos→timestamp conversion (same floor-to-µs as load_table)
    with the pipeline under test."""

    def build(stream: DataFrame) -> DataFrame:
        # watermarks require TIMESTAMP (not NTZ) event time; convert to NTZ
        # only on the OUTPUT side (_run) for oracle-comparable columns.
        # ``ts`` arrives either as BIGINT nanos (legacy TIMESTAMP(NANOS)
        # layout under nanosAsLong) or as a native parquet timestamp —
        # adapt to whichever the generator wrote.
        ts_kind = stream.schema["ts"].dataType.typeName()
        if ts_kind == "long":
            fixed = stream.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:
            fixed = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        return transform(fixed)

    return build


def _run(spark: SparkSession, sf_dir: str, transform, output_mode="complete") -> DataFrame:
    from telemetry_parquet_spark.streaming.pipelines import run_available_now

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    out = run_available_now(
        spark, path, _events_stream_build(transform), output_mode=output_mode
    )
    # session timezone is UTC, so TS -> NTZ keeps the same wall-clock values
    # the (naive) oracle produces
    from pyspark.sql.types import TimestampType

    casts = [
        F.col(f.name).cast("timestamp_ntz").alias(f.name)
        if isinstance(f.dataType, TimestampType)
        else F.col(f.name)
        for f in out.schema.fields
    ]
    return out.select(*casts)


@query(
    "stream_tumbling_hourly",
    oracle="""
    SELECT
      date_trunc('hour', ts) AS window_start,
      date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1 h windows per event_type through a real streaming query
    (watermark + window + availableNow); oracle is the batch date_trunc
    equivalent — streaming and batch must agree on replayed history."""
    from telemetry_parquet_spark.streaming.pipelines import tumbling_counts

    return _run(spark, sf_dir, lambda ev: tumbling_counts(ev, streaming=True))


@query(
    "stream_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
               OR date_diff('second', lag(ts) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sessions AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native stateful session windows (30 min gap) through a real streaming
    query; the oracle rebuilds sessions relationally (lag-gap + cumsum), with
    session_end = last event + gap per session_window's definition."""
    from telemetry_parquet_spark.streaming.pipelines import session_windows

    return _run(spark, sf_dir, lambda ev: session_windows(ev, streaming=True))


@query(
    "stream_sliding_halfhour",
    oracle="""
    WITH wins AS (
      SELECT event_type,
             make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)
                            * 1000000) AS w0
      FROM events
    ), expanded AS (
      SELECT event_type, w0 AS wstart FROM wins
      UNION ALL
      SELECT event_type, w0 - INTERVAL 30 MINUTE AS wstart FROM wins
    )
    SELECT wstart AS window_start,
           wstart + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events
    FROM expanded
    GROUP BY 1, 2, 3
    """,
)
def stream_sliding_halfhour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide) through a real streaming
    query; the oracle expands each event into its two overlapping windows
    relationally."""
    from telemetry_parquet_spark.streaming.pipelines import sliding_counts

    return _run(spark, sf_dir, lambda ev: sliding_counts(ev, streaming=True))


@query(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dropDuplicates on (user_id, event_type) — the
    streaming-native form of the reference's cross-day dedup. Only the key
    columns are returned (which duplicate survives is arrival-order
    dependent; the key set is deterministic)."""
    from telemetry_parquet_spark.streaming.pipelines import streaming_dedup

    return _run(
        spark,
        sf_dir,
        lambda ev: streaming_dedup(ev, keys=["user_id", "event_type"]).select(
            "user_id", "event_type"
        ),
        output_mode="append",
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type, COUNT(*) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live event stream enriched against a static
    (slowly-changing) dimension, then aggregated — the canonical streaming
    ETL shape. The dimension side is BROADCAST, so each micro-batch joins
    map-side with no stateful join bookkeeping (stream-static inner joins
    are stateless by definition — only stream-stream joins buffer state).
    The oracle is the equivalent batch join+aggregate over the full replay."""
    from telemetry_parquet_spark.sources.tables import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def tf(ev: DataFrame) -> DataFrame:
        joined = ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
        return joined.groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("event_type")
        ).agg(F.count("*").alias("n_events"))

    return _run(spark, sf_dir, tf)


@query(
    "stream_stream_view_purchase",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           v.ts AS view_ts, p.ts AS purchase_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-interval condition: views joined
    to the purchases that follow within an hour, both sides watermarked.

    Unlike the stateless stream-static join, BOTH sides buffer state; the
    watermark + the interval bound are what let Spark evict a buffered row
    once no future match can arrive — without them state grows with the
    stream. The oracle is the equivalent batch interval join over the full
    replay (append-mode inner join emits exactly the joined set)."""
    import os

    path = os.path.join(sf_dir, "events.parquet")
    # This schema fetch happens BEFORE _run sets the legacy conf, so on the
    # TIMESTAMP(NANOS) layout a fresh session would raise AnalysisException
    # here. Set it first — every events read must be layout-adaptive
    # (see load_table); pinned by tests/test_ts_layouts.py.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = read_parquet(spark, path).schema
    fix = _events_stream_build(lambda df: df)

    def tf(view_stream: DataFrame) -> DataFrame:
        purchase_stream = fix(
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", os.path.basename(path))
            .load(os.path.dirname(path))
        )
        views = (
            view_stream.where(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                "user_id",
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "10 minutes")
        )
        purchases = (
            purchase_stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "10 minutes")
        )
        joined = views.join(
            purchases,
            F.expr(
                """
                user_id = p_user_id AND
                purchase_ts >= view_ts AND
                purchase_ts <= view_ts + INTERVAL 1 HOUR
                """
            ),
        )
        return joined.select(
            "view_id", "purchase_id", "user_id", "view_ts", "purchase_ts"
        )

    return _run(spark, sf_dir, tf, output_mode="append")


@query(
    "stream_user_running_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           round(SUM(value), 6) AS total_value,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) under the exact
    gate: per-user running (count, value sum, last ts) state. A single
    availableNow replay of one file = one micro-batch, so update-mode emits
    exactly one final row per user — which must equal the batch GROUP BY.
    Cross-batch state evolution is covered in test_stateful_streaming.py."""
    from telemetry_parquet_spark.streaming.stateful import running_user_stats

    out = _run(
        spark,
        sf_dir,
        lambda ev: running_user_stats(ev),
        output_mode="update",
    )
    return out.select(
        "user_id",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
        "last_ts",
    )


def _qsketch_stream_oracle() -> str:
    from telemetry_parquet_spark.datapipe.qsketch import duckdb_bin_sql

    return f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           b.bin_lo AS bin_lo, b.bin_hi AS bin_hi,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT ts, event_type, {duckdb_bin_sql("iv")} AS b
          FROM (SELECT ts, event_type, CAST(FLOOR(value) AS BIGINT) AS iv
                FROM events WHERE value IS NOT NULL))
    GROUP BY 1, 2, 3, 4, 5
    """


@query(
    "stream_qsketch_histogram",
    oracle=_qsketch_stream_oracle(),
)
def stream_qsketch_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour per-event-type quantile-sketch build as a REAL
    streaming aggregate (watermark + window + availableNow): the sketch's
    integer bin counts are a plain windowed groupBy-count, so streaming
    state is bins-per-(window, key), never event-sized, and each emitted
    window partial merges with batch sketches by groupBy-sum
    (datapipe/qsketch.py). Oracle = the batch date_trunc equivalent with
    the same integer binning."""
    from telemetry_parquet_spark.streaming.pipelines import windowed_histogram

    return _run(spark, sf_dir, lambda ev: windowed_histogram(ev, streaming=True))


@query(
    "stream_ohlc_bars",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           first(value ORDER BY ts, event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           last(value ORDER BY ts, event_id) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars as a REAL streaming aggregate (watermark + window +
    availableNow) — the streaming sibling of ``ts_ohlc_bars``: min_by /
    max_by keep one (value, ordkey) pair per bar in the state store, so
    state is bars-sized at any event volume. Oracle is the batch
    date_trunc equivalent — replayed history must agree exactly."""
    from telemetry_parquet_spark.streaming.pipelines import ohlc_bars

    return _run(spark, sf_dir, lambda ev: ohlc_bars(ev, streaming=True))


@query(
    "stream_heavy_hitters",
    oracle="""
    SELECT event_type, user_id, cnt AS count_lb, CAST(0 AS BIGINT) AS err_ub
    FROM (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    QUALIFY row_number() OVER (
      PARTITION BY event_type ORDER BY cnt DESC, user_id ASC) <= 16
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type top-16 user heavy hitters maintained as bounded streaming
    state (applyInPandasWithState Misra-Gries — see streaming/stateful.py).

    The exact-regime gate (no MG decrement ⇒ emission equals the exact
    batch GROUP BY top-16, same as ``vocab_heavy_hitters``) requires
    ``k`` > per-type distinct users. Distinct users grow ~15x per SF decade
    (1500 at sf0.1), so a fixed k=2048 would silently leave the exact
    regime at sf1+ and the oracle row would go red. The gate therefore
    DERIVES k at build time from a distinct-count upper bound (one
    2-column scan of the batch table — an oracle-time artifact, not part
    of the streaming pipeline). The production path at unbounded
    cardinality is the fixed-k lossy regime, whose ``count_lb ≤ true ≤
    count_lb + err_ub`` bounds are property-tested in
    test_stateful_streaming.py."""
    from telemetry_parquet_spark.sources.tables import load_table
    from telemetry_parquet_spark.streaming.stateful import streaming_heavy_hitters

    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    k = max(2048, 1 << int(n_users + 1).bit_length())

    return _run(
        spark,
        sf_dir,
        lambda ev: streaming_heavy_hitters(ev, k=k),
        output_mode="update",
    )


from telemetry_parquet_spark.queries.hll import _EVENTS_REG  # noqa: E402


@query(
    "stream_hll_registers",
    # oracle = the BATCH register table (the SAME CTE queries/hll.py uses
    # for hll_det_register_table): a green row proves the streaming
    # max-aggregation state converges to the batch sketch over replayed
    # history — the bounded-state streaming distinct-count story (state =
    # groups x 2^p register rows FOREVER, never per-user rows; registers
    # persist/merge downstream by re-max).
    oracle=f"""
    WITH {_EVENTS_REG}
    SELECT g AS event_type, CAST(bucket AS BIGINT) AS bucket, m_rho
    FROM reg
    """,
)
def stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-HLL registers (datapipe/hll_det.py) maintained by a
    REAL streaming query: per-(event_type, bucket) MAX(rho) in complete
    mode. Distinct-count state that never grows with cardinality — the
    streaming analog of ``hll_det_register_table``, byte-equal to the
    batch sketch after availableNow replay."""
    from telemetry_parquet_spark.datapipe.hll_det import hll_det_registers

    return _run(
        spark,
        sf_dir,
        lambda ev: hll_det_registers(
            ev.where(F.col("user_id").isNotNull()), "event_type", "user_id"
        ),
    )


@query(
    "stream_catalog_txn_fanout",
    # One availableNow micro-batch fans the events stream into TWO
    # cataloged snapshot tables (views / purchases) under ONE catalog
    # commit (streaming/pipelines.py::stream_commit_catalog_txn). The
    # query reads both tables back AT THE PINNED CATALOG VERSION — a
    # hash match proves the fan-out routed every row exactly once AND
    # that the pinned cross-table read equals the relational recompute.
    oracle="""
    SELECT 'views' AS stage,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE event_type = 'view'
    UNION ALL
    SELECT 'purchases' AS stage,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE event_type = 'purchase'
    """,
)
def stream_catalog_txn_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once multi-table streaming ingestion, driver-gated: the
    catalog commit is per micro-batch, so a catalog reader sees views
    and purchases advance together. Scale: routing is two map-only
    filters over each Arrow batch; the all-or-nothing point is one
    kilobyte catalog manifest per batch."""
    from telemetry_parquet_spark.sources.catalog import Catalog
    from telemetry_parquet_spark.sources.skipping import materialize_cached
    from telemetry_parquet_spark.streaming.pipelines import (
        stream_commit_catalog_txn,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.join(sf_dir, "events.parquet")

    routes = {
        "views_t": lambda df: df.where(
            F.col("event_type") == "view"
        ).select("user_id", "event_type"),
        "purchases_t": lambda df: df.where(
            F.col("event_type") == "purchase"
        ).select("user_id", "event_type"),
    }

    def build(root: str) -> None:
        cat = Catalog(root)
        empty = spark.createDataFrame([], "user_id bigint, event_type string")
        cat.create_table(spark, "views_t", empty)
        cat.create_table(spark, "purchases_t", empty)
        stream_commit_catalog_txn(
            spark, src, cat, routes, os.path.join(root, "_ckpt")
        )

    root = materialize_cached(
        spark, src,
        "stream_txn_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    cat = Catalog(root)
    v = cat.catalog_version()
    out = None
    for stage, table in (("views", "views_t"), ("purchases", "purchases_t")):
        row = cat.read(spark, table, v).agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        ).select(F.lit(stage).alias("stage"), "n_rows", "n_users")
        out = row if out is None else out.unionAll(row)
    return out
