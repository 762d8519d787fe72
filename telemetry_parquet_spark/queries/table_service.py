"""Table-service lifecycle under ONE exact oracle: versioned snapshots.

``sources/snapshots.py`` gives the engine a commit log (append /
copy-on-write delete / compaction-as-a-version / time travel). This query
drives the WHOLE chain — append, append, delete, compact — and returns
one summary row per version, so the driver's hash check proves all four
lifecycle invariants at once against plain relational SQL:

- v1/v2: appends accumulate exactly the appended rows;
- v3: delete removes exactly the matching rows (file-granular
  copy-on-write — untouched files carried by reference);
- v4: compaction changes the LAYOUT only — v4 must hash identical to v3.

The version chain is materialized once per testdata fingerprint under the
session warehouse (the ensure_bm25_index discipline) and each run reads
it back through time travel, so the query also exercises manifest-pinned
reads rather than directory listing."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.queries.registry import query
from telemetry_parquet_spark.sources.skipping import materialize_cached
from telemetry_parquet_spark.sources.tables import read_parquet

# Money totals are keyed as BIGINT *cents* on BOTH engine and oracle
# sides: the driver's canonicalizer renders trailing-zero DECIMAL cells
# (e.g. 1251869314.00) differently per engine, so a value-identical
# DECIMAL result can still hash-red (the r09 8-red bug class — same
# family as the r05 HUGEINT miss). Per-row cents are exact: the 2-decimal
# price rounds identically on both engines (proven by the former DECIMAL
# rows matching), ×100 clears the scale, and group sums stay ≪ 2⁶³.
_SUM = (
    "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)) "
    "AS BIGINT)"
)


def _sum_cents(col: str = "o_totalprice"):
    """Spark twin of the ``_SUM`` oracle macro: exact BIGINT cents."""
    return F.sum(
        (F.col(col).cast("decimal(15,2)") * 100).cast("long")
    ).alias("sum_price_cents")


def _time_travel_chain(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse, fingerprint-cached) the shared orders version
    chain: v1 append 70% -> v2 append 30% -> v3 delete '1-URGENT' ->
    v4 compact. One table serves snapshot_time_travel,
    snapshot_changes_feed, and snapshot_incremental_view."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
        delete_where,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(spark, root, orders.where(F.col("o_orderkey") % 10 < 7))
        append(spark, root, orders.where(F.col("o_orderkey") % 10 >= 7))
        delete_where(spark, root, "o_orderpriority = '1-URGENT'")
        compact_table(spark, root, target_bytes=64 * 1024 * 1024)

    return materialize_cached(
        spark, src, "snap_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )


@query(
    "snapshot_time_travel",
    # One row per committed version; v4 (compaction) must equal v3 —
    # layout changed, rows didn't. COUNT/SUM both CAST (hugeint lint).
    oracle=f"""
    WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
         v3 AS (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT')
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_SUM} AS sum_price_cents FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), {_SUM} FROM orders
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), {_SUM} FROM v3
    UNION ALL
    SELECT 4, CAST(COUNT(*) AS BIGINT), {_SUM} FROM v3
    """,
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the orders version chain (append 70% → append 30% → delete
    '1-URGENT' → compact) once per testdata fingerprint, then time-travel
    every version and summarize it. sources/snapshots.py docstring has the
    commit-log design; reference parity note there (S7/S12 lineage)."""
    from telemetry_parquet_spark.sources.snapshots import read_snapshot

    root = _time_travel_chain(spark, sf_dir)
    parts = []
    for v in (1, 2, 3, 4):
        parts.append(
            read_snapshot(spark, root, v)
            .agg(F.count("*").alias("n_rows"), _sum_cents())
            .select(F.lit(v).alias("version"), "n_rows", "sum_price_cents")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "snapshot_merge_upsert",
    # MERGE INTO (append 70% → merge updates∪inserts) summarized per
    # orderstatus: matched keys (o_orderkey%20<4, all inside the 70%
    # target) take the source's 'MERGED' priority; unmatched source keys
    # (o_orderkey%10=8, outside the target) are inserts. The oracle
    # replays MERGE as target-minus-source-keys ∪ source — the
    # operators/merge.py::merge_upsert semantics the COW commit must
    # reproduce file-granularly.
    oracle=f"""
    WITH target AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
    source AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, 'MERGED' AS o_orderpriority
      FROM orders WHERE o_orderkey % 20 < 4 OR o_orderkey % 10 = 8
    ),
    merged AS (
      SELECT t.* FROM target t
      WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM source)
      UNION ALL SELECT * FROM source
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderpriority = 'MERGED' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_merged,
           {_SUM} AS sum_price_cents
    FROM merged GROUP BY o_orderstatus
    """,
)
def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE INTO on the snapshot table
    (sources/snapshots.py::merge_into): one key semi-join finds affected
    files, only those rewrite (minus matched ∪ all source rows),
    untouched files carry by reference, pre-merge version stays
    readable. Summarized per status so the driver hash checks update,
    insert, and carry-over content at once."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        merge_into,
        read_snapshot,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def source_df(orders):
        return orders.where(
            (F.col("o_orderkey") % 20 < 4) | (F.col("o_orderkey") % 10 == 8)
        ).withColumn("o_orderpriority", F.lit("MERGED"))

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(spark, root, orders.where(F.col("o_orderkey") % 10 < 7))
        merge_into(spark, root, source_df(orders), keys=["o_orderkey"])

    root = materialize_cached(
        spark, src, "snapmerge_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    return read_snapshot(spark, root).groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority") == "MERGED", 1).otherwise(0)
        ).alias("n_merged"),
        _sum_cents(),
    )


@query(
    "snapshot_merge_conditional",
    # Conditional MERGE (snapshots.merge_into_conditional), driven
    # through the SQL front door: ordered first-match-wins clauses —
    # DELETE matched keys with o_orderkey%40<2, UPDATE SET * (source
    # carries o_orderpriority='SRC') when the target row's status isn't
    # 'F', keep the rest unchanged; INSERT only even-custkey unmatched
    # source rows. The oracle replays the clause routing as plain set
    # ops (anti ∪ case-joined ∪ filtered-anti). Grouped per status so
    # one hash checks delete, conditional update, carry-unchanged, and
    # filtered insert at once.
    oracle=f"""
    WITH t AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
    s AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 o_orderdate, 'SRC' AS o_orderpriority
          FROM orders WHERE o_orderkey % 20 < 4 OR o_orderkey % 10 = 8),
    merged AS (
      SELECT t.* FROM t
      WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM s)
      UNION ALL
      SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
             t.o_orderdate,
             CASE WHEN t.o_orderstatus <> 'F' THEN 'SRC'
                  ELSE t.o_orderpriority END AS o_orderpriority
      FROM t JOIN s ON t.o_orderkey = s.o_orderkey
      WHERE NOT (s.o_orderkey % 40 < 2)
      UNION ALL
      SELECT * FROM s
      WHERE s.o_orderkey % 10 = 8 AND s.o_custkey % 2 = 0
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderpriority = 'SRC' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_src,
           {_SUM} AS sum_price_cents
    FROM merged GROUP BY o_orderstatus
    """,
)
def snapshot_merge_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-clause MERGE INTO as a copy-on-write commit
    (sources/snapshots.py::merge_into_conditional — the reference's
    keep-newest dedup-upsert shape, PioneerOnlineNewsDedupe.scala:114-121),
    routed through the SQL front door's WHEN-clause grammar. Detection is
    CLAUSE-AWARE: only files where a matched row actually fires a clause
    rewrite, so a mostly-stale source rewrites almost nothing at 100 TB."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        read_snapshot,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(spark, root, orders.where(F.col("o_orderkey") % 10 < 7))
        orders.where(
            (F.col("o_orderkey") % 20 < 4) | (F.col("o_orderkey") % 10 == 8)
        ).withColumn(
            "o_orderpriority", F.lit("SRC")
        ).createOrReplaceTempView("__merge_cond_src")
        engine_sql(
            spark,
            """
            MERGE INTO tgt USING (SELECT * FROM __merge_cond_src)
            ON o_orderkey
            WHEN MATCHED AND s.o_orderkey % 40 < 2 THEN DELETE
            WHEN MATCHED AND t.o_orderstatus <> 'F' THEN UPDATE SET *
            WHEN NOT MATCHED AND s.o_custkey % 2 = 0 THEN INSERT *
            """,
            {"tgt": root},
        )

    root = materialize_cached(
        spark, src,
        "snapmergecond_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    return read_snapshot(spark, root).groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority") == "SRC", 1).otherwise(0)
        ).alias("n_src"),
        _sum_cents(),
    )


@query(
    "snapshot_merge_by_source",
    # MERGE … WHEN NOT MATCHED BY SOURCE — the set-difference side of
    # SQL MERGE (sync-table-to-snapshot; the reference's dedup-prune
    # lineage drops stale prior-state rows the same way). Clauses:
    # matched rows take the source row (UPDATE SET *); unmatched-by-
    # source rows with status 'F' are DELETEd; remaining unmatched rows
    # get o_orderpriority rewritten via an explicit SET over alias t
    # (first-match-wins: the DELETE shadows the UPDATE for 'F' rows).
    # The oracle replays the routing as plain set ops: join ∪
    # anti-filtered-update, with the 'F' anti rows dropped.
    oracle=f"""
    WITH t AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
    s AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 o_orderdate, 'SRC' AS o_orderpriority
          FROM orders WHERE o_orderkey % 20 < 4),
    merged AS (
      SELECT s.* FROM t JOIN s ON t.o_orderkey = s.o_orderkey
      UNION ALL
      SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice,
             t.o_orderdate,
             'STALE-' || t.o_orderstatus AS o_orderpriority
      FROM t
      WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM s)
        AND t.o_orderstatus <> 'F'
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderpriority = 'SRC' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_src,
           CAST(SUM(CASE WHEN o_orderpriority LIKE 'STALE-%' THEN 1
                    ELSE 0 END) AS BIGINT) AS n_stale,
           {_SUM} AS sum_price_cents
    FROM merged GROUP BY o_orderstatus
    """,
)
def snapshot_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WHEN NOT MATCHED BY SOURCE`` through the SQL front door
    (sources/snapshots.py::merge_into_conditional ``by_source_clauses``
    + sql_front.py clause grammar): delete-or-update target rows whose
    key is absent from the source — the canonical sync-to-snapshot
    shape, set-difference analog of the reference's dedup prune
    (``PioneerOnlineNewsDedupe.scala:114-121``). Detection FLIPS for
    these clauses: key-range pruning is invalid (files outside the
    source envelope are the candidates), so a second pass anti-joins
    every file's keys against the source and rewrites only files
    holding a firing row."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        read_snapshot,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(spark, root, orders.where(F.col("o_orderkey") % 10 < 7))
        orders.where(F.col("o_orderkey") % 20 < 4).withColumn(
            "o_orderpriority", F.lit("SRC")
        ).createOrReplaceTempView("__merge_bs_src")
        engine_sql(
            spark,
            """
            MERGE INTO tgt USING (SELECT * FROM __merge_bs_src)
            ON o_orderkey
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'F'
              THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN
              UPDATE SET o_orderpriority =
                concat('STALE-', t.o_orderstatus)
            """,
            {"tgt": root},
        )

    root = materialize_cached(
        spark, src,
        "snapmergebs_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    return read_snapshot(spark, root).groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority") == "SRC", 1).otherwise(0)
        ).alias("n_src"),
        F.sum(
            F.when(F.col("o_orderpriority").startswith("STALE-"), 1)
            .otherwise(0)
        ).alias("n_stale"),
        _sum_cents(),
    )


@query(
    "snapshot_zorder_planned",
    # oracle = the plain full-scan double-range filter over lineitem. The
    # Spark side serves it from a SNAPSHOT VERSION's manifest file list:
    # fragmented appends → OPTIMIZE ZORDER commit (compact_table with
    # zorder_cols — stride-2 Morton on (l_partkey, l_suppkey)) → planner
    # over snapshot_files(head) with require_each_pruning, so a green row
    # proves the table format and the layout/skipping service compose:
    # both columns' min/max stats prune files of a manifest-pinned read.
    oracle="""
    WITH b AS (
      SELECT MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
             MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
    FROM lineitem, b
    WHERE l_partkey BETWEEN pmin + CAST(floor((pmax - pmin) * 0.25) AS BIGINT)
                        AND pmin + CAST(floor((pmax - pmin) * 0.50) AS BIGINT)
      AND l_suppkey BETWEEN smin + CAST(floor((smax - smin) * 0.50) AS BIGINT)
                        AND smin + CAST(floor((smax - smin) * 0.75) AS BIGINT)
    """,
)
def snapshot_zorder_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER on the snapshot table, proven through the planner:
    lineitem lands as four fragmented appends, one ``compact_table``
    commit re-lays the head along the (l_partkey, l_suppkey) Morton
    curve, and the unified planner scans the head version's manifest
    file list with two range predicates that must EACH prune files
    (RAISES otherwise). Pre-compaction versions stay readable — the
    rewrite is just another commit."""
    import math as _math

    from telemetry_parquet_spark.sources.scan_planner import (
        Range,
        build_minmax_file_stats,
        plan_scan,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
        snapshot_files,
        snapshot_schema,
    )

    src = os.path.join(sf_dir, "lineitem.parquet")

    def build(root: str) -> None:
        li = read_parquet(spark, src)
        for i in range(4):
            append(spark, root, li.where(F.col("l_orderkey") % 4 == i))
        compact_table(
            spark, root, target_bytes=1 << 30,
            zorder_cols=["l_partkey", "l_suppkey"], n_files=32,
        )

    root = materialize_cached(
        spark, src, "snapz_lineitem_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    paths = snapshot_files(root)
    schema = snapshot_schema(root)
    files = read_parquet(spark, paths, schema)
    b = files.agg(
        F.min("l_partkey").alias("pmin"), F.max("l_partkey").alias("pmax"),
        F.min("l_suppkey").alias("smin"), F.max("l_suppkey").alias("smax"),
    ).first()
    p_lo = b.pmin + _math.floor((b.pmax - b.pmin) * 0.25)
    p_hi = b.pmin + _math.floor((b.pmax - b.pmin) * 0.50)
    s_lo = b.smin + _math.floor((b.smax - b.smin) * 0.50)
    s_hi = b.smin + _math.floor((b.smax - b.smin) * 0.75)
    stats = build_minmax_file_stats(files, ["l_partkey", "l_suppkey"])
    pruned, _plan = plan_scan(
        spark,
        paths,
        [Range("l_partkey", p_lo, p_hi), Range("l_suppkey", s_lo, s_hi)],
        stats=stats,
        require_each_pruning=True,
        schema=schema,
    )
    return pruned.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice",
    )


@query(
    "snapshot_changes_feed",
    # CDC over the time-travel chain (same cached table as
    # snapshot_time_travel): v2→v3 was the delete commit, so the feed is
    # exactly the removed rows tagged 'delete' — and the Spark side
    # RAISES unless the v3→v4 compaction diff is EMPTY (carried/rewritten
    # files cancel in the non-shared-files diff), the
    # re-layouts-are-invisible-to-CDC proof.
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority, 'delete' AS _change
    FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def snapshot_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between snapshot versions
    (sources/snapshots.py::table_changes): diffed over ONLY the files the
    two manifests do not share, so append diffs ∝ appended data and a
    compaction commit — full physical rewrite, zero logical change —
    yields an EMPTY feed by multiset cancellation (asserted here with a
    loud raise before returning the delete feed)."""
    from telemetry_parquet_spark.sources.snapshots import table_changes

    # reuse (or build) the shared chain — at steady state this query is
    # just two manifest-pinned diffs
    root = _time_travel_chain(spark, sf_dir)
    if table_changes(spark, root, 3, 4).limit(1).count():
        raise RuntimeError(
            "compaction diff not empty — CDC cancellation broken"
        )
    return table_changes(spark, root, 2, 3)


@query(
    "snapshot_mor_delete",
    # Merge-on-read lifecycle: append 70% → append rest → MOR delete
    # ('1-URGENT' becomes a deletion vector, no data file rewritten —
    # ASSERTED with a raise on the manifests) → second stacked MOR
    # delete ('2-HIGH') → compaction materializes both vectors. One
    # summary row per version; v3/v4 prove read-time DV application,
    # v5 must hash-equal v4 (materialization is layout-only).
    oracle=f"""
    WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
         v3 AS (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT'),
         v4 AS (SELECT * FROM orders
                WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_SUM} AS sum_price_cents FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), {_SUM} FROM orders
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT), {_SUM} FROM v3
    UNION ALL
    SELECT 4, CAST(COUNT(*) AS BIGINT), {_SUM} FROM v4
    UNION ALL
    SELECT 5, CAST(COUNT(*) AS BIGINT), {_SUM} FROM v4
    """,
)
def snapshot_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes (sources/snapshots.py::delete_where_mor):
    each delete commits a deletion vector instead of rewriting files —
    the manifests are INSPECTED here and the query RAISES unless both
    delete commits kept the data-file list byte-identical and stacked
    DVs (write cost = deleted positions, the Iceberg-v2/Delta-DV trade).
    Reads anti-join the vectors out; the final compaction materializes
    them, and its summary row must hash-equal the pre-compaction one."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
        delete_where_mor,
        read_manifest,
        read_snapshot,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(spark, root, orders.where(F.col("o_orderkey") % 10 < 7))
        append(spark, root, orders.where(F.col("o_orderkey") % 10 >= 7))
        delete_where_mor(spark, root, "o_orderpriority = '1-URGENT'")
        delete_where_mor(spark, root, "o_orderpriority = '2-HIGH'")
        compact_table(spark, root, target_bytes=64 * 1024 * 1024)

    root = materialize_cached(
        spark, src, "snapmor_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    m2, m3, m4 = (read_manifest(root, v) for v in (2, 3, 4))
    if m3["files"] != m2["files"] or m4["files"] != m2["files"]:
        raise RuntimeError("MOR delete rewrote data files")
    if len(m3.get("dv", [])) == 0 or len(m4.get("dv", [])) <= len(m3["dv"]):
        raise RuntimeError("MOR delete did not stack deletion vectors")
    if read_manifest(root, 5).get("dv"):
        raise RuntimeError("compaction failed to materialize DVs")
    parts = []
    for v in (1, 2, 3, 4, 5):
        parts.append(
            read_snapshot(spark, root, v)
            .agg(F.count("*").alias("n_rows"), _sum_cents())
            .select(F.lit(v).alias("version"), "n_rows", "sum_price_cents")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "snapshot_mor_update",
    # MOR UPDATE: one commit = deletion vector over matched rows + new
    # files holding their updated copies ('1-URGENT' → 'UPDATED'), no
    # existing file rewritten (raise-proven: v2's file list must be a
    # strict superset of v1's). v3 compaction materializes; must
    # hash-equal v2. All-string update — no float math introduced.
    oracle=f"""
    WITH v2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 'UPDATED'
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders
    )
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_updated, {_SUM} AS sum_price_cents
    FROM orders
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority = 'UPDATED' THEN 1 ELSE 0
                    END) AS BIGINT), {_SUM} FROM v2
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderpriority = 'UPDATED' THEN 1 ELSE 0
                    END) AS BIGINT), {_SUM} FROM v2
    """,
)
def snapshot_mor_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE (sources/snapshots.py::update_where_mor):
    matched rows are masked by a deletion vector and their updated
    copies appended — write cost ∝ matched rows, zero file rewrites
    (asserted with a raise on the manifests). The row count must be
    conserved (mask and copies balance exactly), the updated tag count
    equals the matched predicate count, and the total price is untouched
    by the string update. Compaction folds the vector away; its summary
    row must hash-equal the MOR version's."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
        read_manifest,
        read_snapshot,
        update_where_mor,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(spark, root, orders)
        update_where_mor(
            spark, root, "o_orderpriority = '1-URGENT'",
            {"o_orderpriority": "'UPDATED'"},
        )
        compact_table(spark, root, target_bytes=64 * 1024 * 1024)

    root = materialize_cached(
        spark, src, "snapmu_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    m1, m2, m3 = (read_manifest(root, v) for v in (1, 2, 3))
    if not set(m2["files"]) > set(m1["files"]):
        raise RuntimeError("MOR update did not append-only its copies")
    if not m2.get("dv") or m3.get("dv"):
        raise RuntimeError("MOR update DV missing or not materialized")
    parts = []
    for v in (1, 2, 3):
        parts.append(
            read_snapshot(spark, root, v)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.when(
                        F.col("o_orderpriority") == "UPDATED", 1
                    ).otherwise(0)
                ).alias("n_updated"),
                _sum_cents(),
            )
            .select(F.lit(v).alias("version"), "n_rows", "n_updated",
                    "sum_price_cents")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "snapshot_sql_cross_version",
    # The SQL FRONT DOOR (sources/sql_front.py): one statement joins two
    # versions of the same snapshot table via `VERSION AS OF` syntax —
    # v2 (all rows) against v3 (post-delete) per order status. The oracle
    # replays both versions as WHERE clauses over the base table, so a
    # green row proves the rewriter resolves each time-travel clause to
    # the right manifest AND that the cross-version join runs as one
    # Catalyst plan with correct results.
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1 ELSE 0
                    END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
                    END) AS BIGINT) AS n_deleted
    FROM orders GROUP BY o_orderstatus
    """,
)
def snapshot_sql_cross_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-version SQL through the front door
    (sources/sql_front.py::engine_sql): `snap VERSION AS OF 2` joined to
    `snap VERSION AS OF 3` in a single statement. The rewriter registers
    each referenced version as a manifest-pinned temp view and hands ONE
    statement to Catalyst — no driver-side loop over versions — so
    pushdown/pruning apply across the whole cross-version plan."""
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    root = _time_travel_chain(spark, sf_dir)
    return engine_sql(
        spark,
        """
        SELECT a.o_orderstatus AS o_orderstatus, a.n_all, b.n_kept,
               a.n_all - b.n_kept AS n_deleted
        FROM (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_all
              FROM snap VERSION AS OF 2 GROUP BY o_orderstatus) a
        JOIN (SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_kept
              FROM snap VERSION AS OF 3 GROUP BY o_orderstatus) b
        ON a.o_orderstatus = b.o_orderstatus
        """,
        tables={"snap": root},
    )


@query(
    "snapshot_stats_pruned_scan",
    # Commit-time manifest column stats: lineitem lands range-clustered
    # on l_orderkey, every commit records per-file min/max footers in
    # the MANIFEST, and the planner prunes a 20%-band range predicate
    # from the manifest ALONE — zero data/footer I/O at plan time,
    # RAISES unless files were actually skipped. Oracle = the plain
    # full-scan filter.
    oracle="""
    WITH b AS (
      SELECT MIN(l_orderkey) AS kmin, MAX(l_orderkey) AS kmax FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
    FROM lineitem, b
    WHERE l_orderkey BETWEEN
        kmin + CAST(floor((kmax - kmin) * 0.40) AS BIGINT)
        AND kmin + CAST(floor((kmax - kmin) * 0.60) AS BIGINT)
    """,
)
def snapshot_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style manifest statistics
    (sources/snapshots.py::_stats_from_parent_manifest / plan_snapshot_scan):
    commits record per-file column min/max from the parquet footers;
    a later range scan prunes files by manifest inspection only — the
    first data byte read is already post-prune (raise-proven)."""
    import math as _math

    from telemetry_parquet_spark.sources.scan_planner import Range
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        plan_snapshot_scan,
    )

    src = os.path.join(sf_dir, "lineitem.parquet")

    def build(root: str) -> None:
        li = read_parquet(spark, src)
        append(
            spark, root,
            li.repartitionByRange(16, F.col("l_orderkey")),
        )

    root = materialize_cached(
        spark, src, "snapst_lineitem_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    b = read_parquet(spark, src).agg(
        F.min("l_orderkey").alias("kmin"), F.max("l_orderkey").alias("kmax")
    ).first()
    lo = b.kmin + _math.floor((b.kmax - b.kmin) * 0.40)
    hi = b.kmin + _math.floor((b.kmax - b.kmin) * 0.60)
    pruned, _plan = plan_snapshot_scan(
        spark, root, [Range("l_orderkey", lo, hi)], require_pruning=True
    )
    return pruned.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )


@query(
    "snapshot_bloom_planned",
    # Range + point predicate over a snapshot table where BOTH skipping
    # mechanisms compose in ONE planner call: the manifest's commit-time
    # min/max stats prune the l_orderkey band, the table's Bloom file
    # index (built at v1, INCREMENTALLY extended after the v2 append)
    # prunes an equality on l_pricekey — a HIGH-CARDINALITY int key
    # (floor(price*100+0.5), exact for 2-decimal prices) smeared across
    # the key-clustered layout: exactly the lookup min/max stats cannot
    # serve at ANY scale. require_pruning RAISES unless each step
    # skipped files. The point value is the min key INSIDE the band, so
    # the result is non-empty by construction.
    oracle="""
    WITH b AS (
      SELECT MIN(l_orderkey) AS kmin, MAX(l_orderkey) AS kmax FROM lineitem
    ),
    r AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS pk
      FROM lineitem, b
      WHERE l_orderkey BETWEEN
          kmin + CAST(floor((kmax - kmin) * 0.40) AS BIGINT)
          AND kmin + CAST(floor((kmax - kmin) * 0.60) AS BIGINT)
    )
    SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
    FROM r WHERE pk = (SELECT MIN(pk) FROM r)
    """,
)
def snapshot_bloom_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index lifecycle on the commit log
    (sources/snapshots.py::update_snapshot_bloom + plan_snapshot_scan):
    the Bloom file index lives under the table, is built once and
    extended INCREMENTALLY after each append (only new files scanned —
    raise-proven below), and composes with manifest min/max stats in one
    planner call: range predicate → manifest stats, point predicate →
    Bloom probe, every step required to prune. Scale: index maintenance
    ∝ new bytes; planning ∝ file list + a k-row Bloom probe."""
    import math as _math

    from telemetry_parquet_spark.sources.scan_planner import Eq, Range
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        plan_snapshot_scan,
        update_snapshot_bloom,
    )

    src = os.path.join(sf_dir, "lineitem.parquet")

    pricekey = F.floor(
        F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
    ).cast("long")

    def build(root: str) -> None:
        li = read_parquet(spark, src).withColumn("l_pricekey", pricekey)
        append(
            spark, root,
            li.where(F.col("l_orderkey") % 10 < 7)
            .repartitionByRange(12, F.col("l_orderkey")),
        )
        n1 = update_snapshot_bloom(spark, root, "l_pricekey")
        append(
            spark, root,
            li.where(F.col("l_orderkey") % 10 >= 7)
            .repartitionByRange(4, F.col("l_orderkey")),
        )
        n2 = update_snapshot_bloom(spark, root, "l_pricekey")
        if n1 < 1 or n2 < 1 or n2 >= n1:
            raise RuntimeError(
                f"incremental index maintenance did not engage ({n1}/{n2})"
            )
        if update_snapshot_bloom(spark, root, "l_pricekey") != 0:
            raise RuntimeError("index update not idempotent at fixpoint")

    root = materialize_cached(
        spark, src, "snapbl_lineitem_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    b = read_parquet(spark, src).agg(
        F.min("l_orderkey").alias("kmin"), F.max("l_orderkey").alias("kmax")
    ).first()
    lo = b.kmin + _math.floor((b.kmax - b.kmin) * 0.40)
    hi = b.kmin + _math.floor((b.kmax - b.kmin) * 0.60)
    pk = (
        read_parquet(spark, src)
        .where(F.col("l_orderkey").between(lo, hi))
        .agg(F.min(pricekey))
        .first()[0]
    )
    pruned, _plan = plan_snapshot_scan(
        spark, root,
        [Range("l_orderkey", lo, hi), Eq("l_pricekey", int(pk))],
        require_pruning=True,
    )
    return pruned.select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )


@query(
    "snapshot_wap_publish",
    # Write-audit-publish: v1 = 60% of orders; the 6/7-decile slice is
    # STAGED (invisible), the head moves (v2 appends the 9-decile), a
    # bad 8-decile stage is DISCARDED, and the good stage publishes with
    # audits — REBASED onto v2. Raise-proven: v2 contains no staged
    # rows, the publish manifest records wap_id/rebased_from, no 'bad'
    # file ever enters a manifest, and no stage is left behind. Final
    # state = everything except the discarded 8-decile.
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_SUM} AS sum_price_cents
    FROM orders WHERE o_orderkey % 10 <> 8
    GROUP BY o_orderstatus
    """,
)
def snapshot_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish staged commits
    (sources/snapshots.py::stage_append/read_staged/publish_staged):
    a pipeline writes rows as a STAGED commit no reader can observe, an
    audit job validates exactly the staged rows, and publication is a
    metadata-only decision — rebased onto the moved head under the
    append-commutes rule (Iceberg's staged-snapshot cherry-pick).
    Discarded stages never touch the log; their files are vacuum-
    reclaimed orphans."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        discard_staged,
        list_staged,
        publish_staged,
        read_manifest,
        read_snapshot,
        stage_append,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        dec = F.col("o_orderkey") % 10
        append(spark, root, orders.where(dec < 6))
        stage_append(spark, root, orders.where(dec.isin(6, 7)), "good")
        append(spark, root, orders.where(dec == 9))  # head moves
        stage_append(spark, root, orders.where(dec == 8), "bad")
        discard_staged(root, "bad")
        def audit_no_null_keys(df: DataFrame) -> None:
            if df.where(F.col("o_orderkey").isNull()).limit(1).count():
                raise ValueError("audit: null keys in staged rows")

        publish_staged(spark, root, "good", audits=[audit_no_null_keys])

    root = materialize_cached(
        spark, src, "snapwap_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    # staging invisibility: the head committed WHILE 'good' was staged
    # (v2) must hold none of the staged 6/7-decile rows
    if (
        read_snapshot(spark, root, 2)
        .where((F.col("o_orderkey") % 10).isin(6, 7))
        .limit(1)
        .count()
    ):
        raise RuntimeError("staged rows leaked into a pre-publish version")
    m3 = read_manifest(root, 3)
    if (
        m3["action"] != "wap-publish"
        or m3.get("wap_id") != "good"
        or m3.get("rebased_from") != 1
    ):
        raise RuntimeError("publish commit metadata wrong (wap/rebase)")
    if any("wap-bad" in f for f in m3["files"]) or list_staged(root):
        raise RuntimeError("discarded stage leaked into the log")
    return read_snapshot(spark, root).groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        _sum_cents(),
    )


@query(
    "snapshot_merge_evolve",
    # MERGE with add-column schema evolution: the source carries a new
    # o_channel column; the commit widens the table schema metadata-only
    # (raise-proven: pre-merge version still reads under the old schema,
    # head surfaces NULL channel for never-rewritten rows). Oracle
    # replays merge-with-evolution relationally: target minus source
    # keys gets NULL channel, source rows carry 'WEB'.
    oracle=f"""
    WITH target AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
    source AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, 'MERGED' AS o_orderpriority, 'WEB' AS o_channel
      FROM orders WHERE o_orderkey % 20 < 4 OR o_orderkey % 10 = 8
    ),
    merged AS (
      SELECT t.*, CAST(NULL AS VARCHAR) AS o_channel FROM target t
      WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM source)
      UNION ALL SELECT * FROM source
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_channel IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_channel,
           {_SUM} AS sum_price_cents
    FROM merged GROUP BY o_orderstatus
    """,
)
def snapshot_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO with add-column schema evolution
    (sources/snapshots.py::merge_into allow_evolution): source-only
    columns join the table schema in the SAME commit as the row merge —
    no existing file is rewritten for the widening; pre-evolution files
    surface the new column as NULL under the manifest schema (the
    metadata-only ALTER ADD COLUMN folded into MERGE, the Delta
    mergeSchema behavior)."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        merge_into,
        read_snapshot,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(spark, root, orders.where(F.col("o_orderkey") % 10 < 7))
        source = (
            orders.where(
                (F.col("o_orderkey") % 20 < 4)
                | (F.col("o_orderkey") % 10 == 8)
            )
            .withColumn("o_orderpriority", F.lit("MERGED"))
            .withColumn("o_channel", F.lit("WEB"))
        )
        merge_into(
            spark, root, source, keys=["o_orderkey"], allow_evolution=True
        )

    root = materialize_cached(
        spark, src, "snapme_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    if "o_channel" in read_snapshot(spark, root, 1).columns:
        raise RuntimeError("evolution rewrote the pre-merge version")
    head = read_snapshot(spark, root)
    if "o_channel" not in head.columns:
        raise RuntimeError("merge evolution did not widen the schema")
    return head.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("o_channel").isNotNull(), 1).otherwise(0)
        ).alias("n_channel"),
        _sum_cents(),
    )


@query(
    "snapshot_incremental_view",
    # Incremental materialized-view maintenance: the per-status SUM/COUNT
    # view is initialized at v1 and then REFRESHED through the CDC feed
    # of every commit (append v2, delete v3, compaction v4 — which
    # contributes nothing by cancellation). The oracle is the DIRECT
    # aggregation of the final state, so a green row is the cross-engine
    # proof that increments compose to re-computation — the IVM contract.
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_SUM} AS sum_price_cents
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    GROUP BY o_orderstatus
    """,
)
def snapshot_incremental_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped SUM/COUNT view maintained incrementally over the commit
    log (sources/snapshots.py::refresh_view_incremental): refresh cost ∝
    each commit's change volume (table_changes diffs only non-shared
    files), never the table — yet the result must hash-equal the direct
    aggregation. DECIMAL-cast elements keep every partial sum associative
    so the increments are bit-exact."""
    from telemetry_parquet_spark.sources.snapshots import (
        read_snapshot,
        refresh_view_incremental,
        table_changes,
    )

    root = _time_travel_chain(spark, sf_dir)
    dec = F.col("o_totalprice").cast("decimal(15,2)")
    state = (
        read_snapshot(spark, root, 1)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(dec).alias("sum_val"),
        )
    )
    for a, b in ((1, 2), (2, 3), (3, 4)):
        changes = table_changes(spark, root, a, b).withColumn("__p", dec)
        state = refresh_view_incremental(
            state, changes, ["o_orderstatus"], "__p"
        )
    # state sums stay DECIMAL (exact, associative increments); only the
    # OUTPUT re-keys to cents — state×100 equals the per-row cents sum
    return state.select(
        "o_orderstatus",
        "n_rows",
        (F.col("sum_val") * 100).cast("long").alias("sum_price_cents"),
    )


@query(
    "mv_rewrite_rollup",
    # The rewrite answers GROUP BY o_orderstatus from a materialized view
    # grouped by (o_orderstatus, o_orderpriority) — a strict rollup — after
    # incrementally catching the view up to the base head (the build leaves
    # it one append stale). require_rewrite=True RAISES on any fallback to
    # the fact table, so a green row proves the rewrite ENGAGED. The oracle
    # is the direct aggregation over ALL of orders (80% + 20% appends).
    # AVG divides the two exact DECIMAL totals in IEEE double on both sides.
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_SUM} AS sum_price_cents,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def mv_rewrite_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view query rewrite (sources/views.py): the engine
    answers an aggregate over the FACT table from a cataloged rollup view
    — subsumption-matched, staleness-checked against the commit log, and
    incrementally refreshed first (cost ∝ the stale commits' change
    volume, never the table). At 100 TB this is the difference between a
    view-cardinality re-aggregation and a full fact scan per question.
    Reference parity note in sources/views.py (MainEventsView.scala
    derived-dataset lineage)."""
    from telemetry_parquet_spark.sources.snapshots import append
    from telemetry_parquet_spark.sources.views import (
        Agg,
        answer_aggregate,
        create_view,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        base, view = os.path.join(root, "base"), os.path.join(root, "view")
        append(spark, base, orders.where(F.col("o_orderkey") % 10 < 8))
        create_view(
            spark, base, view,
            ["o_orderstatus", "o_orderpriority"], "o_totalprice",
        )
        # one more append AFTER the view materializes: every fresh run
        # exercises staleness detection + incremental catch-up
        append(spark, base, orders.where(F.col("o_orderkey") % 10 >= 8))

    root = materialize_cached(
        # v2: view layout gained per-measure non-null counts (AVG fix) —
        # the name bump invalidates pre-change warehouse builds
        spark, src, "mv_orders_v2_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    out, used = answer_aggregate(
        spark,
        os.path.join(root, "base"),
        [os.path.join(root, "view")],
        ["o_orderstatus"],
        [
            Agg("count", alias="n_orders"),
            Agg("sum", "o_totalprice", "sum_price"),
            Agg("avg", "o_totalprice", "avg_price"),
        ],
        require_rewrite=True,
    )
    assert used is not None  # the rewrite path, proven
    # the view's DECIMAL total re-keys to exact BIGINT cents (×100 over
    # the scale-2 total ≡ summing per-row cents)
    return out.select(
        "o_orderstatus",
        "n_orders",
        (F.col("sum_price") * 100).cast("long").alias("sum_price_cents"),
        "avg_price",
    )


@query(
    "snapshot_join_planned",
    # Stats-driven join planning (sources/join_planner.py): the customer
    # side is range-laid-out on c_custkey, the predicate keeps ~1/8 of its
    # files, and the broadcast threshold sits at HALF the full table's
    # bytes — so only the POST-PRUNE size fits. require_broadcast +
    # require_pruning='left' RAISE unless the manifest-stats pruning
    # engaged AND the pruned bytes justified a broadcast: a green row
    # proves the whole decision chain, and the answer must still equal the
    # plain relational join. The c_custkey cutoff itself comes from the
    # manifest column stats (MAX over per-file maxima), zero data I/O.
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_SUM} AS sum_price_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey <= (SELECT MAX(c_custkey) // 8 FROM customer)
    GROUP BY c_mktsegment
    """,
)
def snapshot_join_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prune-then-decide join: manifest min/max stats prune the dimension
    scan, the surviving files' commit-time byte sizes drive the
    broadcast-vs-shuffle choice, and only then does any data get read.
    At 100 TB this converts a dimension that is too big to broadcast RAW
    into a broadcast join whenever the predicate narrows it — the
    decision Catalyst's static estimate can't make and AQE only makes
    after paying the first shuffle."""
    from telemetry_parquet_spark.sources.join_planner import plan_join
    from telemetry_parquet_spark.sources.scan_planner import Range
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        latest_version,
        read_manifest,
    )

    src = os.path.join(sf_dir, "customer.parquet")

    def build(root: str) -> None:
        customer = read_parquet(spark, src)
        orders = read_parquet(spark, os.path.join(sf_dir, "orders.parquet"))
        append(
            spark, os.path.join(root, "customer"),
            customer.repartitionByRange(16, "c_custkey"),
        )
        append(spark, os.path.join(root, "orders"), orders.repartition(4))

    root = materialize_cached(
        spark, src, "join_planned_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    cust_root = os.path.join(root, "customer")
    m = read_manifest(cust_root, latest_version(cust_root))
    hi = max(st["c_custkey"][1] for st in m["stats"].values()) // 8
    full_bytes = sum(m["sizes"].values())
    joined, plan = plan_join(
        spark, cust_root, os.path.join(root, "orders"),
        on=[("c_custkey", "o_custkey")],
        left_predicates=[Range("c_custkey", None, hi)],
        broadcast_threshold=full_bytes // 2,
        require_broadcast=True,
        require_pruning="left",
    )
    assert plan.broadcast == "left"  # the pruned dim side, proven
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        _sum_cents(),
    )


@query(
    "snapshot_branch_merge",
    # Branch lifecycle under one exact oracle: fork at v1 (70% of orders),
    # branch appends keys %10 IN (7,8) while MAIN independently appends
    # %10 = 9, then the branch rebase-merges onto the moved head. Three
    # labeled stages prove three invariants: the branch head sees fork +
    # its own commits but NOT main's concurrent append (isolation); main
    # pre-merge sees its own line only; the merge is exactly the union
    # (appends commute). Stage summaries are per-orderstatus COUNT/SUM.
    oracle=f"""
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
         br   AS (SELECT * FROM orders WHERE o_orderkey % 10 IN (7, 8)),
         mn   AS (SELECT * FROM orders WHERE o_orderkey % 10 = 9)
    SELECT 'branch_head' AS stage, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_SUM} AS sum_price_cents
    FROM (SELECT * FROM base UNION ALL SELECT * FROM br)
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 'main_pre_merge', o_orderstatus,
           CAST(COUNT(*) AS BIGINT), {_SUM}
    FROM (SELECT * FROM base UNION ALL SELECT * FROM mn)
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 'merged', o_orderstatus,
           CAST(COUNT(*) AS BIGINT), {_SUM}
    FROM orders GROUP BY o_orderstatus
    """,
)
def snapshot_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branches on the snapshot table (sources/branches.py): fork,
    branch-append ×2 in isolation, concurrent main append, rebase merge
    (append-only commits commute onto the moved head — the Iceberg
    cherry-pick rule), with the branch left in place (delete=False) so
    every stage stays readable. All merge work is metadata-only."""
    from telemetry_parquet_spark.sources.branches import (
        branch_append,
        create_branch,
        merge_branch,
        read_branch,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        read_snapshot,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        t = os.path.join(root, "t")
        append(spark, t, orders.where(F.col("o_orderkey") % 10 < 7))
        create_branch(t, "etl")
        branch_append(
            spark, t, "etl", orders.where(F.col("o_orderkey") % 10 == 7)
        )
        branch_append(
            spark, t, "etl", orders.where(F.col("o_orderkey") % 10 == 8)
        )
        append(spark, t, orders.where(F.col("o_orderkey") % 10 == 9))
        merge_branch(spark, t, "etl", delete=False)

    root = materialize_cached(
        spark, src, "branch_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    t = os.path.join(root, "t")

    def summarize(df: DataFrame, stage: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_rows"),
            _sum_cents(),
        ).select(
            F.lit(stage).alias("stage"), "o_orderstatus", "n_rows",
            "sum_price_cents",
        )

    out = summarize(read_branch(spark, t, "etl"), "branch_head")
    out = out.unionAll(summarize(read_snapshot(spark, t, 2), "main_pre_merge"))
    out = out.unionAll(summarize(read_snapshot(spark, t), "merged"))
    return out


@query(
    "catalog_txn_consistent_read",
    # The whole multi-table-transaction lifecycle under one exact oracle:
    # two tables are cataloged from deterministic slices, a catalog
    # snapshot pins the world (v0), one TRANSACTION appends to BOTH
    # tables (stage → publish → one catalog commit = v1). The query reads
    # the SAME multi-table join at both catalog versions through the
    # pinned resolver (sql_at) — v0 must see neither table's transaction
    # rows although both table HEADS contain them, v1 must see both.
    # The oracle replays the two worlds relationally: a hash match proves
    # cross-table consistent reads AND the all-or-nothing commit.
    oracle="""
    WITH f0 AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
         d0 AS (SELECT * FROM customer WHERE c_custkey % 2 = 0),
    s0 AS (
      SELECT 'v0' AS stage,
             (SELECT COUNT(*) FROM f0) AS n_facts,
             (SELECT COUNT(*) FROM d0) AS n_dims,
             CAST(SUM(CAST(CAST(f.o_totalprice AS DECIMAL(15,2)) * 100
                  AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM f0 f JOIN d0 d ON f.o_custkey = d.c_custkey
    ),
    s1 AS (
      SELECT 'v1' AS stage,
             (SELECT COUNT(*) FROM orders) AS n_facts,
             (SELECT COUNT(*) FROM customer) AS n_dims,
             CAST(SUM(CAST(CAST(f.o_totalprice AS DECIMAL(15,2)) * 100
                  AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM orders f JOIN customer d ON f.o_custkey = d.c_custkey
    )
    SELECT * FROM s0 UNION ALL SELECT * FROM s1
    """,
)
def catalog_txn_consistent_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table consistent snapshots through the catalog commit log
    (sources/catalog.py): v0 pins the pre-transaction world, one
    CatalogTransaction (stage-all → publish-all → ONE catalog commit)
    produces v1, and each stage's join runs through ``sql_at``'s pinned
    bare-name resolution. Scale: a catalog commit is one tiny JSON
    manifest; the pinned reads are ordinary manifest-pinned scans —
    consistency costs zero data I/O."""
    from telemetry_parquet_spark.sources.catalog import Catalog

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        cat = Catalog(root)
        orders = read_parquet(spark, src)
        cust = read_parquet(spark, os.path.join(sf_dir, "customer.parquet"))
        cat.create_table(
            spark, "facts", orders.where(F.col("o_orderkey") % 10 < 8)
        )
        cat.create_table(
            spark, "dims", cust.where(F.col("c_custkey") % 2 == 0)
        )
        cat.commit_snapshot()  # catalog v0: the pre-transaction world
        with cat.transaction(spark) as tx:  # catalog v1, atomic
            tx.append(
                "facts", orders.where(F.col("o_orderkey") % 10 >= 8)
            )
            tx.append("dims", cust.where(F.col("c_custkey") % 2 == 1))

    root = materialize_cached(
        spark, src, "cat_txn_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    cat = Catalog(root)
    stmt = """
      SELECT (SELECT COUNT(*) FROM facts) AS n_facts,
             (SELECT COUNT(*) FROM dims) AS n_dims,
             CAST(SUM(CAST(CAST(f.o_totalprice AS DECIMAL(15,2)) * 100
                  AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM facts f JOIN dims d ON f.o_custkey = d.c_custkey
    """
    out = None
    for stage, v in (("v0", 0), ("v1", 1)):
        row = cat.sql_at(spark, stmt, v).select(
            F.lit(stage).alias("stage"), "n_facts", "n_dims",
            "revenue_cents",
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "snapshot_metadata_count",
    # COUNT(*) answered from the MANIFEST alone (zero data I/O, no Spark
    # scan): per-file footer row counts recorded at commit time, carried
    # by reference, deletion vectors subtracted for MOR versions. One row
    # per version across the COW chain (append/append/delete/compact) and
    # a MOR chain (append/DV-delete); the oracle recomputes every count
    # relationally, so a hash match proves the metadata bookkeeping is
    # exact through carries, rewrites, and vectors.
    oracle="""
    SELECT 'tt_v1' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders WHERE o_orderkey % 10 < 7
    UNION ALL SELECT 'tt_v2', CAST(COUNT(*) AS BIGINT) FROM orders
    UNION ALL SELECT 'tt_v3', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    UNION ALL SELECT 'tt_v4', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    UNION ALL SELECT 'mor_v1', CAST(COUNT(*) AS BIGINT) FROM orders
    UNION ALL SELECT 'mor_v2', CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    """,
)
def snapshot_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*) (sources/snapshots.py::snapshot_row_count):
    commits record each data file's exact footer row count in the
    manifest, so counting a 100 TB table is a manifest read — versions
    under deletion vectors subtract the vectors' position counts (exact:
    vectors never overlap by construction). Every count here is computed
    WITHOUT a Spark job and cross-checked against the SQL front door's
    COUNT(*) fast path before being returned as literals."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        delete_where_mor,
        snapshot_row_count,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = os.path.join(sf_dir, "orders.parquet")
    tt_root = _time_travel_chain(spark, sf_dir)

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(spark, root, orders)
        delete_where_mor(spark, root, "o_orderpriority = '1-URGENT'")

    mor_root = materialize_cached(
        spark, src, "metacnt_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    rows = [
        (f"tt_v{v}", snapshot_row_count(tt_root, v)) for v in (1, 2, 3, 4)
    ] + [
        (f"mor_v{v}", snapshot_row_count(mor_root, v)) for v in (1, 2)
    ]
    # the SQL front door must route the same question to the same
    # metadata (raise-proven fast path, no scan in its plan)
    fd = engine_sql(
        spark, "SELECT COUNT(*) AS n_rows FROM t VERSION AS OF 2",
        {"t": mor_root},
    )
    if fd.inputFiles() or fd.first().n_rows != rows[-1][1]:
        raise RuntimeError("SQL COUNT(*) fast path disagreed or scanned")
    return spark.createDataFrame(rows, "stage string, n_rows long")


@query(
    "snapshot_metadata_minmax",
    # Aggregate pushdown to METADATA: COUNT(*)/MIN/MAX over integer
    # columns answered by folding the manifest's per-file footer stats —
    # zero data I/O, no scan in the plan (raise-proven via inputFiles).
    # The oracle recomputes the same aggregates relationally.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_okey,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_okey,
           CAST(MIN(l_partkey) AS BIGINT) AS min_pkey,
           CAST(MAX(l_partkey) AS BIGINT) AS max_pkey
    FROM lineitem
    """,
)
def snapshot_metadata_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX/COUNT pushdown to manifest stats
    (sources/snapshots.py::snapshot_minmax + the SQL front door): file
    stats are exact bounds of file contents, so their fold is the exact
    global extreme whenever every file carries the stat and no deletion
    vector can mask the extreme row — guards that fall back to a scan
    otherwise. The statement here must answer WITHOUT a scan (raise)."""
    from telemetry_parquet_spark.sources.snapshots import append
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = os.path.join(sf_dir, "lineitem.parquet")

    def build(root: str) -> None:
        li = read_parquet(spark, src)
        append(spark, root, li.repartitionByRange(16, F.col("l_orderkey")))

    root = materialize_cached(
        spark, src, "snapst_lineitem_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    out = engine_sql(
        spark,
        "SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_okey, "
        "MAX(l_orderkey) AS max_okey, MIN(l_partkey) AS min_pkey, "
        "MAX(l_partkey) AS max_pkey FROM t",
        {"t": root},
    )
    if out.inputFiles():
        raise RuntimeError("metadata aggregate fast path did not engage")
    return out


@query(
    "catalog_sql_branch_join",
    # The LAST composition gap between branches.py, catalog.py, and
    # sql_front.py: ONE statement through the catalog's pinned SQL door
    # joins a BRANCH head of the fact table (VERSION AS OF 'branch:etl')
    # to the catalog-pinned dims AND reads the bare fact name at its
    # catalog-v0 pin in a scalar subquery — three resolution modes, one
    # Catalyst plan. Isolation is value-proven: the branch head excludes
    # main's post-snapshot append (%10=9), the pinned bare name excludes
    # BOTH the branch commits and the main append (only %10<7), although
    # the table HEAD contains the append.
    oracle=f"""
    WITH pinned AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
         br AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 9)
    SELECT d.c_mktsegment AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_branch_orders,
           {_SUM} AS sum_price_cents,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pinned) AS n_pinned_facts
    FROM br f JOIN customer d ON f.o_custkey = d.c_custkey
    GROUP BY d.c_mktsegment
    """,
)
def catalog_sql_branch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch refs and catalog pins composed in one SQL statement
    (sources/sql_front.py::engine_sql via sources/catalog.py::sql_at):
    `facts VERSION AS OF 'branch:etl'` resolves through the branch chain
    (sources/branches.py), bare `facts`/`dims` resolve at the catalog-v0
    pins — all in a single spark.sql call, so pushdown and join planning
    see the whole cross-resolver plan. Scale: every resolution is
    manifest metadata; no data I/O happens before Catalyst plans the
    joined read."""
    from telemetry_parquet_spark.sources.branches import (
        branch_append,
        create_branch,
    )
    from telemetry_parquet_spark.sources.catalog import Catalog
    from telemetry_parquet_spark.sources.snapshots import append

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        cat = Catalog(root)
        orders = read_parquet(spark, src)
        cust = read_parquet(spark, os.path.join(sf_dir, "customer.parquet"))
        cat.create_table(
            spark, "facts", orders.where(F.col("o_orderkey") % 10 < 7)
        )
        cat.create_table(spark, "dims", cust)
        cat.commit_snapshot()  # catalog v0 pins facts@v1, dims@v1
        facts_root = cat.table_root("facts")
        create_branch(facts_root, "etl")
        branch_append(
            spark, facts_root, "etl",
            orders.where((F.col("o_orderkey") % 10).isin(7, 8)),
        )
        # move MAIN's head past the pin: bare-name reads must stay at v1
        append(spark, facts_root, orders.where(F.col("o_orderkey") % 10 == 9))

    root = materialize_cached(
        spark, src, "cat_br_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    return Catalog(root).sql_at(
        spark,
        """
        SELECT d.c_mktsegment AS c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_branch_orders,
               CAST(SUM(CAST(CAST(f.o_totalprice AS DECIMAL(15,2)) * 100
                    AS BIGINT)) AS BIGINT) AS sum_price_cents,
               (SELECT COUNT(*) FROM facts) AS n_pinned_facts
        FROM facts VERSION AS OF 'branch:etl' f
        JOIN dims d ON f.o_custkey = d.c_custkey
        GROUP BY d.c_mktsegment
        """,
        0,
    )


@query(
    "jv_star_rollup",
    # Materialized JOIN view (star rollup) lifecycle under one oracle:
    # create on a partial fact (stage initial), fact append (stage
    # fact_append — refresh must be INCREMENTAL, raise-proven), fact
    # COW delete (stage fact_delete — incremental, signed), dim delete
    # (stage dim_delete — the refresh must declare a FULL recompute:
    # a dim change re-weights folded fact rows and the rollup cannot
    # express that as a delta). The oracle recomputes each stage's
    # world relationally; a hash match proves every maintenance mode
    # produced the exact rollup.
    oracle=f"""
    WITH f0 AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
         f1 AS (SELECT * FROM orders),
         f2 AS (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT'),
         d1 AS (SELECT * FROM customer WHERE c_custkey % 97 <> 0)
    SELECT 'initial' AS stage, c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(f.o_totalprice AS DECIMAL(15,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_price_cents
    FROM f0 f JOIN customer c ON f.o_custkey = c.c_custkey GROUP BY 2
    UNION ALL
    SELECT 'fact_append', c.c_mktsegment, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(f.o_totalprice AS DECIMAL(15,2)) * 100
                AS BIGINT)) AS BIGINT)
    FROM f1 f JOIN customer c ON f.o_custkey = c.c_custkey GROUP BY 2
    UNION ALL
    SELECT 'fact_delete', c.c_mktsegment, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(f.o_totalprice AS DECIMAL(15,2)) * 100
                AS BIGINT)) AS BIGINT)
    FROM f2 f JOIN customer c ON f.o_custkey = c.c_custkey GROUP BY 2
    UNION ALL
    SELECT 'dim_delete', c.c_mktsegment, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(CAST(f.o_totalprice AS DECIMAL(15,2)) * 100
                AS BIGINT)) AS BIGINT)
    FROM f2 f JOIN d1 c ON f.o_custkey = c.c_custkey GROUP BY 2
    """,
)
def jv_star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained fact⋈dim rollup (sources/join_views.py):
    fact deltas refresh change-volume-sized (ΔF ⋈ pinned dim), dim
    changes trigger ONE loud full recompute. Scale: an append to a
    100 TB fact costs the appended rows joined to the dim — the fact is
    never rescanned; the mode contract is raise-proven per stage."""
    import json as _json

    from telemetry_parquet_spark.sources.join_views import (
        create_join_view,
        refresh_join_view,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        delete_where,
        read_snapshot,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        fact = os.path.join(root, "fact")
        dim = os.path.join(root, "dim")
        view = os.path.join(root, "view")
        orders = read_parquet(spark, src)
        # equi-join views use USING semantics: align the dim key name
        cust = read_parquet(
            spark, os.path.join(sf_dir, "customer.parquet")
        ).withColumnRenamed("c_custkey", "o_custkey")
        append(spark, fact, orders.where(F.col("o_orderkey") % 10 < 7))
        append(spark, dim, cust)
        create_join_view(
            spark, fact, dim, view,
            on=["o_custkey"], group_cols=["c_mktsegment"],
            sum_cols="o_totalprice",
        )
        modes = {"initial": "create"}
        snaps = {"initial": read_snapshot(spark, view)}

        def step(stage: str, want_mode: str) -> None:
            _, mode = refresh_join_view(spark, view)
            if mode != want_mode:  # the scale contract, raise-proven
                raise AssertionError(
                    f"{stage}: refresh mode {mode!r}, wanted {want_mode!r}"
                )
            modes[stage] = mode
            snaps[stage] = read_snapshot(spark, view)

        append(spark, fact, orders.where(F.col("o_orderkey") % 10 >= 7))
        step("fact_append", "incremental")
        delete_where(spark, fact, "o_orderpriority = '1-URGENT'")
        step("fact_delete", "incremental")
        delete_where(spark, dim, "o_custkey % 97 = 0")
        step("dim_delete", "full")
        out = None
        for stage, df in snaps.items():
            row = df.select(
                F.lit(stage).alias("stage"),
                F.col("c_mktsegment"),
                F.col("n_rows").cast("long").alias("n_rows"),
                # view state sums are exact DECIMALs; output re-keys to
                # BIGINT cents (driver canonicalization-proof)
                (F.col("sum_o_totalprice") * 100)
                .cast("long")
                .alias("sum_price_cents"),
            )
            out = row if out is None else out.unionAll(row)
        out.write.mode("overwrite").parquet(os.path.join(root, "result"))
        with open(os.path.join(root, "modes.json"), "w") as fh:
            _json.dump(modes, fh)

    root = materialize_cached(
        # v2: result re-keyed to BIGINT cents — the name bump invalidates
        # pre-change warehouse builds whose parquet baked in DECIMAL
        spark, src, "jv_star_v2_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    with open(os.path.join(root, "modes.json")) as fh:
        modes = _json.load(fh)
    assert modes["fact_append"] == modes["fact_delete"] == "incremental"
    assert modes["dim_delete"] == "full"
    return read_parquet(spark, os.path.join(root, "result"))


@query(
    "snapshot_metadata_sum",
    # Aggregate pushdown to metadata, extended past COUNT/MIN/MAX: commits
    # record each fresh file's per-integer-column [sum, n_nonnull] in the
    # manifest (carried by reference), and merge-on-read deletes/updates
    # record the DELETED rows' aggregate as a sidecar next to their
    # deletion vector — so whole-table SUM/COUNT(col) answer as
    # Σ file sums − Σ vector deltas with zero data I/O, through a COW
    # append, a MOR delete (vector subtraction), and a MOR update (vector
    # + fresh-file sums in one commit). The oracle recomputes every stage
    # relationally; a hash match proves the fold is exact end-to-end.
    oracle="""
    SELECT 'v1' AS stage,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'v2', CAST(SUM(o_custkey) AS BIGINT),
           CAST(COUNT(o_custkey) AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    UNION ALL
    SELECT 'v3',
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN o_custkey + 1000000
                         ELSE o_custkey END) AS BIGINT),
           CAST(COUNT(o_custkey) AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderpriority <> '1-URGENT'
    """,
)
def snapshot_metadata_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only SUM/COUNT(col) (sources/snapshots.py::snapshot_sum):
    SUM of a 100 TB table is a manifest read plus one tiny JSON per
    outstanding deletion vector. Every stage here is computed WITHOUT a
    Spark job over the data and the head is cross-checked against the
    SQL front door's fast path (raise-proven: no scan in its plan)."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        delete_where_mor,
        snapshot_row_count,
        snapshot_sum,
        update_where_mor,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(spark, root, orders.repartition(8))
        delete_where_mor(spark, root, "o_orderpriority = '1-URGENT'")
        update_where_mor(
            spark, root, "o_orderstatus = 'F'",
            {"o_custkey": "o_custkey + 1000000"},
        )

    root = materialize_cached(
        spark, src, "metasum_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    rows = []
    for v in (1, 2, 3):
        sc = snapshot_sum(root, "o_custkey", v)
        if sc is None:
            raise RuntimeError(
                f"snapshot_sum fell back to a scan at v{v}; metadata "
                "sums must answer this chain"
            )
        rows.append((f"v{v}", sc[0], sc[1], snapshot_row_count(root, v)))
    fd = engine_sql(
        spark,
        "SELECT SUM(o_custkey) AS s, COUNT(o_custkey) AS n, "
        "COUNT(*) AS nr FROM t",
        {"t": root},
    )
    first = fd.first()
    if fd.inputFiles() or (first.s, first.n, first.nr) != rows[-1][1:]:
        raise RuntimeError("SQL SUM fast path disagreed or scanned")
    return spark.createDataFrame(
        rows,
        "stage string, sum_custkey long, n_custkey long, n_rows long",
    )


@query(
    "snapshot_metadata_groupby",
    # Metadata-only GROUP BY: when the layout CLUSTERS the group key —
    # every data file single-valued on it (footer min == max, the
    # property partitioned or key-sorted writes produce) — GROUP BY key
    # with COUNT(*)/SUM(int col) folds per-file manifest entries keyed by
    # each file's stat value: the metadata GROUP BY hive partitioning
    # gives away from its directory layout, recovered from file stats so
    # ANY clustered layout qualifies. Raise-proven zero-scan through the
    # SQL front door; the oracle recomputes the rollup relationally.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def snapshot_metadata_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered-key GROUP BY from the manifest alone
    (sources/snapshots.py::snapshot_groupby_metadata + the SQL front
    door): one append per priority class makes every file single-valued
    on the key, so the rollup of a 100 TB table costs a manifest fold.
    Must answer WITHOUT a scan (raise); a straddling layout or an
    outstanding deletion vector falls back to the ordinary scan rewrite
    (guard behavior pinned by tests/test_snapshots.py)."""
    from telemetry_parquet_spark.sources.snapshots import append
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        # TPC-H's fixed priority domain; one append per class = a
        # clustered layout without any partitioning DDL
        for p in (
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
        ):
            append(
                spark, root,
                orders.where(F.col("o_orderpriority") == p).repartition(2),
            )

    root = materialize_cached(
        # v2: the metadata GROUP BY now requires per-file key NULL
        # counts in the manifest; the name bump rebuilds pre-nulls caches
        spark, src, "metagb2_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    out = engine_sql(
        spark,
        "SELECT o_orderpriority, COUNT(*) AS n_rows, "
        "SUM(o_custkey) AS sum_custkey FROM t GROUP BY o_orderpriority",
        {"t": root},
    )
    if out.inputFiles():
        raise RuntimeError("metadata GROUP BY fast path did not engage")
    return out


@query(
    "snapshot_partition_evolution",
    # Partition-spec EVOLUTION (sources/partition_spec.py): v1 appends
    # 60% of orders BEFORE any spec exists (custkey-clustered), the
    # spec bucket(8, o_custkey) lands as a METADATA-ONLY commit, v3
    # appends the rest laid out by the spec with per-file partition
    # tuples in the manifest. The point lookup then prunes each file
    # under the spec that wrote it: pre-spec files by min/max stats,
    # spec files by exact bucket membership — the shape stats cannot
    # serve (a hash bucket's raw-key envelope spans the whole domain).
    # Raise-proven: the spec commit rewrites nothing, every spec file
    # carries a tuple, the planner's spec AND stats steps both pruned,
    # and exactly 1/8 of the spec files survive. The oracle is the
    # plain relational answer — pruning must be invisible to it.
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM orders
    WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
    """,
)
def snapshot_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style hidden partitioning + spec evolution on the commit
    log: ``set_partition_spec`` never rewrites a byte, writers lay new
    files out by ``bucket(8, o_custkey)`` (crc32 — bit-identical on the
    JVM write side and the Python plan side), and ``plan_snapshot_scan``
    prunes per file under its own spec. At 100 TB this is the difference
    between a point lookup reading 1/8 of the new data plus whatever
    stats can prune of the old, and reading everything: re-keying a
    table is a metadata commit, not a rewrite."""
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )
    from telemetry_parquet_spark.sources.scan_planner import Eq
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        plan_snapshot_scan,
        read_manifest,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        append(
            spark, root,
            orders.where(F.col("o_orderkey") % 10 < 6)
            .repartitionByRange(6, F.col("o_custkey")),
        )
        v2 = set_partition_spec(
            root, [PartitionField("o_custkey", "bucket", 8)]
        )
        m1, m2 = read_manifest(root, v2 - 1), read_manifest(root, v2)
        if m2["files"] != m1["files"] or m2["action"] != "set-spec":
            raise RuntimeError("set-spec was not a metadata-only commit")
        v3 = append(spark, root, orders.where(F.col("o_orderkey") % 10 >= 6))
        m3 = read_manifest(root, v3)
        new = set(m3["files"]) - set(m2["files"])
        entries = m3.get("partitions") or {}
        if set(entries) != new or not all(
            e["spec_id"] == 1 for e in entries.values()
        ):
            raise RuntimeError(
                "spec append did not record a partition tuple per file"
            )

    root = materialize_cached(
        spark, src, "snappe_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    probe = int(
        read_parquet(spark, src).agg(F.min("o_custkey")).first()[0]
    )
    pruned, plan = plan_snapshot_scan(
        spark, root, [Eq("o_custkey", probe)], require_pruning=True
    )
    steps = dict(plan.steps)
    if "spec:o_custkey" not in steps or "manifest:o_custkey" not in steps:
        raise RuntimeError(
            f"expected spec AND stats pruning, got {plan.steps}"
        )
    from telemetry_parquet_spark.sources.partition_spec import (
        partition_value,
    )
    from telemetry_parquet_spark.sources.snapshots import latest_version

    entries = read_manifest(root, latest_version(root))["partitions"]
    field = PartitionField("o_custkey", "bucket", 8)
    want = sum(
        1 for e in entries.values()
        if e["values"][0] == partition_value(field, probe)
    )
    if plan.pruned_by("spec:o_custkey") != len(entries) - want:
        raise RuntimeError(
            f"bucket pruning should keep exactly the probe's bucket "
            f"({want} of {len(entries)} spec files; {plan.steps})"
        )
    return pruned.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long").alias("price_cents"),
    )


@query(
    "snapshot_bucket_join",
    # Storage-partitioned join: orders and customer are BOTH
    # bucket(8)-partitioned on custkey (orders via spec evolution — 60%
    # of its rows predate the spec and were migrated by one
    # compact_table rewrite), so the planner pairs each bucket's files
    # across the two tables and unions 8 per-bucket joins in ONE
    # Catalyst plan, broadcasting the dimension side of every pair from
    # manifest byte sums (require_broadcast raises otherwise) — no row
    # of either table crosses the network to be repartitioned. The
    # oracle is the plain relational join: the physical strategy must
    # be invisible.
    oracle=f"""
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_SUM} AS sum_price_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def snapshot_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-aligned storage-partitioned join
    (sources/join_planner.py::plan_bucket_join): the write-time layout
    (partition_spec.py bucket tuples) IS the join plan — per-bucket file
    pairs, per-bucket broadcast decisions from manifest bytes, zero
    shuffle exchanges for the join itself (plan-asserted in
    tests/test_join_planner.py). At 100 TB this is the bucket-map-join:
    the fact side streams its own bucket files, the dimension side's
    matching bucket broadcasts, and the decision that neither Catalyst
    (static sizes) nor AQE (post-shuffle stats) can make comes from the
    manifest before any data I/O."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
        read_manifest,
    )

    osrc = os.path.join(sf_dir, "orders.parquet")
    csrc = os.path.join(sf_dir, "customer.parquet")

    def build_orders(root: str) -> None:
        orders = read_parquet(spark, osrc)
        append(spark, root, orders.where(F.col("o_orderkey") % 10 < 6))
        set_partition_spec(
            root, [PartitionField("o_custkey", "bucket", 8)]
        )
        append(spark, root, orders.where(F.col("o_orderkey") % 10 >= 6))
        v = compact_table(spark, root, target_bytes=128 * 1024 * 1024)
        m = read_manifest(root, v)
        if set(m.get("partitions") or {}) != set(m["files"]):
            raise RuntimeError("migration left untupled files")

    def build_customer(root: str) -> None:
        append(spark, root, read_parquet(spark, csrc))
        set_partition_spec(
            root, [PartitionField("c_custkey", "bucket", 8)]
        )
        compact_table(spark, root, target_bytes=128 * 1024 * 1024)

    oroot = materialize_cached(
        spark, osrc, "snapbj_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build_orders,
    )
    croot = materialize_cached(
        spark, csrc,
        "snapbj_customer_" + os.path.basename(sf_dir.rstrip("/")),
        build_customer,
    )
    joined, plan = plan_bucket_join(
        spark, oroot, croot, ("o_custkey", "c_custkey"),
        require_broadcast=True,
    )
    if len(plan.pairs) < 1 or any(c is None for *_, c in plan.pairs):
        raise RuntimeError(f"bucket join did not engage: {plan.pairs}")
    return joined.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        _sum_cents(),
    )


@query(
    "snapshot_partition_rollup",
    # The partitions metadata table: events day(ts)-partitioned (60%
    # pre-spec, migrated by ONE compact_table), then the daily rollup —
    # COUNT(*) and SUM(event_id) per day — folds per-file footer row
    # counts and [sum, n_nonnull] entries from the MANIFEST, grouped by
    # each file's day tuple. Zero data I/O is structural: the fold is
    # pure Python over the manifest dict (raise-proven below by
    # inputFiles() on the returned frame — it is a createDataFrame of
    # manifest math, it CANNOT read parquet). The oracle is the plain
    # GROUP BY: the metadata path must be invisible.
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM events GROUP BY 1
    """,
)
def snapshot_partition_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive/Iceberg-style partitions metadata rollup
    (sources/partition_spec.py::snapshot_groupby_partition): on a
    day(ts)-partitioned table the daily COUNT/SUM is a manifest read —
    at 100 TB the rollup costs ∝ file count, not bytes. Composes with
    spec evolution: the pre-spec 60% of events gains day tuples from
    the same compact_table migration the bucket join uses."""
    import datetime as _dt

    from pyspark.sql.types import (
        DateType,
        LongType,
        StructField,
        StructType,
    )

    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
        snapshot_groupby_partition,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
    )
    from telemetry_parquet_spark.sources.tables import load_table

    src = os.path.join(sf_dir, "events.parquet")

    def build(root: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        append(spark, root, ev.where(F.col("event_id") % 10 < 6))
        set_partition_spec(root, [PartitionField("ts", "day")])
        append(spark, root, ev.where(F.col("event_id") % 10 >= 6))
        compact_table(spark, root, target_bytes=128 * 1024 * 1024)

    root = materialize_cached(
        spark, src, "snappr_events_" + os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    got = snapshot_groupby_partition(root, agg_cols=("event_id",))
    if got is None:
        raise RuntimeError("partition rollup did not engage (scan fallback)")
    fields, groups = got
    if [f["transform"] for f in fields] != ["day"]:
        raise RuntimeError(f"unexpected spec {fields}")
    rows = [
        (
            (_dt.date(1970, 1, 1) + _dt.timedelta(days=key[0]))
            if key[0] is not None
            else None,  # an all-NULL-ts partition is SQL's NULL group
            g["n_rows"],
            g["sum"]["event_id"],
        )
        for key, g in sorted(
            groups.items(), key=lambda kv: (kv[0][0] is None, kv[0][0])
        )
    ]
    out = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("day", DateType(), True),
                StructField("n_events", LongType(), False),
                StructField("sum_event_id", LongType(), False),
            ]
        ),
    )
    if out.inputFiles():
        raise RuntimeError("metadata rollup read data files")
    return out


@query(
    "snapshot_rollup_mor",
    # per-day COUNT/SUM over the SURVIVING rows of a MOR-deleted table:
    # the engine answers from the manifest + per-vector sidecar deltas,
    # the oracle from the plain filtered GROUP BY — the metadata path
    # must be invisible.
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM events WHERE NOT (event_id % 10 = 3) GROUP BY 1
    """,
)
def snapshot_rollup_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV-aware partitions-metadata rollup: on a day(ts)-partitioned
    events table with an outstanding merge-on-read delete, the per-day
    COUNT/SUM still comes from the MANIFEST alone — each deletion
    vector's agg sidecar carries a per-source-file breakdown
    (snapshots._write_dv_agg_sidecar) that the rollup subtracts from
    the file's partition tuple. At 100 TB: per-partition aggregates of
    a MOR-deleted table with zero data I/O, cost ∝ file count + one
    tiny JSON per vector (inputFiles() raise asserts no scan)."""
    import datetime as _dt

    from pyspark.sql.types import (
        DateType,
        LongType,
        StructField,
        StructType,
    )

    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
        snapshot_groupby_partition,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        create_table,
        delete_where_mor,
    )
    from telemetry_parquet_spark.sources.tables import load_table

    src = os.path.join(sf_dir, "events.parquet")

    def build(root: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        create_table(root, ev.schema)
        set_partition_spec(root, [PartitionField("ts", "day")])
        append(spark, root, ev)
        delete_where_mor(spark, root, "event_id % 10 = 3")

    root = materialize_cached(
        spark, src,
        "snapmor_events_" + os.path.basename(sf_dir.rstrip("/")), build,
    )
    got = snapshot_groupby_partition(root, agg_cols=("event_id",))
    if got is None:
        raise RuntimeError(
            "DV-aware rollup did not engage (scan fallback)"
        )
    fields, groups = got
    if [f["transform"] for f in fields] != ["day"]:
        raise RuntimeError(f"unexpected spec {fields}")
    rows = [
        (
            (_dt.date(1970, 1, 1) + _dt.timedelta(days=key[0]))
            if key[0] is not None
            else None,
            g["n_rows"],
            g["sum"]["event_id"],
        )
        for key, g in sorted(
            groups.items(), key=lambda kv: (kv[0][0] is None, kv[0][0])
        )
    ]
    out = spark.createDataFrame(
        rows,
        StructType(
            [
                StructField("day", DateType(), True),
                StructField("n_events", LongType(), False),
                StructField("sum_event_id", LongType(), False),
            ]
        ),
    )
    if out.inputFiles():
        raise RuntimeError("metadata rollup read data files")
    return out


@query(
    "snapshot_hour_prune",
    # a 6-hour window over a 720-hour table: the engine prunes by the
    # hour(ts) partition tuples (require_pruning raises if the spec
    # pass kept everything), the oracle filters plainly.
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05 06:00:00'
      AND ts <= TIMESTAMP '2024-01-05 11:59:59'
    GROUP BY event_type
    """,
)
def snapshot_hour_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-partitioning on hour(ts) (partition_spec.py): an
    hour-partitioned events table serves a 6-hour window by reading
    ~6/720ths of its files — the tuple decides from the manifest, the
    residual filter keeps the answer exact. The 100 TB shape for
    event-time dashboards: file pruning ∝ window width, no directory
    convention in user queries (vs the reference's hand-built per-day
    layouts, views/package.scala day-key lineage)."""
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )
    from telemetry_parquet_spark.sources.scan_planner import Range
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        create_table,
        plan_snapshot_scan,
    )
    from telemetry_parquet_spark.sources.tables import load_table

    src = os.path.join(sf_dir, "events.parquet")

    def build(root: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        create_table(root, ev.schema)
        set_partition_spec(root, [PartitionField("ts", "hour")])
        append(spark, root, ev)

    root = materialize_cached(
        spark, src,
        "snaphour_events_" + os.path.basename(sf_dir.rstrip("/")), build,
    )
    lo, hi = "2024-01-05 06:00:00", "2024-01-05 11:59:59"
    pruned, plan = plan_snapshot_scan(
        spark, root, [Range("ts", lo, hi)], require_pruning=True
    )
    if not any(name == "spec:ts" for name, _ in plan.steps):
        raise RuntimeError("hour(ts) spec pruning did not engage")
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
    )


@query(
    "snapshot_bucket_join_oneside",
    # One-side storage-partitioned join: orders is bucket(8) on
    # o_custkey, customer is a PLAIN unbucketed table -- the planner
    # shuffles ONLY customer into the bucket layout (one exchange, on
    # the dim; plan-string-asserted) and the fact's files never move.
    # LEFT OUTER keeps every order: custs with nationkey >= 20 are
    # filtered out of the dim BEFORE its shuffle, so their orders
    # surface with NULL customer columns (folded to nation -1). The
    # oracle is the plain filtered outer join + aggregate.
    oracle=f"""
    SELECT COALESCE(c_nationkey, -1) AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_SUM} AS sum_price_cents
    FROM (SELECT * FROM orders WHERE o_orderkey % 3 = 0) o
    LEFT JOIN (SELECT * FROM customer WHERE c_nationkey BETWEEN 0 AND 19)
      ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def snapshot_bucket_join_oneside(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-side-bucketed storage-partitioned LEFT OUTER join
    (join_planner.py::plan_bucket_join + _stage_into_buckets): the
    bucketed fact streams its own bucket files; the unbucketed dim is
    scan-pruned, shuffled ONCE into the fact's crc32-bucket layout, and
    each staged bucket broadcasts into its fact bucket -- at 100 TB the
    dominant join shape (fact bucketed at write time, dim too large to
    broadcast whole, outer semantics for coverage reporting). The left
    predicate (okey3 = 0, a derived modulus column) prunes the fact via
    min/max stats; the right predicate filters the dim BEFORE its
    single shuffle. Unmatched orders pass through with typed-NULL
    customer columns."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )
    from telemetry_parquet_spark.sources.scan_planner import Eq, Range
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
    )

    osrc = os.path.join(sf_dir, "orders.parquet")
    csrc = os.path.join(sf_dir, "customer.parquet")

    def build_orders(root: str) -> None:
        orders = read_parquet(spark, osrc).withColumn(
            "okey3", (F.col("o_orderkey") % 3).cast("long")
        )
        append(spark, root, orders)
        set_partition_spec(
            root, [PartitionField("o_custkey", "bucket", 8)]
        )
        compact_table(spark, root, target_bytes=128 * 1024 * 1024)

    def build_customer(root: str) -> None:
        append(spark, root, read_parquet(spark, csrc))  # never tupled

    oroot = materialize_cached(
        spark, osrc,
        "snapbj1_orders_" + os.path.basename(sf_dir.rstrip("/")),
        build_orders,
    )
    croot = materialize_cached(
        spark, csrc,
        "snapbj1_customer_" + os.path.basename(sf_dir.rstrip("/")),
        build_customer,
    )
    joined, plan = plan_bucket_join(
        spark, oroot, croot, ("o_custkey", "c_custkey"),
        how="left_outer",
        left_predicates=[Eq("okey3", 0)],
        right_predicates=[Range("c_nationkey", 0, 19)],
    )
    if plan.staged_side != "right":
        raise RuntimeError(f"staging did not engage: {plan.staged_side}")
    stage = (plan.staging_plan or "").split("== Initial Plan ==")[0]
    # count SHUFFLE nodes specifically: the bare 'Exchange' substring
    # also matches BroadcastExchange/ReusedExchange and is brittle
    # across plan-format changes; the physical shuffle node prints as
    # 'Exchange <partitioning>' at a tree position, never 'Reused…'
    import re as _re

    n_shuffles = len(
        _re.findall(r"(?m)^[\s+*:-]*Exchange\b", stage)
    )
    if n_shuffles != 1:
        raise RuntimeError(
            f"staging paid {n_shuffles} shuffle exchanges, expected 1"
        )
    return joined.groupBy(
        F.coalesce(F.col("c_nationkey"), F.lit(-1))
        .cast("long")
        .alias("nation")
    ).agg(F.count("*").cast("long").alias("n_orders"), _sum_cents())


@query(
    "snapshot_bucket_join_composite",
    # COMPOSITE-key storage-partitioned join — the reference's
    # multi-column dedup join shape (PioneerOnlineNewsDedupe.scala:
    # 114-117): both sides bucket-partitioned on (orderkey, linenumber)
    # at widths (8, 4); the planner pairs files on the TUPLE of per-key
    # buckets (32 composite buckets) with zero join-side shuffles. The
    # oracle is the plain two-key join. Money as BIGINT cents.
    oracle="""
    SELECT l.l_linenumber,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(l.l_quantity AS DECIMAL(15,2)) * 100
                    AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(SUM(r.r_tax_cents) AS BIGINT) AS sum_tax_cents
    FROM lineitem l
    JOIN (SELECT l_orderkey AS r_orderkey, l_linenumber AS r_linenumber,
                 CAST(CAST(l_tax AS DECIMAL(15,2)) * 100 AS BIGINT)
                   AS r_tax_cents
          FROM lineitem WHERE l_returnflag = 'R') r
      ON l.l_orderkey = r.r_orderkey
     AND l.l_linenumber = r.r_linenumber
    GROUP BY l.l_linenumber
    """,
)
def snapshot_bucket_join_composite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Composite-key bucket join (join_planner.py::plan_bucket_join with
    ``on`` = a list of key pairs): an equi-join on (orderkey,
    linenumber) decomposes by the TUPLE of per-key crc32 buckets, so
    two tables spec'd ``bucket(8, orderkey), bucket(4, linenumber)``
    pair file-for-file across 32 composite buckets — at 100 TB the
    bucketed-blocklist dedup join runs with ZERO repartitioning of
    either side. Engagement is raise-proven: no staging, full 32-bucket
    pairing."""
    from telemetry_parquet_spark.sources.join_planner import (
        plan_bucket_join,
    )
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
    )

    lsrc = os.path.join(sf_dir, "lineitem.parquet")

    def build_left(root: str) -> None:
        li = read_parquet(spark, lsrc).select(
            "l_orderkey", "l_linenumber", "l_quantity"
        )
        append(spark, root, li)
        set_partition_spec(root, [
            PartitionField("l_orderkey", "bucket", 8),
            PartitionField("l_linenumber", "bucket", 4),
        ])
        compact_table(spark, root, target_bytes=128 * 1024 * 1024)

    def build_right(root: str) -> None:
        ret = read_parquet(spark, lsrc).where(
            F.col("l_returnflag") == "R"
        ).select(
            F.col("l_orderkey").alias("r_orderkey"),
            F.col("l_linenumber").alias("r_linenumber"),
            (F.col("l_tax").cast("decimal(15,2)") * 100)
            .cast("long").alias("r_tax_cents"),
        )
        append(spark, root, ret)
        set_partition_spec(root, [
            PartitionField("r_orderkey", "bucket", 8),
            PartitionField("r_linenumber", "bucket", 4),
        ])
        compact_table(spark, root, target_bytes=128 * 1024 * 1024)

    tag = os.path.basename(sf_dir.rstrip("/"))
    lroot = materialize_cached(
        spark, lsrc, f"snapbjc_li_{tag}", build_left
    )
    rroot = materialize_cached(
        spark, lsrc, f"snapbjc_ret_{tag}", build_right
    )
    joined, plan = plan_bucket_join(
        spark, lroot, rroot,
        [("l_orderkey", "r_orderkey"), ("l_linenumber", "r_linenumber")],
    )
    if plan.staged_side is not None or plan.n_buckets != 32:
        raise RuntimeError(
            f"composite pairing did not engage: staged="
            f"{plan.staged_side}, n_buckets={plan.n_buckets}"
        )
    return joined.groupBy("l_linenumber").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            (F.col("l_quantity").cast("decimal(15,2)") * 100)
            .cast("long")
        ).alias("sum_qty_cents"),
        F.sum("r_tax_cents").alias("sum_tax_cents"),
    )


@query(
    "snapshot_dpp_join",
    # Manifest-side dynamic partition pruning: the dim filter keeps 3
    # customer keys; their crc32 buckets (<= 3 of 8 ints on the driver,
    # never the keys) select the fact files. Min/max stats CANNOT serve
    # this — the bucket layout scrambles o_custkey, so every fact
    # file's custkey envelope spans the whole domain; the tuple set is
    # the only pruning mechanism, and the oracle is the plain join.
    oracle=f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_SUM} AS sum_price_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey BETWEEN 55 AND 57
    GROUP BY o_orderpriority
    """,
)
def snapshot_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join with manifest-side dynamic partition pruning
    (join_planner.py::plan_dpp_join): the FILTERED dim's distinct key
    buckets — at most n integers driver-side regardless of dim
    cardinality — decide which fact bucket files can hold matches,
    before any fact I/O. Spark's own DPP needs a hive/DSv2-partitioned
    fact and a runtime subquery; on plain parquet + crc32 bucket tuples
    it cannot engage at all. Reuses snapshot_bucket_join's cached
    bucket(8, o_custkey) orders table; require_pruning raises if the
    bucket set drops nothing."""
    from telemetry_parquet_spark.sources.join_planner import plan_dpp_join
    from telemetry_parquet_spark.sources.scan_planner import Range

    oroot, croot = _dpp_tables(spark, sf_dir)
    joined, plan = plan_dpp_join(
        spark, oroot, croot, ("o_custkey", "c_custkey"),
        dim_predicates=[Range("c_custkey", 55, 57)],
        require_pruning=True,
    )
    if not (0 < plan.live_buckets < plan.n_buckets):
        raise RuntimeError(f"DPP did not engage: {plan}")
    if plan.fact_files_kept >= plan.fact_files_total:
        raise RuntimeError("DPP kept every fact file")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"), _sum_cents()
    )


def _dpp_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The shared DPP star pair: bucket(8, o_custkey) orders fact +
    plain customer dim, fingerprint-cached (same builders as
    snapshot_dpp_join / snapshot_bucket_join)."""
    from telemetry_parquet_spark.sources.partition_spec import (
        PartitionField,
        set_partition_spec,
    )
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
        read_manifest,
    )

    osrc = os.path.join(sf_dir, "orders.parquet")
    csrc = os.path.join(sf_dir, "customer.parquet")

    def build_orders(root: str) -> None:
        orders = read_parquet(spark, osrc)
        append(spark, root, orders.where(F.col("o_orderkey") % 10 < 6))
        set_partition_spec(
            root, [PartitionField("o_custkey", "bucket", 8)]
        )
        append(spark, root, orders.where(F.col("o_orderkey") % 10 >= 6))
        v = compact_table(spark, root, target_bytes=128 * 1024 * 1024)
        m = read_manifest(root, v)
        if set(m.get("partitions") or {}) != set(m["files"]):
            raise RuntimeError("migration left untupled files")

    def build_customer(root: str) -> None:
        append(spark, root, read_parquet(spark, csrc))

    tag = os.path.basename(sf_dir.rstrip("/"))
    oroot = materialize_cached(
        spark, osrc, f"snapbj_orders_{tag}", build_orders
    )
    croot = materialize_cached(
        spark, csrc, f"snapbj1_customer_{tag}", build_customer
    )
    return oroot, croot


@query(
    "snapshot_dpp_semi",
    # Semi-join DPP: the allowlist-filter shape (J3,
    # AddonRecommender.scala:132-148) — keep only orders whose custkey
    # is in the filtered dim. Dim-liveness fact-file pruning is equally
    # safe for left_semi (a semi KEEPS only matching fact rows; a
    # dropped file provably holds none); anti/outer stay illegal. The
    # oracle is the plain IN-subquery.
    oracle=f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_SUM} AS sum_price_cents
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_custkey BETWEEN 101 AND 103)
    GROUP BY o_orderpriority
    """,
)
def snapshot_dpp_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-side DPP under a LEFT SEMI join
    (join_planner.py::plan_dpp_join how='left_semi'): the filtered dim's
    live bucket set prunes fact files exactly as for inner — semi keeps
    only matching fact rows, so a non-live file can contribute nothing —
    while the output schema stays the fact's (the at-scale allowlist
    filter). require_pruning raise-proves the engagement; anti/outer
    raise by construction (legality pytest in test_join_planner)."""
    from telemetry_parquet_spark.sources.join_planner import plan_dpp_join
    from telemetry_parquet_spark.sources.scan_planner import Range

    oroot, croot = _dpp_tables(spark, sf_dir)
    joined, plan = plan_dpp_join(
        spark, oroot, croot, ("o_custkey", "c_custkey"),
        how="left_semi",
        dim_predicates=[Range("c_custkey", 101, 103)],
        require_pruning=True,
    )
    if plan.how != "left_semi" or plan.fact_files_kept >= (
        plan.fact_files_total
    ):
        raise RuntimeError(f"semi DPP did not engage: {plan}")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"), _sum_cents()
    )


@query(
    "snapshot_dpp_sql",
    # DPP through the SQL FRONT DOOR: a bare star-join statement routes
    # through plan_dpp_join (the scan rewrite could never get Spark's
    # own DPP to engage on plain parquet + manifest tuples). The route
    # is proven twice below: the static probe must admit the statement,
    # and EXPLAIN must report the dpp-join route. Oracle = the plain
    # join.
    oracle=f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_SUM} AS sum_price_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey BETWEEN 201 AND 203
    GROUP BY o_orderpriority
    """,
)
def snapshot_dpp_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join DPP via ``engine_sql``
    (sources/sql_front.py::_try_dpp_rewrite): an eligible ``SELECT …
    FROM fact JOIN dim ON fk = dk WHERE <dim filter>`` statement routes
    through the manifest-side DPP planner under the same restricted-
    shape parse discipline as the MV router (inadmissible shapes and
    planner refusals fall through to the scan, never a changed answer).
    Engagement is raise-proven via the static probe + the EXPLAIN
    route, and the pruning itself via a require_pruning twin plan."""
    from telemetry_parquet_spark.sources.join_planner import plan_dpp_join
    from telemetry_parquet_spark.sources.scan_planner import Range
    from telemetry_parquet_spark.sources.sql_front import (
        _probe_dpp,
        engine_sql,
    )

    oroot, croot = _dpp_tables(spark, sf_dir)
    t = {"ord": oroot, "cust": croot}
    stmt = (
        "SELECT o_orderpriority, COUNT(*) AS n_orders, "
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 "
        "AS BIGINT)) AS BIGINT) AS sum_price_cents "
        "FROM ord JOIN cust ON o_custkey = c_custkey "
        "WHERE c_custkey BETWEEN 201 AND 203 "
        "GROUP BY o_orderpriority"
    )
    verdict, info = _probe_dpp(stmt, t)
    if verdict != "candidate":
        raise RuntimeError(f"DPP probe refused the statement: {info}")
    route = {
        r.aspect: r.detail
        for r in engine_sql(spark, "EXPLAIN " + stmt, t).collect()
    }.get("route", "")
    if not route.startswith("dpp-join"):
        raise RuntimeError(f"EXPLAIN did not report the DPP route: {route}")
    # the pruning proof the routed statement itself cannot surface:
    # the same star shape with require_pruning must engage
    _, plan = plan_dpp_join(
        spark, oroot, croot, ("o_custkey", "c_custkey"),
        dim_predicates=[Range("c_custkey", 201, 203)],
        require_pruning=True,
    )
    if plan.fact_files_kept >= plan.fact_files_total:
        raise RuntimeError("DPP kept every fact file")
    out = engine_sql(spark, stmt, t)
    return out.select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        "sum_price_cents",
    )


@query(
    "snapshot_delete_eq_sql",
    # SQL DELETE routed to METADATA-ONLY equality deletes: declare
    # (o_custkey, o_orderstatus) eq-capable → `DELETE … WHERE
    # o_custkey IN (…)` and a composite `o_custkey = 10 AND
    # o_orderstatus = 'O'` commit as key-set files with ZERO file
    # rewrites (manifest-identity raise-proven in the build, EXPLAIN
    # route asserted) → late append survives both (sequence rule).
    # The oracle replays the chain as plain NOT-filters.
    oracle=f"""
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 < 7),
    live AS (
      SELECT * FROM base
      WHERE NOT (o_custkey IN (3, 7, 19, 23, 42))
        AND NOT (o_custkey = 10 AND o_orderstatus = 'O')
    ),
    late AS (SELECT * FROM orders WHERE o_orderkey % 10 >= 7),
    final AS (SELECT * FROM live UNION ALL SELECT * FROM late)
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_SUM} AS sum_price_cents
    FROM final GROUP BY o_orderstatus
    """,
)
def snapshot_delete_eq_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ``DELETE`` through the front door, ROUTED to equality
    deletes (sql_front.py::_probe_eq_delete → snapshots.delete_eq):
    when the WHERE is a conjunction of ``col = lit`` / ``col IN (…)``
    over columns declared via ``ALTER TABLE … SET EQUALITY DELETE
    COLUMNS``, the commit is a tiny key-set file — no COW rewrite, no
    detection scan. At 100 TB this turns a GDPR point delete from a
    region rewrite into an O(keys) metadata write. The build
    raise-proves the route: EXPLAIN reports the equality-delete
    mutator, the commit's action is ``delete-eq``, the manifest file
    list is BYTE-IDENTICAL across both deletes, and a non-eq-shaped
    predicate still EXPLAINs as the COW mutator."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        read_manifest,
        read_snapshot,
    )
    from telemetry_parquet_spark.sources.sql_front import (
        engine_sql,
        explain_sql,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        tables = {"tgt": root}
        orders = read_parquet(spark, src)
        append(spark, root, orders.where(F.col("o_orderkey") % 10 < 7))
        engine_sql(
            spark,
            "ALTER TABLE tgt SET EQUALITY DELETE COLUMNS "
            "(o_custkey, o_orderstatus)",
            tables,
        )
        stmt = "DELETE FROM tgt WHERE o_custkey IN (3, 7, 19, 23, 42)"
        routes = {
            r["aspect"]: r["detail"]
            for r in explain_sql(spark, stmt, tables).collect()
        }
        if "equality-delete" not in routes["route"]:
            raise RuntimeError(
                f"EXPLAIN did not report the eq route: {routes['route']}"
            )
        files_before = read_manifest(root, 2)["files"]
        out = engine_sql(spark, stmt, tables).first()
        if out["action"] != "delete-eq":
            raise RuntimeError(f"route fell back to {out['action']}")
        out = engine_sql(
            spark,
            "DELETE FROM tgt WHERE o_custkey = 10 "
            "AND o_orderstatus = 'O'",
            tables,
        ).first()
        if out["action"] != "delete-eq":
            raise RuntimeError(f"route fell back to {out['action']}")
        m = read_manifest(root, out["version"])
        if m["files"] != files_before or len(m.get("eq") or []) != 2:
            raise RuntimeError(
                "eq-routed DELETE rewrote files — not metadata-only"
            )
        # a non-eq-shaped predicate must EXPLAIN as the COW mutator
        cow = {
            r["aspect"]: r["detail"]
            for r in explain_sql(
                spark, "DELETE FROM tgt WHERE o_totalprice > 0", tables
            ).collect()
        }
        if "equality-delete" in cow["route"]:
            raise RuntimeError("range predicate mis-routed to eq delete")
        # sequence rule: late rows with matching keys survive
        append(spark, root, orders.where(F.col("o_orderkey") % 10 >= 7))

    root = materialize_cached(
        spark, src,
        "snapeqsql_orders_" + os.path.basename(sf_dir.rstrip("/")), build,
    )
    return read_snapshot(spark, root).groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"), _sum_cents(),
    )


@query(
    "snapshot_mor_equality_delete",
    # EQUALITY deletes (Iceberg v2's other delete kind): append 60% →
    # delete_eq on composite (o_custkey, o_orderstatus) key pairs →
    # append 40% → compact. The hash pins the SEQUENCE rule (second-
    # append rows with matching keys survive — only t1 rows mask), the
    # composite-key anti-join, and compaction materialization; CDC and
    # metadata-row-count interplay are raise-proven in the build/body.
    oracle=f"""
    WITH t1 AS (SELECT * FROM orders WHERE o_orderkey % 10 < 6),
    s1 AS (SELECT * FROM t1
           WHERE NOT (o_custkey % 11 = 0 AND o_orderstatus = 'F')),
    t2 AS (SELECT * FROM orders WHERE o_orderkey % 10 >= 6),
    final AS (SELECT * FROM s1 UNION ALL SELECT * FROM t2)
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_SUM} AS sum_price_cents
    FROM final GROUP BY o_orderstatus
    """,
)
def snapshot_mor_equality_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equality-delete chain (sources/snapshots.py::delete_eq +
    _read_logical): "delete every row whose (custkey, status) equals
    one of these pairs" committed as METADATA — a tiny key-set file
    plus its commit-time scope, NO detection scan at write time. Rows
    appended AFTER the delete are untouched even with matching keys
    (the Iceberg sequence rule as an explicit ``applies_to``); at
    100 TB this is the delete-one-user's-rows shape: O(keys) write
    where a position delete pays a detection scan. Pins in the body:
    the CDC feed sees exactly the masked rows, the materializing
    compaction cancels CDC to empty, and the MOR head's metadata row
    count equals the compacted state's footer count (the eq arithmetic
    against physically materialized truth)."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        compact_table,
        delete_eq,
        read_manifest,
        read_snapshot,
        snapshot_row_count,
        table_changes,
    )

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        t1 = orders.where(F.col("o_orderkey") % 10 < 6)
        append(spark, root, t1)
        vals = (
            t1.where(
                (F.col("o_custkey") % 11 == 0)
                & (F.col("o_orderstatus") == "F")
            )
            .select("o_custkey", "o_orderstatus")
            .dropDuplicates()
        )
        v2 = delete_eq(spark, root, vals)
        entry = read_manifest(root, v2)["eq"][0]
        # CDC interplay, pinned once at build: the delete-eq commit
        # feeds exactly its matched rows as deletes
        n_cdc = table_changes(spark, root, 1, v2).where(
            F.col("_change") == "delete"
        ).count()
        if n_cdc != entry["matched"]:
            raise RuntimeError(
                f"CDC fed {n_cdc} deletes, eq entry matched "
                f"{entry['matched']}"
            )
        append(spark, root, orders.where(F.col("o_orderkey") % 10 >= 6))
        v4 = compact_table(spark, root, target_bytes=128 * 1024 * 1024)
        if table_changes(spark, root, v4 - 1, v4).count() != 0:
            raise RuntimeError(
                "materializing compaction did not cancel CDC to empty"
            )

    root = materialize_cached(
        spark, src,
        "snapeq_orders_" + os.path.basename(sf_dir.rstrip("/")), build,
    )
    head = read_manifest(root, 4)
    if head.get("eq") or head.get("dv"):
        raise RuntimeError("compaction left vectors outstanding")
    # metadata row count of the MOR head (footer sums minus eq matched
    # counts — zero data I/O) must equal the compacted state's footer
    # count: the eq arithmetic checked against materialized truth
    if snapshot_row_count(root, 3) != snapshot_row_count(root, 4):
        raise RuntimeError(
            f"eq metadata count {snapshot_row_count(root, 3)} != "
            f"materialized {snapshot_row_count(root, 4)}"
        )
    return read_snapshot(spark, root, 3).groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_rows"), _sum_cents()
    )


@query(
    "snapshot_filtered_mor",
    # WHERE key = literal COUNT/SUM on a key-clustered, MOR-deleted
    # table: the SQL front door answers from per-file manifest stats
    # minus the vector's per-file sidecar deltas -- zero data I/O
    # (inputFiles raise below); the oracle filters plainly.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey
    FROM orders
    WHERE o_orderpriority = '2-HIGH' AND NOT (o_custkey % 5 = 2)
    """,
)
def snapshot_filtered_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV-aware filtered metadata aggregate
    (snapshots.snapshot_filtered_agg via the SQL front door): on a
    priority-clustered orders table with an outstanding merge-on-read
    delete, COUNT/SUM over one cluster value folds the included files'
    manifest stats and subtracts each deletion vector's per-file
    sidecar delta -- every masked row in a single-valued file matched
    the probe by construction. At 100 TB: 'count/sum yesterday's
    surviving rows' stays a manifest read through MOR deletes."""
    from telemetry_parquet_spark.sources.snapshots import (
        append,
        delete_where_mor,
    )
    from telemetry_parquet_spark.sources.sql_front import engine_sql

    src = os.path.join(sf_dir, "orders.parquet")

    def build(root: str) -> None:
        orders = read_parquet(spark, src)
        for p in (
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
        ):
            append(
                spark, root,
                orders.where(F.col("o_orderpriority") == p).repartition(2),
            )
        delete_where_mor(spark, root, "o_custkey % 5 = 2")

    root = materialize_cached(
        spark, src,
        "snapfmor_orders_" + os.path.basename(sf_dir.rstrip("/")), build,
    )
    out = engine_sql(
        spark,
        "SELECT COUNT(*) AS n_orders, SUM(o_custkey) AS sum_custkey "
        "FROM t WHERE o_orderpriority = '2-HIGH'",
        {"t": root},
    )
    if out.inputFiles():
        raise RuntimeError(
            "filtered metadata aggregate read data files under MOR"
        )
    return out.select(
        F.col("n_orders").cast("long"),
        F.col("sum_custkey").cast("long"),
    )
