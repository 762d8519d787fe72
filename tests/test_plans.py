"""Physical-plan guardrails: these assert the properties that matter at
100 TB — pushdown reaching the parquet scan, column pruning, broadcast (not
shuffle/nested-loop) joins, bounded shuffle counts — not just correct rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.plans.explain import (
    exchange_count,
    formatted_plan,
    has_broadcast_join,
    has_nested_loop_join,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_spans,
)
from telemetry_parquet_spark.queries import all_queries

QUERIES = all_queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["p2_dynamic_predicates"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderstatus" in pushed
    assert "o_totalprice" in pushed
    assert "o_orderdate" in pushed


def test_column_pruning(spark, sf_dir):
    df = QUERIES["j1_anti_orders_without_lineitems"](spark, sf_dir)
    cols = read_schema_columns(df)
    # lineitem side must be pruned to the join key only
    assert "l_orderkey" in cols
    assert "l_quantity" not in cols and "l_extendedprice" not in cols


def test_events_flatten_prunes_and_pushes(spark, sf_dir):
    df = QUERIES["events_flatten"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "IsNotNull" in plan  # not-null filters exist
    cols = read_schema_columns(df)
    assert cols <= {"event_id", "user_id", "event_type", "props", "ts", "value"}


def test_broadcast_joins_chosen(spark, sf_dir):
    assert has_broadcast_join(QUERIES["j3_broadcast_enrich"](spark, sf_dir))
    assert has_broadcast_join(QUERIES["q5_local_supplier_volume"](spark, sf_dir))


def test_range_join_is_not_nested_loop(spark, sf_dir):
    df = QUERIES["range_clicks_after_purchase"](spark, sf_dir)
    assert not has_nested_loop_join(df)


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union-and-window as-of join must cost exactly one exchange
    (hash partition by key) — that's its whole point."""
    df = QUERIES["asof_last_purchase_before_view"](spark, sf_dir)
    assert exchange_count(df) == 1


def test_q1_single_shuffle_and_codegen(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    assert exchange_count(df) == 1  # partial agg -> exchange -> final agg
    assert wholestage_codegen_spans(df) >= 1


def test_partition_pruning(spark, sf_dir, tmp_path):
    """S1: the reference pruned S3 prefixes by dimension predicates on the
    driver (SyncView.scala:53-62); our engine writes Hive-partitioned
    datasets and Catalyst prunes partitions from WHERE clauses — the scan's
    PartitionFilters must carry the predicate and the other days' files
    must not be listed into the plan."""
    import re

    from telemetry_parquet_spark.plans.explain import formatted_plan
    from telemetry_parquet_spark.sources.writers import read_dataset, write_partitioned

    path = str(tmp_path / "parts")
    df = spark.createDataFrame(
        [(i, f"2024010{1 + i % 3}") for i in range(30)],
        ["id", "submission_date_s3"],
    )
    write_partitioned(df, path)
    pruned = read_dataset(spark, path).where(
        F.col("submission_date_s3") == "20240102"
    )
    plan = formatted_plan(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "submission_date_s3" in m.group(1), plan[:1500]
    assert pruned.count() == 10


def test_sessionize_single_shuffle(spark, sf_dir):
    """Both window passes and the final agg share the user_id partitioning —
    one exchange total."""
    df = QUERIES["sessionize_events"](spark, sf_dir)
    assert exchange_count(df) == 1


def test_bm25_broadcasts_query_terms_and_stats(spark, sf_dir):
    """bm25_topk_docs: the query-term semi-join and the 1-row stats join
    must both be broadcast (postings pruned corpus-side, no shuffled dim),
    and the top-k must compile to TakeOrderedAndProject, not a global sort."""
    df = QUERIES["bm25_topk_docs"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_knn_graph_is_batch_matmul_not_join(spark, sf_dir):
    """sim_matmul_batch_topk: the query batch rides into an Arrow
    ``mapInPandas`` int64 matmul (one corpus pass, per-batch top-k trim),
    so the plan has NO join at all and no shuffle may appear before the
    per-query ranking window."""
    df = QUERIES["sim_matmul_batch_topk"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert "Join" not in plan  # neither broadcast-nested-loop nor shuffle
    # exactly one exchange: the hash partitioning for the ranking window
    assert exchange_count(df) == 1


def test_triangle_count_no_cartesian(spark, sf_dir):
    """graph_triangle_count: every join (edge derivation, degree attach,
    wedge, closing) is an equi-join — a cartesian anywhere here is the
    Σ deg² blow-up the degree orientation exists to prevent."""
    df = QUERIES["graph_triangle_count"](spark, sf_dir)
    assert not has_nested_loop_join(df)


def test_ohlc_bars_single_shuffle(spark, sf_dir):
    """ts_ohlc_bars is ONE hash aggregation: partial min_by/max_by/extrema
    -> exchange on (event_type, bar) -> final agg. No window, no sort."""
    df = QUERIES["ts_ohlc_bars"](spark, sf_dir)
    assert exchange_count(df) == 1


def test_zorder_key_is_broadcast_only(spark, sf_dir):
    """layout_zorder_keys: the fact table must acquire its Morton key via
    TWO broadcast hash joins (domain-sized bucket maps) — no shuffle of the
    corpus, no nested loop. The only exchanges feed the domain-sized
    histogram windows, never the fact scan."""
    df = QUERIES["layout_zorder_keys"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    # the only nested loops are the two 1-row total-count attach-a-scalar
    # crossJoins inside the bucket maps (the documented canonical shape) —
    # both broadcast, neither touches the fact table
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight") == 2
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_adaptive_high_card_fact_path_windowless(spark, sf_dir):
    """cluster_zorder_adaptive in the high-cardinality regime: the
    boundary-bucket keying is a pure projection — the plan must contain NO
    window at all and NO single-partition exchange (the exact rank-CDF's
    one-reducer cumulative sum must not appear anywhere near the fact
    path). The only exchange is the write layout's range partitioning."""
    from telemetry_parquet_spark.sources.layout import cluster_zorder_adaptive
    from telemetry_parquet_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    # exact_max_distinct=1 forces AUTO to classify both columns (a
    # near-unique price and a vocabulary-sized key) as high-cardinality
    df = cluster_zorder_adaptive(
        li, "l_extendedprice", "l_partkey", num_files=8, exact_max_distinct=1,
        mode="auto",
    )
    plan = formatted_plan(df)
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    assert exchange_count(df) == 1  # the range layout itself
