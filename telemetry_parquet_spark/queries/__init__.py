"""Query registry — import all query modules so their ``@query`` decorators run."""

from telemetry_parquet_spark.queries.registry import ORACLE, QUERIES

# Importing for registration side effects:
from telemetry_parquet_spark.queries import relational  # noqa: F401, E402
from telemetry_parquet_spark.queries import semistructured  # noqa: F401, E402
from telemetry_parquet_spark.queries import windows  # noqa: F401, E402
from telemetry_parquet_spark.queries import datapipe  # noqa: F401, E402
from telemetry_parquet_spark.queries import temporal  # noqa: F401, E402
from telemetry_parquet_spark.queries import streaming  # noqa: F401, E402
from telemetry_parquet_spark.queries import advanced  # noqa: F401, E402
from telemetry_parquet_spark.queries import tpch  # noqa: F401, E402
from telemetry_parquet_spark.queries import tpch2  # noqa: F401, E402
from telemetry_parquet_spark.queries import ingestion  # noqa: F401, E402
from telemetry_parquet_spark.queries import scalar_extra  # noqa: F401, E402
from telemetry_parquet_spark.queries import longitudinal  # noqa: F401, E402
from telemetry_parquet_spark.queries import ml_media  # noqa: F401, E402
from telemetry_parquet_spark.queries import corpus  # noqa: F401, E402
from telemetry_parquet_spark.queries import bpe  # noqa: F401, E402
from telemetry_parquet_spark.queries import lm  # noqa: F401, E402
from telemetry_parquet_spark.queries import qsketch  # noqa: F401, E402
from telemetry_parquet_spark.queries import semantic  # noqa: F401, E402
from telemetry_parquet_spark.queries import pipeline  # noqa: F401, E402
from telemetry_parquet_spark.queries import pq  # noqa: F401, E402
from telemetry_parquet_spark.queries import entity  # noqa: F401, E402
from telemetry_parquet_spark.queries import theta  # noqa: F401, E402
from telemetry_parquet_spark.queries import graph  # noqa: F401, E402
from telemetry_parquet_spark.queries import retrieval  # noqa: F401, E402
from telemetry_parquet_spark.queries import layout  # noqa: F401, E402
from telemetry_parquet_spark.queries import hll  # noqa: F401, E402
from telemetry_parquet_spark.queries import kmeans  # noqa: F401, E402
from telemetry_parquet_spark.queries import table_service  # noqa: F401, E402

# The driver evaluates exactly the first 50 entries of ``queries()`` in
# registration order. Until every query has appeared green in some
# CORRECTNESS_r{N}, each round front-loads the names still missing a driver
# hash-verdict; previously-verified queries follow in registration order and
# fill the rest of the 50-slot window (re-confirmation). The list is static
# (no file I/O at import time) and is refreshed by hand from the latest
# CORRECTNESS_r{N}.json each round.
#
# Round-13 window (CORRECTNESS_r12 was 50/50 hash-green). Per the r12
# verdict: (1) the 3 never-checked round-13 queries (MERGE WHEN NOT
# MATCHED BY SOURCE, SQL DELETE routed to equality deletes, persisted
# IVF-PQ), (2) 45 of the 47 registered queries whose latest driver row
# is r08 — the whole UDAF/window/explode/sketch cohort, several of which
# ride the scan-planner/_read_logical code rewritten in r10-r12
# (3+45 = 48; the 2 free slots fall to registration order, after the
# float-IVF pair sim_ivf_exact_topk / sim_ivf_probe_topk was deleted).
# The two slipped r08 rows (f_date_functions, f_string_functions —
# pure scalar functions over plain parquet, no snapshot/scan-planner
# dependence) plus the r09 cohort lead the r14 window. Freshness
# arithmetic: 230 registered queries / 50 slots = a ~4.6-round
# steady-state rotation; each round re-certifies the stalest cohort
# plus all never-checked names.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # new in round 13 — never driver-checked
    "snapshot_merge_by_source",
    "snapshot_delete_eq_sql",
    "sim_ivfpq_persisted_topk",
    # latest driver row r08 — the stalest cohort (45 of 47; the two
    # pure scalar-function rows f_date_functions / f_string_functions
    # slip to r14 — they touch no snapshot/scan-planner code)
    "a1_earliest_event_per_user",
    "a2_row_first",
    "a3_map_first",
    "a4_map_sum",
    "a5_search_counts_pivot",
    "a7_hll_distinct_users",
    "a8_counts_per_nation",
    "a9_null_counts",
    "analyze_column_stats",
    "bm25_indexed_topk",
    "bp_boilerplate_removal",
    "bp_hot_segments",
    "cap_budget_per_source",
    "cap_per_source",
    "corpus_global_order",
    "dd_incremental_bloom",
    "dd_minhash_near_dup_pairs",
    "dd_ngram_jaccard_pairs",
    "dd_prefix_fingerprint_groups",
    "dd_simhash_near_dup_pairs",
    "hll_det_daily_merge",
    "hll_det_distinct_users",
    "hll_det_orderkey_estimates",
    "hll_det_register_table",
    "json_union_coercion",
    "lang_id",
    "layout_zorder_keys",
    "mix_sampled_corpus",
    "ml_kmeans_assignments",
    "ml_kmeans_centroids",
    "mm_image_near_dup",
    "p7_column_expressions",
    "pack_sequences",
    "pii_redaction",
    "rep_repetition_features",
    "sim_brute_force_topk",
    "sim_ivf_det_topk",
    "skip_bloom_point_lookup",
    "split_train_holdout",
    "stream_hll_registers",
    "text_stats",
    "ts_hypertable_rollup",
    "w1_latest_order_per_customer",
    "w2_running_order_total",
    "x1_token_explode",
)


def _ordered(mapping: dict) -> dict:
    head = {n: mapping[n] for n in _DRIVER_PRIORITY if n in mapping}
    tail = {n: v for n, v in mapping.items() if n not in head}
    return {**head, **tail}


def all_queries():
    return _ordered(dict(QUERIES))


def all_oracles():
    return _ordered(dict(ORACLE))
