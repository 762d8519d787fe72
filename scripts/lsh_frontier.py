#!/usr/bin/env python
"""Sweep the LSH KNN-graph cost/recall frontier: bits ∈ {4,6,8} ×
multiprobe ∈ {off,on}, plus multi-table configs, against the exact
corpus² top-k graph.

Both sides are the integer micro-cosine kernels of
``datapipe/similarity.py``: the exact graph is ``matmul_batch_top_k``
(every vector is a query) and each config is
``lsh_probe_matmul_top_k(self_corpus=True)`` over the quantized
hyperplane family (``int_sigs_udf``). Records, per config: wall time of
the full-corpus graph build (count() action, residue cleared between
runs, min of 2) and recall@k = |approx ∩ exact| / |exact| over all
(query, neighbor) edges. Output: a markdown table for SCALE.md.

    python scripts/lsh_frontier.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from telemetry_parquet_spark.datapipe.similarity import (  # noqa: E402
    lsh_probe_matmul_top_k,
    matmul_batch_top_k,
)
from telemetry_parquet_spark.session import (  # noqa: E402
    clear_cached_relations,
    get_session,
)
from telemetry_parquet_spark.sources.tables import load_table  # noqa: E402

K = 3


def main(sf_dir: str = "/root/testdata/sf0.1") -> None:
    spark = get_session("lsh-frontier")
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    n = emb.count()

    t0 = time.perf_counter()
    # edge set is k*corpus-sized — driver-safe to collect (and immune to
    # the residue clearing below, unlike a localCheckpoint)
    exact_set = {
        (r["query_id"], r["vec_id"])
        for r in matmul_batch_top_k(queries, emb, k=K, exclude_self=True)
        .select("query_id", "vec_id")
        .collect()
    }
    exact_edges = len(exact_set)
    exact_wall = time.perf_counter() - t0
    clear_cached_relations(spark)

    print(f"corpus={n} k={K} exact corpus-squared graph: "
          f"{exact_edges} edges, {exact_wall:.2f} s")
    print()
    print("| bits | multiprobe | tables | wall (s) | recall@3 |")
    print("|---|---|---|---|---|")
    configs = [
        # single-table: bits x probe (AND amplification + probe ball)
        *[(b, p, 1) for b in (4, 6, 8) for p in (False, True)],
        # multi-table OR amplification (the recall knob on weak clusters)
        (8, False, 2),
        (8, False, 4),
        (8, False, 8),
        (6, False, 4),
        (8, True, 4),
    ]
    for bits, probe, tables in configs:

        def graph():
            return lsh_probe_matmul_top_k(
                queries, emb, dim=64, bits=bits, k=K, exclude_self=True,
                multiprobe=probe, tables=tables, self_corpus=True,
            )

        wall = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            graph().count()
            wall = min(wall, time.perf_counter() - t0)
            clear_cached_relations(spark)
        approx = graph().select("query_id", "vec_id").collect()
        hits = sum(
            (r["query_id"], r["vec_id"]) in exact_set for r in approx
        )
        clear_cached_relations(spark)
        print(
            f"| {bits} | {'on' if probe else 'off'} | {tables} | {wall:.2f} "
            f"| {hits / exact_edges:.3f} |"
        )
    spark.stop()


if __name__ == "__main__":
    main(*(sys.argv[1:2] or []))
