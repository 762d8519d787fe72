"""Behavior tests for triangle counting (operators/graph_metrics.py) and
BM25 retrieval (datapipe/retrieval.py) — the cross-engine value checks live
in test_oracle_parity.py; these pin the operator semantics on hand-built
inputs where the right answer is computable by eye (or by a brute-force
reference in plain Python)."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.datapipe.retrieval import bm25_top_k
from telemetry_parquet_spark.datapipe.similarity import (
    MAX_QUERY_BATCH,
    QueryBatchTooLarge,
    int_sigs_udf,
    lsh_probe_matmul_top_k,
    matmul_batch_top_k,
)
from telemetry_parquet_spark.operators.graph_metrics import (
    canonical_edges,
    triangle_counts,
)


def _counts(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        r["node_id"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }


def test_two_triangles_sharing_an_edge(spark):
    # 1-2-3 and 2-3-4 share edge (2,3)
    got = _counts(spark, [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)])
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_directed_duplicates_and_loops_are_canonicalized(spark):
    # same triangle given as both directions + a loop + a repeat
    got = _counts(spark, [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_no_triangles_in_a_star(spark):
    # hub-and-spoke has wedges everywhere but no closing edges — the case
    # where a naive Σ deg² enumeration does all its work for nothing
    got = _counts(spark, [(0, i) for i in range(1, 8)])
    assert got == {}


def test_triangle_counts_match_bruteforce_on_random_graph(spark):
    rng = random.Random(7)
    nodes = list(range(20))
    edges = sorted(
        {(a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.3}
    )
    eset = set(edges)
    expect: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in eset and (b, c) in eset and (a, c) in eset:
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    assert _counts(spark, edges) == expect


def test_canonical_edges_dedups_both_directions(spark):
    df = spark.createDataFrame([(5, 3), (3, 5), (3, 5), (4, 4)], ["src", "dst"])
    rows = {(r["a"], r["b"]) for r in canonical_edges(df).collect()}
    assert rows == {(3, 5)}


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def test_bm25_only_matching_docs_are_scored(spark):
    docs = _docs(spark, ["apple banana", "cherry date", "apple apple fig"])
    out = bm25_top_k(spark, docs, ["apple"], k=10).collect()
    assert {r["doc_id"] for r in out} == {0, 2}
    assert all(r["bm25"] > 0 for r in out)


def test_bm25_rewards_tf_and_penalizes_length(spark):
    # doc 1 repeats the term in the same length → higher score than doc 0;
    # doc 2 has the same single occurrence diluted in a longer doc → lower
    docs = _docs(
        spark,
        [
            "target filler filler filler",
            "target target filler filler",
            "target filler filler filler filler filler filler filler",
        ],
    )
    got = {
        r["doc_id"]: r["bm25"] for r in bm25_top_k(spark, docs, ["target"]).collect()
    }
    assert got[1] > got[0] > got[2]


def test_bm25_micros_is_the_exact_sort_key(spark):
    docs = _docs(spark, ["a b c", "a a b", "b c c a"])
    rows = bm25_top_k(spark, docs, ["a", "c"], k=10).collect()
    micros = [r["bm25_micros"] for r in rows]
    assert micros == sorted(micros, reverse=True)
    for r in rows:
        assert r["bm25"] == round(r["bm25_micros"] / 1e6, 6)


def _edges(df) -> set:
    return {(r["query_id"], r["vec_id"]) for r in df.collect()}


def test_matmul_batch_top_k_exclude_self(spark):
    vecs = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    corpus = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = corpus.select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = matmul_batch_top_k(queries, corpus, k=2, exclude_self=True).collect()
    assert all(r["query_id"] != r["vec_id"] for r in out)
    per_q: dict[int, int] = {}
    for r in out:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v == 2 for v in per_q.values()) and len(per_q) == 4


def test_matmul_batch_top_k_bounds_the_query_batch(spark):
    """The query batch is collected to the driver, so one row past
    MAX_QUERY_BATCH raises the named error (stating the count and the
    bound) instead of growing the driver matrix without limit."""
    rows = [(i, [1.0, (i % 100) / 100.0]) for i in range(MAX_QUERY_BATCH + 1)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(QueryBatchTooLarge, match=str(MAX_QUERY_BATCH)):
        matmul_batch_top_k(queries, corpus, k=1)
    # exactly at the bound the batch is accepted
    ok = matmul_batch_top_k(queries.limit(MAX_QUERY_BATCH), corpus, k=1)
    assert ok.count() == MAX_QUERY_BATCH


def test_lsh_knn_graph_finds_planted_twins(spark):
    """Cosine-LSH KNN graph: planted near-identical twins (cosine ≈ 0.999)
    agree on all 4 signature bits with probability (1 - θ/π)^4 ≈ 0.98, so
    twin recall must be high — while the bucket rescore compares only
    Σ|bucket|² pairs, never corpus². Seeded and deterministic."""
    import random as _random

    rng = _random.Random(123)
    rows = []
    for i in range(60):
        base = [rng.gauss(0.0, 1.0) for _ in range(16)]
        rows.append((i, base))
        # twin of i is i+1000: tiny perturbation, cosine ≈ 0.999
        rows.append((i + 1000, [x + rng.gauss(0.0, 0.01) for x in base]))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = corpus.select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).where(F.col("query_id") < 1000)
    out = lsh_probe_matmul_top_k(
        q, corpus, dim=16, bits=4, k=1, exclude_self=True, multiprobe=False
    ).collect()
    found = sum(1 for r in out if r["vec_id"] == r["query_id"] + 1000)
    assert found >= 48  # ≥80% of 60 twins ranked as their base's top-1


def test_lsh_knn_graph_subset_of_bucketmates_with_true_scores(spark):
    """Every reported neighbor must share the query's signature bucket and
    carry its EXACT score (the rescore stage is exact — approximation only
    prunes candidates, never distorts scores). The truth is the exact
    batch kernel's score for the same pair."""
    import random as _random

    rng = _random.Random(5)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(80)
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    sigs = {
        r["vec_id"]: r["s"][0]
        for r in corpus.select(
            "vec_id", int_sigs_udf(8, 4, 1, 42)("embedding").alias("s")
        ).collect()
    }
    q = corpus.select(F.col("vec_id").alias("query_id"), "embedding")
    truth = {
        (r["query_id"], r["vec_id"]): r["cos_micros"]
        for r in matmul_batch_top_k(
            q, corpus, k=len(rows), exclude_self=True
        ).collect()
    }
    out = lsh_probe_matmul_top_k(
        q, corpus, dim=8, bits=4, k=3, seed=42, exclude_self=True,
        multiprobe=False,
    ).collect()
    assert out
    for r in out:
        assert sigs[r["query_id"]] == sigs[r["vec_id"]]
        assert r["cos_micros"] == truth[(r["query_id"], r["vec_id"])]


def _lpa_reference(edges, iters):
    """Pure-Python synchronous LPA with (max count, min label) votes."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lbl = {n: n for n in adj}
    for _ in range(iters):
        nxt = {}
        for n in adj:
            votes = defaultdict(int)
            for m in adj[n]:
                votes[lbl[m]] += 1
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        lbl = nxt
    return lbl


def test_label_propagation_matches_python_reference(spark):
    from telemetry_parquet_spark.operators.graph_metrics import label_propagation

    rng = random.Random(11)
    edges = sorted(
        {
            (a, b)
            for a, b in itertools.combinations(range(24), 2)
            if rng.random() < 0.25
        }
    )
    for iters in (1, 3, 4):
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["node_id"]: r["community"]
            for r in label_propagation(df, iters=iters).collect()
        }
        assert got == _lpa_reference(edges, iters)


def test_label_propagation_separates_two_cliques(spark):
    """Two 5-cliques joined by one bridge edge must settle into exactly two
    communities (each clique floods to its own min label)."""
    from telemetry_parquet_spark.operators.graph_metrics import label_propagation

    c1 = list(itertools.combinations(range(5), 2))
    c2 = list(itertools.combinations(range(10, 15), 2))
    edges = c1 + c2 + [(4, 10)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node_id"]: r["community"]
        for r in label_propagation(df, iters=4).collect()
    }
    assert len({got[n] for n in range(5)}) == 1
    assert len({got[n] for n in range(10, 15)}) == 1
    assert got[0] != got[10]


def test_multiprobe_improves_recall_at_same_bits(spark, sf_dir):
    """At equal bits, probing the Hamming-1 ball must recover at least as
    many exact top-k neighbors as single-probe — and on this corpus,
    strictly more (the whole point of multi-probe)."""
    from telemetry_parquet_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    exact = _edges(matmul_batch_top_k(q, emb, k=3, exclude_self=True))

    def recall(multiprobe):
        got = _edges(lsh_probe_matmul_top_k(
            q, emb, dim=64, bits=6, k=3,
            exclude_self=True, multiprobe=multiprobe,
        ))
        return len(got & exact) / len(exact)

    single, multi = recall(False), recall(True)
    assert multi >= single
    assert multi > single  # 7 probes vs 1 on 64 cells: strictly better here


def test_multi_table_lsh_recall_and_dedup(spark):
    """The round-8 default config (bits=8, tables=8, no probe — picked
    from the SCALE.md frontier): OR-amplification must beat the single
    8-bit table on planted moderate-similarity neighbors, emit no
    duplicate (query, candidate) edges despite multi-table collisions,
    and clear an absolute recall floor from the amplification math
    (neighbors at cosine ≈ 0.95: p = 1 - θ/π ≈ 0.9, single table
    p^8 ≈ 0.43, eight tables 1-(1-p^8)^8 ≈ 0.99)."""
    import random as _random

    rng = _random.Random(77)
    rows = []
    for i in range(80):
        base = [rng.gauss(0.0, 1.0) for _ in range(16)]
        rows.append((i, base))
        # moderate-similarity partner: cosine ≈ 0.95
        rows.append((i + 1000, [x + rng.gauss(0.0, 0.33) for x in base]))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = corpus.select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).where(F.col("query_id") < 1000)

    def run(tables):
        out = lsh_probe_matmul_top_k(
            q, corpus, dim=16, bits=8, k=1, exclude_self=True,
            multiprobe=False, tables=tables,
        ).collect()
        edges = [(r["query_id"], r["vec_id"]) for r in out]
        assert len(edges) == len(set(edges))  # no duplicate edges
        return sum(1 for s, d in edges if d == s + 1000) / 80

    single, multi = run(1), run(8)
    assert multi > single
    assert multi >= 0.9


def test_or_amplification_recall_on_clustered_corpus(spark):
    """The SCALE.md frontier default (bits=8, tables=8) must achieve HIGH
    ABSOLUTE recall once the corpus is actually clustered — the claim the
    r8 verdict found asserted-but-unmeasured (the bench corpus's top
    neighbors sit at cosine ≈ 0.4, where only the lift metric is
    defensible). Planted geometry: 50 clusters x 12 members, within-
    cluster cosine ≈ 1/(1+σ²d) ≈ 0.93 → collision p = 1 - θ/π ≈ 0.88 per
    hyperplane, so OR-amplified candidate probability is
    1-(1-p^8)^8 ≈ 0.96; measured top-5 recall vs the exact batch-KNN
    ground truth must clear 0.9. Seeded and deterministic."""
    import math as _math
    import random as _random

    rng = _random.Random(7)
    dim, rows, vid = 32, [], 0
    for _c in range(50):
        base = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        nb = _math.sqrt(sum(x * x for x in base))
        base = [x / nb for x in base]
        for _m in range(12):
            rows.append((vid, [x + rng.gauss(0.0, 0.05) for x in base]))
            vid += 1
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")
    truth = _edges(matmul_batch_top_k(queries, corpus, k=5, exclude_self=True))
    approx = _edges(lsh_probe_matmul_top_k(
        queries, corpus, dim=dim, bits=8, k=5, tables=8,
        exclude_self=True, multiprobe=False,
    ))
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.9, f"clustered-corpus recall {recall:.3f} < 0.9"


def test_int_sigs_udf_matches_driver_recomputation(spark):
    """The Arrow int-signature pass equals a plain-Python recomputation of
    the same quantized integer dots — guards the matmul, the sign rule
    (dot >= 0 sets the bit), and the per-table bit packing."""
    import math as _math
    import random as _random

    from telemetry_parquet_spark.datapipe.similarity import (
        _hyperplanes,
        int_sigs_udf,
        quantize_plane,
        table_seed,
    )

    dim, bits, tables, seed = 8, 5, 3, 42
    rng = _random.Random(11)
    rows = [(i, [rng.uniform(-0.9, 0.9) for _ in range(dim)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r.vec_id: list(r.s)
        for r in df.select(
            "vec_id", int_sigs_udf(dim, bits, tables, seed)("embedding").alias("s")
        ).collect()
    }
    for vid, vec in rows:
        qv = [int(_math.floor(x * 1e6 + 0.5)) for x in vec]
        want = []
        for t in range(tables):
            planes = _hyperplanes(dim, bits, table_seed(seed, t))
            sig = 0
            for i, p in enumerate(planes):
                qp = quantize_plane(p)
                if sum(a * b for a, b in zip(qv, qp)) >= 0:
                    sig |= 1 << i
            want.append(sig)
        assert got[vid] == want, vid


def test_matmul_batch_topk_partition_invariant(spark):
    """matmul_batch_top_k's per-partition trim must be invariant to the
    corpus partitioning (the trim orders by the SAME (cos_micros, id) key
    as the final window, so each partition's top-k is a superset of its
    contribution to the global top-k) — and zero-norm vectors are
    excluded, queries included."""
    import random as _random

    rng = _random.Random(3)
    rows = [(i, [rng.uniform(-0.8, 0.8) for _ in range(12)]) for i in range(150)]
    rows.append((900, [0.0] * 12))  # zero vector: excluded both sides
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.where(F.col("vec_id") < 5).union(
        corpus.where(F.col("vec_id") == 900)
    ).select(F.col("vec_id").alias("query_id"), "embedding")

    def run(df):
        return sorted(
            (r.query_id, r.vec_id, r.cos_micros)
            for r in matmul_batch_top_k(
                queries, df, k=4, exclude_self=True
            ).collect()
        )

    a = run(corpus.repartition(7))
    b = run(corpus.coalesce(1))
    assert a == b
    qids = {t[0] for t in a}
    assert qids == set(range(5))  # zero-norm query dropped
    assert all(t[1] != 900 for t in a)  # zero-norm corpus row never appears
    per_q = {}
    for q, _, _ in a:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(v == 4 for v in per_q.values())


def test_lsh_probe_matmul_matches_numpy_oracle(spark):
    """lsh_probe_matmul_top_k must equal a direct numpy replay of its
    contract — quantized signatures, Hamming ≤ 1 candidate ball, integer
    micro-cosine rescore, (cos_micros desc, id asc) top-k — and be
    invariant to input partitioning (the per-bucket trim key IS the
    final rank key). Zero vectors are excluded on both sides."""
    import random as _random

    import numpy as np

    from telemetry_parquet_spark.datapipe.similarity import (
        SIG_SCALE,
        _hyperplanes,
        lsh_probe_matmul_top_k,
        quantize_plane,
        table_seed,
    )

    dim, bits, k = 12, 4, 3
    rng = _random.Random(11)
    rows = [
        (i, [rng.uniform(-0.9, 0.9) for _ in range(dim)]) for i in range(120)
    ]
    rows.append((900, [0.0] * dim))  # zero vector: excluded both sides
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")

    # --- numpy replay of the whole contract ---
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    m = np.array([r[1] for r in rows], dtype=np.float64)
    qm = np.floor(m * float(SIG_SCALE) + 0.5).astype(np.int64)
    qp = np.array(
        [quantize_plane(p) for p in _hyperplanes(dim, bits, table_seed(42, 0))],
        dtype=np.int64,
    )
    sigs = ((qm @ qp.T >= 0) @ (1 << np.arange(bits))).astype(np.int64)
    n2 = (qm * qm).sum(axis=1)
    ok = n2 > 0
    ids, qm, sigs, n2 = ids[ok], qm[ok], sigs[ok], n2[ok]
    norm = np.sqrt(n2.astype(np.float64))
    want = set()
    for i in range(len(ids)):
        ham = np.array(
            [bin(int(sigs[i] ^ s)).count("1") for s in sigs], dtype=np.int64
        )
        cand = (ham <= 1) & (ids != ids[i])
        cids = ids[cand]
        if len(cids) == 0:
            continue
        s = (qm[cand] @ qm[i]) / (norm[cand] * norm[i])
        micros = np.floor(s * 1e6 + 0.5).astype(np.int64)
        top = np.lexsort((cids, -micros))[:k]
        for j in top:
            want.add((int(ids[i]), int(cids[j]), int(micros[j])))

    def run(c, q):
        return set(
            (r.query_id, r.vec_id, r.cos_micros)
            for r in lsh_probe_matmul_top_k(
                q, c, dim=dim, bits=bits, k=k, exclude_self=True
            ).collect()
        )

    got = run(corpus.repartition(7), queries.repartition(5))
    assert got == want
    assert run(corpus.coalesce(1), queries.coalesce(1)) == got
    assert all(t[0] != 900 and t[1] != 900 for t in got)


def test_lsh_tables_matmul_matches_numpy_oracle(spark):
    """Multi-table mode of lsh_probe_matmul_top_k: candidates are the
    UNION of per-table signature buckets, duplicates collapse (same pair,
    same integer score from any table), and the result replays exactly in
    numpy — partition-invariant."""
    import random as _random

    import numpy as np

    from telemetry_parquet_spark.datapipe.similarity import (
        SIG_SCALE,
        _hyperplanes,
        lsh_probe_matmul_top_k,
        quantize_plane,
        table_seed,
    )

    dim, bits, k, tables = 10, 3, 2, 4
    rng = _random.Random(23)
    rows = [
        (i, [rng.uniform(-0.9, 0.9) for _ in range(dim)]) for i in range(90)
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    m = np.array([r[1] for r in rows], dtype=np.float64)
    qm = np.floor(m * float(SIG_SCALE) + 0.5).astype(np.int64)
    sigs = []
    for t in range(tables):
        qp = np.array(
            [
                quantize_plane(p)
                for p in _hyperplanes(dim, bits, table_seed(42, t))
            ],
            dtype=np.int64,
        )
        sigs.append(((qm @ qp.T >= 0) @ (1 << np.arange(bits))).astype(np.int64))
    n2 = (qm * qm).sum(axis=1)
    norm = np.sqrt(n2.astype(np.float64))
    want = set()
    for i in range(len(ids)):
        cand = np.zeros(len(ids), dtype=bool)
        for t in range(tables):
            cand |= sigs[t] == sigs[t][i]
        cand &= ids != ids[i]
        cids = ids[cand]
        if len(cids) == 0:
            continue
        s = (qm[cand] @ qm[i]) / (norm[cand] * norm[i])
        micros = np.floor(s * 1e6 + 0.5).astype(np.int64)
        top = np.lexsort((cids, -micros))[:k]
        for j in top:
            want.add((int(ids[i]), int(cids[j]), int(micros[j])))

    def run(c, q):
        out = lsh_probe_matmul_top_k(
            q, c, dim=dim, bits=bits, k=k, exclude_self=True,
            multiprobe=False, tables=tables,
        ).collect()
        edges = [(r.query_id, r.vec_id, r.cos_micros) for r in out]
        assert len(edges) == len(set(edges))  # cross-table dedup held
        return set(edges)

    got = run(corpus.repartition(6), queries.repartition(4))
    assert got == want
    assert run(corpus.coalesce(1), queries.coalesce(1)) == got


def test_lsh_self_corpus_path_equals_two_sided(spark):
    """The self_corpus fast path (one scan, one signature pass, role-tagged
    single-sided rescore — the sim_knn_graph_lsh* shape) must produce
    EXACTLY the two-sided cogroup's rows in every config: multiprobe,
    multi-table, zero vectors, and under any input partitioning."""
    import random as _random

    from telemetry_parquet_spark.datapipe.similarity import (
        lsh_probe_matmul_top_k,
    )

    dim, k = 10, 3
    rng = _random.Random(7)
    rows = [
        (i, [rng.uniform(-0.9, 0.9) for _ in range(dim)]) for i in range(110)
    ]
    rows.append((900, [0.0] * dim))  # zero vector: excluded both sides
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.select(F.col("vec_id").alias("query_id"), "embedding")

    configs = [
        dict(bits=4, multiprobe=True, tables=1),   # probe ball
        dict(bits=3, multiprobe=False, tables=4),  # OR-amplified tables
        dict(bits=4, multiprobe=False, tables=1),  # plain buckets
    ]
    for cfg in configs:
        two = set(
            (r.query_id, r.vec_id, r.cos_micros)
            for r in lsh_probe_matmul_top_k(
                queries, corpus, dim=dim, k=k, exclude_self=True, **cfg
            ).collect()
        )
        one = set(
            (r.query_id, r.vec_id, r.cos_micros)
            for r in lsh_probe_matmul_top_k(
                queries, corpus.repartition(5), dim=dim, k=k,
                exclude_self=True, self_corpus=True, **cfg
            ).collect()
        )
        assert one == two, cfg
