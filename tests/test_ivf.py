"""IVF ANN: index on the embeddings fixture; probing must recover the
brute-force top-k when the query's cell(s) are probed."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from telemetry_parquet_spark.datapipe.ann_index import (
    build_ivf_table,
    ivf_table_topk,
)
from telemetry_parquet_spark.ml.kmeans_det import quantize_vectors
from telemetry_parquet_spark.sources.tables import load_table

N_CELLS, TOPK = 8, 5


def test_ivf_recovers_bruteforce_topk(spark, sf_dir, tmp_path):
    qvec = quantize_vectors(load_table(spark, sf_dir, "embeddings"))
    root = str(tmp_path / "ivfidx")
    build_ivf_table(spark, root, qvec, k=N_CELLS, iters=2)
    posts = (
        spark.read.parquet(os.path.join(root, "postings"))
        .select("vec_id", "qv", "cluster_id")
        .collect()
    )
    # all vectors assigned to exactly one cell
    assert sorted(p.vec_id for p in posts) == sorted(
        r.vec_id for r in qvec.select("vec_id").collect()
    )
    assert len({p.cluster_id for p in posts}) <= N_CELLS

    queries = qvec.where(F.col("vec_id") < 3)
    # the brute-force top-k: exact dot product over ALL vectors, self
    # excluded, ordered by (score desc, id asc) — in plain Python integers
    exact = {}
    for q in queries.select("vec_id", "qv").collect():
        ranked = sorted(
            (-sum(a * b for a, b in zip(q.qv, p.qv)), p.vec_id)
            for p in posts
            if p.vec_id != q.vec_id
        )[:TOPK]
        exact[q.vec_id] = [
            (cand, -neg, rank)
            for rank, (neg, cand) in enumerate(ranked, start=1)
        ]

    def probe(nprobe):
        out = {}
        for r in ivf_table_topk(
            spark, root, queries, k=N_CELLS, nprobe=nprobe, topk=TOPK,
            require_pruned=True,
        ).collect():
            out.setdefault(r.qid, []).append((r.cand_id, r.score_q, r.rank))
        return {q: sorted(rs, key=lambda t: t[2]) for q, rs in out.items()}

    # probing every cell == brute force (sanity ceiling)
    assert probe(N_CELLS) == exact

    # probing half the cells: recall of the top-5 should be high on this
    # fixture (the query vector's own cell holds its near neighbors)
    approx = probe(N_CELLS // 2)
    for q, want in exact.items():
        got = {cand for cand, _, _ in approx.get(q, [])}
        assert len(got & {cand for cand, _, _ in want}) >= 3
