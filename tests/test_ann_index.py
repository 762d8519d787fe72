"""Persisted IVF index table (datapipe/ann_index.py): build layout,
frozen-quantizer incremental appends, partition-pruned probes, and
equivalence of the appended index with a frozen-assign rebuild.

Each index is built once per module (a k-means build is the expensive
step); every test gets its own ``copytree`` of it, so tests that append
or compact still start from the pristine build."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.datapipe.ann_index import (
    append_vectors,
    build_ivf_table,
    ivf_table_topk,
    load_centroids,
)
from telemetry_parquet_spark.ml.kmeans_det import (
    _matmul_assign_udf,
    quantize_vectors,
)
from telemetry_parquet_spark.sources.tables import load_table

K, ITERS = 64, 2


def _qvec(spark, sf_dir):
    return quantize_vectors(load_table(spark, sf_dir, "embeddings"))


@pytest.fixture(scope="module")
def built_index(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ann") / "ivfidx")
    qvec = _qvec(spark, sf_dir)
    build_ivf_table(
        spark, root, qvec.where(F.col("vec_id") % 10 != 9), k=K, iters=ITERS
    )
    return root


@pytest.fixture()
def index(built_index, tmp_path):
    root = str(tmp_path / "ivfidx")
    shutil.copytree(built_index, root)
    return root


def test_build_layout_and_centroid_contract(spark, sf_dir, index):
    # postings live in per-cell directories; centroids are <= k rows
    cents = load_centroids(spark, index)
    assert 1 < len(cents) <= K
    dirs = {
        d
        for d in os.listdir(os.path.join(index, "postings"))
        if d.startswith("cluster_id=")
    }
    assert {int(d.split("=")[1]) for d in dirs} <= {c for c, _ in cents}
    # every training vector is in exactly one cell
    n_train = (
        _qvec(spark, sf_dir).where(F.col("vec_id") % 10 != 9).count()
    )
    posts = spark.read.parquet(os.path.join(index, "postings"))
    assert posts.count() == n_train
    assert posts.select("vec_id").distinct().count() == n_train


def test_append_routes_by_frozen_centroids(spark, sf_dir, index):
    qvec = _qvec(spark, sf_dir)
    hold = qvec.where(F.col("vec_id") % 10 == 9)
    append_vectors(spark, index, hold, k=K)
    posts = spark.read.parquet(os.path.join(index, "postings"))
    assert posts.count() == qvec.count()
    # appended rows sit in the cell the frozen quantizer assigns
    cents = load_centroids(spark, index)
    expected = hold.select(
        "vec_id", _matmul_assign_udf(cents, K)(F.col("qv")).alias("cid")
    )
    got = posts.join(hold.select("vec_id"), "vec_id").select(
        "vec_id", F.col("cluster_id").cast("long").alias("cid")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_probe_reads_only_probed_cells(spark, sf_dir, index):
    qvec = _qvec(spark, sf_dir)
    queries = qvec.where(F.col("vec_id") < 3)
    out = ivf_table_topk(
        spark, index, queries, k=K, nprobe=2, topk=5, require_pruned=True
    )
    rows = out.collect()
    assert 0 < len(rows) <= 3 * 5
    # rank is dense from 1 per query and scores are non-increasing
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.score_q for r in rs]
        assert scores == sorted(scores, reverse=True)


def test_index_build_and_append_deterministic(spark, sf_dir, index, tmp_path):
    """The whole build+append pipeline is replayable: a second build
    from the same data yields byte-identical logical content (the
    property the recursive-CTE oracle of sim_ivf_persisted_topk relies
    on)."""
    qvec = _qvec(spark, sf_dir)
    append_vectors(
        spark, index, qvec.where(F.col("vec_id") % 10 == 9), k=K
    )
    root2 = str(tmp_path / "ivfidx2")
    build_ivf_table(
        spark, root2, qvec.where(F.col("vec_id") % 10 != 9), k=K,
        iters=ITERS,
    )
    append_vectors(
        spark, root2, qvec.where(F.col("vec_id") % 10 == 9), k=K
    )
    assert load_centroids(spark, index) == load_centroids(spark, root2)

    def content(root):
        return sorted(
            map(
                tuple,
                spark.read.parquet(os.path.join(root, "postings"))
                .select(
                    "vec_id", F.col("cluster_id").cast("long")
                )
                .collect(),
            )
        )

    assert content(index) == content(root2)


def test_dedup_append_is_idempotent(spark, sf_dir, index):
    qvec = _qvec(spark, sf_dir)
    hold = qvec.where(F.col("vec_id") % 10 == 9)
    append_vectors(spark, index, hold, k=K, dedup=True)
    n1 = spark.read.parquet(os.path.join(index, "postings")).count()
    # replayed batch: identical rows must vanish in the anti-join
    append_vectors(spark, index, hold, k=K, dedup=True)
    n2 = spark.read.parquet(os.path.join(index, "postings")).count()
    assert n1 == n2 == qvec.count()


def test_stream_index_vectors_matches_batch(spark, sf_dir, index, tmp_path):
    """availableNow streaming maintenance == batch append: two landing-
    zone drops drain into the index and the final content equals the
    batch-appended twin (frozen quantizer, idempotent routing)."""
    from telemetry_parquet_spark.datapipe.ann_index import (
        stream_index_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    emb.where(F.col("vec_id") % 10 == 9).where(
        F.col("vec_id") % 20 == 9
    ).write.mode("append").parquet(landing)
    stream_index_vectors(spark, landing, index, ckpt, k=K)
    emb.where(F.col("vec_id") % 10 == 9).where(
        F.col("vec_id") % 20 != 9
    ).write.mode("append").parquet(landing)
    stream_index_vectors(spark, landing, index, ckpt, k=K)
    got = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(index, "postings"))
            .select("vec_id", F.col("cluster_id").cast("long"))
            .collect(),
        )
    )
    qvec = _qvec(spark, sf_dir)
    cents = load_centroids(spark, index)
    want_hold = qvec.where(F.col("vec_id") % 10 == 9).select(
        "vec_id", _matmul_assign_udf(cents, K)(F.col("qv")).alias("cid")
    )
    want = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(index, "postings"))
            .where(~F.col("vec_id").isin(
                [int(r.vec_id) for r in want_hold.select("vec_id").collect()]
            ))
            .select("vec_id", F.col("cluster_id").cast("long"))
            .union(want_hold)
            .collect(),
        )
    )
    assert got == want


def test_compact_index_preserves_content(spark, sf_dir, index):
    from telemetry_parquet_spark.datapipe.ann_index import compact_index

    qvec = _qvec(spark, sf_dir)
    hold = qvec.where(F.col("vec_id") % 10 == 9)
    # several small appends -> file fragmentation
    for m in (9, 19):
        append_vectors(
            spark, index, hold.where(F.col("vec_id") % 20 == m), k=K
        )

    def content():
        return sorted(
            map(
                tuple,
                spark.read.parquet(os.path.join(index, "postings"))
                .select("vec_id", F.col("cluster_id").cast("long"))
                .collect(),
            )
        )

    before_rows = content()
    n_before, n_after = compact_index(spark, index)
    assert n_after < n_before
    # one file per cell
    posts_dir = os.path.join(index, "postings")
    cells = [d for d in os.listdir(posts_dir) if d.startswith("cluster_id=")]
    assert n_after == len(cells)
    assert content() == before_rows
    # probes still work on the compacted layout
    out = ivf_table_topk(
        spark, index, qvec.where(F.col("vec_id") < 2), k=K, nprobe=2,
        topk=5, require_pruned=True,
    )
    assert out.count() > 0


# ---------------- IVF-PQ (codes in postings, vectors separate) -------------


from telemetry_parquet_spark.datapipe.ann_index import (  # noqa: E402
    _load_codebook,
    append_vectors_pq,
    build_ivfpq_table,
    ivfpq_table_topk,
)

K_PQ, M_SUB, K_CODE = 8, 4, 8


@pytest.fixture(scope="module")
def built_pq_index(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ann") / "ivfpqidx")
    qvec = _qvec(spark, sf_dir)
    build_ivfpq_table(
        spark, root, qvec.where(F.col("vec_id") % 10 != 9),
        k=K_PQ, iters=ITERS, m_sub=M_SUB, k_code=K_CODE,
    )
    return root


@pytest.fixture()
def pq_index(built_pq_index, tmp_path):
    root = str(tmp_path / "ivfpqidx")
    shutil.copytree(built_pq_index, root)
    return root


def test_ivfpq_layout_and_separated_relations(spark, sf_dir, pq_index):
    """Codes and raw vectors live in SEPARATE cell-partitioned
    relations — the ADC scan never pays raw-vector bytes — and the
    codebook persists (m_sub, k_code, subdim)."""
    posts = spark.read.parquet(os.path.join(pq_index, "postings"))
    vecs = spark.read.parquet(os.path.join(pq_index, "vectors"))
    assert set(posts.columns) == {"vec_id", "codes", "cluster_id"}
    assert set(vecs.columns) == {"vec_id", "qv", "cluster_id"}
    assert posts.count() == vecs.count()
    r = posts.first()
    assert len(r.codes) == M_SUB
    assert all(0 <= c < K_CODE for c in r.codes)
    cb = _load_codebook(spark, pq_index)
    assert cb.shape[:2] == (M_SUB, K_CODE)


def test_ivfpq_append_frozen_models(spark, sf_dir, pq_index):
    """Appends route under the frozen quantizer AND encode under the
    frozen codebook: no pre-existing file is touched, and the appended
    rows' codes equal a fresh encode under the same codebook."""
    import numpy as np

    from telemetry_parquet_spark.datapipe.ann_index import _pq_encode_udf

    def _files(d):
        return {
            os.path.join(dp, n)
            for dp, _, ns in os.walk(d)
            for n in ns
            if n.endswith(".parquet")
        }

    qvec = _qvec(spark, sf_dir)
    hold = qvec.where(F.col("vec_id") % 10 == 9)
    before = _files(os.path.join(pq_index, "postings")) | _files(
        os.path.join(pq_index, "vectors"))
    append_vectors_pq(spark, pq_index, hold, k=K_PQ)
    after = _files(os.path.join(pq_index, "postings")) | _files(
        os.path.join(pq_index, "vectors"))
    assert before < after
    cb = _load_codebook(spark, pq_index)
    enc = _pq_encode_udf(cb)
    expect = {
        int(r.vec_id): list(r.codes)
        for r in hold.select(
            "vec_id", enc(F.col("qv")).alias("codes")).collect()
    }
    hold_ids = set(expect)
    got = {
        int(r.vec_id): list(r.codes)
        for r in spark.read.parquet(
            os.path.join(pq_index, "postings")).collect()
        if int(r.vec_id) in hold_ids
    }
    assert got == expect


def test_ivfpq_probe_pruned_and_raises_on_stray(spark, sf_dir, pq_index):
    """Both probe scans are raise-proven cell-pruned; a stray file
    planted outside any cluster_id directory trips the check."""
    qvec = _qvec(spark, sf_dir)
    queries = qvec.where(F.col("vec_id") < 3)
    out = ivfpq_table_topk(
        spark, pq_index, queries, k=K_PQ, nprobe=2, adc_m=8, topk=5,
        require_pruned=True,
    ).collect()
    assert 0 < len(out) <= 3 * 5
    # the raise path itself: a scan whose post-prune file set touches a
    # cell outside the probed list must trip the check (this is what
    # fires if the isin filter ever stops reaching the file listing)
    from telemetry_parquet_spark.datapipe.ann_index import (
        _require_cell_pruned,
    )

    posts_dir = os.path.join(pq_index, "postings")
    all_cells = sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(posts_dir)
        if n.startswith("cluster_id=")
    )
    assert len(all_cells) >= 2
    unfiltered = spark.read.parquet(posts_dir)
    with pytest.raises(RuntimeError, match="escaped the probed cells"):
        _require_cell_pruned(unfiltered, all_cells[:1], "ADC (postings)")


def test_ivfpq_recall_floor_vs_exact_ivf(spark, sf_dir, tmp_path):
    """The ADC shortcut must not wreck retrieval quality: with the SAME
    cells and probes, IVF-PQ@10 keeps >= 60% of the exact-IVF top-10
    (deterministic data -> deterministic recall; measured ~0.8+)."""
    qvec = _qvec(spark, sf_dir)
    train = qvec.where(F.col("vec_id") % 10 != 9)
    r_exact = str(tmp_path / "exact")
    r_pq = str(tmp_path / "pq")
    build_ivf_table(spark, r_exact, train, k=K_PQ, iters=ITERS)
    build_ivfpq_table(spark, r_pq, train, k=K_PQ, iters=ITERS,
                      m_sub=M_SUB, k_code=16)
    queries = qvec.where(F.col("vec_id") < 5)
    exact = {}
    for r in ivf_table_topk(
        spark, r_exact, queries, k=K_PQ, nprobe=2, topk=10,
        require_pruned=False,
    ).collect():
        exact.setdefault(r.qid, set()).add(r.cand_id)
    approx = {}
    for r in ivfpq_table_topk(
        spark, r_pq, queries, k=K_PQ, nprobe=2, adc_m=32, topk=10,
        require_pruned=False,
    ).collect():
        approx.setdefault(r.qid, set()).add(r.cand_id)
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q])
        for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls
