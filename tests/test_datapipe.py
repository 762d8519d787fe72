"""Datapipe operator tests: dedup families find planted near-duplicates,
similarity search ranks planted neighbors first, LSH recall vs brute force."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from telemetry_parquet_spark.datapipe.dedup import (
    exact_dedup,
    jaccard,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash_fingerprints,
    simhash_near_dup_pairs,
)
from telemetry_parquet_spark.datapipe.similarity import (
    lsh_probe_matmul_top_k,
    matmul_batch_top_k,
)
from telemetry_parquet_spark.datapipe.text import language_id, quality_features


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(7)
    words = BASE.split()
    rows = []
    # 0/1: exact duplicates; 2: near-dup of 0 (one word changed);
    # 3: shuffled distant variant; 4..23: random unrelated docs
    rows.append((0, BASE))
    rows.append((1, BASE))
    near = words.copy()
    near[5] = "leaps"
    rows.append((2, " ".join(near)))
    shuffled = words.copy()
    rng.shuffle(shuffled)
    rows.append((3, " ".join(shuffled)))
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    for i in range(4, 24):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(30))))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs)
    ids = {r.doc_id for r in out.collect()}
    assert 0 in ids and 1 not in ids  # earliest id wins
    assert out.count() == docs.count() - 1


def test_ngram_jaccard_finds_planted_pair(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard_sim for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.6
    assert (0, 3) not in pairs  # shuffled text shares words, not 3-grams


def test_ngram_df_cap_drops_hot_shingles(spark, docs):
    """Hot-shingle guard: a shingle present in > df_cap docs must be excluded
    from the inverted-index self-join. Docs sharing ONLY the hot shingle lose
    their pair; genuinely similar pairs survive (their overlap is mostly
    non-hot shingles). With a high cap, output is identical to uncapped."""
    # 5 shared hot words -> 3 shared hot 3-grams per doc pair (J = 3/5 = 0.6)
    rows = [(i, f"xx yy zz ww vv unique{i}") for i in range(10)]
    rows += [(100, "alpha beta gamma delta epsilon"),
             (101, "alpha beta gamma delta epsilon")]
    hot_docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = {(r.id_a, r.id_b) for r in
              ngram_jaccard_pairs(hot_docs, threshold=0.2, df_cap=5).collect()}
    uncapped = {(r.id_a, r.id_b) for r in
                ngram_jaccard_pairs(hot_docs, threshold=0.2).collect()}
    # uncapped: the hot shingle links all 10 filler docs pairwise
    assert any(a < 10 and b < 10 for a, b in uncapped)
    # capped: those hot-only pairs are gone; the true duplicate pair survives
    assert not any(a < 10 and b < 10 for a, b in capped)
    assert (100, 101) in capped

    # a cap above every shingle's document frequency is a no-op
    high_cap = {(r.id_a, r.id_b, r.jaccard_sim) for r in
                ngram_jaccard_pairs(hot_docs, threshold=0.2, df_cap=1000).collect()}
    exact = {(r.id_a, r.id_b, r.jaccard_sim) for r in
             ngram_jaccard_pairs(hot_docs, threshold=0.2).collect()}
    assert high_cap == exact


def test_ngram_df_cap_plan_shape(spark, docs):
    """The guard must prune with a broadcast anti-join (tiny hot set), not a
    shuffle of the full index."""
    plan = ngram_jaccard_pairs(docs, threshold=0.5, df_cap=64)._jdf.queryExecution().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_minhash_agrees_with_exact_jaccard(spark, docs):
    mh = {(r.id_a, r.id_b) for r in
          minhash_near_dup_pairs(docs, threshold=0.5).collect()}
    exact = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    # verification step makes precision exact; banding (16 bands of 4) makes
    # recall ~1 at jaccard >= 0.5 on this fixture
    assert mh == exact and (0, 1) in mh


def test_lsh_band_width_follows_num_hashes(spark, docs):
    """Band slicing must derive from the actual signature length: a 32-hash
    signature in 8 bands still finds the planted duplicate, and a
    non-divisible (num_hashes, bands) combination is rejected instead of
    silently mis-slicing."""
    from telemetry_parquet_spark.datapipe.dedup import lsh_candidate_pairs, minhash_docs

    sigs32 = minhash_docs(docs, num_hashes=32)
    pairs = {(r.id_a, r.id_b) for r in
             lsh_candidate_pairs(sigs32, bands=8, num_hashes=32).collect()}
    assert (0, 1) in pairs  # identical docs always collide in every band

    mh32 = {(r.id_a, r.id_b) for r in
            minhash_near_dup_pairs(docs, threshold=0.5, num_hashes=32, bands=8).collect()}
    assert (0, 1) in mh32

    with pytest.raises(ValueError, match="divisible"):
        lsh_candidate_pairs(sigs32, bands=7, num_hashes=32)

    # a signature whose ACTUAL length disagrees with num_hashes must raise at
    # runtime, not silently band over truncated slices
    with pytest.raises(Exception, match="expected signature of 64"):
        lsh_candidate_pairs(sigs32, bands=16, num_hashes=64).collect()


def test_lsh_hot_duplicate_cluster_bounded(spark, sf_dir):
    """Viral-duplicate skew evidence (VERDICT r1 §9): make 10% of the corpus
    ONE identical document — a single LSH bucket then holds the whole hot
    cluster and the band self-join's biggest key explodes quadratically.
    The pipeline must (a) stay correct — every hot pair verified at J=1.0,
    capped by the candidate→verify design, and (b) complete in bounded time
    on a skew-join-enabled session (AQE splits oversized buckets at real
    scale; the plan stays a shuffle join, never a nested loop)."""
    import time

    from pyspark.sql import Row

    from telemetry_parquet_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hot_text = "the viral duplicate body that spreads across the corpus verbatim"
    skewed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 7, F.lit(hot_text)).otherwise(F.col("text")),
    )
    n_hot = skewed.where(F.col("text") == hot_text).count()
    assert n_hot >= 10  # ~10% of the corpus

    # the session this engine ships is skew-ready: AQE + skew-join on
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

    t0 = time.time()
    pairs = minhash_near_dup_pairs(skewed, threshold=0.5).collect()
    elapsed = time.time() - t0

    hot_pairs = [r for r in pairs if r.jaccard_sim == 1.0]
    # every hot-cluster pair survives the verify stage exactly once
    expect_hot = n_hot * (n_hot - 1) // 2
    hot_ids = {i for r in hot_pairs for i in (r.id_a, r.id_b)}
    assert len([r for r in hot_pairs if r.id_a in hot_ids and r.id_b in hot_ids]) >= expect_hot
    assert len(set((r.id_a, r.id_b) for r in pairs)) == len(pairs)  # no dup rows
    # bounded wall clock: quadratic only within the hot bucket (~n_hot²/2
    # verify rows), never corpus-wide
    assert elapsed < 120, f"hot-cluster run took {elapsed:.0f}s"


def test_simhash(spark, docs):
    fps = {r.doc_id: r.fp for r in simhash_fingerprints(docs).collect()}
    assert fps[0] == fps[1]  # identical docs -> identical fingerprints
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_near_dup_pairs(docs, max_hamming=3).collect()}
    assert pairs[(0, 1)] == 0
    # near-dup within small hamming distance
    assert any(p in pairs for p in [(0, 2), (1, 2)])


def test_brute_force_vs_lsh_similarity(spark):
    rng = random.Random(42)
    dim = 16

    def unit(v):
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    base = unit([rng.gauss(0, 1) for _ in range(dim)])
    rows = [(0, base)]
    # ids 1-5: tiny perturbations of base; 6-55: random
    for i in range(1, 6):
        rows.append((i, unit([x + rng.gauss(0, 0.01) for x in base])))
    for i in range(6, 56):
        rows.append((i, unit([rng.gauss(0, 1) for _ in range(dim)])))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame([(100, base)], ["query_id", "embedding"])

    exact = sorted(
        (-r.cos_micros, r.vec_id)
        for r in matmul_batch_top_k(queries, corpus, k=6).collect()
    )
    assert {v for _, v in exact} == {0, 1, 2, 3, 4, 5}
    assert exact[0][1] == 0  # the vector itself ranks first

    # LSH path: the query's identical twin (vec 0) shares its bucket, and
    # every reported neighbor carries the exact kernel's score
    exact_score = {v: -s for s, v in exact}
    lsh = lsh_probe_matmul_top_k(
        queries, corpus, dim=dim, bits=6, k=6, multiprobe=False
    ).collect()
    assert 0 in {r.vec_id for r in lsh}
    for r in lsh:
        if r.vec_id in exact_score:
            assert r.cos_micros == exact_score[r.vec_id]


def test_embedding_near_dup(spark):
    """Planted near-identical vectors must be found by both the exact and
    the LSH-blocked path; LSH output ⊆ exact output."""
    import random

    from telemetry_parquet_spark.datapipe.embedding_dedup import (
        embedding_cosine_pairs_exact,
        embedding_near_dup_pairs,
    )

    rng = random.Random(3)
    dim = 16

    def unit(v):
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    base = unit([rng.gauss(0, 1) for _ in range(dim)])
    rows = [(0, base), (1, unit([x + rng.gauss(0, 0.005) for x in base]))]
    for i in range(2, 40):
        rows.append((i, unit([rng.gauss(0, 1) for _ in range(dim)])))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {(r.id_a, r.id_b) for r in
             embedding_cosine_pairs_exact(emb, threshold=0.99).collect()}
    assert (0, 1) in exact

    lsh = {(r.id_a, r.id_b) for r in
           embedding_near_dup_pairs(emb, dim=dim, threshold=0.99, bits=8).collect()}
    assert (0, 1) in lsh           # near-identical vectors share the signature
    assert lsh <= exact            # verification keeps precision exact


def test_quality_and_language(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the garden and it is warm"),
            (2, "der hund ist in den garten und das ist gut"),
            (3, "xyzzy plugh !!!"),
        ],
        ["doc_id", "text"],
    )
    q = {r.doc_id: r for r in quality_features(df).collect()}
    assert q[1].q_n_tokens == 10
    assert q[1].q_stopword_ratio > 0.4
    assert q[3].q_punct_ratio > 0.1

    langs = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert langs[1] == "en"
    assert langs[2] == "de"
    assert langs[3] == "und"


# ---------------------------------------------------------------------------
# Oracle-precondition guards: the dd_* driver gates rest on two corpus
# properties; a data change must fail HERE (loudly, with the property named)
# rather than as a confusing parity diff.
# ---------------------------------------------------------------------------

_SHINGLE_SQL = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '\\s+'),
                t -> length(t) > 0) AS w
  FROM read_parquet('{path}')
), sh AS (
  SELECT doc_id,
    list_distinct(
      CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))
           ELSE [array_to_string(w, ' ')] END) AS shingles
  FROM toks
)
SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
"""


def _sf_paths():
    import glob
    import os

    return sorted(glob.glob("/root/testdata/sf*/documents.parquet"),
                  key=os.path.getsize)


def test_ngram_df_cap_precondition_no_hot_shingles():
    """dd_ngram_jaccard_pairs / dd_duplicate_components run with df_cap=64
    while their oracles compute exact UNCAPPED Jaccard — parity holds only
    while no shingle's document frequency exceeds the cap (nothing is ever
    dropped). Assert that property at every test sf."""
    import duckdb

    for path in _sf_paths():
        con = duckdb.connect()
        max_df = con.execute(
            f"SELECT MAX(df) FROM (SELECT COUNT(*) AS df FROM ({_SHINGLE_SQL.format(path=path)}) GROUP BY shingle)"
        ).fetchone()[0]
        con.close()
        assert max_df < 64, (
            f"{path}: max shingle document frequency {max_df} >= df_cap 64 — "
            "dd_ngram_jaccard_pairs would silently drop shingles and diverge "
            "from its exact oracle; lower the cap usage or re-derive the gate"
        )


def test_minhash_oracle_precondition_no_borderline_pairs():
    """dd_minhash_near_dup_pairs is gated against the EXACT Jaccard oracle on
    a recall-1 argument: every qualifying pair (J >= 0.5) must sit well above
    the banding threshold (J >= 0.75, where 16-bands-of-4 miss probability is
    <= (1-0.75^4)^16 ~ 2e-3). Assert the corpus keeps that margin at every sf
    so a data change fails at the precondition, not in the parity diff."""
    import duckdb

    pair_sql = """
    WITH exploded AS ({shingle_sql}),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM exploded GROUP BY doc_id
    ), inter AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_common
      FROM exploded l JOIN exploded r USING (shingle)
      WHERE l.doc_id < r.doc_id
      GROUP BY 1, 2
    )
    SELECT MIN(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common))
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """
    for path in _sf_paths():
        con = duckdb.connect()
        min_j = con.execute(
            pair_sql.format(shingle_sql=_SHINGLE_SQL.format(path=path))
        ).fetchone()[0]
        con.close()
        assert min_j is None or min_j >= 0.75, (
            f"{path}: a qualifying pair has Jaccard {min_j} < 0.75 — the "
            "MinHash banding recall-1 argument no longer holds; the "
            "dd_minhash_near_dup_pairs oracle gate would become flaky"
        )
