"""LLM-data-pipeline queries over documents + embeddings (Phase 4 surface).

Oracle-checked where DuckDB can express the same semantics; the xxhash64-based
sketch pipelines (MinHash/SimHash) register without an oracle (driver records
the rows-only check) and carry pytest coverage instead
(tests/test_datapipe.py) since their hash family is Spark-specific.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_parquet_spark.queries.registry import query
from telemetry_parquet_spark.sources.tables import load_table, read_parquet


@query(
    "dd_exact_dedup_groups",
    oracle="""
    SELECT
      md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_md5,
      MIN(doc_id) AS keeper_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dd_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: hash-groupBy on normalized-content md5; shuffle
    carries (hash, id) only."""
    from telemetry_parquet_spark.datapipe.dedup import exact_dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs)


@query(
    "dd_prefix_fingerprint_groups",
    oracle="""
    SELECT fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM (
      SELECT doc_id,
        md5(array_to_string(
          (list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> length(t) > 0))[1:5], ' ')) AS fp
      FROM documents
    )
    GROUP BY fp
    """,
)
def dd_prefix_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: first-5-normalized-words prefix hash (the
    md5 variant so DuckDB can check; the library's xxhash64 variant is
    pytest-covered)."""
    from telemetry_parquet_spark.datapipe.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.slice(tokens(F.lower(F.col("text"))), 1, 5), " "))
    return (
        docs.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


@query(
    "text_stats",
    oracle="""
    SELECT
      doc_id,
      CAST(length(text) AS BIGINT) AS q_n_chars,
      CAST(len(list_filter(string_split_regex(text, '\\s+'),
                           t -> length(t) > 0)) AS BIGINT) AS q_n_tokens,
      CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
        / len(list_filter(string_split_regex(text, '\\s+'),
                          t -> length(t) > 0)) AS q_mean_token_len,
      CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / length(text)
        AS q_punct_ratio,
      CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text)
        AS q_alpha_ratio,
      CAST(len(list_filter(string_split_regex(text, '\\s+'),
             t -> list_contains(['the','a','of','and','to','in','is','it'],
                                lower(t)))) AS DOUBLE)
        / len(list_filter(string_split_regex(text, '\\s+'),
                          t -> length(t) > 0)) AS q_stopword_ratio
    FROM documents
    WHERE length(text) > 0
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features per document (length / punctuation / stopword
    ratios) — all JVM-side expressions, no UDF."""
    from telemetry_parquet_spark.datapipe.text import quality_features

    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    return quality_features(docs).select(
        "doc_id",
        "q_n_chars",
        "q_n_tokens",
        "q_mean_token_len",
        "q_punct_ratio",
        "q_alpha_ratio",
        "q_stopword_ratio",
    )


@query(
    "lang_id",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_transform(
          list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0),
          t -> lower(t)) AS w
      FROM documents
    ), hits AS (
      SELECT doc_id,
        len(list_filter(w, t -> list_contains(
          ['the','a','of','and','to','in','is','it'], t))) AS h_en,
        len(list_filter(w, t -> list_contains(
          ['el','la','de','y','en','que','los','es'], t))) AS h_es,
        len(list_filter(w, t -> list_contains(
          ['der','die','das','und','in','zu','den','ist'], t))) AS h_de,
        len(list_filter(w, t -> list_contains(
          ['le','la','de','et','en','que','les','est'], t))) AS h_fr
      FROM toks
    )
    SELECT doc_id,
      CASE WHEN greatest(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
           WHEN h_fr >= h_en AND h_fr >= h_es AND h_fr >= h_de THEN 'fr'
           WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
           WHEN h_en >= h_de THEN 'en'
           ELSE 'de' END AS lang_pred
    FROM hits
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-density language ID (argmax over per-language hit counts;
    ties break toward the lexicographically-later language code, which is
    what the struct-max implements)."""
    from telemetry_parquet_spark.datapipe.text import language_id

    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang_pred")


@query(
    "sim_brute_force_topk",
    oracle="""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ), pairs AS (
      SELECT e.vec_id,
             UNNEST(CAST(e.embedding AS DOUBLE[])) AS a,
             UNNEST(q.qv) AS b
      FROM embeddings e, q
    ), scored AS (
      SELECT vec_id,
             round(SUM(a*b) / (sqrt(SUM(a*a)) * sqrt(SUM(b*b))), 6) AS cosine_sim
      FROM pairs GROUP BY vec_id
    )
    SELECT vec_id, cosine_sim
    FROM scored
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def sim_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: query vector = embedding of vec_id 0,
    broadcast cross join + double-precision fold + TakeOrderedAndProject.
    Scores rounded to 6 digits on both sides so the float fold order can't
    flip the comparison."""
    from telemetry_parquet_spark.datapipe.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("__qv"))
    return (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("__qv")), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _knn_lsh_oracle(
    dim: int = 64,
    bits: int = 4,
    seed: int = 42,
    k: int = 3,
    max_hamming: int = 0,
    tables: int = 1,
) -> str:
    """DuckDB replay of ``lsh_probe_matmul_top_k``'s KNN graph: the
    hyperplanes are deterministic driver constants (same ``_hyperplanes``
    call as the Spark side), so the signature, the bucket self-join, the
    rescore, and the per-query ranking all replay exactly — the whole
    APPROXIMATE ANN config sits under an exact cross-engine gate (the
    ``dd_embedding_near_dup_lsh`` precedent, extended to ranked output).
    ``tables`` > 1 states the OR-amplified candidate set directly: a pair
    is a candidate if ANY table's signatures match — proving the Spark
    side's explode + cogroup + distinct implements exactly that union.

    Both vector and planes go through floor(x·10⁶ + 0.5) (``int_sigs_udf``)
    and the sign is taken on the resulting INTEGER dot, which is < 2⁵³
    and therefore exact under any summation order in either engine — the
    only cross-engine float contract left is the quantization itself (one
    multiply+add+floor per element, IEEE-fixed). The rescore is the
    integer micro-cosine over the SAME quantized lists: /, *, sqrt and
    floor are single correctly-rounded IEEE ops in the same order on both
    engines."""
    from telemetry_parquet_spark.datapipe.similarity import (
        _hyperplanes,
        quantize_plane,
        table_seed,
    )

    def sig_terms(t: int) -> str:
        planes = _hyperplanes(dim, bits, table_seed(seed, t))
        return " + ".join(
            "(CASE WHEN list_inner_product(qv, ["
            + ",".join(f"{float(c)!r}" for c in quantize_plane(p))
            + f"]) >= 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    sig_cols = ", ".join(f"{sig_terms(t)} AS s{t}" for t in range(tables))
    cos = (
        "CAST(floor(list_inner_product(q.qv, c.qv) / "
        "(sqrt(list_inner_product(q.qv, q.qv)) * "
        "sqrt(list_inner_product(c.qv, c.qv))) * 1000000 + 0.5) "
        "AS BIGINT)"
    )

    def match_t(t: int) -> str:
        return (
            f"q.s{t} = c.s{t}"
            if max_hamming == 0
            else f"bit_count(xor(q.s{t}, c.s{t})) <= {max_hamming}"
        )

    match = " OR ".join(match_t(t) for t in range(tables))
    return f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> floor(x * 1000000 + 0.5)) AS qv
      FROM embeddings
    ), sig AS (
      SELECT vec_id, qv, {sig_cols} FROM vecs
      WHERE list_inner_product(qv, qv) > 0
    )
    SELECT q.vec_id AS query_id, c.vec_id, {cos} AS cos_micros
    FROM sig q JOIN sig c ON ({match}) AND q.vec_id <> c.vec_id
    QUALIFY row_number() OVER (
      PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id ASC) <= {k}
    """


@query(
    "sim_knn_graph_lsh",
    oracle=_knn_lsh_oracle(),
)
def sim_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus KNN graph, the scale path: EVERY vector is a query, and
    candidates come from bucketing on the 4-bit hyperplane signature —
    Σ|bucket|² comparisons instead of corpus² (the bounded-batch shape of
    ``sim_matmul_batch_topk`` stops scaling once the batch is
    corpus-sized). The blocking is deterministic, so unlike most ANN
    configs this one carries an EXACT oracle; recall vs the exact graph
    trades with ``bits`` and is bounded in tests. Production: bits 8-16 +
    multi-probe bit flips. Every LSH query runs on the per-bucket int64
    matmul backend (``lsh_probe_matmul_top_k``; exact integer
    micro-cosines)."""
    from telemetry_parquet_spark.datapipe.similarity import (
        lsh_probe_matmul_top_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    return lsh_probe_matmul_top_k(
        queries, emb, dim=64, bits=4, k=3, exclude_self=True,
        multiprobe=False, tables=1, self_corpus=True,
    )


@query(
    "sim_knn_graph_lsh_probe",
    oracle=_knn_lsh_oracle(bits=6, max_hamming=1),
)
def sim_knn_graph_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe variant of ``sim_knn_graph_lsh``: finer buckets (6 bits
    = 64 cells → Σ|bucket|² ≈ corpus²/64) with every 1-bit-flipped probe
    searched too, recovering the recall the finer split gives up — the
    standard probe/bits trade (Lv '07). The query side explodes into
    bits+1 probe rows (7× query shuffle; corpus side untouched) and the
    candidate set is exactly the Hamming ≤ 1 signature ball, which the
    oracle states DIRECTLY as bit_count(xor) ≤ 1 — proving the probe
    explosion implements the ball with no dedup stage. Round 10 moved the
    rescore from one interpreted fold per candidate PAIR to one int64
    matmul per signature BUCKET (``lsh_probe_matmul_top_k``) — scores are
    now exact integer micro-cosines, matching the ``matmul_batch_topk``
    family, and the Hamming-1 ball semantics are unchanged."""
    from telemetry_parquet_spark.datapipe.similarity import (
        lsh_probe_matmul_top_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    return lsh_probe_matmul_top_k(
        queries, emb, dim=64, bits=6, k=3, exclude_self=True,
        self_corpus=True,
    )


@query(
    "sim_knn_graph_lsh_tables",
    oracle=_knn_lsh_oracle(bits=8, tables=8),
)
def sim_knn_graph_lsh_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-TABLE variant of ``sim_knn_graph_lsh`` — the round-8 default
    config picked from the measured bits × probes × tables frontier
    (SCALE.md): 8 independent 8-bit hyperplane tables, candidates = the
    UNION of per-table bucket matches (OR amplification,
    P(candidate) = 1-(1-p^8)^8). On the sf0.1 frontier this config has the
    best recall-per-candidate of every swept point (5.5x the uniform-
    sampling baseline at a 3.1% candidate fraction); probe configs buy
    more absolute recall only by examining 3-10x more candidates. The
    oracle states the union DIRECTLY (match on ANY table's signature
    equality), proving the explode + cogroup + distinct implements
    exactly the OR-amplified candidate set. Signatures come from the
    int64-matmul family (one Arrow pass for all 64 sign bits per vector —
    the round-9 14.6 s → 3.0 s win), and round 10 moved the rescore from
    one interpreted fold per candidate pair to one int64 matmul per
    (table, signature) bucket (``lsh_probe_matmul_top_k``) with exact
    integer micro-cosine scores, matching the probe variant's backend."""
    from telemetry_parquet_spark.datapipe.similarity import (
        lsh_probe_matmul_top_k,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    return lsh_probe_matmul_top_k(
        queries, emb, dim=64, bits=8, k=3, exclude_self=True,
        multiprobe=False, tables=8, self_corpus=True,
    )


# Shared by dd_ngram_jaccard_pairs (the exact operator) and
# dd_minhash_near_dup_pairs (whose verify stage recomputes exact Jaccard on
# LSH candidates, so its OUTPUT is deterministic and equals the exact pair
# set whenever banding recall is 1 — on this corpus every qualifying pair
# has J ≥ 0.8, where the 16-bands-of-4 miss probability is ≤ (1-0.8⁴)¹⁶
# ≈ 2e-4; verified equal at sf0.001/0.01/0.1 before wiring the oracle).
_NGRAM_JACCARD_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> length(t) > 0) AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
        list_distinct(
          CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))
               ELSE [array_to_string(w, ' ')] END) AS shingles
      FROM toks
    ), exploded AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM exploded GROUP BY doc_id
    ), inter AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_common
      FROM exploded l JOIN exploded r USING (shingle)
      WHERE l.doc_id < r.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6)
             AS jaccard_sim
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """


@query("dd_ngram_jaccard_pairs", oracle=_NGRAM_JACCARD_ORACLE)
def dd_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.5) via an
    inverted shingle index — the verification path MinHash candidates feed."""
    from telemetry_parquet_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    # df_cap=64 exercises the hot-shingle guard (broadcast anti-join) while
    # provably dropping nothing at test scales (max shingle df: 25 at sf0.1)
    return ngram_jaccard_pairs(docs, threshold=0.5, df_cap=64)


@query(
    "dd_duplicate_components",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> length(t) > 0) AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
        list_distinct(
          CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))
               ELSE [array_to_string(w, ' ')] END) AS shingles
      FROM toks
    ), exploded AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM exploded GROUP BY doc_id
    ), inter AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_common
      FROM exploded l JOIN exploded r USING (shingle)
      WHERE l.doc_id < r.doc_id
      GROUP BY 1, 2
    ), pairsq AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairsq
      UNION
      SELECT id_b AS a, id_a AS b FROM pairsq
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, CAST(least(a, MIN(b)) AS BIGINT) AS component
    FROM reach GROUP BY a
    """,
)
def dd_duplicate_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components (iterative min-
    label propagation with per-round localCheckpoint) over the exact
    n-gram-Jaccard pair graph — chains of near-dups collapse to one
    component. Oracle: DuckDB recursive-CTE transitive closure of the same
    pair set."""
    from telemetry_parquet_spark.datapipe.clusters import connected_components
    from telemetry_parquet_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, df_cap=64).select("id_a", "id_b")
    return connected_components(pairs)


# --- sketch pipelines: registered without oracle (rows-only driver check) ---


@query(
    "dd_embedding_cosine_pairs",
    oracle="""
    WITH sub AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 1000
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             UNNEST(a.v) AS x, UNNEST(b.v) AS y
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    ), scored AS (
      SELECT id_a, id_b,
             round(SUM(x*y) / (sqrt(SUM(x*x)) * sqrt(SUM(y*y))), 6)
               AS cosine_sim
      FROM pairs GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= 0.5
    """,
)
def dd_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact baseline on a bounded block
    (vec_id < 1000): the oracle for the LSH-blocked scale path
    (dd_embedding_near_dup_lsh)."""
    from telemetry_parquet_spark.datapipe.embedding_dedup import (
        embedding_cosine_pairs_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    return embedding_cosine_pairs_exact(emb, threshold=0.5)


def _embedding_lsh_oracle(dim: int = 64, bits: int = 4, seed: int = 42,
                          threshold: float = 0.3) -> str:
    """DuckDB SQL replaying the hyperplane-LSH blocking exactly: the planes
    are deterministic driver-side constants (``_hyperplanes``), so they
    inline as literals; bit i = sign(v·plane_i), bucket join on the integer
    signature, exact-cosine verify. Sign flips would need |v·plane| to
    round differently between engines — vanishingly unlikely for random
    gaussian planes, and verified equal at sf0.001/0.01/0.1."""
    from telemetry_parquet_spark.datapipe.similarity import _hyperplanes

    planes = _hyperplanes(dim, bits, seed)
    terms = " + ".join(
        "(CASE WHEN list_inner_product(v, ["
        + ",".join(repr(float(x)) for x in p)
        + f"]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    cos = (
        "round(list_inner_product(a.v, b.v) / "
        "(sqrt(list_inner_product(a.v, a.v)) * "
        "sqrt(list_inner_product(b.v, b.v))), 6)"
    )
    return f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sig AS (
      SELECT vec_id, v, {terms} AS s FROM vecs
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine_sim
    FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """


@query("dd_embedding_near_dup_lsh", oracle=_embedding_lsh_oracle())
def dd_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked embedding near-dup pairs (scale path). The blocking is
    deterministic (literal hyperplanes), so the full pipeline — signature,
    bucket join, cosine verify — sits under the exact oracle gate via a
    DuckDB replay of the same plane constants."""
    from telemetry_parquet_spark.datapipe.embedding_dedup import (
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # bits=4 / threshold=0.3 chosen so the synthetic corpus (random unit
    # vectors, no planted twins) yields a non-trivial blocked pair set;
    # production near-dup settings are threshold≥0.9 with bits 8-16
    return embedding_near_dup_pairs(emb, dim=64, threshold=0.3, bits=4)


@query("dd_minhash_near_dup_pairs", oracle=_NGRAM_JACCARD_ORACLE)
def dd_minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, Jaccard-verified ≥ 0.5 (shingle → 64
    minhashes → 16 bands → bucket join → exact verify). The verify stage
    recomputes exact Jaccard on candidates, so the output is deterministic
    and oracle-able against the exact pair SQL (recall argument at
    ``_NGRAM_JACCARD_ORACLE``); pytest additionally checks agreement on
    adversarial fixtures."""
    from telemetry_parquet_spark.datapipe.dedup import minhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(docs, threshold=0.5)


@query(
    "dd_incremental_bloom",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS content_md5
      FROM documents WHERE doc_id % 10 >= 7
    ), h AS (
      SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS content_md5
      FROM documents WHERE doc_id % 10 < 7
    )
    SELECT content_md5, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM n WHERE content_md5 NOT IN (SELECT content_md5 FROM h)
    GROUP BY 1
    """,
)
def dd_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a 'new day' (doc_id%10 >= 7) against a
    'historical corpus' (doc_id%10 < 7) with a Bloom pre-filter: history
    folds into a fixed-size bitmap (scan, no shuffle), definite-negative
    new keys skip history entirely, might-contain keys get an exact
    broadcast-semi verify. Output is EXACTLY the plain anti-join's (the
    oracle) — the Bloom stage only changes the plan, never the result."""
    from telemetry_parquet_spark.datapipe.bloom import incremental_dedup_bloom
    from telemetry_parquet_spark.datapipe.dedup import content_hash

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", content_hash("text").alias("content_md5"))
    history = keyed.where(F.col("doc_id") % 10 < 7)
    new_day = keyed.where(F.col("doc_id") % 10 >= 7)
    survivors = incremental_dedup_bloom(
        new_day, history, key_col="content_md5", num_bits=1 << 17, num_hashes=5
    )
    return survivors.groupBy("content_md5").agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


@query("dd_simhash_near_dup_pairs")
def dd_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit fingerprints, 4-chunk pigeonhole
    buckets, Hamming ≤ 3)."""
    from telemetry_parquet_spark.datapipe.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs)


@query("a7_hll_distinct_users")
def a7_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 mergeable HLL sketches (spark-hyperloglog analog, udfs.scala:12-26):
    per-day user sketches → union across days → estimate. Estimates are
    sketch-algorithm-specific, so no DuckDB oracle; pytest bounds the error
    against exact counts."""
    from telemetry_parquet_spark.operators.aggregates import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyyMMdd")
    )
    daily = hll_sketch(events, keys=["day", "event_type"], value_col="user_id")
    merged = hll_merge(daily, keys=["event_type"])
    return hll_estimate(merged).select("event_type", "distinct_estimate")


@query(
    "pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0) AS w
      FROM documents
    ), nc AS (
      SELECT doc_id, w,
        CASE WHEN len(w) <= 16 THEN 1
             ELSE 1 + CAST(ceil((len(w) - 16) / 12.0) AS INT) END AS n_chunks
      FROM toks
    ), chunks AS (
      SELECT doc_id, t.i AS chunk_idx,
             array_to_string(w[t.i*12+1 : t.i*12+16], ' ') AS chunk_text,
             len(w[t.i*12+1 : t.i*12+16]) AS n_tokens
      FROM nc, UNNEST(range(0, n_chunks)) AS t(i)
    ), packed AS (
      SELECT doc_id % 8 AS bucket, doc_id, chunk_idx, chunk_text, n_tokens,
             row_number() OVER (PARTITION BY doc_id % 8
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM chunks
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST((rn - 1) // 4 AS BIGINT) AS pack_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           md5(string_agg(chunk_text, ' ' ORDER BY doc_id, chunk_idx))
             AS packed_md5
    FROM packed
    GROUP BY 1, 2
    """,
)
def pack_sequences_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training rows: 16-token chunks with 4-token
    overlap, packed 4-to-a-row under a 64-token budget in 8 deterministic
    buckets. The md5 of each pack's in-order text proves the chunk slicing,
    ordering, and grouping byte-for-byte against the DuckDB replay."""
    from telemetry_parquet_spark.datapipe.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, chunk_size=16, overlap=4, budget=64, n_buckets=8
    )


# --- scrubbing / governance passes (datapipe/scrub.py) ---


@query(
    "pii_redaction",
    oracle="""
    WITH src AS (
      SELECT doc_id,
        text || CASE CAST(doc_id % 3 AS INTEGER)
          WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
          WHEN 1 THEN ' call 555-123-4567 from 10.0.' || (doc_id % 256) || '.9'
          ELSE ' card 4111111111111111 expires soon'
        END AS t
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
      CAST(len(regexp_extract_all(t,
        '\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b')) AS INT) AS n_phone,
      CAST(len(regexp_extract_all(t,
        '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ip,
      CAST(len(regexp_extract_all(t, '\\b\\d{13,19}\\b')) AS INT) AS n_number,
      md5(r4.t4) AS redacted_md5
    FROM src,
    LATERAL (SELECT regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1) r1,
    LATERAL (SELECT regexp_replace(r1.t1,
      '\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b', '<PHONE>', 'g') AS t2) r2,
    LATERAL (SELECT regexp_replace(r2.t2,
      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t3) r3,
    LATERAL (SELECT regexp_replace(r3.t3, '\\b\\d{13,19}\\b', '<NUM>', 'g') AS t4)
      r4
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (datapipe/scrub.py): deterministic synthetic PII is
    appended to each document (e-mail / phone+IP / card number by doc_id
    class), then redacted with the RE2-portable pattern chain. Output is the
    per-class audit counts plus md5 of the redacted text — the oracle
    replays the identical patterns in DuckDB, so a hash match proves the
    redaction transform byte-for-byte, not just the counts."""
    from telemetry_parquet_spark.datapipe.scrub import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.format_string(" contact user%s@example.com now", "doc_id"),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.format_string(
                    " call 555-123-4567 from 10.0.%s.9",
                    (F.col("doc_id") % 256).cast("string"),
                ),
            )
            .otherwise(F.lit(" card 4111111111111111 expires soon")),
        ).alias("t"),
    )
    counts = pii_counts("t")
    return injected.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_phone"].alias("n_phone"),
        counts["n_ip"].alias("n_ip"),
        counts["n_number"].alias("n_number"),
        F.md5(redact_pii("t")).alias("redacted_md5"),
    )


@query(
    "rep_repetition_features",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> length(t) > 0) AS w
      FROM documents
    ), grams AS (
      SELECT doc_id,
        CASE WHEN len(w) >= 2
             THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
             ELSE [] END AS g2,
        CASE WHEN len(w) >= 3
             THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
             ELSE [] END AS g3
      FROM toks
    )
    SELECT doc_id,
      CASE WHEN len(g2) > 0
           THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
           ELSE 0.0 END AS dup_2gram_frac,
      CASE WHEN len(g3) > 0
           THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
           ELSE 0.0 END AS dup_3gram_frac
    FROM grams
    """,
)
def rep_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: per document, the fraction
    of 2-gram / 3-gram occurrences that repeat an earlier occurrence —
    the filter that catches boilerplate/spam documents exact dedup misses.
    All higher-order array expressions, no shuffle beyond the scan."""
    from telemetry_parquet_spark.datapipe.scrub import repetition_features

    docs = load_table(spark, sf_dir, "documents")
    feats = repetition_features("text", ns=(2, 3))
    return docs.select(
        "doc_id",
        feats["dup_2gram_frac"].alias("dup_2gram_frac"),
        feats["dup_3gram_frac"].alias("dup_3gram_frac"),
    )


@query(
    "split_train_holdout",
    oracle="""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'split-v1'), 1, 2)
                     < 'e6' THEN 'train' ELSE 'holdout' END AS split,
           COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM documents
    GROUP BY 1
    """,
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~90/10 train/holdout split by md5(id ∥ salt) — stable
    under reruns, repartitioning, and engine choice (the bucket is the
    digest's first hex byte, string-compared, so any md5-capable system
    reproduces the assignment). No shuffle: the label is a pure projection;
    the aggregation here exists to make the assignment oracle-checkable."""
    from telemetry_parquet_spark.datapipe.scrub import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(hash_split("doc_id", train_pct=90).alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@query(
    "mix_sampled_corpus",
    oracle="""
    WITH rates AS (
      SELECT source,
             CASE CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4
               WHEN 0 THEN 100 WHEN 1 THEN 50 WHEN 2 THEN 25 ELSE 10
             END AS rate_pct
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT d.source,
           CAST(r.rate_pct AS INT) AS rate_pct,
           COUNT(*) AS n_docs,
           CAST(MIN(d.doc_id) AS BIGINT) AS min_id,
           CAST(MAX(d.doc_id) AS BIGINT) AS max_id
    FROM documents d JOIN rates r USING (source)
    WHERE r.rate_pct >= 100
       OR substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix-v1'), 1, 2)
          < printf('%02x', CAST(round(256 * r.rate_pct / 100) AS INT))
    GROUP BY 1, 2
    """,
)
def mix_sampled_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted domain mixing: each source stratum keeps a
    per-domain fraction (100/50/25/10% cycling by source index) chosen by
    the md5 bucket of the doc id — the corpus-mixing step of a training
    build. The weights ride a broadcast table; the corpus itself is never
    shuffled (the final groupBy here exists to make the kept set
    oracle-checkable). DuckDB recomputes the identical md5 buckets, so a
    hash match proves the exact same documents were kept."""
    from telemetry_parquet_spark.datapipe.scrub import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.regexp_extract("source", r"(\d+)", 1).cast("int") % 4 == 0, 100)
        .when(F.regexp_extract("source", r"(\d+)", 1).cast("int") % 4 == 1, 50)
        .when(F.regexp_extract("source", r"(\d+)", 1).cast("int") % 4 == 2, 25)
        .otherwise(10)
    )
    weights = docs.select("source").distinct().withColumn(
        "rate_pct", rate.cast("int")
    )
    sampled = weighted_sample(docs, weights, "source", "doc_id", salt="mix-v1")
    return sampled.groupBy("source", "rate_pct").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "contamination_ngram_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> length(t) > 0) AS w
      FROM documents
    ), grams AS (
      SELECT doc_id,
        CASE WHEN len(w) >= 8
             THEN list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))
             ELSE [] END AS g
      FROM toks
    ), exploded AS (
      SELECT doc_id, UNNEST(g) AS gram FROM grams
    ), bench AS (
      SELECT DISTINCT gram FROM exploded WHERE doc_id % 50 = 0
    ), totals AS (
      SELECT doc_id, COUNT(*) AS n_ngrams FROM exploded GROUP BY doc_id
    ), hits AS (
      SELECT e.doc_id, COUNT(*) AS n_contaminated
      FROM exploded e JOIN bench b ON e.gram = b.gram
      GROUP BY e.doc_id
    )
    SELECT t.doc_id, t.n_ngrams, h.n_contaminated,
           round(CAST(h.n_contaminated AS DOUBLE) / t.n_ngrams, 6)
             AS contamination_frac
    FROM totals t JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: docs sharing any word 8-gram with
    the benchmark set (doc_id % 50 = 0 stands in for a held-out eval set).
    The Spark join key is md5 of the n-gram — 16-byte shuffle payload, the
    tiny benchmark side broadcast; the oracle joins raw grams, proving the
    hashed join loses nothing."""
    from telemetry_parquet_spark.datapipe.scrub import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    return ngram_contamination(docs, bench, n=8)


@query(
    "dsir_importance_select",
    # DSIR fixed-point importance selection: every step is exact integer
    # arithmetic (md5-nibble bucket, one-pass cr/ct stats, Laplace
    # fixed-point ratio ≤ 10⁶ since target ⊆ raw, integer score sum), so
    # the whole select-the-top-quarter pipeline replays bit-identically.
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> length(t) > 0) AS w
      FROM documents WHERE text IS NOT NULL
    ), grams AS (
      SELECT doc_id, UNNEST(w) AS g FROM toks
      UNION ALL
      SELECT doc_id, w[p] || ' ' || w[p + 1] AS g
      FROM toks, LATERAL unnest(range(1, len(w))) AS u(p)
    ), hashed AS (
      SELECT doc_id, doc_id % 7 = 0 AS tgt,
             (SELECT SUM((strpos('0123456789abcdef', substr(md5(g), r.i, 1))
                          - 1) * CAST(power(16, 15 - r.i) AS BIGINT))
              FROM unnest(range(1, 16)) AS r(i)) % 256 AS b
      FROM grams
    ), stats AS (
      SELECT b, COUNT(*) AS cr,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
      FROM hashed GROUP BY b
    ), grid AS (
      SELECT UNNEST(range(0, 256)) AS b
    ), ilr AS (
      SELECT g.b,
             ((COALESCE(s.ct, 0) + 1) * 1000000)
               // (COALESCE(s.cr, 0) + 1) AS v
      FROM grid g LEFT JOIN stats s ON g.b = s.b
    ), scores AS (
      SELECT h.doc_id, CAST(SUM(i.v) AS BIGINT) AS score
      FROM hashed h JOIN ilr i ON h.b = i.b GROUP BY h.doc_id
    ), k AS (SELECT CAST(floor(COUNT(*) * 0.25) AS BIGINT) AS k FROM scores)
    SELECT doc_id, score FROM scores, k
    QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= k
    """,
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (datapipe/scrub.py::dsir_fixedpoint_scores,
    Xie et al. 2023): hashed unigram+bigram statistics score every document
    for relevance to the target slice (doc_id % 7 = 0 stands in for the
    high-quality target corpus) and the top quarter by (score desc, id) is
    kept — the data-selection step that steers a raw 100 TB crawl toward a
    target distribution with two corpus passes and a 256-row broadcast,
    no classifier training. The 25% cutoff rank is computed from a 1-value
    count (metadata-sized driver action); at scale the cutoff would come
    from a score-quantile sketch instead of a full rank window."""
    from pyspark.sql import Window as W

    from telemetry_parquet_spark.datapipe.scrub import dsir_fixedpoint_scores

    docs = load_table(spark, sf_dir, "documents")
    scores = dsir_fixedpoint_scores(
        docs, is_target=F.col("doc_id") % 7 == 0, buckets=256, ns=(1, 2)
    ).localCheckpoint()  # the cutoff count below and the rank both read
    # the scored table; without the barrier the whole two-pass scoring
    # pipeline executes twice (once for count, once for the result)
    k = int(scores.count() * 0.25)
    w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "score")
    )


@query(
    "dd_incremental_near_dup",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> length(t) > 0) AS w
      FROM documents
    ), sh AS (
      SELECT doc_id,
        list_distinct(
          CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))
               ELSE [array_to_string(w, ' ')] END) AS shingles
      FROM toks
    ), exploded AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM exploded GROUP BY doc_id
    ), inter AS (
      SELECT n.doc_id AS new_id, h.doc_id AS hist_id, COUNT(*) AS n_common
      FROM exploded n JOIN exploded h USING (shingle)
      WHERE n.doc_id % 10 >= 7 AND h.doc_id % 10 < 7
      GROUP BY 1, 2
    ), dup AS (
      SELECT new_id, MIN(hist_id) AS dup_of
      FROM inter
      JOIN sizes sn ON sn.doc_id = new_id
      JOIN sizes sh2 ON sh2.doc_id = hist_id
      WHERE CAST(n_common AS DOUBLE) / (sn.n_sh + sh2.n_sh - n_common) >= 0.5
      GROUP BY new_id
    )
    SELECT d.doc_id, dup.dup_of, dup.dup_of IS NULL AS kept
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 7) d
    LEFT JOIN dup ON d.doc_id = dup.new_id
    """,
)
def dd_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment NEAR-dup dedup (the MinHash sibling of
    dd_incremental_bloom's exact check): today's documents (doc_id%10>=7)
    banded against the persisted history (doc_id%10<7) — a two-sided LSH
    bucket join, never a self-join over history ∪ new — then exact-Jaccard
    verified, labeling each new doc with the earliest historical near-dup
    or keeping it. Output is deterministic, so the approximate pruning
    path carries the exact SQL oracle (recall argument at
    dd_minhash_near_dup_pairs).

    The history-side banded signatures are the PERSISTED state of a
    daily pipeline (datapipe/dedup.py::band_history): materialized once
    per corpus fingerprint under the session warehouse, so each run pays
    banding only for the new day plus the bucket join — history text is
    read only for exact-verify candidates (left-semi pruned). The oracle
    still recomputes both sides from scratch."""
    import os as _os

    from telemetry_parquet_spark.datapipe.dedup import (
        band_history,
        incremental_near_dup,
    )
    from telemetry_parquet_spark.sources.skipping import materialize_cached

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 10 < 7)
    new_day = docs.where(F.col("doc_id") % 10 >= 7)

    def build(root: str) -> None:
        band_history(history).write.mode("overwrite").parquet(
            _os.path.join(root, "bands")
        )

    root = materialize_cached(
        spark,
        _os.path.join(sf_dir, "documents.parquet"),
        # the name bakes in every parameter the artifact depends on
        # (shingle_n/num_hashes/bands defaults + the %10<7 history split)
        "inc_nd_bands_s3h64b16m7_" + _os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    hist_bands = read_parquet(spark, _os.path.join(root, "bands"))
    return incremental_near_dup(
        new_day, history, threshold=0.5, history_bands=hist_bands
    )


_MATMUL_KNN_N_QUERIES = 64
_MATMUL_KNN_K = 10


@query(
    "sim_matmul_batch_topk",
    # Integer micro-cosine scores over floor(x*1e6+0.5)-quantized vectors:
    # the dot is an exact int64 (order-free in any engine) and
    # floor(dot/(|a||b|)*1e6 + 0.5) is a fixed chain of correctly-rounded
    # IEEE ops on identical inputs (the bm25_micros recipe) - so the dense
    # matmul KNN carries an EXACT oracle with no fold-order contract.
    oracle=f"""
    WITH c AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> floor(x * 1000000 + 0.5)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ), n AS (
      SELECT vec_id, qv, list_inner_product(qv, qv) AS n2
      FROM c WHERE list_inner_product(qv, qv) > 0
    )
    SELECT q.vec_id AS query_id, c.vec_id,
           CAST(floor(list_inner_product(q.qv, c.qv)
                      / (sqrt(q.n2) * sqrt(c.n2)) * 1000000 + 0.5)
                AS BIGINT) AS cos_micros
    FROM n q JOIN n c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {_MATMUL_KNN_N_QUERIES}
    QUALIFY row_number() OVER (
      PARTITION BY q.vec_id
      ORDER BY cos_micros DESC, c.vec_id ASC) <= {_MATMUL_KNN_K}
    """,
)
def sim_matmul_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch KNN as dense linear algebra (similarity.py::matmul_batch_top_k):
    the 64-query batch rides into a mapInPandas as an int64 matrix, every
    corpus Arrow batch is scored by ONE (batch x dim) @ (dim x 64) integer
    matmul, and each partition ships only its per-query top-10 into the
    final rank window - corpus touched once, no join, shuffle is
    k * n_queries * n_partitions rows. The third member of the
    Arrow-matmul family (k-means assignment, LSH signatures, dense KNN)."""
    from telemetry_parquet_spark.datapipe.similarity import matmul_batch_top_k

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    queries = emb.where(F.col("vec_id") < _MATMUL_KNN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return matmul_batch_top_k(
        queries, emb, k=_MATMUL_KNN_K, exclude_self=True
    )


@query(
    "split_grouped_holdout",
    # Leakage-safe GROUPED split: the hash key is the GROUP column
    # (source), so every document of a provenance lands in the same
    # split — the guard that per-document splitting (split_train_holdout)
    # cannot give when near-duplicates cluster within a source. 0xcd =
    # round(256*80/100): the 80% threshold byte, string-compared.
    oracle="""
    WITH labeled AS (
      SELECT source, doc_id,
             CASE WHEN substr(md5(source || 'group-split-v1'), 1, 2) < 'cd'
                  THEN 'train' ELSE 'holdout' END AS split
      FROM documents
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM labeled GROUP BY split
    """,
)
def split_grouped_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped train/holdout split: hash the GROUP (source), not the
    document, so correlated documents (same crawl, same author, near-dup
    clusters within a provenance) can never straddle the split boundary —
    the leakage guard an LLM eval needs. Pure projection (no shuffle to
    assign); the no-straddle property is re-checked with a limit(1) probe
    that RAISES on violation, the require-proof discipline."""
    from telemetry_parquet_spark.datapipe.scrub import hash_split

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "source",
        "doc_id",
        hash_split(F.col("source"), train_pct=80, salt="group-split-v1")
        .alias("split"),
    )
    straddlers = (
        labeled.groupBy("source")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .limit(1)
        .count()
    )
    if straddlers:
        raise RuntimeError(
            "split_grouped_holdout: a source straddles the split boundary"
        )
    return labeled.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )
