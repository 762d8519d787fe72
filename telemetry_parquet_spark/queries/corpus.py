"""Corpus-construction queries: boilerplate removal, per-domain caps,
corpus statistics, and vocabulary building.

The round-5 additions to the training-data pipeline surface (net-new — the
reference predates the use case). Every query here is DuckDB-oracled: the
boilerplate rewrite is proven byte-exact via md5 of the rebuilt text, the
cap via replaying the same md5 rank order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from telemetry_parquet_spark.queries.registry import query
from telemetry_parquet_spark.sources.tables import load_table

# Shared CTE prefix: 8-word non-overlapping segment windows per document,
# split on a single space (matches datapipe/boilerplate.py::segment_table).
_SEG_CTE = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
segs AS (
  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
         array_to_string(w[(i*8+1):(i*8+8)], ' ') AS seg
  FROM words, LATERAL unnest(range(CAST(ceil(len(w)/8.0) AS BIGINT))) AS t(i)
),
hot AS (
  SELECT seg FROM segs
  WHERE len(string_split(seg, ' ')) = 8
  GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3
)
"""


@query(
    "bp_hot_segments",
    oracle=_SEG_CTE
    + """
    SELECT seg, COUNT(DISTINCT doc_id) AS doc_freq
    FROM segs
    WHERE len(string_split(seg, ' ')) = 8
    GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3
    """,
)
def bp_hot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate census: full 8-word windows that repeat in
    ≥3 distinct documents. The doc-frequency aggregation shuffles (16-byte
    digest, doc_id) pairs only — segment text never rides the shuffle
    (see datapipe/boilerplate.py for the 100 TB notes)."""
    from telemetry_parquet_spark.datapipe.boilerplate import (
        hot_segments,
        segment_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    return hot_segments(segment_table(docs), min_df=3).select("seg", "doc_freq")


@query(
    "bp_boilerplate_removal",
    oracle=_SEG_CTE
    + """,
    kept AS (
      SELECT s.doc_id, s.seg_idx, s.seg FROM segs s
      WHERE s.seg NOT IN (SELECT seg FROM hot)
    ),
    rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_md5
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id)
    SELECT t.doc_id, t.n_segs,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.clean_md5, md5('')) AS clean_md5
    FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    """,
)
def bp_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style boilerplate strip, proven byte-exact: the oracle
    recomputes the rewritten text independently and both sides compare its
    md5. Documents that are pure template survive as empty strings
    (n_kept = 0) — dropping them is a separate policy decision."""
    from telemetry_parquet_spark.datapipe.boilerplate import remove_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    out = remove_boilerplate(docs, seg_words=8, min_df=3)
    return out.select(
        "doc_id", "n_segs", "n_kept", F.md5("clean_text").alias("clean_md5")
    )


@query(
    "cap_per_source",
    oracle="""
    SELECT doc_id, source
    FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'cap-v1'), doc_id
    ) <= 10
    """,
)
def cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain cap: at most 10 documents per source,
    chosen by md5 hash order (uniform, rerun-stable, engine-portable —
    the oracle replays the identical rank)."""
    from telemetry_parquet_spark.datapipe.boilerplate import cap_per_stratum

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_stratum(docs, "source", "doc_id", k=10, salt="cap-v1").select(
        "doc_id", "source"
    )


@query(
    "cap_budget_per_source",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'cap-v1'), doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum
      FROM documents
    )
    WHERE cum <= 3000
    """,
)
def cap_budget_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget domain cap: each source keeps documents in hash order
    until its running n_chars total exceeds 3000 — the by-budget (not
    by-count) form of domain capping a real corpus mix uses. Oracle replays
    the identical running sum."""
    from telemetry_parquet_spark.datapipe.boilerplate import (
        cap_budget_per_stratum,
    )

    docs = load_table(spark, sf_dir, "documents")
    return cap_budget_per_stratum(docs, budget=3000).select(
        "doc_id", "source", "n_chars"
    )


@query(
    "sample_weighted_priority",
    oracle="""
    WITH pri AS (
      SELECT doc_id, source,
             round(
               -ln((CAST((SELECT SUM((strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR) || 'wps-v1'),
                                   r.i, 1)) - 1)
                          * CAST(power(16, 15 - r.i) AS BIGINT))
                     FROM unnest(range(1, 16)) AS r(i)) AS DOUBLE) + 1.0)
                   / 1152921504606846977.0)
               / CAST(n_chars AS DOUBLE), 9) AS pri
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source
    FROM pri
    QUALIFY row_number() OVER (
      PARTITION BY source ORDER BY pri ASC, doc_id ASC) <= 8
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 8 docs per source with
    inclusion probability proportional to n_chars (A-ES exponential keys
    over the derived md5 uniform — see boilerplate.weighted_priority_sample
    for the determinism and rounding story). The oracle replays the hash,
    the u-derivation, the exponential key, and the rank bit-for-bit —
    2^60+1 = 1152921504606846977 is the shared denominator literal."""
    from telemetry_parquet_spark.datapipe.boilerplate import (
        weighted_priority_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return weighted_priority_sample(
        docs, "source", "doc_id", "n_chars", k=8
    ).select("doc_id", "source")


@query(
    "len_quantiles_by_lang",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 6) AS q25,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.50), 6) AS q50,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 6) AS q75,
           ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.90), 6) AS q90
    FROM documents GROUP BY lang
    """,
)
def len_quantiles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated length quantiles per language — the
    corpus-profiling pass before setting packing/filter thresholds.

    Exact ``percentile`` keeps the DuckDB oracle byte-comparable; the scale
    path is ``approx_percentile`` (t-digest sketch, map-side combinable, no
    per-group sort buffer) — tests/test_corpus.py bounds its error against
    this exact result on the same data."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("n_chars").cast("double")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile(c, 0.25), 6).alias("q25"),
        F.round(F.percentile(c, 0.50), 6).alias("q50"),
        F.round(F.percentile(c, 0.75), 6).alias("q75"),
        F.round(F.percentile(c, 0.90), 6).alias("q90"),
    )


@query(
    "outlier_trim_by_lang",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    JOIN (
      SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.99) AS p99
      FROM documents GROUP BY lang
    ) s ON d.lang = s.lang
    WHERE CAST(d.n_chars AS DOUBLE) <= s.p99
    """,
)
def outlier_trim_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier trimming per language: drop documents beyond the
    language's exact p99 length — the pathological-document guard (mega
    concatenations, binary-as-text) applied per stratum so verbose
    languages aren't clipped by terse ones' thresholds. The per-language
    stats table is tiny → BROADCAST; the corpus is filtered in one pass.
    Exact percentile keeps the oracle byte-comparable (both engines share
    the linear-interpolation arithmetic); at 100 TB swap in
    approx_percentile (error-bound-tested in test_corpus.py)."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.percentile(F.col("n_chars").cast("double"), 0.99).alias("p99")
    )
    return (
        docs.join(F.broadcast(stats), "lang")
        .where(F.col("n_chars").cast("double") <= F.col("p99"))
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "vocab_table",
    oracle="""
    WITH toks AS (
      SELECT lower(t) AS token
      FROM documents,
           LATERAL unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> length(x) > 0)) AS u(t)
      WHERE text IS NOT NULL
    ),
    counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token)
    SELECT token, n,
           row_number() OVER (ORDER BY n DESC, token) AS token_id
    FROM counts
    """,
)
def vocab_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-style vocabulary build: corpus-wide token counts with a
    dense id assigned by (frequency desc, token) rank.

    The count is one map-side-combinable shuffle keyed by token. The rank
    is a global window (single partition) — safe because it runs over the
    POST-AGGREGATION vocabulary, whose cardinality is vocab-sized (≈10⁵-10⁶
    rows at any corpus scale), not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return counts.withColumn("token_id", F.row_number().over(w))


@query(
    "vocab_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT lower(t) AS term
      FROM documents,
           LATERAL unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> length(x) > 0)) AS u(t)
      WHERE text IS NOT NULL
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS count_lb,
           CAST(0 AS BIGINT) AS err_ub
    FROM toks GROUP BY term
    """,
)
def vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries top-k terms (k=64) — the mergeable sketch sibling of
    ``vocab_table`` for corpora where even the vocabulary aggregate is
    large; its shuffle moves k rows per partition instead of the vocab
    (datapipe/heavy_hitters.py).

    Exact driver gate: this corpus has ≤ 31 distinct tokens < k, so no
    MG decrement ever fires and the sketch EQUALS the exact counts with
    err_ub = 0, independent of partitioning — the oracle is the plain
    GROUP BY. The lossy regime (bounds, presence guarantee, mergeability)
    is property-tested in tests/test_heavy_hitters.py."""
    from telemetry_parquet_spark.datapipe.heavy_hitters import mg_topk

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    terms = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("term")
    )
    return mg_topk(terms, k=64)


def _md5h60_sql(expr: str) -> str:
    """DuckDB replay of datapipe.dedup.md5_hash60 over ``expr`` — the same
    nibble-weight arithmetic as the quality_linear_score/simhash oracles."""
    return (
        "(SELECT SUM((strpos('0123456789abcdef', substr(md5(" + expr + "), "
        "r.i, 1)) - 1) * CAST(power(16, 15 - r.i) AS BIGINT)) "
        "FROM unnest(range(1, 16)) AS r(i))"
    )


_CMS_DEPTH, _CMS_WIDTH = 4, 64

_CMS_TOKS_SQL = """
    toks AS (
      SELECT lower(t) AS tok
      FROM documents,
           LATERAL unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> length(x) > 0)) AS u(t)
      WHERE text IS NOT NULL
    )"""

_CMS_PROBES_SQL = "\n      UNION ALL ".join(
    "SELECT tok, CAST({i} AS INT) AS row_i, "
    "CAST({h} % {w} AS BIGINT) AS bucket FROM toks".format(
        i=i, w=_CMS_WIDTH, h=_md5h60_sql("'cms" + str(i) + ":' || tok")
    )
    for i in range(_CMS_DEPTH)
)


@query(
    "cms_sketch_counts",
    oracle=f"""
    WITH {_CMS_TOKS_SQL},
    probes AS (
      {_CMS_PROBES_SQL}
    )
    SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM probes GROUP BY row_i, bucket
    """,
)
def cms_sketch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch CONTENT over the corpus tokens (depth 4 × width
    64): the driver gate compares the actual counters bit-for-bit — both
    engines share the salted md5_hash60 arithmetic, so the sketch is
    deterministic, not just its behavior. Linear merge + estimation
    properties are in tests/test_count_min.py; see
    datapipe/count_min.py for the 100 TB shape (output is ≤ depth·width
    rows regardless of corpus size)."""
    from telemetry_parquet_spark.datapipe.count_min import cms_build

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    terms = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("term")
    )
    return cms_build(terms, depth=_CMS_DEPTH, width=_CMS_WIDTH)


@query(
    "cms_term_estimates",
    oracle=f"""
    WITH {_CMS_TOKS_SQL},
    probes AS (
      {_CMS_PROBES_SQL}
    ),
    sketch AS (
      SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM probes GROUP BY row_i, bucket
    ),
    exact AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n
              FROM toks GROUP BY tok),
    term_probes AS (SELECT DISTINCT tok, row_i, bucket FROM probes),
    est AS (
      SELECT p.tok, MIN(COALESCE(s.cnt, 0)) AS est
      FROM term_probes p LEFT JOIN sketch s USING (row_i, bucket)
      GROUP BY p.tok
    )
    SELECT e.tok AS term, est, exact_n,
           CAST(est - exact_n AS BIGINT) AS overcount
    FROM est e JOIN exact USING (tok)
    """,
)
def cms_term_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point estimates vs exact counts for every distinct corpus term.
    ``overcount`` is always ≥ 0 (CMS never undercounts) — visible in the
    compared data, and byte-exact because both engines build the identical
    sketch. The estimate path is a broadcast join of the depth·width
    sketch onto the term probes."""
    from telemetry_parquet_spark.datapipe.count_min import (
        cms_build,
        cms_estimate,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    terms = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("term")
    )
    sketch = cms_build(terms, depth=_CMS_DEPTH, width=_CMS_WIDTH)
    exact = terms.groupBy("term").agg(F.count("*").alias("exact_n"))
    est = cms_estimate(
        sketch, exact.select("term"), depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return est.join(exact, "term").select(
        "term", "est", "exact_n", (F.col("est") - F.col("exact_n")).alias("overcount")
    )


@query(
    "feature_hashing_counts",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lower(t) AS tok
      FROM documents,
           LATERAL unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> length(x) > 0)) AS u(t)
      WHERE text IS NOT NULL
    ),
    hashed AS (
      SELECT doc_id,
             (SELECT SUM((strpos('0123456789abcdef', substr(md5(tok), r.i, 1))
                          - 1) * CAST(power(16, 15 - r.i) AS BIGINT))
              FROM unnest(range(1, 16)) AS r(i)) % 64 AS bucket
      FROM toks
    ),
    counts AS (
      SELECT doc_id, bucket, COUNT(*) AS c FROM hashed GROUP BY doc_id, bucket
    ),
    docs AS (SELECT DISTINCT doc_id FROM counts),
    grid AS (
      SELECT d.doc_id, g.b FROM docs d, LATERAL unnest(range(0, 64)) AS g(b)
    )
    SELECT g.doc_id,
           CAST(COUNT(c.c) AS BIGINT) AS nnz,
           md5(string_agg(CAST(COALESCE(c.c, 0) AS VARCHAR), ' '
                          ORDER BY g.b)) AS vec_md5
    FROM grid g LEFT JOIN counts c ON g.doc_id = c.doc_id AND g.b = c.bucket
    GROUP BY g.doc_id
    """,
)
def feature_hashing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens land in a fixed 64-bucket count vector via
    the portable md5-nibble hash — no vocabulary pass, bounded width at any
    corpus size (the featurizer for linear quality classifiers). One
    map-side-combinable shuffle on (doc, bucket) + a per-doc regroup; the
    oracle rebuilds the dense vector independently and compares its md5."""
    from telemetry_parquet_spark.datapipe.dedup import md5_hash60

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("tok"),
    )
    counts = (
        toks.select("doc_id", (md5_hash60(F.col("tok")) % 64).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("nnz"),
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "c"))
        ).alias("m"),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("long")), F.lit(0)).cast(
            "string"
        ),
    )
    return per_doc.select(
        "doc_id", "nnz", F.md5(F.array_join(vec, " ")).alias("vec_md5")
    )


@query(
    "analyze_column_stats",
    oracle="""
    SELECT 'l_orderkey' AS col, COUNT(*) AS n,
           COUNT(DISTINCT l_orderkey) AS ndv,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_v,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey', COUNT(*), COUNT(DISTINCT l_partkey),
           CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MIN(l_partkey) AS VARCHAR), CAST(MAX(l_partkey) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', COUNT(*), COUNT(DISTINCT l_returnflag),
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                AS BIGINT),
           MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', COUNT(*), COUNT(DISTINCT l_shipdate),
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR)
    FROM lineitem
    """,
)
def analyze_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style statistics collection (count, exact NDV, null count,
    min/max per column) — what a cost-based optimizer or table catalog
    ingests. Exact distinct counts keep the oracle byte-comparable; the
    100 TB path is ``approx_count_distinct`` (HLL, map-side combinable,
    one pass for ALL columns — error-bound-tested in test_corpus.py)."""
    li = load_table(spark, sf_dir, "lineitem")

    def stats(col):
        return li.agg(
            F.lit(col).alias("col"),
            F.count("*").alias("n"),
            F.count_distinct(F.col(col)).alias("ndv"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.min(F.col(col)).cast("string").alias("min_v"),
            F.max(F.col(col)).cast("string").alias("max_v"),
        )

    out = stats("l_orderkey")
    for c in ("l_partkey", "l_returnflag", "l_shipdate"):
        out = out.unionByName(stats(c))
    return out


@query(
    "dq_constraints",
    oracle="""
    SELECT 'lineitem_pk_unique' AS check_name,
           CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
             AS violations
    FROM lineitem
    UNION ALL
    SELECT 'orders_custkey_complete',
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_quantity_range',
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_status_domain',
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_fk',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    """,
)
def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality gate: uniqueness, completeness, range,
    value-domain, and referential-integrity checks as violation counts —
    the validation pass a pipeline runs before promoting a dataset. Each
    check is one aggregate (map-side combinable) or one anti-join; a real
    deployment fails the run when any violations > 0. (The driver corpus is
    clean, so every count is 0 here; tests/test_corpus.py injects
    duplicates/nulls/orphans and asserts each check FIRES.)"""
    return dq_checks(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def dq_checks(li: DataFrame, orders: DataFrame, cust: DataFrame) -> DataFrame:
    """The constraint evaluations behind `dq_constraints`, separated so
    tests can run them on frames with injected violations."""

    def row(name, df):
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
        )

    pk = li.agg(
        (F.count("*") - F.count_distinct("l_orderkey", "l_linenumber")).alias(
            "violations"
        )
    )
    complete = orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "violations"
        )
    )
    rng = li.agg(
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
            .otherwise(0)
        ).alias("violations")
    )
    domain = orders.agg(
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("violations")
    )
    fk = (
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders["o_custkey"] == cust["c_custkey"],
            "left_anti",
        )
        .agg(F.count("*").alias("violations"))
    )
    return (
        row("lineitem_pk_unique", pk)
        .unionByName(row("orders_custkey_complete", complete))
        .unionByName(row("lineitem_quantity_range", rng))
        .unionByName(row("orders_status_domain", domain))
        .unionByName(row("orders_custkey_fk", fk))
    )


@query(
    "quality_linear_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lower(t) AS tok
      FROM documents,
           LATERAL unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> length(x) > 0)) AS u(t)
      WHERE text IS NOT NULL
    ),
    hashed AS (
      SELECT doc_id,
             (SELECT SUM((strpos('0123456789abcdef', substr(md5(tok), r.i, 1))
                          - 1) * CAST(power(16, 15 - r.i) AS BIGINT))
              FROM unnest(range(1, 16)) AS r(i)) % 64 AS bucket
      FROM toks
    )
    SELECT doc_id,
           CAST(SUM((bucket % 7) - 3) AS BIGINT) AS score,
           CAST(SUM((bucket % 7) - 3) AS BIGINT) > 0 AS kept
    FROM hashed GROUP BY doc_id
    """,
)
def quality_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear classifier application over hashed features — the score/filter
    step after `feature_hashing_counts` (featurize → score → filter). The
    weight vector here is a deterministic stand-in (w_b = b%7 − 3; a real
    deployment broadcasts trained weights), which keeps the whole scorer in
    INTEGER arithmetic: score = Σ_tokens w_bucket(token), one
    map-side-combinable aggregation, byte-exact against the oracle. No
    vector materialization — weights fold into the token pass."""
    from telemetry_parquet_spark.datapipe.dedup import md5_hash60

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("tok"),
    )
    w = (md5_hash60(F.col("tok")) % 64) % 7 - 3
    return (
        toks.select("doc_id", w.alias("w"))
        .groupBy("doc_id")
        .agg(F.sum("w").alias("score"))
        .select("doc_id", "score", (F.col("score") > 0).alias("kept"))
    )


def _simhash60_oracle(bits: int = 60, max_hamming: int = 3) -> str:
    """DuckDB replay of simhash60_md5_fingerprints + brute-force Hamming
    pairs (the oracle may go O(N²); the engine path buckets). Vote and
    fingerprint expressions are generated to mirror the Spark tree."""
    votes = ",\n      ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, lower(t) AS tok
      FROM documents,
           LATERAL unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> length(x) > 0)) AS u(t)
      WHERE text IS NOT NULL
    ),
    hashed AS (
      SELECT doc_id, tok,
             (SELECT SUM((strpos('0123456789abcdef', substr(md5(tok), r.i, 1))
                          - 1) * CAST(power(16, 15 - r.i) AS BIGINT))
              FROM unnest(range(1, 16)) AS r(i)) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id,
      {votes}
      FROM hashed GROUP BY doc_id
    ),
    fps AS (SELECT doc_id, {fp} AS fp FROM votes)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


@query("dd_simhash_md5_pairs", oracle=_simhash60_oracle())
def dd_simhash_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs under an EXACT oracle — closes the family's
    long-standing no_oracle gap: the portable md5-nibble token hash
    (datapipe/dedup.py::md5_hash60) lets DuckDB replay fingerprints
    bit-for-bit, then both engines agree on the Hamming-≤3 pair set. The
    engine path still blocks candidates with the pigeonhole chunk join
    (never all-pairs); the oracle brute-forces, which is fine at oracle
    scale. The xxhash64 variant (`dd_simhash_near_dup_pairs`, rows-only)
    remains the cheaper default."""
    from telemetry_parquet_spark.datapipe.dedup import (
        hamming_pairs,
        simhash60_md5_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    fps = simhash60_md5_fingerprints(docs)
    return hamming_pairs(fps, max_hamming=3).select("id_a", "id_b", "hamming")


@query(
    "embedding_quantize_int8",
    oracle="""
    SELECT vec_id,
      len(embedding) AS dim,
      greatest(list_max(list_transform(embedding,
          x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS scale,
      md5(array_to_string(list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 127
                / greatest(list_max(list_transform(embedding,
                      y -> abs(CAST(y AS DOUBLE)))), 1e-12)) AS INTEGER)),
          ' ')) AS q_md5
    FROM embeddings
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store compaction: symmetric per-vector int8 quantization (4×
    smaller embeddings with bounded cosine error — see the error-bound
    test). Byte-exact oracle: IEEE double arithmetic with the same
    operation order, and both engines round half away from zero."""
    from telemetry_parquet_spark.datapipe.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    codes, scale = quantize_int8(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        scale.alias("scale"),
        F.md5(
            F.array_join(F.transform(codes, lambda c: c.cast("string")), " ")
        ).alias("q_md5"),
    )


@query(
    "token_counting",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                t -> length(t) > 0)) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS bpe_tokens
    FROM documents WHERE text IS NOT NULL
    """,
)
def token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both token-counting modes side by side: whitespace tokens and the
    BPE-ish pre-tokenizer count (GPT-2 splitter shape — letters / digits /
    punctuation runs). One regexp_count pass each, codegen, no explode;
    the branches of the alternation match disjoint character classes, so
    Java (leftmost-first) and RE2 (leftmost-longest) agree exactly."""
    from telemetry_parquet_spark.datapipe.text import (
        bpe_ish_token_count,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("ws_tokens"),
        bpe_ish_token_count("text").cast("long").alias("bpe_tokens"),
    )


# Shared CTE: lowercased stride-1 8-token windows with positions (1-based),
# matching datapipe/dedup.py::repeated_spans / duplicate_passages.
_GRAMS_CTE = """
WITH toksq AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> length(t) > 0) AS w
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
         array_to_string(w[r.i:r.i+7], ' ') AS g
  FROM toksq, LATERAL unnest(range(1, len(w) - 7 + 1)) AS r(i)
),
duph AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
)
"""


@query(
    "dd_duplicate_passages",
    oracle=_GRAMS_CTE
    + """,
    totals AS (SELECT doc_id, COUNT(*) AS n_windows FROM grams GROUP BY doc_id),
    dups AS (
      SELECT doc_id, COUNT(*) AS n_dup_windows
      FROM grams WHERE g IN (SELECT g FROM duph) GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_windows, d.n_dup_windows,
           round(CAST(d.n_dup_windows AS DOUBLE) / t.n_windows, 6) AS dup_frac
    FROM totals t JOIN dups d USING (doc_id)
    """,
)
def dd_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-duplication fractions (ExactSubstr signal, Lee et al. 2022):
    per document, how many of its stride-1 8-token windows also occur in
    another document. Digest-keyed census — one map-side-combinable
    aggregation, no self-join (see datapipe/dedup.py::duplicate_passages)."""
    from telemetry_parquet_spark.datapipe.dedup import duplicate_passages

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_passages(docs, window=8)


@query(
    "dd_repeated_spans",
    oracle=_GRAMS_CTE
    + """,
    hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM duph)),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > 8 THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    islands AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    )
    SELECT doc_id,
           MIN(pos) AS span_start,
           MAX(pos) + 7 AS span_end,
           MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens,
           COUNT(*) AS n_grams
    FROM islands GROUP BY doc_id, island
    """,
)
def dd_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated spans with positions — the cut-these-spans form of
    passage dedup: runs of duplicated 8-token windows merged into
    [span_start, span_end] token ranges per document (lag+cumsum island
    merge, per-doc window state). Integer output = hash-exact oracle."""
    from telemetry_parquet_spark.datapipe.dedup import repeated_spans

    docs = load_table(spark, sf_dir, "documents")
    return repeated_spans(docs, window=8)


@query(
    "encode_token_ids",
    oracle="""
    WITH toks AS (
      SELECT lower(t) AS token
      FROM documents,
           LATERAL unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> length(x) > 0)) AS u(t)
      WHERE text IS NOT NULL
    ),
    counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
    vocab AS (
      SELECT token, row_number() OVER (ORDER BY n DESC, token) AS token_id
      FROM counts
    ),
    doc_words AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'),
                         x -> length(x) > 0) AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    doc_toks AS (
      SELECT doc_id, r.i AS pos, lower(ws[r.i]) AS token
      FROM doc_words, LATERAL unnest(range(1, len(ws) + 1)) AS r(i)
    )
    SELECT d.doc_id,
           COUNT(*) AS n_tokens,
           md5(string_agg(CAST(v.token_id AS VARCHAR), ' ' ORDER BY d.pos))
             AS ids_md5
    FROM doc_toks d JOIN vocab v USING (token)
    GROUP BY d.doc_id
    """,
)
def encode_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode step between `vocab_table` and `pack_sequences`: map each
    document's tokens to dense vocabulary ids, order-preserving, proven
    byte-exact via md5 of the id sequence.

    The vocab side is vocab-sized (≈10⁵-10⁶ rows at any corpus scale) so
    the token→id join BROADCASTS — the exploded corpus never shuffles for
    the lookup; the only corpus-sized shuffle is the per-document regroup,
    keyed by high-cardinality doc_id. Together with `vocab_table` (build)
    and `pack_sequences` (batch) this completes the text→training-tensor
    path as pure relational plans."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("pos", "token"),
    )
    vocab = vocab_table(spark, sf_dir).select("token", "token_id")
    encoded = toks.join(F.broadcast(vocab), "token")
    return encoded.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                    lambda s: s["token_id"].cast("string"),
                ),
                " ",
            )
        ).alias("ids_md5"),
    )


@query(
    "html_strip_normalize",
    oracle="""
    WITH src AS (
      SELECT doc_id,
        CASE CAST(doc_id % 3 AS INTEGER)
          WHEN 0 THEN '<div class="a"><p>' || text || '</p>&nbsp;<br/></div>'
          WHEN 1 THEN '<html><body>' || text
                      || ' &amp; more &lt;tags&gt;</body></html>'
          ELSE text || ' <script>var x=1;</script>  trailing   spaces '
        END AS t
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, '<[^>]*>')) AS INT) AS n_tags,
      md5(trim(regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(t, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
            '<[^>]*>', ' ', 'g'),
          '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
          '&quot;', '"'), '&#39;', ''''),
        '\\s+', ' ', 'g'))) AS clean_md5
    FROM src
    """,
)
def html_strip_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup normalization proven byte-exact: documents are wrapped in
    synthetic HTML (tags, entities, a script block, whitespace runs — the
    corpus ships none), stripped with `datapipe.scrub.strip_html`, and the
    oracle recomputes the identical chain — both sides compare md5 of the
    cleaned text. Codegen-only; no shuffle."""
    from telemetry_parquet_spark.datapipe.scrub import strip_html

    docs = load_table(spark, sf_dir, "documents")
    mod = (F.col("doc_id") % 3).cast("int")
    marked = (
        F.when(
            mod == 0,
            F.concat(
                F.lit('<div class="a"><p>'),
                F.col("text"),
                F.lit("</p>&nbsp;<br/></div>"),
            ),
        )
        .when(
            mod == 1,
            F.concat(
                F.lit("<html><body>"),
                F.col("text"),
                F.lit(" &amp; more &lt;tags&gt;</body></html>"),
            ),
        )
        .otherwise(
            F.concat(
                F.col("text"), F.lit(" <script>var x=1;</script>  trailing   spaces ")
            )
        )
    )
    return docs.select(
        "doc_id",
        F.regexp_count(marked, F.lit(r"<[^>]*>")).alias("n_tags"),
        F.md5(strip_html(marked)).alias("clean_md5"),
    )


@query(
    "graph_pagerank",
    oracle="""
    WITH RECURSIVE
    base AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
                      CAST(l_partkey + 1000000 AS BIGINT) AS p
      FROM lineitem
    ),
    edges AS (
      SELECT s AS src, p AS dst FROM base
      UNION ALL
      SELECT p AS src, s AS dst FROM base
    ),
    nodes AS (
      SELECT DISTINCT id FROM (
        SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    aug AS (
      SELECT e.src, e.dst, d.d, TRUE AS is_real
      FROM edges e JOIN deg d USING (src)
      UNION ALL
      SELECT id, id, 1, FALSE FROM nodes
    ),
    n_cnt AS (SELECT COUNT(*) AS n FROM nodes),
    pr(iter, id, rank_s) AS (
      SELECT 0, id, CAST(1000000000000 // (SELECT n FROM n_cnt) AS BIGINT)
      FROM nodes
      UNION ALL
      SELECT p.iter + 1, a.dst,
             CAST(((1000000000000 // (SELECT n FROM n_cnt)) * 15) // 100
                  + (SUM(CASE WHEN a.is_real THEN p.rank_s // a.d ELSE 0 END)
                     * 85) // 100
                  AS BIGINT)
      FROM pr p JOIN aug a ON a.src = p.id
      WHERE p.iter < 5
      GROUP BY p.iter, a.dst
    )
    SELECT id AS node_id, rank_s FROM pr WHERE iter = 5
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five fixed-point PageRank steps over the supplier↔part co-occurrence
    graph (both directions of distinct lineitem (supplier, part) pairs;
    part ids offset by 10^6 into a shared node-id space).

    The whole recurrence is scaled-integer arithmetic, so this ITERATIVE
    algorithm carries an exact DuckDB oracle (recursive CTE, single
    recursive reference, marker self-loops for in-degree-0 nodes) — unlike
    float PageRank, where cross-engine summation order diverges. See
    operators/pagerank.py for the 100 TB shuffle shape."""
    from telemetry_parquet_spark.operators.pagerank import pagerank_fixed_point

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_suppkey").cast("long").alias("s"),
        (F.col("l_partkey") + 1000000).cast("long").alias("p"),
    ).distinct()
    edges = base.select(F.col("s").alias("src"), F.col("p").alias("dst")).unionByName(
        base.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    )
    ranks = pagerank_fixed_point(edges, iters=5)
    return ranks.select(F.col("id").alias("node_id"), "rank_s")


def _spread16_sql(col: str) -> str:
    """DuckDB spread of the low 16 bits to the even bit positions by the
    classic parallel-bit-spread magic numbers — a construction independent
    of ``layout.zorder_code``'s per-bit loop, so parity proves the two
    agree bit for bit."""
    e = f"(CAST({col} AS BIGINT) & 65535)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333),
                        (1, 0x55555555)):
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


@query(
    "zorder_codes",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           ({_spread16_sql('l_partkey')}
            | ({_spread16_sql('l_suppkey')} << 1)) AS zcode
    FROM lineitem
    """,
)
def zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton codes for (l_partkey, l_suppkey) — the clustering key behind
    z-order layout (sources/layout.py). Pure codegen bit arithmetic; the
    oracle recomputes the identical interleave in DuckDB."""
    from telemetry_parquet_spark.sources.layout import zorder_code

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_code(["l_partkey", "l_suppkey"], 16).alias("zcode"),
    )


@query(
    "corpus_global_order",
    oracle="""
    SELECT doc_id, n_chars,
           row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS global_idx
    FROM documents
    """,
)
def corpus_global_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-style global ordering with a dense index, built WITHOUT a
    single-partition window: range-repartition on the order key, partition-
    local sort + row_number, broadcast cumulative offsets (see
    operators/global_index.py). Identical output to the naive global
    ``row_number()``, which is what the oracle replays."""
    from telemetry_parquet_spark.operators.global_index import global_sort_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return global_sort_index(
        docs, [F.col("n_chars").desc(), F.col("doc_id").asc()]
    )
