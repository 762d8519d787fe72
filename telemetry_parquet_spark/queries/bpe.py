"""BPE tokenizer queries — merge-pair learning and subword encoding, both
with byte-exact DuckDB recursive-CTE oracles.

Completes the tokenizer path started by ``vocab_table`` → ``encode_token_ids``
(word-level ids, queries/corpus.py): ``bpe_learn_merges`` learns the merge
table, ``encode_bpe_ids`` encodes every document into subword-piece id
sequences with it. See datapipe/bpe.py for the 100 TB shape (the iterative
loop runs on the vocab, never the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from telemetry_parquet_spark.queries.registry import query
from telemetry_parquet_spark.sources.tables import load_table, read_parquet

N_MERGES = 16

# Shared recursive state: one row per (step, word, freq, syms); step 0 is
# the character split, each next level applies that level's best pair
# (count DESC, then (l, r) lexicographic ASC) with greedy left-to-right
# non-overlapping replacement. The greedy scan is relational: match
# positions → gaps-and-islands run start → every even offset within a run
# is selected (runs longer than 1 only occur when left == right).
_STATE_CTE = """
words AS (
  SELECT t AS word, COUNT(*) AS freq
  FROM documents,
       LATERAL unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> length(x) > 0)) AS u(t)
  WHERE text IS NOT NULL
  GROUP BY t
),
init AS (
  SELECT word, freq,
         list_transform(range(1, length(word)+1),
                        i -> substr(word, i, 1)) AS syms
  FROM words
),
st(step, word, freq, syms) AS (
  SELECT 0, word, freq, syms FROM init
  UNION ALL
  SELECT step + 1, word, freq,
         list(CASE WHEN selected THEN bl || br
                   WHEN sel_prev THEN NULL
                   ELSE s END ORDER BY p)
           FILTER (WHERE NOT sel_prev)
  FROM (
    SELECT *, coalesce(LAG(selected) OVER (PARTITION BY word ORDER BY p),
                       FALSE) AS sel_prev
    FROM (
      SELECT *,
             matched AND ((p - MIN(p) OVER (PARTITION BY word, matched, grp))
                          % 2 = 0) AS selected
      FROM (
        SELECT *, (l = bl AND r IS NOT DISTINCT FROM br) AS matched,
               p - ROW_NUMBER() OVER (
                     PARTITION BY word, (l = bl AND r IS NOT DISTINCT FROM br)
                     ORDER BY p) AS grp
        FROM (
          SELECT *,
                 FIRST_VALUE(l) OVER w AS bl,
                 FIRST_VALUE(r) OVER w AS br
          FROM (
            SELECT step, word, freq, p, syms[p] AS s, syms[p] AS l,
                   CASE WHEN p < len(syms) THEN syms[p+1] END AS r,
                   SUM(CASE WHEN p < len(syms) THEN freq END)
                     OVER (PARTITION BY syms[p],
                           CASE WHEN p < len(syms) THEN syms[p+1] END) AS cnt
            FROM st, LATERAL unnest(range(1, len(syms)+1)) AS u(p)
            WHERE step < {n}
          )
          WINDOW w AS (ORDER BY (CASE WHEN r IS NULL THEN 1 ELSE 0 END),
                       cnt DESC, l, r
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)
        )
      )
    )
  )
  WHERE br IS NOT NULL
  GROUP BY step, word, freq
)
""".replace("{n}", str(N_MERGES))


@query(
    "bpe_learn_merges",
    oracle=f"""
    WITH RECURSIVE
    {_STATE_CTE},
    pairs AS (
      SELECT step, syms[p] AS l, syms[p+1] AS r, SUM(freq) AS cnt
      FROM st, LATERAL unnest(range(1, len(syms))) AS u(p)
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT step, l, r, cnt,
             ROW_NUMBER() OVER (PARTITION BY step
                                ORDER BY cnt DESC, l, r) AS rn
      FROM pairs
    )
    SELECT CAST(step + 1 AS INT) AS step, l AS left_sym, r AS right_sym,
           l || r AS merged, CAST(cnt AS BIGINT) AS pair_count
    FROM best WHERE rn = 1 AND step < {N_MERGES}
    """,
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn N_MERGES BPE merge rules from the documents vocabulary — an
    ITERATIVE algorithm with a byte-exact recursive-CTE oracle (the
    operators/pagerank.py discipline: integer counts + deterministic
    tiebreaks = bit-identical cross-engine replay). The oracle re-derives
    each level's argmax from the carried state; the engine collects a
    single argmax row per iteration (driver-sized)."""
    from telemetry_parquet_spark.datapipe.bpe import learn_bpe, word_freqs

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = learn_bpe(word_freqs(docs), num_merges=N_MERGES)
    schema = StructType(
        [
            StructField("step", IntegerType()),
            StructField("left_sym", StringType()),
            StructField("right_sym", StringType()),
            StructField("merged", StringType()),
            StructField("pair_count", LongType()),
        ]
    )
    return spark.createDataFrame(merges, schema)


@query(
    "bpe_learn_merges_batched",
    # The SAME recursive-CTE oracle as bpe_learn_merges: the sequential
    # strict-BPE replay. A green row here IS the driver-checked proof that
    # the batched selector (datapipe/bpe.py learn_bpe_batched) admits
    # exactly the sequential merge sequence.
    oracle=f"""
    WITH RECURSIVE
    {_STATE_CTE},
    pairs AS (
      SELECT step, syms[p] AS l, syms[p+1] AS r, SUM(freq) AS cnt
      FROM st, LATERAL unnest(range(1, len(syms))) AS u(p)
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT step, l, r, cnt,
             ROW_NUMBER() OVER (PARTITION BY step
                                ORDER BY cnt DESC, l, r) AS rn
      FROM pairs
    )
    SELECT CAST(step + 1 AS INT) AS step, l AS left_sym, r AS right_sym,
           l || r AS merged, CAST(cnt AS BIGINT) AS pair_count
    FROM best WHERE rn = 1 AND step < {N_MERGES}
    """,
)
def bpe_learn_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE learning under the sequential oracle: per iteration one
    pair-count job + one driver collect admits a provably-compatible
    rank-prefix of merges (symbol-disjoint, created-pair bounds strictly
    below every later admit, no merged-string aliasing — see
    learn_bpe_batched), removing the per-merge driver round-trip that
    bounds learn_bpe at production merge counts (SCALE.md measures the
    crossover at sf0.1/merges=256)."""
    from telemetry_parquet_spark.datapipe.bpe import (
        learn_bpe_batched,
        word_freqs,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = learn_bpe_batched(word_freqs(docs), num_merges=N_MERGES)
    schema = StructType(
        [
            StructField("step", IntegerType()),
            StructField("left_sym", StringType()),
            StructField("right_sym", StringType()),
            StructField("merged", StringType()),
            StructField("pair_count", LongType()),
        ]
    )
    return spark.createDataFrame(merges, schema)


@query(
    "encode_bpe_ids",
    oracle=f"""
    WITH RECURSIVE
    {_STATE_CTE},
    enc AS (
      SELECT word, syms AS pieces FROM st
      WHERE step = (SELECT MAX(step) FROM st)
    ),
    piece_ids AS (
      SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) AS BIGINT) AS pid
      FROM (SELECT DISTINCT unnest(pieces) AS piece FROM enc)
    ),
    toks AS (
      SELECT doc_id, p AS tpos, arr[p] AS word
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> length(x) > 0) AS arr
        FROM documents WHERE text IS NOT NULL
      ), LATERAL unnest(range(1, len(arr)+1)) AS u(p)
    ),
    doc_pieces AS (
      SELECT t.doc_id, t.tpos, q.p AS ppos, e.pieces[q.p] AS piece
      FROM toks t JOIN enc e USING (word),
           LATERAL unnest(range(1, len(e.pieces)+1)) AS q(p)
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_pieces,
           md5(string_agg(CAST(i.pid AS VARCHAR), ' '
                          ORDER BY d.tpos, d.ppos)) AS ids_md5
    FROM doc_pieces d JOIN piece_ids i USING (piece)
    GROUP BY d.doc_id
    """,
)
def encode_bpe_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document into BPE-piece id sequences using the learned
    merges; compared as md5 of the space-joined id sequence (byte-exact).

    Scale shape: merges apply to the DISTINCT-WORD table only; the corpus
    is encoded by a broadcast word→pieces join (corpus never re-tokenized
    per merge), then a broadcast piece→id join; the only corpus-keyed
    shuffle is the final per-doc reassembly.

    The word→pieces table is a TOKENIZER ARTIFACT: trained once per
    corpus fingerprint (via the batched learner — provably equivalent to
    the sequential one, the equivalence the driver re-proves every round
    through bpe_learn_merges_batched's shared oracle) and persisted under
    the session warehouse (the materialize_cached discipline every
    derived-layout query follows). Encoding N corpora against one
    tokenizer pays the learning loop once — the real pipeline shape; the
    oracle still re-derives learn+encode from scratch each run."""
    import os as _os

    from pyspark.sql import Window

    from telemetry_parquet_spark.datapipe.bpe import (
        learn_bpe_batched,
        word_freqs,
    )
    from telemetry_parquet_spark.datapipe.text import tokens
    from telemetry_parquet_spark.sources.skipping import materialize_cached

    docs = load_table(spark, sf_dir, "documents")

    def build(root: str) -> None:
        _, state = learn_bpe_batched(word_freqs(docs), num_merges=N_MERGES)
        state.select("word", F.col("syms").alias("pieces")).write.mode(
            "overwrite"
        ).parquet(_os.path.join(root, "enc"))

    root = materialize_cached(
        spark,
        _os.path.join(sf_dir, "documents.parquet"),
        f"bpe_enc_n{N_MERGES}_" + _os.path.basename(sf_dir.rstrip("/")),
        build,
    )
    enc = read_parquet(spark, _os.path.join(root, "enc"))
    # global row_number over the PIECE VOCAB only (vocab-sized, like
    # vocab_table's rank) — never over the corpus
    piece_ids = (
        enc.select(F.explode("pieces").alias("piece"))
        .distinct()
        .select(
            "piece",
            F.row_number().over(Window.orderBy("piece")).cast("long").alias("pid"),
        )
    )
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("tpos0", "word"),
    )
    doc_pieces = toks.join(F.broadcast(enc), "word").select(
        "doc_id",
        "tpos0",
        F.posexplode("pieces").alias("ppos0", "piece"),
    )
    return (
        doc_pieces.join(F.broadcast(piece_ids), "piece")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pieces"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("tpos0", "ppos0", F.col("pid"))
                            )
                        ),
                        lambda s: s["pid"].cast("string"),
                    ),
                    " ",
                )
            ).alias("ids_md5"),
        )
    )
