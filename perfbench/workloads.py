"""Workload catalogue: which operations a pass runs, in what seeded order,
and the seeded ``table_service`` commit chain with its DuckDB replay.

Nothing here starts Spark on import; the Spark-facing functions take the
session as an argument."""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

from datagen import PRIORITIES

# Subsets of the oracled registry sized so one warm pass takes 4-5 s on a
# 4-core host and a 12 s run fits two passes (see README.md, "Budget"):
# TPC-H scan/aggregate and the 8-way multi-join head, a window suite,
# sessionization, a funnel, the JSON flatten and an explode.
ANALYTICS = (
    "q1_pricing_summary", "q8_market_share", "w4_rank_suite",
    "sessionize_events", "funnel_conversion", "events_flatten",
    "x1_token_explode",
)

# a driver-side iterative loop (k-means fires jobs while building),
# Arrow/pandas workers (lang_id, pii_redaction) and n-gram dedup
CURATION = (
    "ml_kmeans_assignments", "dd_ngram_jaccard_pairs", "lang_id", "pii_redaction",
)

# tables each workload reads (each set-up round loads each one once)
TABLES = {
    "analytics": ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"),
    "curation": ("documents", "embeddings"),
    "table_service": ("orders",),
}

WORKLOADS = ("analytics", "curation", "table_service")

# nominal seconds of one warm pass on a 4-core host; a run measures
# ``--seconds // PASS_SECONDS`` whole passes
PASS_SECONDS = {"analytics": 5, "curation": 5, "table_service": 8}

# table_service: source table, key, and the money column checked in cents
TS_TABLE, TS_KEY, TS_MONEY = "orders", "o_orderkey", "o_totalprice"
TS_INSERT_OFFSET = 1_000_000  # merge inserts are copies at key + offset


@dataclass(frozen=True)
class Chain:
    """Seeded constants of one ``table_service`` commit chain over a table
    whose keys are ``0 .. n_rows - 1``."""

    cuts: tuple[int, ...]          # append i covers keys [cuts[i], cuts[i+1])
    merge_lo: int                  # merge source: keys [merge_lo, merge_hi)
    merge_hi: int
    delete_before: dt.date         # COW delete: o_orderdate < this
    mor_priority: str              # MOR delete: priority = p AND custkey % 7 = r
    mor_mod: int
    update_mod: int                # MOR update: status 'O' AND custkey % 11 = m
    scan_lo: int                   # pruned scan: key BETWEEN lo AND hi
    scan_hi: int

    @property
    def merge_pred(self) -> str:
        return f"{TS_KEY} >= {self.merge_lo} AND {TS_KEY} < {self.merge_hi}"

    @property
    def delete_pred(self) -> str:
        return f"o_orderdate < DATE'{self.delete_before.isoformat()}'"

    @property
    def mor_delete_pred(self) -> str:
        return (f"o_orderpriority = '{self.mor_priority}' "
                f"AND o_custkey % 7 = {self.mor_mod}")

    @property
    def update_pred(self) -> str:
        return f"o_orderstatus = 'O' AND o_custkey % 11 = {self.update_mod}"


def op_order(workload: str, seed: int) -> list[str]:
    """The seeded order of a query workload's operations."""
    ops = list({"analytics": ANALYTICS, "curation": CURATION}[workload])
    random.Random(f"{workload}:{seed}").shuffle(ops)
    return ops


def make_chain(seed: int, n_rows: int) -> Chain:
    rng = random.Random(f"table_service:{seed}")
    q = n_rows // 4
    # three interior cuts, each within +-20% of an even quarter
    cuts = [0] + [i * q + rng.randint(-q // 5, q // 5) for i in (1, 2, 3)] + [n_rows]
    width = rng.randint(n_rows // 20, n_rows // 10)
    merge_lo = rng.randint(0, n_rows - width)
    scan_w = rng.randint(n_rows // 10, n_rows // 5)
    scan_lo = rng.randint(0, n_rows - scan_w)
    return Chain(
        cuts=tuple(cuts),
        merge_lo=merge_lo,
        merge_hi=merge_lo + width,
        delete_before=dt.date(1995, 1, 1) + dt.timedelta(days=rng.randint(60, 300)),
        mor_priority=rng.choice(PRIORITIES),
        mor_mod=rng.randrange(7),
        update_mod=rng.randrange(11),
        scan_lo=scan_lo,
        scan_hi=scan_lo + scan_w,
    )


# --- the chain, run through sources.snapshots ---------------------------

def chain_ops() -> list[tuple[str, str]]:
    """(kind, label) of every operation of one pass, in order; ``kind``
    names the ``sources.snapshots`` function the operation calls."""
    ops: list[tuple[str, str]] = []
    for i in range(1, 5):
        ops.append(("append", f"append_{i}"))
        ops.append(("read_snapshot", f"read_head_v{i}"))
    ops += [
        ("snapshot_row_count", "row_count_v4"),
        ("merge_into", "merge_into"),
        ("table_changes", "changes_v4_v5"),
        ("delete_where", "delete_where"),
        ("plan_snapshot_scan", "pruned_scan_v6"),
        ("delete_where_mor", "delete_where_mor"),
        ("read_snapshot", "read_head_v7"),
        ("update_where_mor", "update_where_mor"),
        ("table_changes", "changes_v7_v8"),
        ("compact_table", "compact_table"),
        ("snapshot_row_count", "row_count_v9"),
    ]
    ops += [("read_snapshot", f"read_v{v}") for v in range(1, 10)]
    return ops


WRITE_KINDS = frozenset({"append", "merge_into", "delete_where",
                         "delete_where_mor", "update_where_mor", "compact_table"})


def chain_steps(spark, data_dir: str, root: str, chain: Chain):
    """Yield ``(kind, label, thunk)`` for one pass over a fresh table root.
    A thunk returns a DataFrame (the caller materializes it), or a plain
    value for metadata-only operations. Thunks must run in order."""
    from pyspark.sql import functions as F

    from telemetry_parquet_spark.sources import snapshots as S
    from telemetry_parquet_spark.sources.scan_planner import Range
    from telemetry_parquet_spark.sources.tables import load_table

    src = load_table(spark, data_dir, TS_TABLE)
    key = F.col(TS_KEY)

    def merge_source():
        window = src.where(F.expr(chain.merge_pred))
        updates = window.withColumn(TS_MONEY, F.col(TS_MONEY) + F.lit(1.0))
        inserts = window.withColumn(TS_KEY, key + F.lit(TS_INSERT_OFFSET))
        return updates.unionByName(inserts)

    thunks = {}
    for i in range(1, 5):
        lo, hi = chain.cuts[i - 1], chain.cuts[i]
        thunks[f"append_{i}"] = (
            lambda lo=lo, hi=hi: S.append(spark, root, src.where((key >= lo) & (key < hi))))
        thunks[f"read_head_v{i}"] = lambda: S.read_snapshot(spark, root)
    thunks.update({
        "row_count_v4": lambda: S.snapshot_row_count(root, 4),
        "merge_into": lambda: S.merge_into(spark, root, merge_source(), keys=[TS_KEY]),
        "changes_v4_v5": lambda: S.table_changes(spark, root, 4, 5),
        "delete_where": lambda: S.delete_where(spark, root, chain.delete_pred),
        "pruned_scan_v6": lambda: S.plan_snapshot_scan(
            spark, root, [Range(TS_KEY, chain.scan_lo, chain.scan_hi)], version=6)[0],
        "delete_where_mor": lambda: S.delete_where_mor(spark, root, chain.mor_delete_pred),
        "read_head_v7": lambda: S.read_snapshot(spark, root),
        "update_where_mor": lambda: S.update_where_mor(
            spark, root, chain.update_pred, {TS_MONEY: f"{TS_MONEY} + 2.0"}),
        "changes_v7_v8": lambda: S.table_changes(spark, root, 7, 8),
        "compact_table": lambda: S.compact_table(spark, root, target_bytes=1 << 30),
        "row_count_v9": lambda: S.snapshot_row_count(root, 9),
    })
    for v in range(1, 10):
        thunks[f"read_v{v}"] = lambda v=v: S.read_snapshot(spark, root, v)
    for kind, label in chain_ops():
        yield kind, label, thunks[label]


# --- verification ---------------------------------------------------------

def cents_sql(col: str = TS_MONEY) -> str:
    return f"CAST(SUM(CAST(ROUND({col} * 100) AS BIGINT)) AS BIGINT)"


def _groups(con, sql: str) -> dict:
    """{group: (rows, cents)} of ``sql``'s (group, rows, cents) result."""
    return {g: (int(n), int(c)) for g, n, c in con.execute(sql).fetchall()}


def expected_outputs(con, orders_path: str, chain: Chain) -> dict[str, object]:
    """DuckDB replay of one chain pass over ``orders_path``: for every
    chain operation label, what its output must be. DataFrame outputs are
    ``{group: (rows, cents)}`` (group = ``_change`` for table_changes,
    else None); row counts are ints."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE ts_src AS SELECT * FROM '{orders_path}'")
    con.execute("CREATE OR REPLACE TEMP TABLE ts_state AS SELECT * FROM ts_src LIMIT 0")

    def snap(v: int) -> None:
        con.execute(f"CREATE OR REPLACE TEMP TABLE ts_v{v} AS SELECT * FROM ts_state")

    def agg(table: str, where: str = "TRUE") -> dict:
        return _groups(con, f"SELECT NULL, COUNT(*), COALESCE({cents_sql()}, 0) "
                            f"FROM {table} WHERE {where}")

    def changes(a: int, b: int) -> dict:
        out = {}
        for kind, x, y in (("insert", b, a), ("delete", a, b)):
            out.update(_groups(con, f"SELECT '{kind}', COUNT(*), {cents_sql()} FROM "
                                    f"(SELECT * FROM ts_v{x} EXCEPT ALL SELECT * FROM ts_v{y}) "
                                    "HAVING COUNT(*) > 0"))
        return out

    for i in range(1, 5):
        lo, hi = chain.cuts[i - 1], chain.cuts[i]
        con.execute(f"INSERT INTO ts_state SELECT * FROM ts_src "
                    f"WHERE {TS_KEY} >= {lo} AND {TS_KEY} < {hi}")
        snap(i)
    cols = [r[0] for r in con.execute("DESCRIBE ts_src").fetchall()]
    upd = ", ".join(f"{c} + 1.0 AS {c}" if c == TS_MONEY else c for c in cols)
    ins = ", ".join(f"{c} + {TS_INSERT_OFFSET} AS {c}" if c == TS_KEY else c for c in cols)
    con.execute(f"""CREATE OR REPLACE TEMP TABLE ts_merge AS
        SELECT {upd} FROM ts_src WHERE {chain.merge_pred}
        UNION ALL SELECT {ins} FROM ts_src WHERE {chain.merge_pred}""")
    con.execute(f"DELETE FROM ts_state WHERE {TS_KEY} IN (SELECT {TS_KEY} FROM ts_merge)")
    con.execute("INSERT INTO ts_state SELECT * FROM ts_merge")
    snap(5)
    con.execute(f"DELETE FROM ts_state WHERE {chain.delete_pred}")
    snap(6)
    con.execute(f"DELETE FROM ts_state WHERE {chain.mor_delete_pred}")
    snap(7)
    con.execute(f"UPDATE ts_state SET {TS_MONEY} = {TS_MONEY} + 2.0 WHERE {chain.update_pred}")
    snap(8)
    snap(9)
    rows = {v: con.execute(f"SELECT COUNT(*) FROM ts_v{v}").fetchone()[0] for v in (4, 9)}
    exp: dict[str, object] = {
        "row_count_v4": rows[4],
        "row_count_v9": rows[9],
        "changes_v4_v5": changes(4, 5),
        "changes_v7_v8": changes(7, 8),
        "pruned_scan_v6": agg("ts_v6", f"{TS_KEY} BETWEEN {chain.scan_lo} AND {chain.scan_hi}"),
        "read_head_v7": agg("ts_v7"),
    }
    for v in range(1, 10):
        exp[f"read_v{v}"] = agg(f"ts_v{v}")
    for i in range(1, 5):
        exp[f"read_head_v{i}"] = agg(f"ts_v{i}")
    return exp


def spark_outputs(df) -> dict:
    """The Spark side of ``expected_outputs`` for one DataFrame."""
    from pyspark.sql import functions as F

    grp = F.col("_change") if "_change" in df.columns else F.lit(None)
    rows = df.groupBy(grp.alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.round(F.col(TS_MONEY) * 100).cast("long")), F.lit(0)).alias("c"),
    ).collect()
    return {r["g"]: (int(r["n"]), int(r["c"])) for r in rows}
