"""Self-tests for the benchmark's pure helpers (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402


# -- seeding -------------------------------------------------------------------

@pytest.mark.parametrize("workload", ["analytics", "curation"])
def test_op_order_is_seeded(workload):
    assert W.op_order(workload, 7) == W.op_order(workload, 7)
    assert W.op_order(workload, 7) != W.op_order(workload, 8)
    full = W.ANALYTICS if workload == "analytics" else W.CURATION
    assert sorted(W.op_order(workload, 7)) == sorted(full)


def test_chain_is_seeded_and_valid():
    n = datagen.ROWS["orders"]
    assert W.make_chain(3, n) == W.make_chain(3, n)
    assert W.make_chain(3, n) != W.make_chain(4, n)
    for seed in range(50):
        c = W.make_chain(seed, n)
        assert c.cuts[0] == 0 and c.cuts[-1] == n
        assert list(c.cuts) == sorted(set(c.cuts))
        assert 0 <= c.merge_lo < c.merge_hi <= n
        assert 0 <= c.scan_lo < c.scan_hi <= n


def test_chain_labels_unique_and_typed():
    ops = W.chain_ops()
    labels = [label for _, label in ops]
    assert len(labels) == len(set(labels))
    assert {kind for kind, _ in ops} >= W.WRITE_KINDS


def test_data_is_deterministic():
    a, b = datagen.build_tables(), datagen.build_tables()
    assert a.keys() == b.keys()
    assert all(a[t].equals(b[t]) for t in a)
    assert a["orders"].num_rows == datagen.ROWS["orders"]


def test_replay_is_consistent(tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    path = str(tmp_path / "orders.parquet")
    pq.write_table(datagen.build_tables()["orders"], path)
    n = datagen.ROWS["orders"]
    chain = W.make_chain(11, n)
    con = duckdb.connect()
    exp = W.expected_outputs(con, path, chain)
    rows = {v: exp[f"read_v{v}"][None][0] for v in range(1, 10)}
    assert rows[4] == exp["row_count_v4"] == n
    width = chain.merge_hi - chain.merge_lo
    assert rows[5] == n + width  # merge: width updates + width inserts
    assert exp["changes_v4_v5"]["insert"][0] == 2 * width
    assert exp["changes_v4_v5"]["delete"][0] == width
    assert rows[6] < rows[5] and rows[7] < rows[6]
    assert rows[8] == rows[7] == rows[9] == exp["row_count_v9"]
    assert exp["read_head_v7"] == exp["read_v7"]
    chg = exp["changes_v7_v8"]
    assert chg["insert"][0] == chg["delete"][0]  # an update is delete+insert
    assert chg["insert"][1] - chg["delete"][1] == 200 * chg["insert"][0]  # +2.00 each


# -- arithmetic ----------------------------------------------------------------

def test_median_geomean_ratio():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert math.isclose(stats.geomean([1.0, 4.0, 16.0]), 4.0)
    assert math.isclose(stats.geomean([2.5]), 2.5)
    assert stats.failure_ratio(0, 10) == 0.0
    assert stats.failure_ratio(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.failure_ratio(1, 0)
    with pytest.raises(ValueError):
        stats.failure_ratio(5, 4)
    with pytest.raises(ValueError):
        stats.median([])


# -- stored-bytes walk ---------------------------------------------------------

def test_dir_bytes(tmp_path):
    (tmp_path / "data").mkdir()
    (tmp_path / "data" / "a.parquet").write_bytes(b"x" * 100)
    (tmp_path / "data" / "b.parquet").write_bytes(b"y" * 23)
    (tmp_path / "_manifests").mkdir()
    (tmp_path / "_manifests" / "v1.json").write_bytes(b"{}")
    outside = tmp_path.parent / f"{tmp_path.name}-outside.bin"
    outside.write_bytes(b"z" * 1000)
    (tmp_path / "data" / "link.parquet").symlink_to(outside)
    assert stats.dir_bytes(str(tmp_path)) == (125, 3)
    assert stats.dir_bytes(str(tmp_path / "data")) == (123, 2)
    assert stats.dir_bytes(str(tmp_path / "missing")) == (0, 0)


# -- span self-time ------------------------------------------------------------

def test_self_time():
    assert stats.self_time((0.0, 10.0), []) == 10.0
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children are counted once
    assert stats.self_time((0.0, 10.0), [(1.0, 4.0), (2.0, 5.0)]) == 6.0
    # children are clipped to the parent
    assert stats.self_time((2.0, 6.0), [(0.0, 3.0), (5.0, 9.0)]) == 2.0
    # a child outside the parent covers nothing
    assert stats.self_time((0.0, 1.0), [(2.0, 3.0)]) == 1.0
    # contiguous children cover the whole parent
    assert stats.self_time((0.0, 3.0), [(0.0, 1.0), (1.0, 2.0), (2.0, 3.0)]) == 0.0
    # a traced operation: outer clock, build + plan, a gap, then exec
    assert stats.self_time((0.0, 10.0), [(1.0, 4.0), (4.0, 6.0), (6.5, 9.5)]) == 2.0
