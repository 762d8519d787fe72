"""``sources.tables.read_parquet``: the one internal Parquet reader and its
schema memo.

The lint keeps every internal read on the helper; the memo tests pin what
the key covers (file fingerprints, schema-conversion confs), that a path
the memo cannot fingerprint raises Spark's own error, and the cap."""

from __future__ import annotations

import ast
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from telemetry_parquet_spark.sources import tables

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "telemetry_parquet_spark")
BARE_READ = re.compile(r"\.read\s*\.\s*parquet\(")


def _helper_lines() -> tuple[str, range]:
    path = os.path.join(PKG, "sources", "tables.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "read_parquet")
    return path, range(fn.lineno, fn.end_lineno + 1)


def test_no_bare_read_parquet_outside_helper():
    helper_path, helper_span = _helper_lines()
    offenders = []
    for d, _, names in os.walk(PKG):
        for n in sorted(names):
            if not n.endswith(".py"):
                continue
            path = os.path.join(d, n)
            with open(path) as fh:
                text = fh.read()
            for m in BARE_READ.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                if path == helper_path and line in helper_span:
                    continue
                offenders.append(f"{os.path.relpath(path, PKG)}:{line}")
    assert not offenders, (
        "bare .read.parquet( outside sources.tables.read_parquet (each one "
        "fires a schema-inference job per build): " + ", ".join(offenders))


def _jobs_in(spark, fn):
    """(fn's result, number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup("read-parquet-test", "read_parquet test")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup("read-parquet-test"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_rewritten_file_is_reread_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert tables.read_parquet(spark, path).columns == ["a"]
    # a memo hit: same schema, no inference job
    df, jobs = _jobs_in(spark, lambda: tables.read_parquet(spark, path))
    assert (df.columns, jobs) == (["a"], 0)
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = tables.read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_schema_conf_is_part_of_the_key(spark, tmp_path):
    from pyspark.sql.types import BinaryType, StringType

    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert tables.read_parquet(spark, path).schema["b"].dataType == BinaryType()
        spark.conf.set(key, "true")
        assert tables.read_parquet(spark, path).schema["b"].dataType == StringType()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_missing_path_raises_sparks_own_error(spark, tmp_path):
    missing = str(tmp_path / "nope.parquet")
    with pytest.raises(Exception) as bare:
        spark.read.parquet(missing)
    with pytest.raises(Exception) as helper:
        tables.read_parquet(spark, missing)
    assert type(helper.value) is type(bare.value)
    assert "PATH_NOT_FOUND" in str(helper.value)


def test_memo_is_capped_and_evicts_the_oldest(spark, tmp_path, monkeypatch):
    from collections import OrderedDict

    cap = 3
    monkeypatch.setattr(tables, "SCHEMA_MEMO_CAP", cap)
    monkeypatch.setattr(tables, "_schema_memo", OrderedDict())
    paths = []
    for i in range(cap + 2):
        path = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), path)
        paths.append(path)
        tables.read_parquet(spark, path)
        assert len(tables._schema_memo) <= cap
    memo_paths = [key[0][0][0] for key in tables._schema_memo]
    assert memo_paths == paths[-cap:]
