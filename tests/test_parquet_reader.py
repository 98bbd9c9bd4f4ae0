"""The package's one parquet reader (``sources/store.read_parquet`` /
``footer_schema``): every read takes its schema from a footer, runs no
Spark job for it, and returns the frame ``spark.read.parquet`` returns.
Where the footer cannot speak for the read, the reader infers."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hrdp_variant_load_pipeline_spark.sources.store import footer_schema, read_parquet
from hrdp_variant_load_pipeline_spark.sources.tables import (
    TABLE_NAMES,
    invalidate_tables,
    normalize_ts,
    table,
)
from tests.conftest import SF_DIR, spark_jobs_of

PKG = Path(__file__).resolve().parent.parent / "hrdp_variant_load_pipeline_spark"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _unschemed_reads(tree: ast.AST) -> list[tuple[int, str | None]]:
    """``(line, enclosing function)`` of each ``<reader>.parquet(...)`` or
    ``<reader>.format("parquet").load(...)`` whose reader chain starts at
    ``.read`` (directly, or through a name bound to a ``.read`` chain) and
    passes no ``.schema(...)``."""

    def reader_without_schema(node, bound) -> bool:
        while True:
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr == "schema":
                    return False
                node = node.func.value
            elif isinstance(node, ast.Attribute):
                return node.attr == "read"
            elif isinstance(node, ast.Name):
                return node.id in bound
            else:
                return False

    def is_parquet_read(call: ast.Call) -> bool:
        f = call.func
        if f.attr == "parquet":
            return True
        inner = f.value
        return (
            f.attr == "load"
            and isinstance(inner, ast.Call)
            and isinstance(inner.func, ast.Attribute)
            and inner.func.attr == "format"
            and [getattr(a, "value", None) for a in inner.args] == ["parquet"]
        )

    found = []

    def visit(node, fn, bound):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
            bound = bound | {
                t.id
                for n in ast.walk(node)
                if isinstance(n, ast.Assign) and reader_without_schema(n.value, set())
                for t in n.targets
                if isinstance(t, ast.Name)
            }
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and is_parquet_read(node)
            and reader_without_schema(node.func.value, bound)
        ):
            found.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn, bound)

    visit(tree, None, set())
    return sorted(found)


def test_no_parquet_read_bypasses_the_footer_reader():
    offenders = [
        f"{p.relative_to(PKG)}:{line}"
        for p in sorted(PKG.rglob("*.py"))
        for line, fn in _unschemed_reads(ast.parse(p.read_text()))
        if (str(p.relative_to(PKG)), fn) != ("sources/store.py", "read_parquet")
    ]
    assert offenders == [], (
        "read parquet through hrdp_variant_load_pipeline_spark.sources.store."
        f"read_parquet: {offenders}"
    )


def test_the_guard_sees_each_unschemed_read_form():
    src = """
def f(spark, p, s):
    a = spark.read.parquet(p)
    b = spark.read.option("x", 1).parquet(p)
    c = spark.read.format("parquet").load(p)
    reader = spark.read
    d = reader.parquet(p)
    ok1 = spark.read.schema(s).parquet(p)
    ok2 = spark.readStream.parquet(p)
    ok3 = spark.read.format("json").load(p)
    df.write.parquet(p)
"""
    assert [line for line, _ in _unschemed_reads(ast.parse(src))] == [3, 4, 5, 7]


def _content(df):
    """An order-free digest of a frame's rows: one aggregate (the hashes
    are shifted so that their sum cannot overflow)."""
    h = F.shiftright(F.xxhash64(*df.columns), 16)
    return df.select(F.count(F.lit(1)), F.sum(h)).first()


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_every_table_reads_its_footer_without_a_job(spark, name):
    """``table`` builds each testdata table's frame with no Spark job, and
    it is the frame ``spark.read.parquet`` infers: same schema and rows
    (``events`` under nanos-as-long, then ``normalize_ts``)."""
    invalidate_tables(SF_DIR)
    try:
        df, jobs = spark_jobs_of(spark, table, spark, SF_DIR, name)
    finally:
        invalidate_tables(SF_DIR)
    assert jobs == 0
    inferred = spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))
    if name == "events":
        assert spark.conf.get(NANOS) == "true"
        inferred = normalize_ts(inferred)
    assert df.schema == inferred.schema
    assert _content(df) == _content(inferred)


def test_footer_schema_types_match_inference(spark, tmp_path):
    """Decimal, date, timestamp (with and without a time zone, micros and
    nanos), list and struct columns: the footer schema is the inferred
    one, with nanos-as-long on, and the frames hold the same rows."""
    path = str(tmp_path / "typed.parquet")
    pq.write_table(
        pa.table({
            "d": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(12, 2)),
            "day": pa.array([dt.date(2024, 1, 2), dt.date(1999, 12, 31)]),
            "ts_ns": pa.array([1_700_000_000_123_456_789, 5], pa.timestamp("ns")),
            "ts_us": pa.array([1_700_000_000_123_456, None], pa.timestamp("us")),
            "ts_utc": pa.array([1_700_000_000_000, 7], pa.timestamp("ms", tz="UTC")),
            "xs": pa.array([[1.5, 2.0], []], pa.list_(pa.float32())),
            "st": pa.array([{"a": 1, "b": "x"}, None],
                           pa.struct([("a", pa.int32()), ("b", pa.string())])),
        }),
        path,
    )
    before = spark.conf.get(NANOS)
    spark.conf.set(NANOS, "true")
    try:
        df, jobs = spark_jobs_of(spark, read_parquet, spark, path)
        inferred = spark.read.parquet(path)
        assert jobs == 0
        assert footer_schema(spark, path) == df.schema == inferred.schema
        assert dict(df.dtypes)["ts_ns"] == "bigint"
        assert sorted(df.collect(), key=repr) == sorted(inferred.collect(), key=repr)
    finally:
        spark.conf.set(NANOS, before)


def test_reader_infers_where_the_footer_cannot_speak(spark, tmp_path):
    """A directory with a subdirectory (a partitioned write), a glob and
    a merged-schema session read through Spark's inference: the frame is
    ``spark.read.parquet``'s, partition column included."""
    parted = str(tmp_path / "parted")
    spark.range(12).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(
        parted
    )
    assert footer_schema(spark, parted) is None
    df, jobs = spark_jobs_of(spark, read_parquet, spark, parted)
    assert jobs >= 1  # the inference job
    inferred = spark.read.parquet(parted)
    assert df.schema == inferred.schema and "k" in df.columns
    assert sorted(df.collect()) == sorted(inferred.collect())

    flat = str(tmp_path / "flat")
    spark.range(5).write.parquet(flat)
    assert footer_schema(spark, f"{flat}/*.parquet") is None
    assert read_parquet(spark, f"{flat}/*.parquet").count() == 5

    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert footer_schema(spark, flat) is None
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert footer_schema(spark, flat) == spark.read.parquet(flat).schema
