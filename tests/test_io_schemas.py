"""Declared read schemas: the input tables, persisted artifacts and
scratch tables are read without the footer-inference Spark job, and the
declared schemas cannot drift from what the files hold."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil

import pytest

from data_catalog_spark import io
from data_catalog_spark.operators import persist

from conftest import SF_DIR, spark_work

PKG = pathlib.Path(__file__).resolve().parent.parent / "data_catalog_spark"

# the test data's scale factors sit side by side
SF_DIRS = [
    os.path.join(os.path.dirname(SF_DIR), f"sf{sf}") for sf in ("0.001", "0.01", "0.1")
]


@pytest.mark.parametrize("name", io.TABLE_NAMES)
def test_read_table_launches_no_job(spark, sf_dir, name):
    df, jobs, _ = spark_work(spark, lambda: io.read_table(spark, sf_dir, name))
    assert jobs == 0
    assert df.columns


def test_build_or_load_of_saved_artifact_launches_no_job(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    key = "k" * 32
    rows = [(i, i * i) for i in range(5)]
    persist.build_or_load(
        spark, "unit", key, lambda: spark.createDataFrame(rows, "id long, sq long")
    )

    def boom():  # pragma: no cover - must never run
        raise AssertionError("a saved artifact was rebuilt")

    got, jobs, _ = spark_work(
        spark, lambda: persist.build_or_load(spark, "unit", key, boom)
    )
    assert jobs == 0
    assert sorted(map(tuple, got.collect())) == rows


def test_process_scratch_table_read_back_launches_no_job(spark, tmp_path):
    df = spark.range(20).selectExpr("id", "id * 2 AS twice")
    _, write_jobs, _ = spark_work(spark, lambda: df.write.parquet(str(tmp_path / "w")))
    (back, path), jobs, _ = spark_work(
        spark, lambda: io.process_scratch_table(df, "unit")
    )
    try:
        assert jobs == write_jobs  # the write's jobs, none for reading back
        assert sorted(map(tuple, back.collect())) == [(i, 2 * i) for i in range(20)]
    finally:
        shutil.rmtree(path, ignore_errors=True)


@pytest.mark.parametrize("name", io.TABLE_NAMES)
@pytest.mark.parametrize("d", SF_DIRS, ids=os.path.basename)
def test_declared_schema_equals_inferred(spark, d, name):
    if not os.path.isdir(d):
        pytest.skip(f"no test data at {d}")
    path = f"{d}/{name}.parquet"
    declared = spark.read.schema(io.table_schema(d, name)).parquet(path).schema
    assert declared == spark.read.parquet(path).schema


def test_events_nanos_file_reads_like_micros(spark, sf_dir, tmp_path):
    """An events file whose ``ts`` is stored as TIMESTAMP(NANOS) reads
    through ``read_table`` to the same values as the micros file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_catalog_spark.streaming.events import _ts_unit

    t = pq.read_table(f"{sf_dir}/events.parquet")
    idx = t.schema.get_field_index("ts")
    t = t.set_column(idx, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, tmp_path / "events.parquet", store_schema=False)
    assert _ts_unit(str(tmp_path / "events.parquet")) == "ns"

    def ts(d):
        rows = io.read_table(spark, d, "events").select("event_id", "ts").collect()
        return sorted(map(tuple, rows))

    assert ts(str(tmp_path)) == ts(sf_dir)


# Reads that may infer their schema, one reason each.
INFERRING_READS = {
    "catalog.py:_read_legacy_snapshot": "discovers the unknown layout of a "
    "pre-manifest snapshot",
    "io.py:read_partitioned": "discovers the partition columns of a layout "
    "the caller names",
    "io.py:compact_parquet": "rewrites a directory the caller names, "
    "whatever its files hold",
    "io.py:read_parquet_evolved": "mergeSchema: unions the footers' schemas "
    "by design",
}


def _parquet_reads(tree: ast.AST):
    """(enclosing function, has .schema() in its chain) per
    ``.read....parquet(`` / ``.readStream....parquet(`` call."""

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            chain, n = set(), node.func.value
            while isinstance(n, (ast.Call, ast.Attribute)):
                if isinstance(n, ast.Attribute):
                    chain.add(n.attr)
                n = n.func if isinstance(n, ast.Call) else n.value
            if chain & {"read", "readStream"}:
                yield fn, "schema" in chain
        for child in ast.iter_child_nodes(node):
            yield from visit(child, fn)

    yield from visit(tree, None)


def test_one_way_to_read_parquet():
    """Every parquet read in the package passes a declared schema, except
    the allowlisted reads whose job is to discover one."""
    inferring = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        for fn, has_schema in _parquet_reads(tree):
            if not has_schema:
                inferring.add(f"{rel}:{fn}")
    assert inferring == set(INFERRING_READS)
