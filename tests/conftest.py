from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Run every catalog commit with the full post-image audit: any drift between
# the python cell naming (_bucket_of/_pkey) and the SQL partition expression
# fails loudly here instead of silently dropping rows in production.
os.environ.setdefault("SPARK_GRAFT_COMMIT_AUDIT", "1")


@pytest.fixture(scope="session")
def spark():
    from data_catalog_spark.session import get_spark

    spark = get_spark(app_name="dcs-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def registry_frames(spark, sf_dir) -> tuple[dict, dict]:
    """Every registered query's DataFrame, constructed ONCE per suite run
    (r10 verdict ask #5): the plan lint (test_plan_audit) and the scalar-
    schema guard (test_registry_schemas) each swept the full registry —
    eager operators (training loops, streaming ingest) executed twice and
    the suite paid ~85 s of duplicated construction.  Construction is
    exactly what the driver does (``fn(spark, sf_dir)``), so both guards
    still see the exact frames the driver will hash; view-name reuse
    across entries is safe because Spark resolves temp views at ANALYSIS
    time (each returned frame's plan already inlined its view's content).
    Returns (frames, errors) — a query that fails to construct lands in
    errors and both consumers assert on it."""
    import __spark_entry__ as e

    frames: dict = {}
    errors: dict = {}
    for name, fn in e.queries().items():
        try:
            frames[name] = fn(spark, sf_dir)
        except Exception as ex:  # noqa: BLE001 — consumers assert errors == {}
            errors[name] = str(ex).splitlines()[0][:120]
    return frames, errors


@pytest.fixture(scope="session")
def ddb(sf_dir):
    con = duckdb.connect()
    for name in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()


def normalize(rows):
    """Order-insensitive, float-tolerant row normalization for comparisons."""
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(round(v, 6))
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def assert_same(spark_df, ddb_con, sql):
    got = normalize([tuple(r) for r in spark_df.collect()])
    want = normalize(ddb_con.execute(sql).fetchall())
    assert got == want, f"spark={got[:5]}... oracle={want[:5]}... (n={len(got)} vs {len(want)})"


def spark_work(spark, fn):
    """(fn(), jobs, stages) of the Spark jobs started while ``fn`` runs: a
    status-tracker job-id window (ids are dense; the tracker is fed by an
    asynchronous listener bus, hence the settle sleeps)."""
    import time

    tracker = spark.sparkContext.statusTracker()

    def last_job_id(after):
        last, probe, misses = after, after + 1, 0
        while misses < 20:
            if tracker.getJobInfo(probe) is None:
                misses += 1
            else:
                last, misses = probe, 0
            probe += 1
        return last

    time.sleep(0.5)
    first = last_job_id(max(tracker.getJobIdsForGroup(None), default=-1))
    out = fn()
    time.sleep(0.5)
    ids = range(first + 1, last_job_id(first) + 1)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in ids)
    return out, len(ids), stages
