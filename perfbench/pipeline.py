"""``pipeline_batch``: one cold pass over a slice of registered entries.

Set-up generates the entries' input tables from the seed (``documents``
and ``embeddings`` at the test data's sf0.01 size), untimed, then
registers them with ``session.load_tables`` and counts their rows; the
registration runs ``SETUP_REPEATS`` times, each on a fresh copy of the
files.  Then each entry of ``ENTRIES`` runs
once, in order, in this fresh process with empty index and cache
directories: build the DataFrame, ``collect()``.  Each result is compared
with the entry's ``oracle_sql()`` on DuckDB over the same files, the way
``scripts/check_correctness.py`` compares them.

The slice keeps the entries behind the project's operator targets that fit
the run budget: ``dedup_exact`` (the exact-dedup fingerprint helper),
``kmeans_train`` (the memoized model store) and
``stream_cluster_maintenance`` (streaming micro-batch overhead, the
persisted signature index, connected components).  Run cold, the slice
takes about 28 s on 4 cores.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import duckdb

import gen
import spans

N_DOCS = 500
N_VECS = 500
SETUP_REPEATS = 7
ENTRIES = ["dedup_exact", "kmeans_train", "stream_cluster_maintenance"]
TABLES = ["documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _norm(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


def build_inputs(spark, tmp: str, seed: int, n_docs: int, n_vecs: int):
    """Generate the input tables once, then time their registration and
    row counts SETUP_REPEATS times, each on a fresh copy of the files (the
    copy is not timed).  Returns (the last copy's directory, seconds per
    repeat)."""
    from data_catalog_spark.session import load_tables

    src = os.path.join(tmp, "generated")
    gen.write_documents(src, seed, n_docs)
    gen.write_embeddings(src, seed, n_vecs)
    times, data_dir = [], None
    for i in range(SETUP_REPEATS):
        if data_dir is not None:
            shutil.rmtree(data_dir, ignore_errors=True)
        data_dir = os.path.join(tmp, f"data{i}")
        shutil.copytree(src, data_dir)
        t0 = time.perf_counter()
        for df in load_tables(spark, data_dir, TABLES).values():
            df.count()
        times.append(time.perf_counter() - t0)
    return data_dir, times


def run(spark, tmp: str, seed: int, tracer=None, n_docs: int = N_DOCS,
        n_vecs: int = N_VECS) -> dict:
    import __spark_entry__

    data_dir, setup_times = build_inputs(spark, tmp, seed, n_docs, n_vecs)
    queries = __spark_entry__.queries()
    oracles = __spark_entry__.oracle_sql()
    results, entry_s, entry_work = {}, {}, {}
    window = spans.Window(spark) if tracer is None else None
    for name in ENTRIES:
        fn = queries[name]

        def call(fn=fn):
            df = fn(spark, data_dir)
            return df.columns, df.collect()

        # entries run one at a time: a window per entry sees exactly its
        # jobs, including those of its streaming query's own thread
        w = spans.Window(spark) if tracer is not None else None
        t0 = time.perf_counter()
        if tracer is None:
            results[name] = call()
        else:
            tracer.request_id = name
            try:
                results[name] = tracer.span(f"entry.{name}", call)
            finally:
                tracer.request_id = None
        entry_s[name] = time.perf_counter() - t0
        if w is not None:
            entry_work[name] = w.close()
    pipeline_s = sum(entry_s.values())
    work = window.close() if window is not None else {
        k: sum(w[k] for w in entry_work.values()) for k in ("cpu_s", "jobs", "stages", "tasks")}

    t_check = time.perf_counter()
    failures: dict[str, int] = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    for name, (cols, rows) in results.items():
        if not rows:
            failures[f"{name}_empty"] = 1
            continue
        if name not in oracles:
            continue
        cur = con.execute(oracles[name])
        want_cols = [d[0] for d in cur.description]
        want = cur.fetchall()
        if sorted(cols) != sorted(want_cols) or _norm(rows, cols) != _norm(want, want_cols):
            failures[f"{name}_wrong"] = 1
    con.close()
    return {
        "setup_times": setup_times,
        "attempted": len(ENTRIES),
        "failures": failures,
        "pipeline_s": pipeline_s,
        "work": work,
        "entry_s": entry_s,
        "entry_work": entry_work,
        "check_s": time.perf_counter() - t_check,
    }


def layer_metrics(result: dict) -> dict:
    """Per-entry seconds, jobs and stages of a traced run."""
    out = {}
    for name in ENTRIES:
        g = result["entry_work"].get(name, {"jobs": 0, "stages": 0})
        out[f"entry.{name}.s"] = result["entry_s"][name]
        out[f"entry.{name}.jobs"] = g["jobs"]
        out[f"entry.{name}.stages"] = g["stages"]
    return out
