"""``serve_read``: read-only HTTP traffic to a live catalog server.

Set-up builds the catalog: ``part`` is generated from the seed, the
``datasets`` recipe (``datasets_source``) derives 20,000 entries from it,
and ``DatasetsCatalog.bulk_upsert_df`` loads them into a fresh table.  This
runs ``SETUP_REPEATS`` times (fresh directory each time); the last table is
served by a live ``make_server`` with HS256 tokens checked by
``TokenVerifier``.

Load is closed-loop (catalog UI callers wait for each reply): each of the
4 client threads sends its next request only after the previous one
answered.  Each client sends a fixed number of requests from its seeded
sequence, sized so that the run lasts about ``--seconds`` on 4 cores, so
every run of one size does the same requests in the same mix.  A traced
run also sends the probe set (``ops.probe_sequence``) after the window,
one request at a time, each in its own job window: its Spark job counts
repeat exactly, and its writes give the write path's per-layer figures.

Every answer is checked after the timed window, against DuckDB
(``Oracle``); the probe's writes by a read-back GET.  Two known defects
are expected and labelled rather than counted as wrong:

- ``search_zero_hit_500``: a search whose query-filtered set is empty
  answers 500 with an empty message;
- ``put_race_500``: the losing PUT of a racing pair answers 500 with the
  commit-conflict message.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import statistics
import threading
import time
import urllib.parse

import duckdb
from data_catalog_spark import auth, catalog, http_api, search, service
from data_catalog_spark.catalog import DatasetsCatalog
from data_catalog_spark.datasets_source import DATASETS_FROM_PART_SQL, datasets_df
from data_catalog_spark.errors import InvalidQueryError
from data_catalog_spark.http_api import DataCatalogApp, TokenVerifier, make_server
from data_catalog_spark.query import DataSetFiltering, compile_query, sqlgen
from data_catalog_spark.service import DataCatalogService
from pyspark.sql import functions as F

import gen
import ops
import spans

N_ENTRIES = 20_000
SETUP_REPEATS = 3
READ_CLIENTS = 4
# requests one closed-loop client completes per second on 4 cores (3.5
# requests/s over the 4 clients, measured)
CLIENT_RATE = 1.0
DEFECT_LABELS = ("search_zero_hit_500", "put_race_500")


def build_catalog(spark, tmp: str, seed: int, n_entries: int):
    """Generate ``part``, then build the served catalog SETUP_REPEATS times.
    Returns (catalog, data_dir, build seconds per repeat)."""

    data_dir = os.path.join(tmp, "data")
    gen.write_part(data_dir, seed, n_entries)
    times, cat = [], None
    for i in range(SETUP_REPEATS):
        if cat is not None:
            shutil.rmtree(cat.path, ignore_errors=True)
        t0 = time.perf_counter()
        cat = DatasetsCatalog(spark, os.path.join(tmp, f"catalog{i}"))
        cat.create_if_not_exists()
        # storeType is not writable through the ingest lanes: the bulk lane
        # stores it as NULL
        n_ok, n_bad = cat.bulk_upsert_df(datasets_df(spark, data_dir).drop("storeType"))
        times.append(time.perf_counter() - t0)
        if (n_ok, n_bad) != (n_entries, 0):
            raise RuntimeError(f"bulk load loaded {n_ok}, rejected {n_bad}")
    return cat, data_dir, times


def scan_partitions(cat) -> list[list[str]]:
    """The served table's entry ids by scan partition, in scan order."""
    rows = cat.df().select("id", F.spark_partition_id().alias("p")).collect()
    parts: dict[int, list[str]] = {}
    for r in rows:
        parts.setdefault(r["p"], []).append(r["id"])
    return [sorted(parts[p]) for p in sorted(parts)]


def start_server(cat):

    app = DataCatalogApp(DataCatalogService(cat), TokenVerifier(ops.SECRET, "HS256"))
    srv = make_server(app)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    return srv, th


# -- client ----------------------------------------------------------------


class Client:
    """Sends requests to the server and keeps one record per request."""

    def __init__(self, addr, records: list):
        self.addr = addr
        self.records = records

    def send(self, op: dict, tag: str) -> dict:
        path = op["path"]
        if op["query"]:
            path += "?" + urllib.parse.urlencode(op["query"])
        headers = {
            "Authorization": f"bearer {ops.token(op['persona'])}",
            "X-Perfbench-Op": tag,
        }
        body = json.dumps(op["body"]) if op["body"] is not None else None
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection(*self.addr, timeout=120)
        try:
            conn.request(op["method"], path, body=body, headers=headers)
            resp = conn.getresponse()
            data = resp.read()
            status = resp.status
        finally:
            conn.close()
        t1 = time.perf_counter()
        rec = {
            "tag": tag, "op": op, "status": status,
            "payload": json.loads(data) if data else None,
            "start": t0, "end": t1, "ms": (t1 - t0) * 1000.0,
        }
        self.records.append(rec)
        return rec


def run_readers(client: Client, sequences: list[list[dict]]) -> None:
    """One closed-loop thread per sequence, each sending all of it."""

    def loop(i: int, seq: list[dict]) -> None:
        for j, op in enumerate(seq):
            client.send(op, f"r{i}-{j}")

    threads = [threading.Thread(target=loop, args=(i, s)) for i, s in enumerate(sequences)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def send_together(client: Client, step: list[dict], tag: str) -> list[dict]:
    """Send the requests of ``step``; two or more start on a barrier."""
    if len(step) == 1:
        return [client.send(step[0], tag)]
    barrier = threading.Barrier(len(step))
    recs: list = [None] * len(step)

    def one(k: int) -> None:
        barrier.wait()
        recs[k] = client.send(step[k], f"{tag}-{k}")

    threads = [threading.Thread(target=one, args=(k,)) for k in range(len(step))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return recs


def run_probe(spark, addr, seed: int, parts: list[list[str]]) -> tuple[list[dict], list[dict]]:
    """The probe set of a traced run (``ops.probe_sequence``), one request
    (or racing pair) at a time, each in its own ``spans.Window``.  Every
    write is followed by a read-back GET of its entry, outside the window.
    Returns (records, Spark work per window with its kind and request
    count)."""
    records: list = []
    client = Client(addr, records)
    reads, steps = ops.probe_sequence(seed, parts)
    work = []
    for i, op in enumerate(reads):
        w = spans.Window(spark)
        client.send(op, f"probe-r-{i}")
        work.append({"kind": op["kind"], "requests": 1, **w.close()})
    readback = {"kind": "readback", "method": "GET", "query": {}, "body": None,
                "persona": "admin"}
    for j, step in enumerate(steps):
        w = spans.Window(spark)
        recs = send_together(client, step, f"probe-w-{j}")
        work.append({"kind": "write", "requests": len(step), **w.close()})
        for k, rec in enumerate(recs):
            rec["pair"] = len(step) > 1
            rec["readback"] = client.send({**readback, "path": rec["op"]["path"]},
                                          f"probe-rb-{j}-{k}")
    return records, work


# -- checks ----------------------------------------------------------------


def _scope(persona: str, query: dict):
    scope, user_orgs = ops.PERSONAS[persona]
    return auth.resolve_request_scope(
        {"scope": scope}, user_orgs, "GET", query_orgs=query.get("orgs")
    )


def _filtering(query: dict) -> str:
    return DataCatalogApp._filtering(query)


def _visible(entry: dict, orgs: list[str], admin: bool, filtering: str) -> bool:
    own = entry["orgUUID"] in orgs or (admin and not orgs)
    if filtering == DataSetFiltering.ONLY_PUBLIC:
        return entry["isPublic"] is True
    if filtering == DataSetFiltering.ONLY_PRIVATE:
        return entry["isPublic"] is False and own
    return entry["isPublic"] is True or own


class Oracle:
    """Expected answers for ``serve_read`` from DuckDB over the same
    generated ``part`` table, rendered by ``query.sqlgen`` from the same
    compiled query the server builds."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            f"CREATE VIEW part AS SELECT * FROM read_parquet('{data_dir}/part.parquet')"
        )
        self.con.execute(
            f"CREATE TABLE datasets AS SELECT * REPLACE (CAST(NULL AS VARCHAR) AS storeType) "
            f"FROM ({DATASETS_FROM_PART_SQL})"
        )
        self._cache: dict[str, object] = {}

    def _rows(self, sql: str) -> list[dict]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def search(self, op: dict):
        """(status, hits, total, categories, formats, empty_base)."""
        key = json.dumps([op["persona"], op["query"]], sort_keys=True)
        if key not in self._cache:
            orgs, admin = _scope(op["persona"], op["query"])
            try:
                cq = compile_query(op["query"]["query"], orgs, _filtering(op["query"]), admin)
            except InvalidQueryError:
                self._cache[key] = (400,)
            else:
                base = self.con.execute(
                    f"SELECT count(*) FROM datasets WHERE {sqlgen.query_where_sql(cq)}"
                ).fetchone()[0]
                self._cache[key] = (
                    200,
                    self._rows(sqlgen.hits_sql(cq)),
                    self.con.execute(sqlgen.total_sql(cq)).fetchone()[0],
                    [r["value"] for r in self._rows(sqlgen.categories_facet_sql(cq))],
                    [r["value"] for r in self._rows(sqlgen.formats_facet_sql(cq))],
                    base == 0,
                )
        return self._cache[key]

    def count(self, op: dict) -> int:
        orgs, admin = _scope(op["persona"], op["query"])
        cq = compile_query({}, orgs, _filtering(op["query"]), admin)
        return self.con.execute(sqlgen.total_sql(cq)).fetchone()[0]

    def entry(self, entry_id: str) -> dict | None:
        rows = self._rows(
            f"SELECT * FROM datasets WHERE id = '{entry_id.replace(chr(39), '')}'"
        )
        return rows[0] if rows else None


def _message(rec) -> str | None:
    p = rec["payload"]
    return p.get("message") if isinstance(p, dict) else None


def _same_hits(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if {k: v for k, v in g.items() if k != "score"} != {
            k: v for k, v in w.items() if k != "score"
        } or round(g["score"], 6) != round(w["score"], 6):
            return False
    return True


def check_read(rec: dict, oracle: Oracle) -> str | None:
    """None when the answer is right, else a failure label."""
    op, status, p = rec["op"], rec["status"], rec["payload"]
    if op["kind"] == "search":
        want = oracle.search(op)
        if want[0] == 400:
            return None if status == 400 else "search_wrong"
        if status == 500 and want[5] and _message(rec) == "":
            return "search_zero_hit_500"
        if status != 200:
            return "search_wrong"
        ok = (
            _same_hits(p["hits"], want[1])
            and p["total"] == want[2]
            and p["categories"] == want[3]
            and p["formats"] == want[4]
        )
        return None if ok else "search_wrong"
    if op["kind"] == "count":
        return None if status == 200 and p == oracle.count(op) else "count_wrong"
    entry = oracle.entry(op["path"].rsplit("/", 1)[1])
    if entry is None:
        return None if status == 404 else "get_wrong"
    orgs, admin = _scope(op["persona"], op["query"])
    if _visible(entry, orgs, admin, DataSetFiltering.PRIVATE_AND_PUBLIC):
        return None if status == 200 and p == entry else "get_wrong"
    return None if status == 403 else "get_wrong"


def check_write(rec: dict) -> str | None:
    """Read-your-writes: the read-back GET after each write must show it."""
    op, status, rb = rec["op"], rec["status"], rec["readback"]
    eid = op["path"].rsplit("/", 1)[1]
    if op["kind"] == "put":
        if rec["pair"] and status == 500 and (_message(rec) or "").startswith("table advanced"):
            # the loser wrote nothing: its fresh id must still be absent
            return "put_race_500" if rb["status"] == 404 else "put_wrong"
        if status != 201 or rb["status"] != 200:
            return "put_wrong"
        got = rb["payload"]
        ok = got["id"] == eid and all(got[k] == v for k, v in op["body"].items())
        return None if ok else "put_wrong"
    if op["kind"] == "post":
        if status != 200 or rb["status"] != 200:
            return "post_wrong"
        ok = all(rb["payload"][k] == v for k, v in op["body"].items())
        return None if ok else "post_wrong"
    ok = (
        status == 200
        and rec["payload"] == {"deleted_from_downloader": True, "deleted_from_publisher": True}
        and rb["status"] == 404
    )
    return None if ok else "delete_wrong"


# -- workloads -------------------------------------------------------------


def _catalog_stats(cat, first_new_version: int) -> dict:
    """Snapshot count, live data files, and bytes per new snapshot."""
    versions = cat.versions()
    manifest = cat._manifest(cat._latest_version()) or {}
    live = sum(cat._cell_file_count(owner, cell) for cell, owner in manifest.items())
    new = [v for v in versions if v >= first_new_version]
    size = 0
    for v in new:
        for root, _dirs, files in os.walk(cat._snapshot_dir(v)):
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return {
        "snapshots": len(versions),
        "live_files": live,
        "bytes_per_write": size / len(new) if new else 0.0,
    }


def run(spark, tmp: str, seed: int, seconds: float, tracer=None,
        n_entries: int = N_ENTRIES) -> dict:
    cat, data_dir, setup_times = build_catalog(spark, tmp, seed, n_entries)
    parts = scan_partitions(cat)
    if tracer is not None:
        install_tracing(tracer)
    srv, th = start_server(cat)
    try:
        addr = srv.server_address
        # warm-up: first requests pay one-time code generation and class
        # loading; a client of a long-running server never sees that cost
        warm = Client(addr, [])
        for op in ops.read_sequence(seed, 3, parts, stream=99):
            warm.send(op, "warm")
        first_new_version = (cat._latest_version() or 0) + 1
        n_per_client = max(1, round(seconds * CLIENT_RATE))
        reads = [ops.read_sequence(seed, n_per_client, parts, s)
                 for s in range(READ_CLIENTS)]
        records: list = []
        window = spans.Window(spark)
        t0 = time.perf_counter()
        run_readers(Client(addr, records), reads)
        wall_s = max(r["end"] for r in records) - t0
        work = window.close()
        # the probe runs after the window, so the window sees the catalog
        # exactly as loaded (its answers are checked against that)
        probe, probe_work = run_probe(spark, addr, seed, parts) if tracer else ([], [])
    finally:
        srv.shutdown()
        srv.server_close()
        th.join()
    stats = _catalog_stats(cat, first_new_version)

    # checks (outside the timed window); probe reads precede the probe's
    # writes, so they too see the catalog exactly as loaded
    failures: dict[str, int] = {}
    oracle = Oracle(data_dir)
    checked = []
    for r in records + probe:
        if r["op"]["kind"] in ("put", "post", "delete"):
            checked.append((r, check_write(r)))
        elif r["op"]["kind"] != "readback":  # read-backs are checked with their write
            checked.append((r, check_read(r, oracle)))
    for _, label in checked:
        if label is not None:
            failures[label] = failures.get(label, 0) + 1
    by_kind: dict[str, list[float]] = {}
    for r in records:
        by_kind.setdefault(r["op"]["kind"], []).append(r["ms"])
    return {
        "setup_times": setup_times,
        "attempted": len(checked),
        "failures": failures,
        "ops_per_s": len(records) / wall_s,
        "work": work,
        "probe_work": probe_work,
        "probe_write_ms": [r["ms"] for r in probe if r["op"]["kind"] in ("put", "post", "delete")],
        "latencies_ms": [r["ms"] for r in records],
        "by_kind_ms": by_kind,
        "catalog": stats,
        "records": records,
    }


def install_tracing(tracer) -> None:
    """Wrap the serving layers' public functions with spans; the HTTP
    entry point also marks the spans below it with the request's id."""
    orig_handle = http_api.DataCatalogApp.handle

    def handle(self, method, path, query, headers, body):
        tracer.request_id = headers.get("X-Perfbench-Op", "untagged")
        try:
            return tracer.span("http.handle", orig_handle, self, method, path, query, headers, body)
        finally:
            tracer.request_id = None

    tracer.patch(http_api.DataCatalogApp, "handle", handle)
    tracer.wrap(http_api.TokenVerifier, "__call__", "jwt.decode")
    tracer.wrap(auth, "resolve_request_scope", "auth.scope")
    tracer.wrap(service, "compile_query", "compiler.compile")
    for m in ("get_entry", "put_entry", "post_entry", "delete_entry", "search", "count"):
        tracer.wrap(service.DataCatalogService, m, f"service.{m}")
    for f in ("search", "hits", "facets_and_total"):
        tracer.wrap(search, f, f"search.{f}")
    for m in ("df", "get", "count"):
        tracer.wrap(catalog.DatasetsCatalog, m, f"catalog.{m}")
    for m in ("upsert", "bulk_upsert", "partial_update", "delete"):
        tracer.wrap(catalog.DatasetsCatalog, m, f"catalog.write.{m}")


def layer_metrics(tracer, result: dict) -> dict:
    """Per-layer figures from the spans and probe windows of a traced run."""
    med = lambda xs: statistics.median(xs) * 1000.0 if xs else 0.0  # noqa: E731
    # timings come from the timed window; warm-up and probe requests ran
    # alone, without the window's contention
    in_window = [s for s in tracer.spans
                 if s["request"] and not s["request"].startswith(("warm", "probe"))]

    def durations(name: str) -> list[float]:
        return [s["end"] - s["start"] for s in in_window if s["name"] == name]

    handle = {s["request"]: s["end"] - s["start"] for s in in_window
              if s["name"] == "http.handle"}
    outside = [r["ms"] - handle[r["tag"]] * 1000.0 for r in result["records"]
               if r["tag"] in handle]
    n_req = max(1, len(handle))
    facets = {s["parent"]: s["end"] - s["start"] for s in in_window
              if s["name"] == "search.facets_and_total"}
    out = {
        "http.handle_ms": med(list(handle.values())),
        "http.outside_handle_ms": statistics.median(outside) if outside else 0.0,
        "jwt.decode_ms": med(durations("jwt.decode")),
        "jwt.decode_calls": len(durations("jwt.decode")),
        "auth.scope_ms": med(durations("auth.scope")),
        "compiler.compile_ms": med(durations("compiler.compile")),
        "compiler.invalid_calls": sum(
            1 for s in in_window
            if s["name"] == "compiler.compile" and s["error"] == "InvalidQueryError"
        ),
        # search.hits() only builds the hits DataFrame; its job runs at the
        # collect in search.search, so hits time is the search span minus
        # its facets_and_total child
        "search.hits_ms": med([s["end"] - s["start"] - facets.get(s["id"], 0.0)
                               for s in in_window if s["name"] == "search.search"]),
        "search.facets_ms": med(list(facets.values())),
        "catalog.df_ms": med(durations("catalog.df")),
        "catalog.df_calls_per_request": len(durations("catalog.df")) / n_req,
        "catalog.get_ms": med(durations("catalog.get")),
    }
    # Spark work per request kind comes from the probe's windows, one
    # request (or racing pair) each, against the freshly loaded catalog, so
    # the counts repeat exactly for one seed
    for kind, prefix, fields in (("search", "search.%s_per_search", ("jobs", "stages", "tasks")),
                                 ("get", "catalog.%s_per_get", ("jobs", "stages", "tasks")),
                                 ("write", "catalog.%s_per_write", ("jobs", "stages"))):
        ws = [w for w in result["probe_work"] if w["kind"] == kind]
        n = sum(w["requests"] for w in ws)
        for f in fields:
            out[prefix % f] = sum(w[f] for w in ws) / n if n else 0.0
    by_id = {s["id"]: s for s in tracer.spans}

    def inside_write(s: dict) -> bool:
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"].startswith("catalog.write."):
                return True
            p = by_id.get(p["parent"])
        return False

    # the probe's writes (the window has none)
    top_writes = [s for s in tracer.spans
                  if s["name"].startswith("catalog.write.") and not inside_write(s)]
    wtime = sum(s["end"] - s["start"] for s in top_writes)
    wasted = sum(s["end"] - s["start"] for s in top_writes if s["error"] == "CommitConflictError")
    out["catalog.write_ms"] = med([s["end"] - s["start"] for s in top_writes])
    out["catalog.conflicts"] = sum(1 for s in top_writes if s["error"] == "CommitConflictError")
    out["catalog.wasted_write_share"] = wasted / wtime if wtime else 0.0
    out["catalog.bytes_per_write"] = result["catalog"]["bytes_per_write"]
    out["catalog.live_files"] = result["catalog"]["live_files"]
    out["catalog.snapshots"] = result["catalog"]["snapshots"]
    return out
