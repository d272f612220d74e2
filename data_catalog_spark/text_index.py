"""Inverted text index for catalog search — the write-time structure the
reference's backing store (Elasticsearch) actually builds for its analyzed
fields (data_catalog/configuration_const.py:21-84), re-expressed as a
postings parquet table.

The scan-based search path (search.py) evaluates the three text clauses as
regex/contains over every visible row — correct, codegen'd, but O(corpus)
per query.  This module is the scale path: a write-once postings table

    (field, gram, id)

with three posting families:

- ``title``      → character TRIGRAMS of the lowered title.  The title
  clause is a *substring* match (T1 wildcard semantics), so token postings
  cannot serve it; char n-grams can — ``q ⊆ title`` implies every trigram
  of q appears in the title, so probing ALL query trigrams and keeping ids
  that matched every one yields a candidate superset (ES's own
  ngram-analyzer wildcard acceleration).
- ``dataSample`` → standard-analyzer tokens.  The boundary-delimited regex
  the scan path uses is exactly token-set intersection
  (analyzers.token_match_pattern's equivalence guarantee), so token
  postings are lossless for this clause.
- ``sourceUri``  → uri-analyzer tokens, same argument.
- ``title_stem`` → PORTER-STEMMED standard-analyzer tokens of the title —
  the write-time shape of ES's `english` analyzer (reference
  configuration_const.py:26-29).  Stemmed-token-set intersection is
  token-equality over this family, so the probe is lossless; stemming
  moves off the per-query scan path (the r4 1.83 s regression) onto the
  write path, which is where ES itself pays it.

Candidates from the three clause arms union, then the EXACT compiled
predicate + scoring re-runs on the semi-joined candidates — the index
accelerates, never decides, so results are bit-identical to the scan path
and the same DuckDB oracle checks both.

Scale notes (100 TB): the postings table is partitioned by ``field``
(partition pruning per clause) and the gram probe is an IN-list pushed to
the parquet scan (row-group skipping on gram min/max); at deployment scale
it would additionally be bucketed by gram so probe joins co-locate, and the
ALL-trigrams title probe would use only the k rarest query grams (df stats)
— the candidate-superset property survives any gram subset.  A hot-gram
posting list is O(corpus); the title probe's count-match keeps the work per
candidate bounded by the query length, and the standard df-cutoff guard
(dedup.MAX_SHINGLE_DF shape) applies if degenerate grams dominate.

Queries whose title probe is shorter than one trigram (len < 3) fall back
to the scan path for that clause only — documented, and exercised in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import analyzers, search
from .io import materialization_path
from .query.compiler import CompiledQuery

TITLE_GRAM = 3
# one row per (field, gram, id); ``field`` is the hive partition column
POSTINGS_SCHEMA = "gram STRING, id STRING, field STRING"


def text_index_path(sf_dir: str) -> str:
    """Postings dir keyed by the source table's content stat — see
    io.materialization_path (datasets derive from part.parquet).  The
    kind carries an index-format version: v2 added the title_stem family,
    and a v1 dir on disk must not be reused (its probes would silently
    return zero candidates for stem queries)."""
    return materialization_path(sf_dir, "text-index-v2", "part.parquet")


def build_text_index(ds: DataFrame, path: str) -> None:
    """Write the postings table: one row per (field, gram, id), distinct.
    Map-only explode + a distinct per field — one shuffle on the slim
    (field, gram, id) triple; hive-partitioned by field."""
    # the length filter also guards the sub-trigram title edge: Spark's
    # sequence(1, 0) is the DESCENDING [1, 0], so a title shorter than one
    # trigram would otherwise emit junk sub-length grams into the index
    trigrams = F.expr(
        f"array_distinct(filter(transform(sequence(1, greatest(length(lower(title)) - "
        f"{TITLE_GRAM - 1}, 1)), i -> substring(lower(title), i, {TITLE_GRAM})), "
        f"x -> length(x) = {TITLE_GRAM}))"
    )
    std_tokens = F.expr(
        f"array_distinct(filter(split(lower(dataSample), "
        f"'{analyzers.STANDARD_SPLIT}'), x -> x != ''))"
    )
    uri_stop = ", ".join(f"'{w}'" for w in sorted(analyzers.URI_STOPWORDS))
    uri_tokens = F.expr(
        f"array_distinct(filter(split(lower(sourceUri), '{analyzers.URI_SPLIT}'), "
        f"x -> x != '' AND NOT array_contains(array({uri_stop}), x)))"
    )
    title_tokens = (
        f"filter(split(lower(title), '{analyzers.STANDARD_SPLIT}'), x -> x != '')"
    )
    stem_tokens = F.expr(
        f"array_distinct({analyzers.spark_stem_transform(title_tokens)})"
    )
    parts = [
        ds.select(F.lit("title").alias("field"), F.explode(trigrams).alias("gram"), "id"),
        ds.select(
            F.lit("dataSample").alias("field"), F.explode(std_tokens).alias("gram"), "id"
        ),
        ds.select(
            F.lit("sourceUri").alias("field"), F.explode(uri_tokens).alias("gram"), "id"
        ),
        ds.select(
            F.lit("title_stem").alias("field"), F.explode(stem_tokens).alias("gram"), "id"
        ),
    ]
    postings = parts[0]
    for p in parts[1:]:
        postings = postings.unionByName(p)
    postings.distinct().write.mode("overwrite").partitionBy("field").parquet(path)


def text_candidates(
    spark: SparkSession, index_path, text: str, scan_df: DataFrame
) -> DataFrame:
    """1-column (id) candidate frame — a SUPERSET of the docs any of the
    three text clauses can match, from postings probes only (plus the
    documented short-query scan fallback for the title clause).
    ``index_path``: a postings dir, or a live postings DataFrame (the
    SegmentedTextIndex read view)."""
    idx = (
        index_path
        if isinstance(index_path, DataFrame)
        else spark.read.schema(POSTINGS_SCHEMA).parquet(index_path)
    )
    q = text.lower()
    arms: list[DataFrame] = []
    if len(q) >= TITLE_GRAM:
        grams = sorted({q[i : i + TITLE_GRAM] for i in range(len(q) - TITLE_GRAM + 1)})
        arms.append(
            idx.where((F.col("field") == "title") & F.col("gram").isin(grams))
            .groupBy("id")
            .agg(F.count_distinct("gram").alias("ng"))
            .where(F.col("ng") == len(grams))
            .select("id")
        )
    else:
        # sub-trigram probe: the index cannot serve a substring this short —
        # scan fallback for the title clause only
        arms.append(
            scan_df.where(F.lower(F.col("title")).contains(q)).select("id")
        )
    std = analyzers.standard_tokens(text)
    if std:
        arms.append(
            idx.where((F.col("field") == "dataSample") & F.col("gram").isin(std)).select("id")
        )
    uri = analyzers.uri_tokens(text)
    if uri:
        arms.append(
            idx.where((F.col("field") == "sourceUri") & F.col("gram").isin(uri)).select("id")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.distinct()


def indexed_hits(
    spark: SparkSession, ds: DataFrame, index_path: str, cq: CompiledQuery
) -> DataFrame:
    """The scan-path hits pipeline over the index-narrowed candidate set:
    semi-join candidates into the datasets scan, then re-apply the EXACT
    compiled predicate + scoring — identical output contract (and oracle)
    to ``search.hits`` on the full scan."""
    if not cq.text:
        return search.hits(ds, cq)
    cand = text_candidates(spark, index_path, cq.text, ds)
    return search.hits(ds.join(cand, "id", "left_semi"), cq)


def stem_candidates(
    spark: SparkSession, index_path, stemmed_terms: list[str]
) -> DataFrame:
    """1-column (id) candidates for a stemmed-title match: ids with ANY
    posting in the title_stem family matching a probe term.  Because the
    family stores exactly the stemmed standard tokens, this probe is
    LOSSLESS for arrays_overlap(stemmed_tokens, probes) — the candidate
    set IS the answer set; the caller still re-applies the exact scan
    predicate on the semi-joined rows so the index can only ever
    accelerate, never decide."""
    idx = (
        index_path
        if isinstance(index_path, DataFrame)
        else spark.read.schema(POSTINGS_SCHEMA).parquet(index_path)
    )
    return (
        idx.where((F.col("field") == "title_stem") & F.col("gram").isin(stemmed_terms))
        .select("id")
        .distinct()
    )


def indexed_hits_df(
    spark: SparkSession, ds: DataFrame, postings: DataFrame, cq: CompiledQuery
) -> DataFrame:
    """``indexed_hits`` over a live postings DataFrame (segmented-index
    read view) instead of a materialized dir."""
    if not cq.text:
        return search.hits(ds, cq)
    cand = text_candidates(spark, postings, cq.text, ds)
    return search.hits(ds.join(cand, "id", "left_semi"), cq)


# -- incremental (segmented) index -------------------------------------------
#
# The static materialization above serves an immutable corpus; a LIVE
# catalog needs the ES behavior — writes keep search in sync.  Lucene's
# answer is segments, re-expressed in parquet:
#
#   MANIFEST.json            (the ONLY mutable file — atomic os.replace)
#   seg-<uuid>/postings/     immutable parquet, partitioned by field
#   seg-<uuid>/ids/          immutable parquet id sidecar (one column)
#   seg-<uuid>/ts-<uuid>/    immutable tombstone-id snapshot dirs
#
# Each upsert batch becomes a NEW immutable segment holding the full
# postings of the affected docs; the batch's ids are tombstoned in every
# earlier segment that contains them.  Segment membership checks run as a
# Spark semi-join against the parquet id sidecars (never a driver-side
# full-id-list set op); per-segment tombstones live INLINE in the manifest
# while small and spill to immutable parquet snapshot dirs past
# TS_INLINE_MAX, after which reads apply them by LEFT-ANTI JOIN — so no
# structure anywhere is O(segment rows) on the driver.
#
# Every mutation (rebuild / upsert / delete / compact) commits by writing
# new immutable dirs and then atomically replacing MANIFEST.json — a crash
# at ANY point leaves the previous manifest naming only complete dirs
# (stale, never broken; orphan dirs are swept by the next compact or
# rebuild).  Mutations are serialized by an O_EXCL lock file with the
# catalog's rename-aside stale-break protocol (catalog.py _commit_lock),
# and segment names are uuids, so concurrent writers can neither mint the
# same segment nor interleave manifest read-modify-writes.  The read view
# unions live rows of every manifest segment, so queries see every
# committed write immediately; ``compact()`` folds the chain back to one
# segment, dropping dead postings — exactly Lucene's merge.

TS_INLINE_MAX = 512  # per-segment tombstones kept in the manifest JSON
LOCK_STALE_AFTER = 60.0


class IndexLockError(RuntimeError):
    pass


class IndexCorruptError(RuntimeError):
    pass


class SegmentedTextIndex:
    """Incremental postings index with Lucene-style segment + tombstone
    maintenance.  All postings/id-sidecar reads are plain distributed
    scans; the driver only ever holds the caller's batch id lists, the
    (seg, id) tombstone hits they produce, and inline tombstone lists
    bounded by TS_INLINE_MAX per segment."""

    def __init__(self, spark: SparkSession, path: str):
        import json
        import os

        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        # Seed a fresh directory with an EMPTY manifest (atomically, losers
        # of the O_EXCL race skip) so the manifest exists BEFORE the first
        # segment dir ever does.  This keeps two properties: a reader
        # racing the first rebuild sees a valid empty index (not the
        # stray-segments guard), and a crash mid-first-build leaves the
        # index readable-empty with the orphaned segment swept by the next
        # mutation.  Directories that already hold seg-* dirs but no
        # manifest are NOT seeded — that is the pre-manifest legacy layout
        # the _manifest() guard must surface.
        manifest = self._manifest_file()
        if not os.path.exists(manifest) and not any(
            d.startswith("seg-") for d in os.listdir(path)
        ):
            try:
                fd = os.open(manifest, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, json.dumps({"segments": []}).encode())
                os.close(fd)
            except FileExistsError:
                pass

    # -- manifest + lock ----------------------------------------------------

    def _manifest_file(self) -> str:
        import os

        return os.path.join(self.path, "MANIFEST.json")

    def _manifest(self) -> list[dict]:
        """Ordered segment records: {"name", "ts_inline": [...] | None,
        "ts_dir": str | None}.  Missing manifest = empty index.  No
        ValueError catch: writes are atomic (tmp + os.replace), so invalid
        JSON is real corruption and must surface."""
        import json

        try:
            with open(self._manifest_file()) as f:
                return json.load(f)["segments"]
        except OSError:
            # Missing manifest is only a VALID empty index when no segment
            # data exists.  seg-* dirs without a manifest mean a layout
            # from an older release (numbered seg-000 + _ids.json) or a
            # torn state — treating that as empty would silently miss
            # every indexed doc and let the next mutation's orphan sweep
            # DELETE the old segments.  Surface it; rebuild()/resync() is
            # the explicit migration path.
            import os

            stray = [
                d for d in os.listdir(self.path) if d.startswith("seg-")
            ]
            if stray:
                raise IndexCorruptError(
                    f"index at {self.path} has segment dirs {sorted(stray)[:3]}"
                    f"… but no MANIFEST.json — pre-manifest layout or torn "
                    f"state; run rebuild()/resync() to migrate"
                )
            return []

    def _write_manifest(self, segments: list[dict]) -> None:
        import json
        import os
        import uuid

        final = self._manifest_file()
        tmp = f"{final}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"segments": segments}, f)
        os.replace(tmp, final)

    def _mutation_lock(self, timeout: float = 30.0):
        """Serialize index mutations: O_EXCL lock file + rename-aside
        stale-break — the FULL catalog commit-lock protocol
        (catalog.py:566), scoped to this index dir.  Readers never take
        it (they see the manifest snapshot of the last atomic replace).

        Index mutations run DISTRIBUTED WRITES (segment postings, id/
        tombstone sidecars, compaction merges) inside the critical
        section, which can easily outlive LOCK_STALE_AFTER — so the
        yielded handle exposes the catalog's ``heartbeat()`` /
        ``assert_held()`` pair, AND (beyond the catalog, whose critical
        sections are sub-second renames) a daemon TICKER thread
        re-touches the lock mtime every LOCK_STALE_AFTER/4 seconds for
        the whole section — a live holder can be mid-way through ONE
        60-second-plus Spark write with no point to call heartbeat()
        from, and without the ticker a waiter would stale-break it
        mid-job.  ``assert_held()`` before every manifest swap stays as
        the belt-and-braces: if the lock DID change hands (ticker
        starved, clock skew), abort instead of clobbering the
        successor's manifest and letting the orphan sweep delete its
        committed segments."""
        import contextlib
        import os
        import threading
        import time
        import uuid

        lock = os.path.join(self.path, ".INDEX_LOCK")

        class _Handle:
            def __init__(self, token: str):
                self.token = token

            def _owned(self) -> bool:
                try:
                    with open(lock) as f:
                        return f.read() == self.token
                except OSError:
                    return False

            def heartbeat(self) -> None:
                # advisory mtime refresh; only while we still own the
                # file (touching a successor's lock extends THEIR hold)
                if self._owned():
                    try:
                        os.utime(lock)
                    except OSError:
                        pass

            def assert_held(self) -> None:
                if not self._owned():
                    raise IndexLockError(
                        "index mutation lock was broken mid-section "
                        "(holder presumed dead) — aborting before the "
                        "manifest swap to avoid racing the successor"
                    )

        @contextlib.contextmanager
        def _lock():
            token = f"{os.getpid()}:{uuid.uuid4().hex}"
            t0 = time.time()
            while True:
                try:
                    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, token.encode())
                    os.close(fd)
                    break
                except FileExistsError:
                    try:
                        age = time.time() - os.path.getmtime(lock)
                    except OSError:
                        continue  # holder released between open and stat
                    if age > LOCK_STALE_AFTER:
                        broken = f"{lock}.broken-{uuid.uuid4().hex}"
                        try:
                            os.rename(lock, broken)  # atomic: one winner
                            os.unlink(broken)
                        except OSError:
                            pass  # another waiter won the break
                        continue
                    if time.time() - t0 > timeout:
                        raise IndexLockError(
                            f"could not acquire index mutation lock at {lock} "
                            f"within {timeout}s"
                        )
                    time.sleep(0.05)
            handle = _Handle(token)
            stop = threading.Event()

            def _tick():
                while not stop.wait(LOCK_STALE_AFTER / 4):
                    handle.heartbeat()

            ticker = threading.Thread(
                target=_tick, name="index-lock-heartbeat", daemon=True
            )
            ticker.start()
            try:
                yield handle
            finally:
                stop.set()
                ticker.join(timeout=5)
                # Never touch a lock we don't own: check ownership FIRST
                # (if ours was broken and a successor holds the path,
                # leave it alone).  Claim by atomic rename, re-check, and
                # restore a raced successor's lock via no-clobber link()
                # — the same release path as catalog._commit_lock.
                try:
                    with open(lock) as f:
                        mine = f.read() == token
                except OSError:
                    mine = False
                if mine:
                    released = f"{lock}.release-{uuid.uuid4().hex}"
                    try:
                        os.rename(lock, released)  # atomic claim
                        with open(released) as f:
                            still_mine = f.read() == token
                        if not still_mine:
                            try:
                                os.link(released, lock)  # no-clobber restore
                            except OSError:
                                pass  # a third waiter already holds it
                        os.unlink(released)
                    except OSError:
                        pass  # already broken/removed by a successor

        return _lock()

    # -- segment bookkeeping -------------------------------------------------

    def _segments(self) -> list[str]:
        return [s["name"] for s in self._manifest()]

    def _seg_dir(self, name: str) -> str:
        import os

        return os.path.join(self.path, name)

    def _sweep_orphans(self, keep: set[str]) -> None:
        """Remove seg dirs the manifest no longer references (failed
        mutations / superseded compactions).  Only called under the
        mutation lock, after the manifest swap has made ``keep`` the
        committed truth.  NOTE: invalidates lazy DataFrames obtained from
        postings() BEFORE the swap — consume those before compacting."""
        import os
        import shutil

        for d in os.listdir(self.path):
            if d.startswith("seg-") and d not in keep:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    # -- writes ---------------------------------------------------------------

    def _build_segment(self, ds_slice: DataFrame) -> dict:
        """Write a new immutable segment (postings + id sidecar) and return
        its manifest record.  Fully distributed — no id ever touches the
        driver; the dir is invisible until a manifest swap references it."""
        import os
        import uuid

        name = f"seg-{uuid.uuid4().hex[:12]}"
        build_text_index(ds_slice, os.path.join(self._seg_dir(name), "postings"))
        ds_slice.select("id").distinct().write.mode("overwrite").parquet(
            os.path.join(self._seg_dir(name), "ids")
        )
        return {"name": name, "ts_inline": [], "ts_dir": None}

    def _ids_df(self, rec: dict) -> DataFrame:
        import os

        return self.spark.read.schema("id STRING").parquet(
            os.path.join(self._seg_dir(rec["name"]), "ids")
        )

    def _ts_df(self, rec: dict) -> DataFrame:
        import os

        return self.spark.read.schema("id STRING").parquet(
            os.path.join(self._seg_dir(rec["name"]), rec["ts_dir"])
        )

    def _tombstoned(self, segments: list[dict], batch: list[str]) -> list[dict]:
        """Return manifest records with ``batch`` ids tombstoned wherever
        they exist.  Membership runs as ONE Spark job: every segment's id
        sidecar (tagged) semi-joined against the batch — the driver sees
        only the (seg, id) hits, bounded by |batch| × live copies."""
        if not segments or not batch:
            return segments
        # VALUES literal, not createDataFrame(list): a pickled local
        # relation re-runs a Python-worker scan per action (guide §4);
        # the per-micro-batch id list is small enough to inline in SQL
        ids_sql = ", ".join(
            "('" + i.replace("\\", "\\\\").replace("'", "\\'") + "')"
            for i in sorted(set(batch))
        )
        batch_df = F.broadcast(
            self.spark.sql(f"SELECT id FROM (VALUES {ids_sql}) AS t(id)")
        )
        tagged = None
        for i, rec in enumerate(segments):
            part = self._ids_df(rec).withColumn("seg", F.lit(i))
            tagged = part if tagged is None else tagged.unionByName(part)
        hits = tagged.join(batch_df, "id", "left_semi").collect()
        by_seg: dict[int, set] = {}
        for r in hits:
            by_seg.setdefault(r.seg, set()).add(r.id)
        out = []
        for i, rec in enumerate(segments):
            hit = by_seg.get(i)
            if not hit:
                out.append(rec)
                continue
            rec = dict(rec)
            if rec["ts_dir"] is None and len(rec["ts_inline"]) + len(hit) <= TS_INLINE_MAX:
                rec["ts_inline"] = sorted(set(rec["ts_inline"]) | hit)
            else:
                rec = self._spill_tombstones(rec, hit)
            out.append(rec)
        return out

    def _spill_tombstones(self, rec: dict, new_dead: set) -> dict:
        """Write the segment's full tombstone set (previous inline/dir ∪
        new hits) as a NEW immutable parquet snapshot dir; the manifest
        swap repoints to it.  Distributed union-distinct — the old
        snapshot is read as parquet, never collected."""
        import os
        import uuid

        dead_local = self.spark.createDataFrame(
            [(i,) for i in sorted(set(rec["ts_inline"]) | new_dead)], "id string"
        )
        full = (
            self._ts_df(rec).unionByName(dead_local).distinct()
            if rec["ts_dir"]
            else dead_local.distinct()
        )
        ts_name = f"ts-{uuid.uuid4().hex[:12]}"
        full.write.mode("overwrite").parquet(
            os.path.join(self._seg_dir(rec["name"]), ts_name)
        )
        return {"name": rec["name"], "ts_inline": [], "ts_dir": ts_name}

    def rebuild(self, ds: DataFrame) -> None:
        """Full (re)build as the single base segment.  No id list is ever
        collected — the sidecar is written by Spark."""
        with self._mutation_lock() as lk:
            rec = self._build_segment(ds)  # distributed write — may be long
            lk.heartbeat()
            lk.assert_held()
            self._write_manifest([rec])
            self._sweep_orphans({rec["name"]})

    def upsert(self, ds_slice: DataFrame) -> None:
        """Index the docs in ``ds_slice`` (new or changed): one new
        segment with their postings; their old postings in earlier
        segments are tombstoned.  Both effects commit in ONE manifest
        swap, so no reader can observe the delete without the add."""
        # three consumers below (id collect, postings build, id sidecar) —
        # materialize the slice once instead of re-running its source scan
        ds_slice = ds_slice.localCheckpoint(eager=False)
        ids = [r.id for r in ds_slice.select("id").distinct().collect()]
        with self._mutation_lock() as lk:
            updated = self._tombstoned(self._manifest(), ids)
            lk.heartbeat()  # tombstone membership ran a Spark job
            updated.append(self._build_segment(ds_slice))
            lk.heartbeat()
            lk.assert_held()
            self._write_manifest(updated)

    def delete(self, ids: list[str]) -> None:
        """Tombstone every existing posting of ``ids`` (metadata + at most
        one immutable tombstone snapshot per affected segment — no
        postings file is rewritten)."""
        with self._mutation_lock() as lk:
            updated = self._tombstoned(self._manifest(), ids)
            lk.heartbeat()
            lk.assert_held()
            self._write_manifest(updated)

    # -- reads ----------------------------------------------------------------

    def postings(self) -> DataFrame:
        """Live postings: union of manifest segments minus each segment's
        tombstones — inline lists (≤ TS_INLINE_MAX) filter via isin;
        spilled sets apply by LEFT-ANTI JOIN against their parquet
        snapshot, so no tombstone materializes on the driver."""
        import os

        parts = []
        for rec in self._manifest():
            # explicit schema: an empty segment (zero-row upsert / compact
            # of an empty index) has no footers to infer from
            df = self.spark.read.schema(POSTINGS_SCHEMA).parquet(
                os.path.join(self._seg_dir(rec["name"]), "postings")
            )
            if rec["ts_dir"]:
                df = df.join(self._ts_df(rec), "id", "left_anti")
            elif rec["ts_inline"]:
                df = df.where(~F.col("id").isin(rec["ts_inline"]))
            parts.append(df.select("gram", "id", "field"))
        if not parts:
            return self.spark.createDataFrame([], POSTINGS_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def compact(self) -> int:
        """Lucene merge: fold the segment chain into one segment holding
        only live postings; returns the resulting segment count (1).
        Fully distributed (the merged id sidecar comes from the postings
        themselves); commits via the same single manifest swap as every
        other mutation, so a crash at any point leaves the previous
        generation fully readable."""
        import os
        import uuid

        with self._mutation_lock() as lk:
            live = self.postings()
            name = f"seg-{uuid.uuid4().hex[:12]}"
            live.write.mode("overwrite").partitionBy("field").parquet(
                os.path.join(self._seg_dir(name), "postings")
            )
            lk.heartbeat()  # the merge write is the longest section here
            merged = self.spark.read.schema(POSTINGS_SCHEMA).parquet(
                os.path.join(self._seg_dir(name), "postings")
            )
            merged.select("id").distinct().write.mode("overwrite").parquet(
                os.path.join(self._seg_dir(name), "ids")
            )
            lk.heartbeat()
            lk.assert_held()
            self._write_manifest([{"name": name, "ts_inline": [], "ts_dir": None}])
            self._sweep_orphans({name})
            return len(self._segments())
