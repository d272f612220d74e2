"""Seeded request sequences for the serving workloads.

Every request is a plain dict (``kind``, ``method``, ``path``, ``query``,
``body``, ``persona``).  A sequence's structure (request kinds, search
shapes, callers, visibility modes) is fixed; its content (words, ids,
filter values) comes from ``random.Random`` seeded with the workload seed,
and point reads pick their ids from the served table's scan partitions,
which the seed's catalog fixes.  So one seed always yields the same
sequence, and nothing in it depends on timing or on the server's answers.  ``sequence_digest`` hashes a sequence
for the self-check.

Personas are JWT callers: an admin and three org members.  The catalog's
orgs are ``org01``..``org03`` (``datasets_source`` cycles them by part
key), half of the entries are public.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import random

from gen import ADJECTIVES, NOUNS, PART_TYPES

SECRET = "perfbench-hs256-secret"
PERSONAS = {
    "admin": (["console.admin"], []),
    "org01": (["openid"], ["org01"]),
    "org02": (["openid"], ["org02"]),
    "org13": (["openid"], ["org01", "org03"]),
}
BASE = "/rest/datasets"
# words that occur in no title, data sample or source URI: zero-hit text
ABSENT_WORDS = ["green", "purple", "silver", "golden"]
FORMATS = ["csv", "json", "parquet"]


def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def token(persona: str) -> str:
    """HS256 bearer token for ``persona``, verifiable by TokenVerifier."""
    scope, orgs = PERSONAS[persona]
    claims = {"scope": scope, "aud": "cloud_controller", "user_orgs": orgs}
    h = _b64url(json.dumps({"alg": "HS256", "typ": "JWT"}).encode())
    p = _b64url(json.dumps(claims).encode())
    sig = hmac.new(SECRET.encode(), f"{h}.{p}".encode(), hashlib.sha256).digest()
    return f"{h}.{p}.{_b64url(sig)}"


def _text(r: random.Random) -> str:
    if r.random() < 0.6:
        return r.choice(ADJECTIVES + NOUNS)
    return f"{r.choice(ADJECTIVES)} {r.choice(NOUNS)}"


# The structure of a read sequence is fixed and only its content comes from
# the seed, so every seed gives the same mix: request kinds cycle through
# KIND_CYCLE (11 searches, 7 gets and 2 counts in 20), search shapes
# through SEARCH_SHAPES, callers through the personas, visibility modes
# through MODE_CYCLE and point reads through the scan partitions, each
# client from its own offset.  The "special" shape is a zero-hit text on
# one pass in four through the shapes and an invalid query on another
# (SPECIALS).  The offsets put client 0's first zero-hit search, client
# 1's first invalid one and two missing ids in the first 10 requests of
# each client, so a run of 10 or more requests per client holds them all.
KIND_CYCLE = "SGSGSCSGSGSSGSGSCSGS"
SEARCH_SHAPES = ["text", "multi", "term", "text", "in", "range", "notext", "text",
                 "offset", "cursor", "special"]
MODE_CYCLE = [{}, {}, {"onlyPublic": "true"}, {}, {"onlyPrivate": "true"}, {}, {}]
SPECIALS = ["zero_hit", "text", "invalid", "text"]
SHAPE_OFFSET = [10, 9, 3, 5]
SPECIAL_OFFSET = [0, 2, 1, 3]


def search_op(r: random.Random, shape: str, persona: str, mode: dict,
              orgs: bool = False) -> dict:
    """One search of ``shape``: text top-10, multi-token text, term/IN
    post-filters, creationTime range, filters without text, offset and
    cursor paging, zero-hit text or an invalid query.  ``orgs`` adds an
    ``orgs`` parameter (only admins may name any org)."""
    q: dict = {}
    if shape == "zero_hit":
        q["query"] = r.choice(ABSENT_WORDS)
    elif shape == "invalid":
        q["filters"] = [{"noSuchField": ["x"]}]
    else:
        if shape == "multi":
            q["query"] = f"{r.choice(ADJECTIVES)} {r.choice(NOUNS)}"
        elif shape != "notext":
            q["query"] = _text(r)
        if shape in ("term", "notext"):
            q["filters"] = [{"format": [r.choice(FORMATS)]}]
        elif shape == "in":
            q["filters"] = [{"category": [f"brand#{b}" for b in r.sample(range(25), 3)]}]
        if shape in ("range", "notext"):
            lo = r.randint(1, 9)
            q.setdefault("filters", []).append({
                "creationTime": [f"2014-{lo:02d}-01T00:00:00", f"2014-{lo + 3:02d}-28T23:00:00"]
            })
        if shape == "offset":
            q["from"] = 40
        elif shape == "cursor":
            q["searchAfter"] = [float(r.choice([1, 2, 3])), str(r.randrange(20000))]
    params = {"query": json.dumps(q, sort_keys=True), **mode}
    if orgs:
        params["orgs"] = r.choice(["org01", "org02,org03"])
    return {"kind": "search", "method": "GET", "path": BASE, "query": params,
            "body": None, "persona": persona}


def count_op(persona: str, mode: dict) -> dict:
    return {"kind": "count", "method": "GET", "path": f"{BASE}/count",
            "query": mode, "body": None, "persona": persona}


def get_op(r: random.Random, parts: list[list[str]], persona: str, k: int,
           missing: bool) -> dict:
    """A point read of an entry of scan partition ``k % len(parts)``, or of
    a missing id.  ``DatasetsCatalog.get`` is a ``limit(1)`` collect, which
    scans partitions in growing rounds until it finds the row, so its Spark
    work depends on the partition that holds the entry: the structure picks
    the partition and the seed the entry within it."""
    eid = f"nx{r.randrange(10**6)}" if missing else r.choice(parts[k % len(parts)])
    return {"kind": "get", "method": "GET", "path": f"{BASE}/{eid}", "query": {},
            "body": None, "persona": persona}


def read_sequence(seed: int, n: int, parts: list[list[str]], stream: int = 0) -> list[dict]:
    """``n`` read requests of client ``stream``: 55% search, 10% count, 35%
    get (see KIND_CYCLE).  ``parts`` holds the catalog's entry ids by scan
    partition (``serve.scan_partitions``)."""
    r = random.Random(f"read-{seed}-{stream}")
    personas = list(PERSONAS)
    out: list[dict] = []
    n_search = n_get = n_count = n_admin = 0
    for i in range(n):
        kind = KIND_CYCLE[(i + 5 * stream) % len(KIND_CYCLE)]
        if kind == "S":
            k = n_search + SHAPE_OFFSET[stream % 4]
            shape = SEARCH_SHAPES[k % len(SEARCH_SHAPES)]
            if shape == "special":
                passes = k // len(SEARCH_SHAPES) + SPECIAL_OFFSET[stream % 4]
                shape = SPECIALS[passes % len(SPECIALS)]
            persona = personas[(n_search + stream) % len(personas)]
            orgs = persona == "admin" and n_admin % 2 == 1
            n_admin += persona == "admin"
            mode = MODE_CYCLE[(n_search + 2 * stream) % len(MODE_CYCLE)]
            out.append(search_op(r, shape, persona, mode, orgs))
            n_search += 1
        elif kind == "G":
            persona = personas[(n_get + stream) % len(personas)]
            out.append(get_op(r, parts, persona, n_get + 2 * stream,
                              missing=(n_get + 3 * stream) % 7 == 6))
            n_get += 1
        else:
            persona = personas[(n_count + stream) % len(personas)]
            out.append(count_op(persona, MODE_CYCLE[(n_count + stream) % len(MODE_CYCLE)]))
            n_count += 1
    return out


def entry_body(r: random.Random, org: str) -> dict:
    adj, noun = r.choice(ADJECTIVES), r.choice(NOUNS)
    brand = f"brand#{r.randrange(25)}"
    return {
        "title": f"{adj} {noun}",
        "category": brand,
        "dataSample": f"id,name,{r.choice(PART_TYPES).lower()},{brand}",
        "format": r.choice(FORMATS),
        "recordCount": r.randrange(1, 51) * 100,
        "size": r.randrange(900, 1000) * 1024,
        "sourceUri": f"http://www.catalog.com/{adj}/{noun}",
        "targetUri": f"hdfs://namenode:8200/warehouse/{brand}/w/000000_1",
        "orgUUID": org,
        "isPublic": r.random() < 0.5,
        "creationTime": f"2015-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}T00:00:00",
    }


def probe_sequence(seed: int, parts: list[list[str]]) -> tuple[list[dict], list[list[dict]]]:
    """A short fixed set of requests, sent one at a time after the timed
    window of a traced run, whose Spark job counts repeat exactly: 12
    reads, then write steps: create, patch and delete of one entry, and
    two racing creates.  Returns (reads, write steps)."""
    r = random.Random(f"probe-{seed}")
    path = f"{BASE}/p{seed}"
    body = entry_body(r, "org01")

    def put(p: str) -> dict:
        return {"kind": "put", "method": "PUT", "path": p, "query": {},
                "body": entry_body(r, "org02"), "persona": "org02"}

    steps = [
        [{"kind": "put", "method": "PUT", "path": path, "query": {}, "body": body,
          "persona": "admin"}],
        [{"kind": "post", "method": "POST", "path": path, "query": {},
          "body": {"isPublic": not body["isPublic"]}, "persona": "org01"}],
        [{"kind": "delete", "method": "DELETE", "path": path, "query": {}, "body": None,
          "persona": "admin"}],
        [put(f"{path}a"), put(f"{path}b")],
    ]
    return read_sequence(seed, 12, parts, stream=98), steps


def sequence_digest(seq) -> str:
    return hashlib.sha256(json.dumps(seq, sort_keys=True).encode()).hexdigest()[:16]
