"""The one memo for derived corpus state (operators/memo.py): released
scratch entries take their directory with them, app-owned models are
bounded, and no module grows a private memo store again."""

from __future__ import annotations

import ast
import os
import pathlib
from types import SimpleNamespace
from urllib.parse import urlparse

import pytest

from data_catalog_spark.operators import memo

PKG = pathlib.Path(__file__).resolve().parents[1] / "data_catalog_spark"


@pytest.fixture()
def store(monkeypatch):
    """A private store behind ``memo.memo`` so releasing entries here never
    touches the suite's shared memo."""
    s = memo.MemoStore()
    monkeypatch.setattr(memo, "_STORE", s)
    return s


def _scratch_dir(frame) -> str:
    (d,) = {os.path.dirname(urlparse(f).path) for f in frame.inputFiles()}
    return d


@pytest.mark.parametrize("release", ["evict", "drop_session", "clear"])
def test_released_scratch_entry_removes_its_directory(
    spark, sf_dir, store, release
):
    frame = memo.memo(
        spark,
        "probe|x",
        sf_dir,
        "documents",
        lambda: spark.range(3).toDF("x"),
        memo.SCRATCH,
    )
    path = _scratch_dir(frame)
    assert os.path.basename(path).startswith("probe-")
    assert sorted(r.x for r in frame.collect()) == [0, 1, 2]
    if release == "evict":
        # admit owners 2..5 with the bound at 4: the scratch owner is the LRU
        for sib in [spark.newSession() for _ in range(memo.MAX_OWNERS)]:
            memo.memo(sib, "other", sf_dir, "documents", lambda: 1, memo.AS_BUILT)
        assert id(spark) not in store.owners()
    elif release == "drop_session":
        memo.drop_session(spark)
    else:
        memo.clear()
    assert not os.path.exists(path)


def test_model_entries_are_bounded(sf_dir, store):
    """Session-free models are owned by a SparkContext and share the
    owner bound: admitting one owner past it evicts the oldest."""
    builds: list[int] = []

    def model(i: int):
        builds.append(i)
        return [[float(i)]]

    owners = [
        SimpleNamespace(applicationId=f"app-{i}")
        for i in range(memo.MAX_OWNERS + 1)
    ]

    def train(owner, i: int):
        return memo.memo(
            owner, "coarse", sf_dir, "embeddings", lambda: model(i), memo.AS_BUILT
        )

    for i, o in enumerate(owners):
        assert train(o, i) == [[float(i)]]
    assert len(store.owners()) == memo.MAX_OWNERS
    assert id(owners[0]) not in store.owners()
    # the newest owner reads its model; the evicted oldest retrains
    assert train(owners[-1], -1) == [[float(memo.MAX_OWNERS)]]
    assert train(owners[0], 0) == [[0.0]]
    assert builds == list(range(memo.MAX_OWNERS + 1)) + [0]


def test_unknown_storage_kind_is_rejected(sf_dir, store):
    with pytest.raises(ValueError):
        memo.memo(
            SimpleNamespace(applicationId="a"),
            "x",
            sf_dir,
            "documents",
            lambda: 1,
            "pinned",
        )


def _module_level_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        targets = (
            node.targets
            if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign) else []
        )
        names += [t.id for t in targets if isinstance(t, ast.Name)]
    return names


def test_one_way_to_memoize():
    """The memo store class is instantiated in exactly one module, and no
    other module keeps a module-level ``*_CACHE`` / ``_LOADED_STATE``
    store of its own."""
    builders, stores = set(), []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
                if name == "MemoStore":
                    builders.add(rel)
        stores += [
            f"{rel}:{n}"
            for n in _module_level_names(tree)
            if n.endswith("_CACHE") or n == "_LOADED_STATE"
        ]
    assert builders == {"operators/memo.py"}
    assert stores == []
