"""The session memo (operators/memo.py) and the invariants that keep it
the only one: its get() contract on a stand-in session, no other
module-level memo dict in the package, and the bench warm-up covering
every training family (a static twin of the slow
test_training_memo.test_warm_covers_every_training_family)."""

from __future__ import annotations

import ast
import pathlib
import sys
import threading
from types import SimpleNamespace

import pytest

from deep_field_spark.operators import memo

PKG = pathlib.Path(__file__).resolve().parent.parent / "deep_field_spark"


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def entries(monkeypatch):
    # a private dict: a stand-in app id must not evict the real session's
    # entries shared by the rest of the suite
    d: dict = {}
    monkeypatch.setattr(memo, "_ENTRIES", d)
    return d


def test_hit_skips_build(entries):
    s = _session("app-1")
    calls = []
    build = lambda: calls.append(1) or len(calls)  # noqa: E731
    assert memo.get(s, ("fam", "x"), build) == 1
    assert memo.get(s, ("fam", "x"), build) == 1
    assert memo.get(s, ("fam", "y"), build) == 2
    assert entries == {("app-1", "fam", "x"): 1, ("app-1", "fam", "y"): 2}


def test_invalid_hit_rebuilds(entries):
    s = _session("app-1")
    memo.get(s, ("fam",), lambda: "old")
    assert memo.get(s, ("fam",), lambda: "new", valid=lambda v: False) == "new"
    assert memo.get(s, ("fam",), lambda: "newer", valid=lambda v: True) == "new"


def test_fresh_session_rebuilds_and_evicts_dead_apps(entries):
    memo.get(_session("dead-app"), ("fam",), lambda: "stale")
    assert memo.get(_session("app-2"), ("fam",), lambda: "fresh") == "fresh"
    assert entries == {("app-2", "fam"): "fresh"}


def test_eviction_precedes_a_failing_build(entries):
    entries[("dead-app", "fam")] = "stale"

    def boom():
        raise AssertionError("rebuilt")

    with pytest.raises(AssertionError, match="rebuilt"):
        memo.get(_session("app-3"), ("fam",), boom)
    assert entries == {}


def test_builds_nest_without_holding_the_lock(entries):
    s = _session("app-1")
    out = []

    def outer():
        return memo.get(s, ("inner",), lambda: 1) + 1

    t = threading.Thread(target=lambda: out.append(memo.get(s, ("outer",), outer)))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive(), "nested get deadlocked"
    assert out == [2]
    assert set(entries) == {("app-1", "inner"), ("app-1", "outer")}


def test_concurrent_misses_lose_no_entry(entries):
    """Every miss scans the dict for dead-app entries while other
    threads insert: without the lock the scan can fail mid-iteration
    or an insert can be lost."""
    s = _session("app-1")
    errors = []

    def worker(w: int) -> None:
        try:
            for i in range(200):
                assert memo.get(s, ("fam", w, i), lambda: (w, i)) == (w, i)
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert entries == {
        ("app-1", "fam", w, i): (w, i) for w in range(16) for i in range(200)
    }


def _empty_dict(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in {"dict", "defaultdict", "OrderedDict"}
        and not node.keywords
        and len(node.args) <= (1 if node.func.id == "defaultdict" else 0)
    )


def test_no_module_level_memo_dict_outside_memo_py():
    """Every module-level dict that starts empty and fills at run time
    is either the session memo or the query registry."""
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if _empty_dict(value):
                for t in targets:
                    if isinstance(t, ast.Name):
                        found.add((path.relative_to(PKG).as_posix(), t.id))
    assert found == {
        ("operators/memo.py", "_ENTRIES"),
        ("queries/__init__.py", "REGISTRY"),
    }


def test_warm_covers_every_memo_train_family():
    """Every family literal passed to _memo_train is warmed by
    warm_training_memo (a key of _TRAIN_FAMILIES), so no query's timing
    depends on whether an earlier query trained first. rrf_sem_pool is
    the one exception: bench.py prices it separately as
    sem_pool.build."""
    tree = ast.parse((PKG / "queries" / "similarity.py").read_text())
    used = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "_memo_train"
        ):
            key = node.args[1]
            assert isinstance(key, ast.Tuple), ast.unparse(node)
            fam = key.elts[0]
            assert isinstance(fam, ast.Constant), ast.unparse(node)
            used.add(fam.value)
    families = next(
        {k.value for k in node.value.keys}
        for node in tree.body
        if isinstance(node, ast.Assign)
        and getattr(node.targets[0], "id", None) == "_TRAIN_FAMILIES"
    )
    assert "rrf_sem_pool" in used
    assert used - {"rrf_sem_pool"} == families
