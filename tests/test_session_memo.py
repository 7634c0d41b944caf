"""SessionMemo eviction — memo caches must not pin artifacts of stopped
sessions or grow without bound across datasets (r5 hygiene finding) —
and the one memoized-build path (``get_or_build`` / ``@session_memo``):
exclusive build times, failing builds, concurrent callers, key shape."""

from __future__ import annotations

import os
import sys
import threading
import time
from types import SimpleNamespace

import pytest

from cyber_etl_spark.session import SessionMemo, session_memo, session_token


def _fake_spark():
    """Just enough of a SparkSession for session_token."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-memo-test"))


def test_dead_session_entries_evicted_on_write():
    m = SessionMemo()
    m[("app-old", "/data/a")] = "stale1"
    m[("app-old", "/data/b", "variant")] = "stale2"
    # same token: both live entries coexist
    assert len(m) == 2
    # a write from a NEW session (PySpark allows one live context per
    # process, so a different token == the old session is stopped)
    m[("app-new", "/data/a")] = "fresh"
    assert list(m) == [("app-new", "/data/a")]


def test_size_cap_drops_oldest():
    m = SessionMemo(cap=3)
    for i in range(5):
        m[("app", f"/data/{i}")] = i
    assert len(m) == 3
    assert ("app", "/data/0") not in m and ("app", "/data/1") not in m
    assert m[("app", "/data/4")] == 4


def test_builder_cache_purges_foreign_token(spark, sf_smoke):
    """End to end: seed the real edge cache with a dead-session entry,
    trigger a build, and observe the stale entry gone while the fresh
    one is served from cache."""
    from cyber_etl_spark.graph import builder

    memo = builder.co_supply_edges.memo
    memo[("dead-app-id", sf_smoke)] = "ghost"
    e1 = builder.co_supply_edges(spark, sf_smoke)
    assert ("dead-app-id", sf_smoke) not in memo
    tok = session_token(spark)
    assert (tok, sf_smoke, "co_supply_edges") in memo
    # second call is a pure cache hit (same object)
    assert builder.co_supply_edges(spark, sf_smoke) is e1


def test_overwrite_at_capacity_keeps_other_entries():
    """Overwriting an existing key at capacity must not evict an
    unrelated live entry (review r6 finding)."""
    m = SessionMemo(cap=3)
    m[("app", "a")] = 1
    m[("app", "b")] = 2
    m[("app", "c")] = 3
    m[("app", "b")] = 22  # replacement, no net growth
    assert dict(m) == {("app", "a"): 1, ("app", "b"): 22, ("app", "c"): 3}


def test_non_tuple_key_rejected():
    """Non-tuple keys would make the purge compare k[0] against a
    character (ADVICE r6) — rejected loudly."""
    m = SessionMemo()
    with pytest.raises(TypeError):
        m["app-old"] = 1
    with pytest.raises(TypeError):
        m[()] = 1


def test_update_and_setdefault_route_through_guard():
    """dict.update()/setdefault() are C-level fast paths that would
    bypass __setitem__ — SessionMemo overrides them so every insertion
    path purges dead sessions and respects the cap."""
    m = SessionMemo(cap=2)
    m.update({("app", "a"): 1, ("app", "b"): 2, ("app", "c"): 3})
    assert len(m) == 2
    m.setdefault(("new-app", "x"), 9)
    assert list(m) == [("new-app", "x")]  # purge ran
    assert m.setdefault(("new-app", "x"), 0) == 9  # existing key kept


def test_nested_build_times_are_exclusive():
    """An outer build that calls an inner memoized build: the two
    exclusive times add up to the outer's inclusive time."""
    outer_memo, inner_memo = SessionMemo(), SessionMemo()
    outer_key = ("app", "/data/sf0.5", "nest_outer")
    inner_key = ("app", "/data/sf0.5", "nest_inner")

    def inner():
        time.sleep(0.05)
        return "in"

    def outer():
        time.sleep(0.03)
        return inner_memo.get_or_build(inner_key, inner) + "+out"

    t0 = time.perf_counter()
    assert outer_memo.get_or_build(outer_key, outer) == "in+out"
    inclusive = time.perf_counter() - t0
    log = SessionMemo.BUILD_LOG
    ex_outer, ex_inner = log["sf0.5:nest_outer"], log["sf0.5:nest_inner"]
    # an inclusive outer time would be >= 0.08 s
    assert ex_inner >= 0.05 and 0.03 <= ex_outer < 0.08
    assert abs(ex_outer + ex_inner - inclusive) < 0.005


def test_failing_build_leaves_no_state():
    """A build that raises leaves no entry, no held lock and no timing
    state behind; the next call builds again."""
    m = SessionMemo()
    key = ("app", "/data/sf0.5", "fails_once")
    calls = []

    def build():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("boom")
        return "ok"

    with pytest.raises(RuntimeError):
        m.get_or_build(key, build)
    assert key not in m and not m._locks
    assert not getattr(SessionMemo._BUILDING, "stack", [])
    assert "sf0.5:fails_once" not in SessionMemo.BUILD_LOG
    assert m.get_or_build(key, build) == "ok" and len(calls) == 2
    assert "sf0.5:fails_once" in SessionMemo.BUILD_LOG


def test_concurrent_callers_build_once():
    """8 threads asking for one key: one build(), one shared object."""
    m = SessionMemo()
    key = ("app", "/data/sf0.5", "concurrent")
    calls, results = [], []
    gate = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.05)
        return object()

    def caller():
        gate.wait(timeout=10)
        results.append(m.get_or_build(key, build))

    threads = [threading.Thread(target=caller) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert len(results) == 8 and all(r is results[0] for r in results)
    assert not m._locks


def test_session_memo_key_applies_defaults():
    """f(s, d) and f(s, d, default) share one entry; the key carries the
    session token, the dataset, the function name and the params."""
    calls = []

    @session_memo
    def artifact(spark, sf_dir, k: int = 3):
        calls.append(k)
        return object()

    s = _fake_spark()
    a = artifact(s, "/data/sf0.5")
    assert artifact(s, "/data/sf0.5", 3) is a
    assert artifact(s, "/data/sf0.5", k=3) is a
    assert calls == [3]
    assert list(artifact.memo) == [("app-memo-test", "/data/sf0.5", "artifact", 3)]
    assert artifact(s, "/data/sf0.5", 4) is not a and calls == [3, 4]
    assert SessionMemo.BUILD_LOG["sf0.5:artifact:4"] >= 0


def test_former_shared_label_artifacts_log_distinct_labels(spark, sf_smoke):
    """The three memos once keyed (token, sf_dir) all logged as
    "artifact"; each now logs its own label with the sf basename."""
    from cyber_etl_spark.graph import builder
    from cyber_etl_spark.plans import graphops, textops

    fns = (builder.co_supply_edges, textops.cached_shingles, graphops._sparse_upper_edges)
    base = os.path.basename(sf_smoke)
    labels = [f"{base}:{f.__name__}" for f in fns]
    for f, label in zip(fns, labels):
        f.memo.clear()
        SessionMemo.BUILD_LOG.pop(label, None)
    for f in fns:
        f(spark, sf_smoke)
    assert len(set(labels)) == 3
    assert all(label in SessionMemo.BUILD_LOG for label in labels)
    assert "artifact" not in SessionMemo.BUILD_LOG
