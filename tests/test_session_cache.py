"""Pins for the operators' session caches (operators/session_cache.py).

Every session-scoped cache keys on (id(spark), applicationId): a new
SparkContext under a reused session id must rebuild, a stopped context
must never hit, and release() frees one session's persisted frames.
The builder tests drive the real cached functions with a stub session
whose applicationId can change while its id() stays the same.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark import StorageLevel

from sqawk_spark.operators import (
    analytics,
    dedup,
    graph,
    registry,
    tables,
    textstats,
)
from sqawk_spark.operators.session_cache import SessionCache

SF = "/nonexistent/sf"


class Frame:
    """Stands in for a DataFrame: every attribute, call and subscript
    returns a new Frame, so a rebuilt result is a new object."""

    def __getattr__(self, name):
        return Frame()

    def __call__(self, *args, **kwargs):
        return Frame()

    def __getitem__(self, key):
        return Frame()


class StubSession:
    def __init__(self, app: str):
        self.sparkContext = SimpleNamespace(
            applicationId=app, defaultParallelism=4
        )
        self.conf = SimpleNamespace(set=lambda key, value: None)
        self.read = Frame()

    def sql(self, stmt):
        return Frame()

    def table(self, name):
        return Frame()


class DeadSession:
    @property
    def sparkContext(self):
        raise RuntimeError("SparkContext was shut down")


CACHES = [
    (registry, "_PREPARED"),
    (tables, "_DF_CACHE"),
    (dedup, "_INDEX_CACHE"),
    (dedup, "_PAIRS_CACHE"),
    (textstats, "_BIGRAM_CACHE"),
    (textstats, "_BM25_CACHE"),
    (graph, "_GRAPH_CACHE"),
    (analytics, "_BUCKETED"),
]


@pytest.mark.parametrize(
    "module,name", CACHES, ids=[name for _, name in CACHES]
)
def test_every_session_cache_is_a_session_cache(module, name):
    assert isinstance(getattr(module, name), SessionCache)


# (cache, build step patched to count builds, call through the real
# cached function)
BUILDERS = {
    "prepared": (
        registry._PREPARED,
        None,
        lambda s, fn: registry._prepare("stub_query", fn)(s, SF),
    ),
    "df_cache": (
        tables._DF_CACHE,
        (tables, "_read_table"),
        lambda s, _: tables.load_tables(s, SF, ("orders",)),
    ),
    "index": (
        dedup._INDEX_CACHE,
        (dedup, "_shingles"),
        lambda s, _: dedup._shingle_index(s, SF),
    ),
    "pairs": (
        dedup._PAIRS_CACHE,
        (dedup, "_jaccard_pairs"),
        lambda s, _: dedup._near_dup_pairs(s, SF),
    ),
    "embedding_pairs": (
        dedup._PAIRS_CACHE,
        (dedup, "_embedding_pairs_blocked"),
        lambda s, _: dedup.dedup_semantic_clusters(s, SF),
    ),
    "bigram": (
        textstats._BIGRAM_CACHE,
        (textstats, "load_tables"),
        lambda s, _: textstats._bigram_counts(s, SF),
    ),
    "bm25": (
        textstats._BM25_CACHE,
        (textstats, "load_tables"),
        lambda s, _: textstats._bm25_doc_hits(s, SF),
    ),
    "graph": (
        graph._GRAPH_CACHE,
        (dedup, "_near_dup_pairs"),
        lambda s, _: graph._graph_frames(s, SF),
    ),
    "bucketed": (
        analytics._BUCKETED,
        (analytics, "load_tables"),
        lambda s, _: analytics.join_bucketed(s, SF),
    ),
}


@pytest.mark.parametrize("case", sorted(BUILDERS))
def test_new_application_id_rebuilds(case, spark, monkeypatch):
    """Same id(), new applicationId: the builder runs again instead of
    returning the entry bound to the old context."""
    cache, target, call = BUILDERS[case]
    builds = []

    def counted(*args, **kwargs):
        builds.append(1)
        return Frame()

    if target is not None:
        monkeypatch.setattr(*target, counted)
    monkeypatch.setattr(dedup, "load_tables", lambda *a, **k: Frame())
    monkeypatch.setattr(dedup, "_connected_components", lambda *a: Frame())
    monkeypatch.setattr("tempfile.mkdtemp", lambda prefix: "/nonexistent")

    stub = StubSession("app-1")
    try:
        call(stub, counted)
        call(stub, counted)
        assert len(builds) == 1, "second call in one context must hit"
        stub.sparkContext.applicationId = "app-2"
        call(stub, counted)
        assert len(builds) == 2, "a new context must rebuild"
    finally:
        cache.release(stub)


def test_unreadable_context_never_hits():
    cache = SessionCache()
    builds = []
    dead = DeadSession()
    for _ in range(2):
        cache.get_or_build(dead, ("k",), lambda: builds.append(1))
    assert len(builds) == 2
    assert not cache


def test_failed_build_stores_nothing():
    cache = SessionCache()
    stub = StubSession("app-1")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        cache.get_or_build(stub, ("k",), boom)
    assert not cache
    assert cache.get_or_build(stub, ("k",), lambda: "ok") == "ok"


def test_release_drops_one_session_and_unpersists(spark):
    cache = graph._GRAPH_CACHE
    mine, other = StubSession("app-1"), StubSession("app-1")
    edges = spark.range(3).persist()
    deg = spark.range(2).persist()
    kept = spark.range(4).persist()
    try:
        cache.get_or_build(mine, (SF,), lambda: (edges, deg, 2))
        cache.get_or_build(other, (SF,), lambda: (kept, kept, 4))
        cache.release(mine)
        assert [v for k, v in cache.items() if k[0] == id(mine)] == []
        assert cache.get_or_build(other, (SF,), lambda: None)[2] == 4
        for df in (edges, deg):
            assert not df.is_cached
            assert df.storageLevel == StorageLevel.NONE
        assert kept.storageLevel != StorageLevel.NONE
    finally:
        cache.release(other)
    assert kept.storageLevel == StorageLevel.NONE


def test_release_all_sessions():
    cache = SessionCache()
    for app in ("app-1", "app-2"):
        cache.get_or_build(StubSession(app), ("k",), lambda: app)
    cache.release()
    assert not cache
