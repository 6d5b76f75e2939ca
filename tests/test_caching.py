"""Driver-state scoping: cache scopes release exactly their own persists,
and the e6 stream replays never write their caller's session conf."""

from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.conf import RuntimeConfig  # noqa: E402

from drugbankner_spark.caching import (  # noqa: E402
    cache_mark,
    cache_scope,
    release_shared_caches,
    shared_persist,
)

def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_scope_leaves_a_later_foreign_persist_alone(spark):
    other = []
    with cache_scope():
        mine = shared_persist(spark.range(10).selectExpr("id * 2 AS x"))
        mine.count()
        # another caller (thread) registers a persist while the scope
        # is open — after the scope began
        t = threading.Thread(target=lambda: other.append(
            shared_persist(spark.range(10).selectExpr("id * 3 AS y"))
        ))
        t.start()
        t.join(timeout=60)
        assert not t.is_alive()
    assert not _cached(mine)
    assert _cached(other[0])
    release_shared_caches()
    assert not _cached(other[0]) and cache_mark() == 0


def test_scope_releases_its_persists_when_the_body_raises(spark):
    release_shared_caches()
    with pytest.raises(RuntimeError, match="boom"):
        with cache_scope():
            mine = shared_persist(spark.range(5).selectExpr("id + 1 AS x"))
            raise RuntimeError("boom")
    assert not _cached(mine)
    assert cache_mark() == 0


def test_kept_persists_move_to_the_enclosing_scope(spark):
    with cache_scope():
        with cache_scope() as inner:
            kept = shared_persist(spark.range(4).selectExpr("id AS k"))
            inner.keep()
        assert _cached(kept)  # the inner exit released nothing
    assert not _cached(kept)  # the outer exit released it


def test_scopes_under_thread_contention():
    # 16 threads, each its own scope, register and release persists
    # with a tiny switch interval: every handle is unpersisted exactly
    # once, by its own scope, and the registry ends empty.
    class FakeDF:
        sparkSession = type("S", (), {"sparkContext": type("SC", (), {})()})

        def __init__(self):
            self.unpersisted = 0

        def persist(self):
            return self

        def unpersist(self):
            self.unpersisted += 1

    sc = FakeDF.sparkSession.sparkContext
    made = [[] for _ in range(16)]

    def work(mine):
        for _ in range(50):
            with cache_scope():
                mine.append(shared_persist(FakeDF()))
                mine.append(shared_persist(FakeDF()))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(m,)) for m in made]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert all(df.unpersisted == 1 for m in made for df in m)
    assert sum(map(len, made)) == 1600
    assert sc.__dict__["_drugbankner_persists"] == {}


def test_e6_replays_never_write_the_caller_conf(spark, sf_dir, monkeypatch):
    # The replays plan on a child session that carries the narrow
    # state-store width; the caller's conf object is never written, and
    # the streaming answers still equal their batch twins.
    import __spark_entry__ as E

    writes = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        if self is spark.conf:
            writes.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    qs = E.all_queries()
    for name in ("e6_windows", "e6_sessionize"):
        got = sorted(map(tuple, qs[name](spark, sf_dir).collect()))
        want = sorted(map(tuple, qs[f"{name}_batch"](spark, sf_dir).collect()))
        assert got == want and got, name
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert "spark.sql.shuffle.partitions" not in writes
