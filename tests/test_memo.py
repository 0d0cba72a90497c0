"""The session-artifact layer (operators/_memo.py): one decorator keys every
memoized builder by application, builder and bound arguments."""

from __future__ import annotations

import os

import pytest

from vector_db_from_scratch_spark.operators import _memo

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "vector_db_from_scratch_spark")


class _Session:
    """Just enough of a SparkSession for the key: no JVM needed."""

    def __init__(self, app_id: str):
        self.sparkContext = type("Ctx", (), {"applicationId": app_id})()


@pytest.fixture
def empty_layer(monkeypatch):
    monkeypatch.setattr(_memo, "_STORE", {})
    monkeypatch.setattr(_memo, "_HELD", [])


def test_bound_arguments_share_one_entry(empty_layer):
    calls = []

    @_memo.per_app
    def build(spark, sf_dir, n=8, tag=None):
        calls.append((sf_dir, n, tag))
        return object()

    s = _Session("app-1")
    first = build(s, "/d")
    assert build(s, "/d", 8) is first
    assert build(s, sf_dir="/d", n=8) is first
    assert build(spark=s, sf_dir="/d", n=8, tag=None) is first
    assert calls == [("/d", 8, None)]
    assert build(s, "/d", 9) is not first
    assert build(s, "/e") is not first
    assert build(s, "/d", tag=("a", 1)) is build(s, "/d", 8, ("a", 1))
    assert len(calls) == 4


def test_builders_with_equal_arguments_do_not_collide(empty_layer):
    @_memo.per_app
    def left(spark, sf_dir):
        return "left"

    @_memo.per_app
    def right(spark, sf_dir):
        return "right"

    s = _Session("app-1")
    assert (left(s, "/d"), right(s, "/d")) == ("left", "right")


@pytest.mark.parametrize("bad", [
    lambda: None,
    [1, 2],
    (1, [2]),
    {"k": 1},
    object(),
])
def test_non_plain_key_argument_raises(empty_layer, bad):
    @_memo.per_app
    def build(spark, sf_dir, arg):
        raise AssertionError("must not run")

    with pytest.raises(TypeError, match="arg"):
        build(_Session("app-1"), "/d", bad)


def test_dataframe_key_argument_raises(spark, empty_layer):
    @_memo.per_app
    def build(spark, sf_dir, df):
        raise AssertionError("must not run")

    with pytest.raises(TypeError, match="df"):
        build(spark, "/d", spark.range(1))


def test_clear_drops_only_the_named_application(empty_layer):
    @_memo.per_app
    def build(spark, sf_dir):
        return object()

    a, b = _Session("app-a"), _Session("app-b")
    va, vb = build(a, "/d"), build(b, "/d")
    _memo.hold(a, object())
    _memo.hold(b, object())
    assert _memo.clear("app-a") == 2
    assert build(b, "/d") is vb
    assert build(a, "/d") is not va
    assert [app for app, _ in _memo._HELD] == ["app-b"]
    assert _memo.clear() == 3
    assert _memo._STORE == {} and _memo._HELD == []


def test_wrapped_reaches_the_builder(empty_layer):
    def build(spark, sf_dir):
        return object()

    memoized = _memo.per_app(build)
    assert memoized.__wrapped__ is build
    assert memoized.__name__ == "build"
    s = _Session("app-1")
    assert build(s, "/d") is not build(s, "/d")
    assert memoized(s, "/d") is memoized(s, "/d")


def test_drains_keep_the_undecorated_drain_as_wrapped():
    from vector_db_from_scratch_spark.streaming import windows

    drain = windows.tumbling_counts_drained
    assert drain.__wrapped__.__name__ == "tumbling_counts_drained"
    assert not hasattr(drain.__wrapped__, "__wrapped__")


def test_application_id_is_read_only_by_the_memo_layer():
    """A memo keyed by hand on ``applicationId`` outside _memo.py is a
    second, unregistered artifact store that clear() cannot reach."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            if os.path.relpath(path, PKG) == os.path.join("operators", "_memo.py"):
                continue
            with open(path) as f:
                if "applicationId" in f.read():
                    offenders.append(os.path.relpath(path, PKG))
    assert offenders == []


def test_clear_releases_the_driver_store_tables(spark, sf_dir):
    """The memoized driver store holds three cached tables as attributes;
    clear() must unpersist them and the next call must build a new store.
    The session's artifacts are cleared first: a cache entry is shared by
    every DataFrame with the same plan, so releasing a second copy of the
    store would silently uncache the first."""
    from pyspark import StorageLevel

    from vector_db_from_scratch_spark.operators.entity import store_from_driver_tables

    _memo.clear(spark.sparkContext.applicationId)
    store = store_from_driver_tables(spark, sf_dir)
    assert store_from_driver_tables(spark, sf_dir) is store
    tables = (store.libraries, store.documents, store.base)
    assert all(t.storageLevel != StorageLevel.NONE for t in tables)
    _memo.clear(spark.sparkContext.applicationId)
    assert all(t.storageLevel == StorageLevel.NONE for t in tables)
    assert store_from_driver_tables(spark, sf_dir) is not store
    _memo.clear(spark.sparkContext.applicationId)
