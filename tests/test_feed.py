"""The drain contract of streaming/feed.py, in the core tier: every
superseded state is released the moment its successor exists, however
deeply its checkpointed frames are nested; the returned state stays
live; an apply that returns its input releases nothing; a timeout stops
the query, raises and releases the last state."""

from typing import NamedTuple

import pytest
from pyspark.sql import DataFrame

from sql_cdc_spark.streaming import feed as FEED

SCHEMA = "k long, op string, v long"


class _Inner(NamedTuple):
    frame: DataFrame
    n_batches: int


class _State(NamedTuple):
    """Shaped like ManifestState: a frame beside a nested state tuple
    that holds a frame and a plain value."""

    keys: DataFrame
    inner: _Inner


def _append(spark, fdir, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(fdir)


def _initial_state(spark) -> _State:
    return _State(
        spark.createDataFrame([(0,)], "k long").localCheckpoint(eager=True),
        _Inner(spark.createDataFrame([(0,)], "v long").localCheckpoint(eager=True), 0),
    )


def _rdd_ids(state: _State) -> list[int]:
    return [
        int(df._jdf.queryExecution().analyzed().rdd().id())
        for df in (state.keys, state.inner.frame)
    ]


def _persisted(spark, rid: int) -> bool:
    return bool(spark.sparkContext._jsc.sc().getPersistentRDDs().contains(rid))


def test_drain_feed_releases_superseded_nested_states(spark, tmp_path):
    fdir = str(tmp_path / "feed")
    for v in (1, 2, 3):
        _append(spark, fdir, [(v, "I", v)])
    initial = _initial_state(spark)
    built: list[_State] = []

    def _apply(prev: _State, batch_df: DataFrame, _batch_id: int) -> _State:
        nxt = _State(
            FEED.ckpt(prev.keys.unionByName(batch_df.select("k")), True),
            _Inner(FEED.ckpt(batch_df.select("v"), True), prev.inner.n_batches + 1),
        )
        built.append(nxt)
        return nxt

    chk = str(tmp_path / "chk")
    final, n = FEED.drain_feed(spark, fdir, SCHEMA, chk, initial, _apply, timeout_s=120)
    assert n == 3 and final is built[-1] and final.inner.n_batches == 3
    assert sorted(r.k for r in final.keys.collect()) == [0, 1, 2, 3]
    for superseded in [initial, *built[:-1]]:
        assert not any(_persisted(spark, rid) for rid in _rdd_ids(superseded))
    assert all(_persisted(spark, rid) for rid in _rdd_ids(final))

    # a resumed drain whose apply returns its input releases nothing
    _append(spark, fdir, [(4, "I", 4)])
    same, n2 = FEED.drain_feed(
        spark, fdir, SCHEMA, chk, final,
        lambda prev, _batch_df, _batch_id: prev, timeout_s=120,
    )
    assert n2 == 1 and same is final
    assert all(_persisted(spark, rid) for rid in _rdd_ids(final))


def test_drain_feed_timeout_raises_not_partial(spark, tmp_path):
    """A drain that cannot finish within timeout_s must STOP and raise —
    returning a partial state while the stream keeps mutating (and
    releasing!) it is a correctness hazard, not a soft degradation."""
    fdir = str(tmp_path / "feed")
    spark.createDataFrame([(1, "I", 1)], "k long, op string, v long")\
        .coalesce(1).write.mode("append").parquet(fdir)
    with pytest.raises(TimeoutError, match="resumes the drain"):
        FEED.drain_feed(
            spark, fdir, "k long, op string, v long",
            str(tmp_path / "chk"), None,
            lambda prev, b, _batch_id: prev, timeout_s=0.05,
        )


def test_drain_feed_timeout_releases_the_last_state(spark, tmp_path):
    fdir = str(tmp_path / "feed")
    _append(spark, fdir, [(1, "I", 1)])
    initial = _initial_state(spark)
    with pytest.raises(TimeoutError):
        FEED.drain_feed(
            spark, fdir, SCHEMA, str(tmp_path / "chk"), initial,
            lambda prev, _batch_df, _batch_id: prev, timeout_s=0.05,
        )
    assert not spark.streams.active
    assert not any(_persisted(spark, rid) for rid in _rdd_ids(initial))
