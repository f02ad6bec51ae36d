"""The session memo (operators/util.memo): token hits skip the build,
token-less calls reuse a semantically identical held frame, and a miss
releases the key's previous holder."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_seattle_call_data_spark.operators import util


def _counting(build):
    calls = []

    def wrapped():
        calls.append(1)
        return build()

    return wrapped, calls


def test_token_hit_skips_build(spark):
    build, calls = _counting(lambda: spark.range(10))
    first = util.memo("test:token", build, token=("t", 1))
    again = util.memo("test:token", build, token=("t", 1))
    assert again is first
    assert len(calls) == 1


def test_same_plan_without_token_returns_held_frame(spark):
    first = util.memo("test:plan", lambda: spark.range(10).withColumn("x", F.col("id") * 2))
    again = util.memo("test:plan", lambda: spark.range(10).withColumn("x", F.col("id") * 2))
    assert again is first


def test_new_plan_unpersists_previous_holder(spark):
    old = util.memo("test:swap", lambda: spark.range(10))
    assert old.storageLevel.useMemory
    new = util.memo("test:swap", lambda: spark.range(20))
    assert new is not old
    assert not old.storageLevel.useMemory
    assert new.storageLevel.useMemory
    assert new.count() == 20


def test_token_does_not_outlive_a_tokenless_replacement(spark):
    """One registry: a token-less call that replaces the frame also
    replaces the token, so the next token call rebuilds instead of
    being served the replacement's frame."""
    build_a, calls = _counting(lambda: spark.range(10))
    util.memo("test:mixed", build_a, token=1)
    b = util.memo("test:mixed", lambda: spark.range(30))
    a = util.memo("test:mixed", build_a, token=1)
    assert len(calls) == 2
    assert a is not b
    assert a.count() == 10


def test_clear_caches_empties_registry(spark):
    held = util.memo("test:clear", lambda: spark.range(10))
    util.clear_caches()
    assert util._memos == {}
    assert not held.storageLevel.useMemory
