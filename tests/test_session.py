"""Session-factory conf contract: the python-worker env levers.

The worker daemon's env is constructed from spark.executorEnv.* (the
JVM's own env is not forwarded), so the allocator tuning that
MALLOC_AB.jsonl justified must be present as confs —
a silent drop here reverts the blocks stage to the mmap page-fault
storm (~2x stage wall at 32 cores).
"""

from __future__ import annotations


def test_worker_env_confs(spark):
    conf = spark.conf
    assert conf.get("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL") == "system"
    assert int(conf.get("spark.executorEnv.MALLOC_MMAP_THRESHOLD_")) >= 1 << 25
    assert int(conf.get("spark.executorEnv.MALLOC_TRIM_THRESHOLD_")) >= 1 << 25
    assert int(conf.get("spark.executorEnv.MALLOC_ARENA_MAX")) <= 8
    # the Spark-4 per-row sizeInBytes storm sentinel (round 3)
    assert conf.get("spark.sql.execution.arrow.maxBytesPerBatch") == str(2**31 - 1)


def test_no_aqe_guard_restores_on_exception(spark):
    """The serving no-AQE guard must restore the session conf even when
    the wrapped fetch raises (a leaked 'false' would silently change
    every later build plan in the session)."""
    import pytest

    from ds2s.serve import _no_aqe

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    with pytest.raises(RuntimeError, match="boom"):
        with _no_aqe(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
