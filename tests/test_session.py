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


# Environment variables ds2s may read: deployment settings, not tuning
# knobs (a tuning value is a constant in the module that uses it).
_ENV_ALLOWLIST = {
    "SPARK_GRAFT_CPUS", "DS2S_DRIVER_MEM", "DS2S_LOCAL_DIR",
    "ARROW_DEFAULT_MEMORY_POOL",
    "MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_", "MALLOC_ARENA_MAX",
}


def _env_reads(source: str):
    """(line, variable name) of every environment access in ``source``:
    ``os.environ[...]``, ``os.environ.<method>(...)`` and
    ``os.getenv(...)``.  The name is None where it is not a string
    literal, or where ``environ``/``getenv`` is imported bare."""
    import ast

    tree = ast.parse(source)
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os" and any(
            a.name in ("environ", "getenv") for a in node.names
        ):
            yield node.lineno, None
        if not (isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"):
            continue
        up, key = parent.get(node), None
        if isinstance(up, ast.Subscript):
            key = up.slice
        else:
            call = parent.get(up) if isinstance(up, ast.Attribute) else up
            if isinstance(call, ast.Call) and call.args:
                key = call.args[0]
        literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
        yield node.lineno, key.value if literal else None


def test_env_reads_are_deployment_settings():
    """Every environment variable the engine reads is on the deployment
    allowlist, named literally, so a tuning knob cannot come back through
    the environment unnoticed."""
    from pathlib import Path

    probe = 'import os\nx = os.environ.get("DS2S_EXTRA_CONF", "")\n'
    assert list(_env_reads(probe)) == [(2, "DS2S_EXTRA_CONF")]
    assert [n for _, n in _env_reads("import os\nos.environ.items()")] == [None]

    root = Path(__file__).resolve().parent.parent
    reads: dict = {}
    for path in sorted((root / "ds2s").rglob("*.py")):
        for line, name in _env_reads(path.read_text()):
            reads.setdefault(name, []).append(
                f"{path.relative_to(root)}:{line}")
    assert "DS2S_DRIVER_MEM" in reads, reads  # the scan sees session.py
    stray = {n: w for n, w in reads.items() if n not in _ENV_ALLOWLIST}
    assert not stray, f"environment reads outside the allowlist: {stray}"
