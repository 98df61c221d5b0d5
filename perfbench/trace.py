"""In-memory span recorder for the traced benchmark run.

A span has a name, start, end, parent span and batch id, plus the process
tree's CPU-seconds (JIT compilation excluded) at both ends and the Spark
jobs it ran.  Jobs are counted from outside the program: each span runs
under a Spark job group of its own, read back through ``StatusTracker``
when the run ends.  Jobs that a library call submits from its own threads
carry no group; a span also counts the group-less jobs that appeared while
it was open.

``Tracer.instrument()`` wraps the public ds2s entry points at run time, so
calls the program makes internally (``survivor_blocks`` inside ``topk``,
``blocks_from_tf`` inside ``ServingIndex``) get spans too.  A disabled
tracer records nothing; an untraced run never installs the wrappers.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager


@contextmanager
def job_group(spark, group: str, description: str):
    """Run the block's Spark jobs under ``group``; the enclosing group, if
    any, is restored afterwards."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, description)
    try:
        yield
    finally:
        for k, v in zip(keys, prev):
            sc.setLocalProperty(k, v)


def job_ids(spark, group: str | None) -> list[int]:
    """Ids of the jobs run so far under ``group`` (None: under no group)."""
    sc = spark.sparkContext
    # the status store is fed by the asynchronous listener bus: drain it so
    # jobs that already ran are visible
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


class Tracer:
    def __init__(self, spark, enabled: bool, cpu):
        self.spark = spark
        self.cpu = cpu  # procstat.CpuMeter
        self.enabled = enabled
        self.spans: list[dict] = []
        self.batch: int | None = None
        self._local = threading.local()

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _ungrouped(self) -> set[int]:
        return set(job_ids(self.spark, None))

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "batch": self.batch, "group": f"perfbench-{sid}", **attrs,
        }
        self.spans.append(rec)
        before = self._ungrouped()
        stack.append(rec)
        try:
            with job_group(self.spark, rec["group"], name):
                rec["cpu0"] = self.cpu.read()[0]
                rec["start"] = time.perf_counter()
                try:
                    yield rec
                finally:
                    rec["end"] = time.perf_counter()
                    rec["cpu1"] = self.cpu.read()[0]
        finally:
            stack.pop()
            rec["ungrouped_jobs"] = len(self._ungrouped() - before)

    def finish(self) -> None:
        """Resolve job counts; call once, after the last span closed."""
        if not self.enabled:
            return
        for s in self.spans:
            s["own_jobs"] = len(job_ids(self.spark, s["group"]))
        by_parent: dict = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        for s in reversed(self.spans):  # children have larger ids
            kids = by_parent.get(s["id"], [])
            s["jobs"] = (s["own_jobs"] + s["ungrouped_jobs"]
                         - sum(k["ungrouped_jobs"] for k in kids)
                         + sum(k["jobs"] for k in kids))
            s["wall_s"] = s["end"] - s["start"]
            s["cpu_s"] = s["cpu1"] - s["cpu0"]
            s["self_s"] = s["wall_s"] - sum(k["end"] - k["start"] for k in kids)

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- instrumentation -----------------------------------------------------
    def _wrap(self, owner, attr: str, name: str) -> None:
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)

    def instrument(self) -> None:
        """Wrap the public entry points.  Spans of lazy calls
        (``blocks_from_tf``, ``ranked_or_topk``) cover plan construction
        only; the benchmark spans their materialization itself."""
        if not self.enabled:
            return
        from ds2s import invert, manifest, query, serve

        self._wrap(invert, "build_index", "invert.build")
        self._wrap(serve, "blocks_from_tf", "blocks.plan")
        self._wrap(manifest, "blocks_from_tf", "blocks.plan")
        self._wrap(manifest.IndexStore, "write_checkpointed", "manifest.write")
        self._wrap(serve.ServingIndex, "from_store", "manifest.load")
        self._wrap(serve.ServingIndex, "topk", "serve.topk")
        self._wrap(serve.ServingIndex, "survivor_blocks", "serve.plan")
        self._wrap(query, "ranked_or_topk", "query.plan")
