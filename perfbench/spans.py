"""Span recording for the traced run.

The recorder wraps the engine's public entry points at run time (the
package source is not edited) and keeps every span in memory until the
run ends. A span holds its name, layer, start, end, parent span and
operation id. Job and task counts come from one Spark job group per
operation, read back through ``sparkContext.statusTracker()``.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import time
from contextlib import contextmanager

LAYERS = ("session", "ingest", "catalog", "service", "analytics", "queries")


class Tracer:
    """In-memory span recorder. ``span`` nests; ``install`` wraps the
    engine's entry points so every call becomes a span, and
    ``uninstall`` undoes it."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._saved_checks: list | None = None
        self._ops = itertools.count(1)
        self.op_id = 0
        # catalog calls: ids of DataFrames already handed out, and the
        # objects themselves so an id is never reused while we run
        self._seen_frames: dict[int, object] = {}
        self.catalog_calls = 0
        self.catalog_hits = 0

    def new_op(self) -> int:
        self.op_id = next(self._ops)
        return self.op_id

    def record(self, layer: str, name: str, start: float, end: float) -> None:
        """A span timed by the caller, outside any other span."""
        self.spans.append({"name": name, "layer": layer, "op": self.op_id, "parent": None,
                           "start": start, "end": end, "error": None})

    @contextmanager
    def span(self, layer: str, name: str):
        rec = {"name": name, "layer": layer, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "error": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, layer: str, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        return traced

    def _replace(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def patch(self, owner, attr: str, layer: str, name: str, on_result=None) -> None:
        self._replace(owner, attr, self._wrap(layer, name, getattr(owner, attr), on_result))

    def patch_everywhere(self, original, layer: str, name: str, on_result=None) -> None:
        """Wrap *original* in every engine module that bound it by name
        (``from .catalog import load_table`` copies the reference)."""
        wrapped = self._wrap(layer, name, original, on_result)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("heapdumpstardiver_spark") and \
                    getattr(mod, original.__name__, None) is original:
                self._replace(mod, original.__name__, wrapped)

    def _count_frame(self, df) -> None:
        self.catalog_calls += 1
        if id(df) in self._seen_frames:
            self.catalog_hits += 1
        else:
            self._seen_frames[id(df)] = df

    def install(self) -> None:
        """Wrap the entry points each layer is reached through."""
        from heapdumpstardiver_spark import catalog, service
        from heapdumpstardiver_spark.analytics import runner, waste
        from heapdumpstardiver_spark.ingest import convert

        self.patch(convert, "build_index", "ingest", "ingest.index")
        self.patch(catalog.Warehouse, "table", "catalog", "catalog.table", self._count_frame)
        self.patch_everywhere(catalog.load_table, "catalog", "catalog.load_table",
                              self._count_frame)
        self.patch(service.HeapSession, "open", "service", "service.open")
        # run_waste_analysis tells check_duplicate_strings apart by
        # identity, so the module attribute and the list entry get the
        # same wrapper.
        self._saved_checks = list(runner.ALL_CHECKS)
        for i, (fn, tier) in enumerate(self._saved_checks):
            wrapped = self._wrap("analytics", f"analytics.check.{fn.__name__}", fn)
            if getattr(waste, fn.__name__, None) is fn:
                self._replace(waste, fn.__name__, wrapped)
            runner.ALL_CHECKS[i] = (wrapped, tier)

    def uninstall(self) -> None:
        from heapdumpstardiver_spark.analytics import runner

        if self._saved_checks is not None:
            runner.ALL_CHECKS[:] = self._saved_checks
            self._saved_checks = None
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def durations(self, name: str, ops=None) -> dict[int, float]:
        """Total duration of spans called *name*, per operation id."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s["name"] == name and (ops is None or s["op"] in ops):
                out[s["op"]] = out.get(s["op"], 0.0) + s["end"] - s["start"]
        return out

    def layer_time(self, layer: str, ops) -> dict[int, float]:
        """Time in *layer* per operation, counting only outermost spans
        of that layer (a nested span of the same layer is inside it)."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s["layer"] != layer or s["op"] not in ops:
                continue
            p = s["parent"]
            if p is not None and self.spans[p]["layer"] == layer:
                continue
            out[s["op"]] = out.get(s["op"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the part covered by child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s, c in zip(self.spans, child):
            if s["layer"] in out:
                out[s["layer"]] += (s["end"] - s["start"]) - c
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark jobs, completed tasks and failed tasks per operation, from
    a job group per operation."""

    def __init__(self, spark, prefix: str):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.groups: dict[int, str] = {}

    @contextmanager
    def group(self, op_id: int):
        gid = f"{self.prefix}-{op_id}"
        self.groups[op_id] = gid
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)

    def counts(self, op_id: int) -> tuple[int, int, int]:
        """(jobs, completed tasks, failed tasks) of one operation."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self.groups[op_id])
        tasks = failed = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return len(jobs), tasks, failed
