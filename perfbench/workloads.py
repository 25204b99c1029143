"""The benchmark's workloads. Each is one client in a closed loop: the
next operation starts only after the previous one returned. Every
operation's output is checked against the generator's ground truth,
and a wrong answer counts as a failed operation.

Each workload function takes a :class:`Bench` (session, clock, checks,
tracing) and returns its samples; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import contextlib
import io
import itertools
import os
import sys
import time
import traceback
from collections import defaultdict

import inputs
from spans import JobCounter, Tracer
from stats import median, percentile

#: Passes the measured loop runs even when the window is shorter (a
#: traced run doubles it: half its passes run untraced).
MIN_PASSES = 1
#: query_heap requests after each waste-analysis pass in heap_triage.
REQUESTS_PER_PASS = 20
#: Requests sent once before timing, so query planning code is warm.
WARMUP_REQUESTS = 4
#: Waste-analysis passes before timing. The JVM's code is still warming
#: after the first pass (16 s, then 7-9 s, then a steady ~5 s on a
#: 4-core VM), and a pass timed in that slope varies far more between
#: runs than one timed after it.
TRIAGE_WARMUP_PASSES = 2

#: Finding title each tier<=2 check reports (WasteFinding.check_name).
FINDING_NAMES = {
    "check_duplicate_strings": "Duplicate Strings",
    "check_bad_collections": "Bad Collections (empty/single-element)",
    "check_bad_object_arrays": "Bad Object Arrays",
    "check_bad_primitive_arrays": "Bad Primitive Arrays",
    "check_boxed_numbers": "Boxed Primitives",
    "check_collection_sizing": "Collection Sizing Issues",
    "check_duplicate_byte_arrays": "Duplicate byte[] Arrays",
    "check_class_count": "Class Count / Leak Detection",
    "check_gc_roots": "GC Roots Breakdown",
    "check_direct_byte_buffers": "DirectByteBuffer Off-Heap",
    "check_thread_stacks": "Thread Stacks",
}


class Bench:
    """State of one benchmark run: the Spark session, the measured
    window, the pass/fail tally and, in a traced run, the tracer."""

    def __init__(self, spark, seconds: float, work_dir: str, trace: bool):
        self.spark = spark
        self.seconds = seconds
        self.work_dir = work_dir
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = Tracer() if trace else None
        self.jobs = JobCounter(spark, "perfbench") if trace else None
        self.tracing = False
        self.ops: dict[str, list[int]] = defaultdict(list)
        self.untraced_passes: list[float] = []
        self.loop_first_op = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def raised(self, what: str, e: Exception) -> None:
        """An operation raised: one failed operation, traceback on stderr."""
        traceback.print_exc()
        self.check(False, f"{what} raised {type(e).__name__}: {str(e)[:200]}")

    def start_tracing(self) -> None:
        if self.tracer is not None and not self.tracing:
            self.tracer.install()
            self.tracing = True

    def stop_tracing(self) -> None:
        if self.tracing:
            self.tracer.uninstall()
            self.tracing = False

    @contextlib.contextmanager
    def op(self, kind: str, layer: str):
        """One operation. While tracing it gets an operation id, a Spark
        job group and a span named *kind* in *layer*."""
        if not self.tracing:
            yield None
            return
        op_id = self.tracer.new_op()
        self.ops[kind].append(op_id)
        with self.jobs.group(op_id), self.tracer.span(layer, kind):
            yield op_id

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.tracing:
            yield
            return
        with self.tracer.span(layer, name):
            yield

    def loop(self, body) -> list[float]:
        """Run *body* (one pass; returns its seconds) until the measured
        window is over and at least MIN_PASSES passes ran. In a traced
        run the passes alternate traced and untraced, starting traced, so
        the first traced pass is as warm as the pass an untraced run
        measures, and the tracing overhead is measured in the same
        process; the traced passes are returned, the untraced ones kept
        in ``untraced_passes``."""
        passes: list[float] = []
        end = time.perf_counter() + self.seconds
        self.loop_first_op = self.tracer.op_id + 1 if self.tracer else 0
        min_passes = MIN_PASSES if self.tracer is None else 2 * MIN_PASSES
        while len(passes) < min_passes or time.perf_counter() < end:
            if self.tracer is not None:
                (self.stop_tracing if len(passes) % 2 else self.start_tracing)()
            passes.append(body())
        if self.tracer is None:
            return passes
        self.stop_tracing()
        self.untraced_passes = passes[1::2]
        return passes[0::2]


def named(value, unit: str, samples: int) -> dict:
    """A figure for the detail line: value, unit and sample count."""
    return {"value": value, "unit": unit, "samples": samples}


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet part files, bytes on disk) under *path*."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return files, size


# ---------------------------------------------------------------------------
# hprof_ingest
# ---------------------------------------------------------------------------


def _ingest(b: Bench, dump: str, truth: dict, out: str) -> float:
    """One checked ingest; returns its wall seconds."""
    from heapdumpstardiver_spark.catalog import Warehouse
    from heapdumpstardiver_spark.ingest import ingest_hprof

    t = time.perf_counter()
    try:
        with b.op("ingest", "ingest"):
            manifest = ingest_hprof(b.spark, dump, out, overwrite=True)
    except Exception as e:  # noqa: BLE001 - counted as a failed operation
        b.raised("ingest_hprof", e)
        return time.perf_counter() - t
    dt = time.perf_counter() - t
    if b.check(manifest["tables"] == truth["tables"], "ingest: rows per table differ"):
        try:
            Warehouse(b.spark, out, require_manifest=True)
        except RuntimeError as e:
            b.check(False, f"ingest: manifest does not verify: {e}")
    return dt


def hprof_ingest(b: Bench, dump: str, truth: dict) -> dict:
    out = os.path.join(b.work_dir, "warehouse")
    t0 = time.perf_counter()
    _ingest(b, dump, truth, out)  # warm-up: first ingest pays code loading
    setup = time.perf_counter() - t0
    passes = b.loop(lambda: _ingest(b, dump, truth, out))
    mb = truth["dump_bytes"] / 1e6
    return {
        "setup_s": setup,
        "loop": passes,
        "passes": passes,
        "ops_ms": [p * 1000 for p in passes],
        "named": {
            "ingest_mb_per_s": named(median(mb / p for p in passes), "MB/s", len(passes)),
            "stored_bytes_per_input_byte": named(
                dir_stats(out)[1] / truth["dump_bytes"], "ratio", 1),
        },
        "warehouse": out,
    }


# ---------------------------------------------------------------------------
# heap_triage
# ---------------------------------------------------------------------------


def _analyze(b: Bench, wh, truth: dict) -> float:
    """One checked run_waste_analysis(max_tier=2); returns its seconds.
    A check that raised (the runner only logs it) or whose finding is
    missing or wrong is one failed operation."""
    from heapdumpstardiver_spark.analytics import run_waste_analysis

    err = io.StringIO()
    t = time.perf_counter()
    with b.op("analysis", "analytics"), contextlib.redirect_stderr(err):
        findings = run_waste_analysis(wh, max_tier=2)
    dt = time.perf_counter() - t
    sys.stderr.write(err.getvalue())
    by_name = {f.check_name: f for f in findings}
    for check, expected in truth["findings"].items():
        raised = f"WARNING: {check} failed" in err.getvalue()
        got = by_name.get(FINDING_NAMES[check])
        if expected is None:
            ok = got is None
        else:
            ok = got is not None and got.affected_count == expected
        b.check(ok and not raised,
                f"{check}: expected {expected}, got "
                f"{'raised' if raised else got and got.affected_count}")
    return dt


def _request(b: Bench, manager, req: dict) -> float:
    """One checked query_heap request; returns its milliseconds."""
    from heapdumpstardiver_spark.service import query_heap

    t = time.perf_counter()
    with b.op("request", "service"):
        res = query_heap(manager, req["sql"], session_id=inputs.SESSION_ID,
                         limit=req.get("limit", 1000), offset=req.get("offset", 0))
    dt = (time.perf_counter() - t) * 1000
    ok = "error" not in res and res["rows"] == req["rows"]
    if ok and "has_more" in req:
        ok = res["has_more"] == req["has_more"]
    b.check(ok, f"query_heap {req['kind']}: {res.get('error', 'wrong rows')}")
    return dt


def heap_triage(b: Bench, dump: str, truth: dict) -> dict:
    from heapdumpstardiver_spark.service import SessionManager

    out = os.path.join(b.work_dir, "warehouse")
    requests = truth["requests"]
    t0 = time.perf_counter()
    ingest_s = _ingest(b, dump, truth, out)
    manager = SessionManager(b.spark)
    t = time.perf_counter()
    with b.op("open", "service"):
        session = manager.create_session(out, session_id=inputs.SESSION_ID)
    open_s = time.perf_counter() - t
    for _ in range(TRIAGE_WARMUP_PASSES):
        _analyze(b, session.warehouse, truth)
    for req in requests[:WARMUP_REQUESTS]:
        _request(b, manager, req)
    setup = time.perf_counter() - t0

    ops_ms: list[float] = []
    analyze: list[float] = []
    upcoming = itertools.islice(itertools.cycle(requests), WARMUP_REQUESTS, None)

    def one_pass() -> float:
        t = time.perf_counter()
        analyze.append(_analyze(b, session.warehouse, truth))
        for req in itertools.islice(upcoming, REQUESTS_PER_PASS):
            ops_ms.append(_request(b, manager, req))
        return time.perf_counter() - t

    loop = b.loop(one_pass)
    return {
        "setup_s": setup,
        "loop": loop,
        "passes": analyze,
        "ops_ms": ops_ms,
        "named": {
            "ingest_mb_per_s": named(truth["dump_bytes"] / 1e6 / ingest_s, "MB/s", 1),
            "stored_bytes_per_input_byte": named(
                dir_stats(out)[1] / truth["dump_bytes"], "ratio", 1),
            "open_s": named(open_s, "s", 1),
            "analyze_s": named(median(analyze), "s", len(analyze)),
            "sql_p50_ms": named(median(ops_ms), "ms", len(ops_ms)),
            "sql_p90_ms": named(percentile(ops_ms, 0.9), "ms", len(ops_ms)),
        },
        "warehouse": out,
    }


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def _corpus_pass(b: Bench, corpus: str, truth: dict, ops_ms: list) -> float:
    """All corpus operators once, each construct + collect, each result
    hashed and compared with its DuckDB oracle's hash."""
    import heapdumpstardiver_spark as hds

    total = 0.0
    for name in inputs.CORPUS_QUERIES:
        t = time.perf_counter()
        try:
            with b.op(f"query.{name}", "queries"):
                with b.span("queries", f"queries.construct.{name}"):
                    df = hds.QUERIES[name](b.spark, corpus)
                with b.span("queries", f"queries.execute.{name}"):
                    rows = df.collect()
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            b.raised(name, e)
            continue
        finally:
            dt = time.perf_counter() - t
            ops_ms.append(dt * 1000)
            total += dt
        got = inputs.canonical_hash(df.columns, [tuple(r) for r in rows])
        b.check(got == truth["oracle"][name]["hash"],
                f"{name}: result differs from its oracle ({len(rows)} rows)")
    return total


def corpus_dedup(b: Bench, corpus: str, truth: dict) -> dict:
    t0 = time.perf_counter()
    _corpus_pass(b, corpus, truth, [])  # warm-up pass
    setup = time.perf_counter() - t0
    ops_ms: list[float] = []
    passes = b.loop(lambda: _corpus_pass(b, corpus, truth, ops_ms))
    return {
        "setup_s": setup,
        "loop": passes,
        "passes": passes,
        "ops_ms": ops_ms,
        "named": {
            "corpus_docs_per_s": named(median(truth["documents"] / p for p in passes),
                                       "docs/s", len(passes)),
        },
    }


WORKLOADS = {
    "hprof_ingest": ("heap", hprof_ingest),
    "heap_triage": ("heap", heap_triage),
    "corpus_dedup": ("corpus", corpus_dedup),
}
