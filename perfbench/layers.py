"""Per-layer metrics of a traced run, computed from its spans and job
counts. Every metric is reported for every workload; a layer the
workload never enters reports 0.

Per-pass figures are medians over the traced passes of the measured
window; set-up figures cover the set-up operations.
"""

from __future__ import annotations

from inputs import CORPUS_QUERIES
from spans import LAYERS
from stats import median
from workloads import FINDING_NAMES, dir_stats

CHECKS = tuple(FINDING_NAMES)

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "ingest.index_s": "s",
    "ingest.convert_s": "s",
    "ingest.tasks": "count",
    "ingest.part_files": "count",
    "ingest.bytes_written": "bytes",
    "catalog.resolve_s": "s",
    "catalog.setup_resolve_s": "s",
    "catalog.resolve_calls": "count",
    "catalog.plan_cache_hit_ratio": "ratio",
    "service.open_s": "s",
    "service.sql_jobs_per_request": "count",
    "service.sql_tasks_per_request": "count",
    **{f"analytics.check_s.{c}": "s" for c in CHECKS},
    "analytics.jobs_per_pass": "count",
    "analytics.tasks_per_pass": "count",
    "analytics.failed_checks": "count",
    **{f"queries.construct_s.{q}": "s" for q in CORPUS_QUERIES},
    **{f"queries.execute_s.{q}": "s" for q in CORPUS_QUERIES},
    **{f"queries.jobs.{q}": "count" for q in CORPUS_QUERIES},
    **{f"queries.tasks.{q}": "count" for q in CORPUS_QUERIES},
    "spark.failed_tasks": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def _med(values) -> float:
    m = median(values)
    return 0.0 if m is None else m


def per_layer_metrics(b, res: dict) -> dict:
    t, jobs = b.tracer, b.jobs
    loop_ops = set(range(b.loop_first_op, t.op_id + 1))
    passes = max(1, len(res["loop"]))

    def ids(kind, loop=True):
        return [i for i in b.ops.get(kind, []) if (i in loop_ops) == loop]

    counts = {i: jobs.counts(i) for kind in b.ops for i in b.ops[kind]}
    m: dict[str, float] = {}

    m["session.start_s"] = sum(t.durations("session.start").values())

    ingest_ops = ids("ingest") or ids("ingest", loop=False)
    total = t.durations("ingest", ingest_ops)
    index = t.durations("ingest.index", ingest_ops)
    m["ingest.index_s"] = _med(index.values())
    m["ingest.convert_s"] = _med(total[i] - index.get(i, 0.0) for i in total)
    m["ingest.tasks"] = _med(counts[i][1] for i in ingest_ops)
    files, size = dir_stats(res["warehouse"]) if "warehouse" in res else (0, 0)
    m["ingest.part_files"] = files
    m["ingest.bytes_written"] = size

    cat_loop = t.layer_time("catalog", loop_ops)
    cat_setup = t.layer_time("catalog", set(range(0, b.loop_first_op)))
    m["catalog.resolve_s"] = sum(cat_loop.values()) / passes
    m["catalog.setup_resolve_s"] = sum(cat_setup.values())
    m["catalog.resolve_calls"] = sum(
        1 for s in t.spans if s["layer"] == "catalog" and s["op"] in loop_ops) / passes
    m["catalog.plan_cache_hit_ratio"] = t.catalog_hits / t.catalog_calls if t.catalog_calls else 0.0

    m["service.open_s"] = sum(t.durations("open").values())
    req = ids("request")
    m["service.sql_jobs_per_request"] = _med(counts[i][0] for i in req)
    m["service.sql_tasks_per_request"] = _med(counts[i][1] for i in req)

    passes_ops = ids("analysis")
    for c in CHECKS:
        per_op = t.durations(f"analytics.check.{c}", passes_ops)
        m[f"analytics.check_s.{c}"] = _med(per_op.values())
    m["analytics.jobs_per_pass"] = _med(counts[i][0] for i in passes_ops)
    m["analytics.tasks_per_pass"] = _med(counts[i][1] for i in passes_ops)
    m["analytics.failed_checks"] = sum(
        1 for s in t.spans if s["name"].startswith("analytics.check.") and s["error"])

    for q in CORPUS_QUERIES:
        q_ops = ids(f"query.{q}")
        m[f"queries.construct_s.{q}"] = _med(t.durations(f"queries.construct.{q}", q_ops).values())
        m[f"queries.execute_s.{q}"] = _med(t.durations(f"queries.execute.{q}", q_ops).values())
        m[f"queries.jobs.{q}"] = _med(counts[i][0] for i in q_ops)
        m[f"queries.tasks.{q}"] = _med(counts[i][1] for i in q_ops)

    m["spark.failed_tasks"] = sum(c[2] for c in counts.values())
    for layer, secs in t.self_times().items():
        m[f"{layer}.self_s"] = secs
    m["trace.overhead_s"] = _med(res["loop"]) - _med(b.untraced_passes)
    m["trace.spans"] = len(t.spans)
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
