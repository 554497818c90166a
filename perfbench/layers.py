"""Metric catalog and the arithmetic from a run's spans to its metrics.

``END_TO_END`` and ``PER_LAYER`` list every metric with its unit and
direction; ``BENCHMARK.json`` declares the same names (the self-tests
check it). End-to-end metrics come from the untraced run; per-layer
metrics from the traced run, which also repeats the end-to-end
metrics as ``trace.*`` so the tracing overhead is their difference.
"""

from __future__ import annotations

from spans import (
    SparkWork,
    inclusive_work,
    median,
    parse_event_log,
    self_times,
)
from workloads import CURATE_QUERIES, family

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "req_p50_ms": ("ms", "lower"),
    "req_per_s": ("1/s", "higher"),
}

API_OPS = ("search", "fleet", "fts_search", "query")
FAMILIES = ("dedup", "similarity", "fts", "text")
SELF_LAYERS = {
    "harness": "harness", "session": "session", "fetch": "pipelines.fetch",
    "normalize": "pipelines.normalize", "publish": "pipelines.publish",
    "indexes": "pipelines.indexes", "api": "api", "queries": "queries",
    "spark": "spark",
}

PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "fetch.s": ("s", "lower"),
    "fetch.bytes_written": ("bytes", "lower"),
    "normalize.s": ("s", "lower"),
    "normalize.rows_written": ("count", "higher"),
    "normalize.bytes_written": ("bytes", "lower"),
    "normalize.write_amp": ("ratio", "lower"),
    "normalize.stages": ("count", "lower"),
    "normalize.tasks": ("count", "lower"),
    "publish.s": ("s", "lower"),
    "publish.bytes_written": ("bytes", "lower"),
    "publish.fts_postings": ("count", "higher"),
    "publish.stages": ("count", "lower"),
    "publish.tasks": ("count", "lower"),
    "indexes.s": ("s", "lower"),
    "indexes.bytes_written": ("bytes", "lower"),
    "indexes.stages": ("count", "lower"),
    **{
        f"api.{op}.{m}": (u, b)
        for op in API_OPS
        for m, u, b in (
            ("plan_ms", "ms", "lower"), ("exec_ms", "ms", "lower"),
            ("rows", "count", "higher"), ("tasks", "count", "lower"),
        )
    },
    **{f"q.{n}.s": ("s", "lower") for n in CURATE_QUERIES},
    "queries.build_ms": ("ms", "lower"),
    "queries.collect_ms": ("ms", "lower"),
    "queries.stages": ("count", "lower"),
    "queries.tasks": ("count", "lower"),
    **{f"operators.{f}.s": ("s", "lower") for f in FAMILIES},
    "spark.task_s": ("s", "lower"),
    "spark.sched_delay_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.input_mb": ("MB", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_util": ("ratio", "higher"),
    **{f"self.{k}_s": ("s", "lower") for k in SELF_LAYERS},
    **{f"trace.{k}": v for k, v in END_TO_END.items()},
    "trace.spans": ("count", "lower"),
}

UNITS = {k: u for k, (u, _) in {**END_TO_END, **PER_LAYER}.items()}


def end_to_end(res, peak_rss_bytes: int) -> dict[str, float]:
    return {
        "setup_s": res.setup_s,
        "peak_rss_mb": peak_rss_bytes / 2**20,
        "req_p50_ms": 1e3 * (median(res.latencies) if res.p50 is None else res.p50),
        "req_per_s": len(res.latencies) / res.window_s if res.rate is None else res.rate,
    }


def _med(spans, key) -> float:
    return median(key(s) for s in spans)


def per_layer(ctx, res, e2e: dict[str, float]) -> dict[str, float]:
    """Every ``PER_LAYER`` metric of a traced run; a layer the workload
    does not call reads 0."""
    spans = ctx.tracer.spans
    groups: dict = {}
    for log in sorted(ctx.event_log_dir.rglob("*")):
        if log.is_file() and not log.name.startswith("appstatus"):
            groups.update(parse_event_log(log)[0])
    work = inclusive_work(spans, groups)
    selfs = self_times(spans)
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    w = lambda s: work[s.id]  # noqa: E731

    out: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = _med(named("session"), lambda s: s.dur)
    fetch, norm, pub = named("fetch"), named("normalize"), named("publish")
    out.update({
        "fetch.s": _med(fetch, lambda s: s.dur),
        "fetch.bytes_written": _med(fetch, lambda s: s.counts.get("bytes_written", 0)),
        "normalize.s": _med(norm, lambda s: s.dur),
        "normalize.rows_written": _med(norm, lambda s: s.counts.get("rows_written", 0)),
        "normalize.bytes_written": _med(norm, lambda s: s.counts.get("bytes_written", 0)),
        "normalize.write_amp": _med(norm, lambda s: s.counts.get("write_amp", 0)),
        "normalize.stages": _med(norm, lambda s: w(s).stages),
        "normalize.tasks": _med(norm, lambda s: w(s).tasks),
        "publish.s": _med(pub, lambda s: s.dur),
        "publish.bytes_written": _med(pub, lambda s: s.counts.get("bytes_written", 0)),
        "publish.fts_postings": _med(pub, lambda s: s.counts.get("fts_postings", 0)),
        "publish.stages": _med(pub, lambda s: w(s).stages),
        "publish.tasks": _med(pub, lambda s: w(s).tasks),
    })
    idx = named("indexes")
    out.update({
        "indexes.s": _med(idx, lambda s: s.dur),
        "indexes.bytes_written": _med(idx, lambda s: s.counts.get("bytes_written", 0)),
        "indexes.stages": _med(idx, lambda s: w(s).stages),
    })

    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def child(root, layer):
        return next((c for c in kids.get(root.id, ()) if c.layer == layer), None)

    for op in API_OPS:
        roots = [r for r in named(f"serve.{op}") if "rows" in r.counts]
        out[f"api.{op}.plan_ms"] = 1e3 * _med(roots, lambda r: child(r, "api").dur)
        out[f"api.{op}.exec_ms"] = 1e3 * _med(roots, lambda r: child(r, "spark").dur)
        out[f"api.{op}.rows"] = _med(roots, lambda r: r.counts["rows"])
        out[f"api.{op}.tasks"] = _med(roots, lambda r: w(r).tasks)

    q_roots = [s for s in spans if s.name.startswith("q.") and "rows" in s.counts]
    for n in CURATE_QUERIES:
        out[f"q.{n}.s"] = _med([r for r in q_roots if r.name == f"q.{n}"], lambda r: r.dur)
    out.update({
        "queries.build_ms": 1e3 * _med(q_roots, lambda r: child(r, "queries").dur),
        "queries.collect_ms": 1e3 * _med(q_roots, lambda r: child(r, "spark").dur),
        "queries.stages": _med(q_roots, lambda r: w(r).stages),
        "queries.tasks": _med(q_roots, lambda r: w(r).tasks),
    })
    for n in CURATE_QUERIES:
        # one pass's worth: the per-query medians of the family, summed
        out[f"operators.{family(n)}.s"] += out[f"q.{n}.s"]

    # engine work of the timed region, per request
    t0, t1 = res.window
    timed = [s for s in spans if s.parent is None and t0 <= s.start < t1]
    tot = SparkWork()
    for s in timed:
        tot.add(w(s))
    n = max(len(timed), 1)
    mb = 2.0**20
    out.update({
        "spark.task_s": tot.task_s / n,
        "spark.sched_delay_s": tot.sched_delay_s / n,
        "spark.gc_s": tot.gc_s / n,
        "spark.shuffle_write_mb": tot.shuffle_write_b / mb / n,
        "spark.shuffle_read_mb": tot.shuffle_read_b / mb / n,
        "spark.spill_mb": tot.spill_b / mb / n,
        "spark.input_mb": tot.input_b / mb / n,
        "spark.jobs": tot.jobs / n,
        "spark.stages": tot.stages / n,
        "spark.tasks": tot.tasks / n,
        "spark.task_util": tot.task_s / (res.window_s * ctx.cores),
    })

    for k, layer in SELF_LAYERS.items():
        out[f"self.{k}_s"] = sum(selfs[s.id] for s in spans if s.layer == layer)
    for k, v in e2e.items():
        out[f"trace.{k}"] = v
    out["trace.spans"] = len(spans)
    return out
