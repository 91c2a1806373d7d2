"""The benchmark's metric names, units and directions, in one place.

Every run prints every metric of its kind: the end-to-end set without
tracing, the per-layer set with it.  A layer that a workload does not
call reads 0 on that workload (the cache on ``batch_pipeline``, for
example); README.md says which end-to-end metric each layer should move.
"""

from __future__ import annotations

# The reference methods the forecast workloads time.  ARIMA,
# ARIMA_FORCE_SEASONALITY, BAGGEDETS, HYBRID and NN take 5-25 s per fit
# and PROPHET 0.4-7 s depending on the series, so their fits would fill a
# run and make its time depend on which series the seed drew.
METHODS = ["ETS", "ETSDAMPED", "THETA", "STL"]

# The operator mix of batch_pipeline: one query per operator family
# (relational, dedup, similarity, text, streaming), few enough that the
# oracle check and two timed passes fit a run.  q3_shipping_priority,
# q9_product_profit and rfm_quartile_segments are not in it: on 6 of 10
# generated seeds one of them rounds a float sum one cent away from its
# DuckDB oracle, so a run would fail on the seed.
PIPELINE_QUERIES = [
    "q1_pricing_summary", "minhash_lsh_pairs", "cosine_topk_bruteforce",
    "text_stats", "events_stream_tumbling_1h",
]

# name -> (unit, better, bound).  The bounds are the widest allowed: on a
# shared 4-core host one run in ten can be 30-40% slower throughout.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "latency_ms": ("ms", "lower", 0.25),
    "throughput_per_s": ("1/s", "higher", 0.25),
}

SELF_LAYERS = ["bench", "engine", "cache", "sources", "dispatch", "api",
               "operators", "catalyst", "exec", "streaming", "lineage", "session"]


def _per_layer() -> dict[str, tuple[str, str]]:
    m = {
        "sources.scan_ms": ("ms", "lower"),
        "sources.scans": ("count", "lower"),
        "engine.jobs_per_request": ("count", "lower"),
        "engine.response_ms": ("ms", "lower"),
        "cache.hit_ratio": ("ratio", "higher"),
        "cache.model_hit_ratio": ("ratio", "higher"),
        "cache.read_ms": ("ms", "lower"),
        "cache.write_ms": ("ms", "lower"),
        "cache.bytes_written": ("B", "lower"),
        "models.fit_cpu_s": ("s", "lower"),
    }
    for meth in METHODS:
        m[f"dispatch.fit_ms.{meth}"] = ("ms", "lower")
        m[f"dispatch.forecast_ms.{meth}"] = ("ms", "lower")
    for meth in METHODS:
        m[f"api.method_s.{meth}"] = ("s", "lower")
    m.update({
        "api.tasks": ("count", "lower"),
        "api.task_skew": ("ratio", "lower"),
        "api.executor_run_s": ("s", "lower"),
        "api.executor_cpu_s": ("s", "lower"),
        "api.shuffle_write_bytes": ("B", "lower"),
        "api.python_worker_s": ("s", "lower"),
        "api.parallel_efficiency": ("ratio", "higher"),
        "pipeline.build_s": ("s", "lower"),
        "pipeline.jobs_build": ("count", "lower"),
        "pipeline.plan_s": ("s", "lower"),
        "pipeline.exec_s": ("s", "lower"),
        "pipeline.jobs_exec": ("count", "lower"),
        "pipeline.tasks": ("count", "lower"),
        "pipeline.shuffle_bytes": ("B", "lower"),
    })
    for q in PIPELINE_QUERIES:
        m[f"q.{q}.s"] = ("s", "lower")
        m[f"q.{q}.jobs"] = ("count", "lower")
    m.update({
        "lineage.release_s": ("s", "lower"),
        "lineage.released_rdds": ("count", "lower"),
        "session.jvm_heap_mb": ("MB", "lower"),
        "session.gc_ms": ("ms", "lower"),
        "session.shuffle_width": ("count", "lower"),
        "trace.window_s": ("s", "lower"),
        "trace.throughput_per_s": ("1/s", "higher"),
        "trace.accounted_share": ("ratio", "higher"),
    })
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = ("s", "lower")
    return m


PER_LAYER = _per_layer()


def per_layer_result(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric with its unit; absent layers read 0."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {k: (float(values.get(k, 0.0)), unit) for k, (unit, _) in PER_LAYER.items()}


def window_metrics(tracer, start: float, end: float) -> dict[str, float]:
    """Self seconds per layer over the measured window, the window's length
    and the share of it that root spans cover.  A span's layer is its
    name up to the first dot ("cache.read" -> cache)."""
    out = {f"self_s.{layer}": 0.0 for layer in SELF_LAYERS}
    out["trace.window_s"] = end - start
    out["trace.accounted_share"] = tracer.accounted_share(start, end)
    for name, secs in tracer.self_times(start, end).items():
        key = f"self_s.{name.split('.', 1)[0]}"
        if key not in out:
            raise KeyError(f"span {name!r} has no declared layer")
        out[key] += secs
    return out
