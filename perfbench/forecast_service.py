"""forecast_service: the reference's own traffic.

One closed-loop client calls ``Engine.forecast(name, index, method, 7, h)``
and collects the rows, as the reference's Rserve caller does, then sends
the next request.  Keys follow a seeded Zipf stream over (series, method)
with the sub-second reference methods (``metrics.METHODS``) and horizons
{7, 14, 30}.  The artifact directory starts empty, so one seed replays one
sequence of cold fits (scan + fit + model and cache writes), model hits
with a cache miss (forecast + cache write) and cache hits (cache read).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np

import inputs
import metrics as M

N_SERIES = 48
# The client's working set: every method on HOT_SERIES series of the
# corpus.  Each key is fitted cold once per run (the Zipf stream reaches
# all of them early), so every seed makes the same number of cold fits and
# the rest of the window is cache traffic.
HOT_SERIES = 3
METHODS = M.METHODS
HORIZONS = (7, 14, 30)
ZIPF_A = 1.2
FREQUENCY = 7
CACHE_LENGTH = 14  # the reference primes the cache at 14 steps (R:10)
BANDS = ["lower2", "lower1", "mean", "upper1", "upper2"]
N_WARMUP = len(METHODS)
WARMUP_HITS = 80


def request_stream(seed: int, keys: list, n: int) -> list[tuple]:
    rng = np.random.default_rng([seed, 3])
    order = rng.permutation(len(keys))
    weights = 1.0 / np.arange(1, len(keys) + 1) ** ZIPF_A
    ranks = rng.choice(len(keys), n, p=weights / weights.sum())
    horizons = rng.choice(HORIZONS, n)
    return [(*keys[order[r]], int(h)) for r, h in zip(ranks, horizons)]


class CacheModel:
    """The reference's cache semantics (R:104-124) seen from the client:
    which path each request takes, and the bits each hit must repeat."""

    def __init__(self):
        self.cached_len: dict[tuple, int] = {}
        self.known: dict[tuple, dict] = {}

    def path(self, key, horizon: int) -> str:
        """The path this request takes; advances the cached lengths."""
        cached = self.cached_len.get(key)
        if cached is None:
            self.cached_len[key] = max(CACHE_LENGTH, horizon)
            return "cold"
        if cached >= horizon:
            return "hit"
        self.cached_len[key] = horizon
        return "model_hit"

    def observe(self, key, horizon: int, path: str, bands: dict) -> bool:
        """Check a response in request order; False when a hit differs
        from the cached bands already seen.  A response that the cache
        stores (a model hit, a cold request beyond 14 steps) shows the
        cache exactly.  After a cold request of at most 14 steps the cache
        holds a separate 14-step forecast whose bands may be simulated
        per horizon, so the first hit shows it and later hits must repeat
        that."""
        known = self.known.get(key)
        if path == "hit" and known is not None:
            k = min(len(known["mean"]), horizon)
            if not all(np.array_equal(bands[c][:k].view(np.int64),
                                      known[c][:k].view(np.int64)) for c in BANDS):
                return False
        if path == "cold":
            self.known[key] = bands if horizon > CACHE_LENGTH else None
        elif path == "model_hit" or known is None or len(known["mean"]) < horizon:
            self.known[key] = bands
        return True


def check_rows(rows, key, horizon: int) -> dict | None:
    """The response's bands by step, or None when its shape is wrong."""
    name, index, method = key
    rows = sorted(rows, key=lambda r: r["step"])
    if len(rows) != horizon or [r["step"] for r in rows] != list(range(1, horizon + 1)):
        return None
    if any((r["name"], r["index"], r["method"]) != key for r in rows):
        return None
    bands = {c: np.array([r[c] for r in rows], dtype=float) for c in BANDS}
    stacked = np.vstack([bands[c] for c in BANDS])
    if not np.isfinite(stacked).all() or (np.diff(stacked, axis=0) < 0).any():
        return None
    return bands


def install_hooks(ctx) -> None:
    """Spans around the engine calls a service request makes."""
    from qrapids_forecast_r_script_spark.forecast import cache
    tr = ctx.tracer
    store = cache.ForecastStore

    def add_bytes(path_of):
        return lambda _out, self, name, index, method, *_: tr.count(
            "cache.bytes_written", os.path.getsize(path_of(self, name, index, method)))

    original = store.forecast_with_cache

    def forecast_with_cache(self, name, index, method, frequency, horizon,
                            compute_series):
        def scan():
            with tr.span("sources.scan"):
                return compute_series()
        with tr.span("cache.forecast_with_cache"):
            return original(self, name, index, method, frequency, horizon, scan)

    tr.patch(store, "forecast_with_cache", forecast_with_cache)
    tr.wrap_method(store, "load_forecast", "cache.read")
    tr.wrap_method(store, "load_model", "cache.read")
    tr.wrap_method(store, "save_model", "cache.write", add_bytes(store.model_path))
    tr.wrap_method(store, "save_forecast", "cache.write", add_bytes(store.cache_path))
    tr.time_dispatch(cache)


def run(ctx) -> dict:
    from qrapids_forecast_r_script_spark import schemas
    from qrapids_forecast_r_script_spark.engine import Engine

    metrics_path = ctx.path("metrics.parquet")

    def build(spark):
        corpus = inputs.qr_metrics(ctx.seed, N_SERIES)
        inputs.write_metrics(corpus, metrics_path)
        return Engine(spark, spark.read.schema(schemas.QR_METRICS).parquet(metrics_path)), corpus

    (engine, corpus), setup_s = ctx.timed_setup(build)
    # The reference serves its one client from one single-threaded R
    # process; here the client and the engine share one CPU too.  Spread
    # over the VM's CPUs, a request's ~45 py4j round trips measured the
    # host's cross-CPU wake-ups: one seed's p50 read 35-62 ms within
    # minutes unpinned, 68-74 ms pinned.
    ctx.pin_one_cpu()
    spark = engine.spark
    # The hot series sit at evenly spaced length ranks, so every seed's
    # cold fits cover a short, a middle and a long series.
    by_length = corpus.groupby(["name", "index"]).size().sort_values(kind="stable")
    ranks = np.linspace(0, len(by_length) - 1, HOT_SERIES + 2)[1:-1].round().astype(int)
    keys = [(name, index, m) for name, index in by_length.index[ranks] for m in METHODS]
    stream = request_stream(ctx.seed, keys, 200_000)

    # Warm-up outside the timer on its own artifact directory: every
    # method's model code, the scan and the response path run once.
    warm = Engine(spark, engine.metrics, artifact_dir=ctx.path("warmup-artifacts"))
    for i in range(N_WARMUP):
        name, index, _, h = stream[i]
        warm.forecast(name, index, METHODS[i % len(METHODS)], FREQUENCY, h).collect()
    # Cache hits until the JVM has compiled the response path: without
    # this, hit latency falls by ~40% over the first ~150 requests of the
    # window, and a slow host phase stretches that fall over more of it.
    for i in range(WARMUP_HITS):
        name, index, _, _ = stream[i % N_WARMUP]
        warm.forecast(name, index, METHODS[i % N_WARMUP], FREQUENCY, 7).collect()
    engine = Engine(spark, engine.metrics, artifact_dir=ctx.path("artifacts"))

    counters = None
    if ctx.trace:
        from spans import SparkCounters
        counters = SparkCounters(spark)
        install_hooks(ctx)
        gc0 = counters.gc_ms()

    tr = ctx.tracer
    model = CacheModel()
    latencies, responses, jobs = [], [], []
    failed = 0
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    i = 0
    while time.perf_counter() < deadline:
        name, index, method, h = stream[i]
        key = (name, index, method)
        path = model.path(key, h)
        if counters is not None:
            counters.set_group(f"req{i}")
        t0 = time.perf_counter()
        try:
            with tr.span("bench.request", req=i), tr.span("engine.forecast"):
                rows = engine.forecast(name, index, method, FREQUENCY, h).collect()
        except Exception:  # noqa: BLE001 — a failed request counts, the client goes on
            rows = None
        latencies.append(time.perf_counter() - t0)
        if counters is not None:
            jobs.append(len(counters.jobs(f"req{i}")))
        responses.append((key, h, path, rows))
        i += 1
    t_end = time.perf_counter()

    # Output checks, after the timed window so they do not cost throughput.
    paths = {"cold": 0, "hit": 0, "model_hit": 0}
    for key, h, path, rows in responses:
        paths[path] += 1
        bands = None if rows is None else check_rows(rows, key, h)
        if bands is None or not model.observe(key, h, path, bands):
            failed += 1
            print(f"failed request {key} h={h} path={path} rows={rows and len(rows)}",
                  file=sys.stderr)

    out = {"attempted": len(responses), "failed": failed,
           "e2e": ctx.latency_metrics(setup_s, statistics.median(latencies),
                                      len(responses) / (t_end - t_start))}
    if ctx.trace:
        out["layers"] = M.per_layer_result({
            **layer_values(ctx, counters, paths, jobs, t_start, t_end),
            "session.jvm_heap_mb": counters.jvm_heap_mb(),
            "session.gc_ms": counters.gc_ms() - gc0,
        })
    return out


def layer_values(ctx, counters, paths, jobs, t_start, t_end) -> dict:
    tr = ctx.tracer
    n = sum(paths.values())
    ms = lambda name: 1e3 * statistics.fmean(tr.durations(name) or [0.0])  # noqa: E731
    selfs = tr.self_times(t_start, t_end)
    values = {
        "sources.scan_ms": ms("sources.scan"),
        "sources.scans": len(tr.durations("sources.scan")),
        "engine.jobs_per_request": statistics.fmean(jobs),
        "engine.response_ms": 1e3 * selfs.get("engine.forecast", 0.0) / n,
        "cache.hit_ratio": paths["hit"] / n,
        "cache.model_hit_ratio": paths["model_hit"] / n,
        "cache.read_ms": ms("cache.read"),
        "cache.write_ms": ms("cache.write"),
        "cache.bytes_written": tr.counts["cache.bytes_written"],
        "session.shuffle_width": int(ctx.spark.conf.get("spark.sql.shuffle.partitions")),
    }
    for m in METHODS:
        values[f"dispatch.fit_ms.{m}"] = ms(f"dispatch.fit.{m}")
        values[f"dispatch.forecast_ms.{m}"] = ms(f"dispatch.forecast.{m}")
    values.update(M.window_metrics(tr, t_start, t_end))
    return values
