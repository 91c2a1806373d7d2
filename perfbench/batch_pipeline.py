"""batch_pipeline: the jobs a batch user submits and waits for.

A pass runs, in a seeded order, one ``Engine.forecast_all(method, 7, 14)``
job per timed reference method (``metrics.METHODS``) over a generated
``qr_metrics`` corpus, and the operator mix of ``metrics.PIPELINE_QUERIES``
(relational, dedup, similarity, text and streaming queries of the
registry) over generated tables.

* A forecast job is one shuffle on the series key and one
  ``applyInPandas`` task per partition, each fitting its series in a
  Python worker; the corpus has uneven series lengths, all far below the
  fan-out threshold, so tasks finish unevenly.  The rows are collected.
* A query is timed as ``fn(spark, sf_dir)`` (construction, which includes
  the eager lineage-cut jobs) plus ``.count()``.

``lineage.release_stale`` runs before every operation, outside its timer.
Every query in the mix is checked once per run, before the timed passes,
against its DuckDB oracle with the exact comparison of
``tools/strict_audit.py``; every forecast job's rows are checked, and a
seeded sample of series is refitted in-process after the window.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import inputs
import metrics as M

N_SERIES = 16
FREQUENCY, HORIZON = 7, 14
BANDS = ["lower1", "lower2", "mean", "upper1", "upper2"]
# Series per method refitted in-process for the bit-exact check.
REPLAY_PER_METHOD = 2
# Row counts of the generated tables: lineitem ~60k, orders 15k, events
# 10k, 500 documents and 500 embeddings.
SF = 0.01
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# At least this many passes are timed, however short --seconds is.
MIN_PASSES = 2


# --- forecast jobs -----------------------------------------------------------

def by_series(rows) -> dict:
    """Rows of one method's output, grouped per series and ordered by step."""
    out: dict[tuple, list] = {}
    for r in rows:
        out.setdefault((r["name"], r["index"]), []).append(r)
    return {k: sorted(v, key=lambda r: r["step"]) for k, v in out.items()}


def check_output(rows) -> bool:
    """Every series has steps 1..14 and no NaN band."""
    series = by_series(rows)
    if len(series) != N_SERIES or len(rows) != N_SERIES * HORIZON:
        return False
    return all([r["step"] for r in rs] == list(range(1, HORIZON + 1))
               and np.isfinite([[r[c] for c in BANDS] for r in rs]).all()
               for rs in series.values())


def replay_matches(corpus, rows, method, name, index) -> bool:
    """The engine's rows for one series equal an in-process refit, bit for bit."""
    from qrapids_forecast_r_script_spark.forecast.api import fit_and_forecast_pdf
    pdf = corpus[(corpus["name"] == name) & (corpus["index"] == index)]
    want = fit_and_forecast_pdf(pdf.reset_index(drop=True), method, FREQUENCY, HORIZON)
    got = by_series(rows)[(name, index)]
    return all(np.array_equal(want[c].to_numpy(float).view(np.int64),
                              np.array([r[c] for r in got], float).view(np.int64))
               for c in BANDS)


# --- operator queries --------------------------------------------------------

def build_layer(fn) -> str:
    """The layer a query's construction belongs to, from its module:
    ``...operators.dedup`` -> operators, ``...streaming.queries`` -> streaming."""
    return fn.__module__.split(".")[1]


def run_query(ctx, counters, fn, q: str, tag: str) -> float:
    """One timed execution; in the traced run construction, planning and
    execution are separate spans with their own job groups."""
    tr, spark = ctx.tracer, ctx.spark
    t0 = time.perf_counter()
    if counters is None:
        fn(spark, ctx.path("tables")).count()
        return time.perf_counter() - t0
    counters.set_group(f"{tag}-{q}-build")
    with tr.span(f"{build_layer(fn)}.build.{q}"):
        df = fn(spark, ctx.path("tables"))
    counters.set_group(f"{tag}-{q}-exec")
    with tr.span(f"catalyst.plan.{q}"):
        df._jdf.queryExecution().executedPlan()
    with tr.span(f"exec.count.{q}"):
        df.count()
    return time.perf_counter() - t0


def check_queries(spark, tables, mix, oracles, release) -> tuple[int, int]:
    """Every query of the mix against its DuckDB oracle; returns
    (attempted, failed)."""
    from tools.strict_audit import strict_compare
    failed = 0
    for q, fn in mix.items():
        release(spark)
        try:
            got = fn(spark, tables.tables_dir).toArrow().to_pandas()
            problems = strict_compare(got, tables.execute(oracles[q]).arrow().to_pandas())
        except Exception as ex:  # noqa: BLE001 — a failed query counts, the run goes on
            problems = [repr(ex)]
        if problems:
            failed += 1
            print(f"oracle mismatch {q}: {problems[:2]}", flush=True)
    return len(mix), failed


# --- the workload ------------------------------------------------------------

class Tables:
    """A DuckDB connection with a view per generated table."""

    def __init__(self, tables_dir: str):
        import duckdb
        self.tables_dir = tables_dir
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{tables_dir}/{t}.parquet')")

    def execute(self, sql: str):
        return self.con.execute(sql)

    def close(self) -> None:
        self.con.close()


def run(ctx) -> dict:
    import __spark_entry__ as entry
    from qrapids_forecast_r_script_spark import schemas
    from qrapids_forecast_r_script_spark.engine import Engine
    from qrapids_forecast_r_script_spark.lineage import release_stale

    metrics_path, tables_dir = ctx.path("metrics.parquet"), ctx.path("tables")
    queries, oracles = entry.queries(), entry.oracle_sql()
    mix = {q: queries[q] for q in M.PIPELINE_QUERIES}

    def build(spark):
        corpus = inputs.qr_metrics(ctx.seed, N_SERIES)
        inputs.write_metrics(corpus, metrics_path)
        inputs.write_query_tables(ctx.seed, SF, tables_dir)
        engine = Engine(spark, spark.read.schema(schemas.QR_METRICS).parquet(metrics_path))
        return engine, corpus, Tables(tables_dir)

    (engine, corpus, tables), setup_s = ctx.timed_setup(build)
    spark, tr = ctx.spark, ctx.tracer

    # Checks and warm-up, outside the timer: every query against its
    # oracle, and one forecast job per method, checked like a timed one.
    # The first pass after a session start runs ~1.5x slower than later ones.
    attempted, failed = check_queries(spark, tables, mix, oracles, release_stale)
    tables.close()
    for method in M.METHODS:
        release_stale(spark)
        attempted += 1
        failed += not check_output(engine.forecast_all(method, FREQUENCY, HORIZON).collect())

    counters, release = None, release_stale
    if ctx.trace:
        from spans import SparkCounters, python_worker_s
        counters = SparkCounters(spark)
        release = tr.timed(release_stale, "lineage.release_stale",
                           lambda n, *a, **k: tr.count("lineage.released_rdds", n))
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        python_worker_s(spark)
        gc0 = counters.gc_ms()

    def forecast(method, tag):
        if counters:
            counters.set_group(f"{tag}-{method}")
        t0 = time.perf_counter()
        with tr.span(f"api.forecast_all.{method}"):
            rows = engine.forecast_all(method, FREQUENCY, HORIZON).collect()
        return time.perf_counter() - t0, rows

    ops = [("forecast", m) for m in M.METHODS] + [("query", q) for q in mix]
    rng = np.random.default_rng([ctx.seed, 5])
    pass_s, op_s, last = [], {op: [] for op in ops}, {}
    n_ops = 0
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    k = 0
    # A pass starts only when it is expected to end by the deadline (the
    # first MIN_PASSES always run), so the window stays close to --seconds.
    while k < MIN_PASSES or time.perf_counter() + statistics.fmean(pass_s) <= deadline:
        t_pass = time.perf_counter()
        with tr.span("bench.pass"):
            for i in rng.permutation(len(ops)):
                kind, name = ops[i]
                release(spark)
                attempted += 1
                try:
                    if kind == "forecast":
                        secs, rows = forecast(name, f"p{k}")
                        failed += not check_output(rows)
                        last[name] = rows
                    else:
                        secs = run_query(ctx, counters, mix[name], name, f"p{k}")
                except Exception:  # noqa: BLE001 — counted as failed, the run goes on
                    failed += 1
                    continue
                op_s[ops[i]].append(secs)
                n_ops += 1
        pass_s.append(time.perf_counter() - t_pass)
        k += 1
    t_end = time.perf_counter()

    # Bit-exact in-process refit of a seeded sample of the last pass.
    if ctx.trace:
        from qrapids_forecast_r_script_spark.forecast import api
        tr.time_dispatch(api)
    rng = np.random.default_rng([ctx.seed, 4])
    cpu0 = time.process_time()
    for method, rows in last.items():
        for name, index in rng.permutation(sorted(by_series(rows)))[:REPLAY_PER_METHOD]:
            attempted += 1
            failed += not replay_matches(corpus, rows, method, name, index)
    replay_cpu = time.process_time() - cpu0

    # The user waits for the whole pass, so its latency is a pass: the sum
    # over the operations of each one's median time (release_stale between
    # operations is not in it).  Throughput counts the operations the
    # window completed.
    latency = sum(statistics.median(v) for v in op_s.values() if v)
    out = {"attempted": attempted, "failed": failed,
           "e2e": ctx.latency_metrics(setup_s, latency, n_ops / (t_end - t_start))}
    if ctx.trace:
        out["layers"] = M.per_layer_result(layer_values(
            ctx, counters, mix, op_s, len(pass_s), replay_cpu, t_start, t_end, gc0))
    return out


def layer_values(ctx, counters, mix, op_s, n_pass, replay_cpu, t_start, t_end, gc0):
    from spans import python_worker_s, task_skew
    tr, spark = ctx.tracer, ctx.spark
    total = lambda prefix: sum(  # noqa: E731
        s["end"] - s["start"] for s in tr.in_window(t_start, t_end)
        if s["name"].startswith(prefix)) / n_pass
    ms = lambda name: 1e3 * statistics.fmean(tr.durations(name) or [0.0])  # noqa: E731
    med = lambda xs: statistics.median(xs or [0.0])  # noqa: E731

    # Forecast jobs: forecast.api and the model kernels.
    stages = [counters.stage_totals(counters.jobs(f"p{k}-{m}"))
              for k in range(n_pass) for m in M.METHODS]
    worker_s = python_worker_s(spark) / n_pass
    forecast_s = sum(med(op_s[("forecast", m)]) for m in M.METHODS)
    values = {
        "models.fit_cpu_s": replay_cpu,
        "api.tasks": sum(s["tasks"] for s in stages) / n_pass,
        "api.task_skew": task_skew([t for s in stages for t in s["task_s"]]),
        "api.executor_run_s": sum(s["run_s"] for s in stages) / n_pass,
        "api.executor_cpu_s": sum(s["cpu_s"] for s in stages) / n_pass,
        "api.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages) / n_pass,
        "api.python_worker_s": worker_s,
        "api.parallel_efficiency": worker_s / (forecast_s * ctx.cores),
    }
    for m in M.METHODS:
        values[f"api.method_s.{m}"] = med(op_s[("forecast", m)])
        values[f"dispatch.fit_ms.{m}"] = ms(f"dispatch.fit.{m}")
        values[f"dispatch.forecast_ms.{m}"] = ms(f"dispatch.forecast.{m}")

    # Operator queries: construction, Catalyst and execution.
    build_jobs = exec_jobs = tasks = shuffle = 0
    for q in mix:
        jobs_q = 0
        for k in range(n_pass):
            b, e = counters.jobs(f"p{k}-{q}-build"), counters.jobs(f"p{k}-{q}-exec")
            st = counters.stage_totals(b + e)
            build_jobs += len(b)
            exec_jobs += len(e)
            jobs_q += len(b) + len(e)
            tasks += st["tasks"]
            shuffle += st["shuffle_write_bytes"]
        values[f"q.{q}.s"] = med(op_s[("query", q)])
        values[f"q.{q}.jobs"] = jobs_q / n_pass
    values.update({
        "pipeline.build_s": sum(total(f"{build_layer(fn)}.build.{q}") for q, fn in mix.items()),
        "pipeline.jobs_build": build_jobs / n_pass,
        "pipeline.plan_s": total("catalyst.plan."),
        "pipeline.exec_s": total("exec.count."),
        "pipeline.jobs_exec": exec_jobs / n_pass,
        "pipeline.tasks": tasks / n_pass,
        "pipeline.shuffle_bytes": shuffle / n_pass,
        "lineage.release_s": total("lineage.release_stale"),
        "lineage.released_rdds": tr.counts["lineage.released_rdds"] / n_pass,
        "session.jvm_heap_mb": counters.jvm_heap_mb(),
        "session.gc_ms": counters.gc_ms() - gc0,
        "session.shuffle_width": int(spark.conf.get("spark.sql.shuffle.partitions")),
    })
    values.update(M.window_metrics(tr, t_start, t_end))
    return values
