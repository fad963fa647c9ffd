"""analytics_battery: a fixed slice of registry queries, serially, one client.

Each query is built (driver-side DataFrame construction, including any
eager ``materialize()`` jobs) and then forced through a ``noop`` sink,
with the graph memo flushed before each call as ``bench.py`` does. The
slice mixes eager-job-heavy queries, Arrow/Python kernels and scan-only
queries; the scan-only ones run the same session and ``io`` code without
eager jobs, so they are the in-workload bypass for eager-job changes.
"""

from __future__ import annotations

import os
import time

import datagen
from harness import cpu_layers, cpu_snapshot, median, quantile, setup_median

# (query, class) — the class names the layer a query mostly exercises.
SLICE = (
    ("pagerank_neardup", "eager"),
    ("media_phash_neardup_pairs", "kernel"),
    ("tpch_q1_pricing_summary", "scan"),
    ("a1_fold_balance", "scan"),
    ("j2_snapshot_rehydrate", "scan"),
)
# the tables the slice reads; set-up loads each through io.load_table
SLICE_TABLES = ("lineitem", "events", "documents", "embeddings")
SF = 0.005
SETUP_REPS = 3


def _load_all(spark, corpus):
    from eventsourcing_spark.io import load_table

    return sum(load_table(spark, corpus, t).count() for t in SLICE_TABLES)


def run(ctx) -> dict:
    from eventsourcing_spark.pipeline.graph import invalidate_graph_memo
    from eventsourcing_spark.registry import ORACLE_SQL, SPARK_QUERIES
    from tools.check_correctness import compare, duckdb_con

    spark, tracer, jobs = ctx.spark, ctx.tracer, ctx.jobs
    corpus = os.path.join(ctx.work_dir, "corpus")
    datagen.write_corpus(corpus, ctx.seed, 0.001 if ctx.smoke else SF)
    errors: list[str] = []

    setup_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        _load_all(spark, corpus)
        setup_s.append(time.perf_counter() - t0)

    # warm-up: one untimed pass of the timed op, the noop sink included
    t_warm = time.perf_counter()
    for q, _cls in SLICE:
        invalidate_graph_memo()
        SPARK_QUERIES[q](spark, corpus).write.format("noop").mode("overwrite").save()

    build_jobs: dict[str, list[int]] = {q: [] for q, _ in SLICE}
    times: dict[str, list[tuple[float, float]]] = {q: [] for q, _ in SLICE}
    total_jobs: dict[str, list[int]] = {q: [] for q, _ in SLICE}
    attempted = failed = 0
    cpu0 = cpu_snapshot()
    epoch0 = time.time()
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    # whole passes over the slice until the deadline, at least one, so
    # every query has as many samples as the others
    passes = 0
    while passes == 0 or time.perf_counter() < deadline:
        passes += 1
        for q, _cls in SLICE:
            attempted += 1
            invalidate_graph_memo()
            try:
                times[q].append(_timed_query(ctx, SPARK_QUERIES[q], corpus, q, passes,
                                             build_jobs, total_jobs))
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                failed += 1
                errors.append(f"{q}: {type(e).__name__}: {e}")
    t_end = time.perf_counter()
    elapsed = t_end - t_start
    epoch1 = time.time()
    cpu1 = cpu_snapshot()

    # output check, untimed: each result collected and compared with its
    # DuckDB twin
    con = duckdb_con(corpus)
    for q, _cls in SLICE:
        invalidate_graph_memo()
        try:
            got = SPARK_QUERIES[q](spark, corpus).toPandas()
            problems = compare(q, got, con.sql(ORACLE_SQL[q]).df())
        except Exception as e:  # noqa: BLE001 - recorded as a failed check
            problems = [f"{type(e).__name__}: {e}"]
        if problems:
            errors.append(f"{q}: {problems[:2]}")
    con.close()

    walls_ms = [(b + x) * 1000.0 for ts in times.values() for b, x in ts]
    per_query = {q: median([b + x for b, x in ts]) for q, ts in times.items() if ts}
    e2e = {
        "setup_s": setup_median(setup_s),
        # queries differ 20-fold in cost, so the typical query is the mean
        # of each query's median, not the median over the mixed executions
        "op_ms": (1000.0 * sum(per_query.values()) / len(per_query), len(walls_ms)),
        "ops_per_s": (len(walls_ms) / elapsed, len(walls_ms)),
    }
    layers = {"op_p90_ms": (quantile(walls_ms, 0.9), len(walls_ms)),
              "battery_s": (sum(per_query.values()), passes)}
    roots = []
    if tracer.enabled:
        roots = [s for s in tracer.spans if s["parent"] is None and s["name"].startswith("query.")]
        eager_build = exec_total = jobs_total = 0.0
        for q, cls in SLICE:
            b = median([t[0] for t in times[q]])
            x = median([t[1] for t in times[q]])
            jb = build_jobs[q]
            jt = median(total_jobs[q])
            layers[f"{q}.build_s"] = (b, len(times[q]))
            layers[f"{q}.exec_s"] = (x, len(times[q]))
            layers[f"{q}.jobs_build"] = (median(jb), len(jb))
            layers[f"{q}.jobs_build_spread"] = (max(jb) - min(jb), len(jb))
            layers[f"{q}.jobs_total"] = (jt, len(total_jobs[q]))
            eager_build += b if cls != "scan" else 0.0
            exec_total += x
            jobs_total += jt
        layers["analytics.eager_build_s"] = (eager_build, passes)
        layers["analytics.exec_s"] = (exec_total, passes)
        layers["analytics.jobs_total"] = (jobs_total, passes)
        layers["io.load_tables_s"] = setup_median(setup_s)
        layers.update(cpu_layers(cpu0, cpu1))
    return {
        "correct": not errors, "attempted": attempted, "failed": failed,
        "e2e": e2e, "layers": layers, "errors": errors,
        "timed_epoch": (epoch0, epoch1),
        "reconcile": (sum(s["end"] - s["start"] for s in roots), elapsed),
        "phases": {"setup": sum(setup_s), "warmup": t_start - t_warm,
                   "timed": elapsed, "check": time.perf_counter() - t_end},
    }


def _timed_query(ctx, fn, corpus, q, rep, build_jobs, total_jobs):
    """Build then execute one query; returns (build_s, exec_s)."""
    tracer, jobs = ctx.tracer, ctx.jobs
    if jobs is None:
        t0 = time.perf_counter()
        df = fn(ctx.spark, corpus)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1
    with tracer.span(f"query.{q}", op=rep):
        with jobs.group(f"{q}.build") as gb, tracer.span(f"{q}.build"):
            t0 = time.perf_counter()
            df = fn(ctx.spark, corpus)
            t1 = time.perf_counter()
        with jobs.group(f"{q}.exec") as gx, tracer.span(f"{q}.exec"):
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
    build_jobs[q].append(gb["jobs"])
    total_jobs[q].append(gb["jobs"] + gx["jobs"])
    return t1 - t0, t2 - t1
