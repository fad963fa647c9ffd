"""The metrics the benchmark reports: names, units and which way is better.

Every workload reports every end-to-end metric, each over the
workload's own unit of work (its "op"):

* ``oltp_accounts``: one ``Repository`` call (retrieve, update or create);
* ``analytics_battery``: one query, built and forced through a noop sink.

Per-layer metrics are reported by every workload too; a layer the
workload bypasses reads 0, which is the bypass prediction itself.
"""

from __future__ import annotations

from analytics import SLICE

# (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
)

PER_LAYER = (
    ("session.start_s", "s"),
    ("cpu.driver_s", "s"),
    ("cpu.jvm_s", "s"),
    ("cpu.py_workers_s", "s"),
    ("op_p90_ms", "ms"),
    # each workload's headline figures, reported but not gated
    ("retrieve_p50_ms", "ms"),
    ("update_p50_ms", "ms"),
    ("ingest_events_per_s", "1/s"),
    ("catchup_events_per_s", "1/s"),
    ("live_lag_p50_ms", "ms"),
    ("live_lag_p90_ms", "ms"),
    ("battery_s", "s"),
    # store
    ("store.bulk_import_s", "s"),
    ("store.append_ms", "ms"),
    ("store.save_snapshot_ms", "ms"),
    ("store.events_files", "count"),
    ("store.snapshot_files", "count"),
    # store.repository
    ("repository.retrieve_jobs", "count"),
    ("repository.update_jobs", "count"),
    ("repository.events_folded_per_retrieve", "count"),
    # projection, its checkpoints, the streaming file source, rehydrate
    ("projection.catch_up_s", "s"),
    ("projection.handler_s", "s"),
    ("projection.switch_s", "s"),
    ("projection.live_batch_ms", "ms"),
    ("projection.live_batches", "count"),
    ("projection.rows_per_live_batch", "count"),
    ("checkpoints.persists", "count"),
    ("checkpoints.persist_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.generator_late_ms", "ms"),
    ("operators.rehydrate_all_s", "s"),
    # io / pipeline / analytics
    ("io.load_tables_s", "s"),
    ("analytics.eager_build_s", "s"),
    ("analytics.exec_s", "s"),
    ("analytics.jobs_total", "count"),
    *(
        (f"{q}.{m}", unit)
        for q, _cls in SLICE
        for m, unit in (("build_s", "s"), ("exec_s", "s"), ("jobs_build", "count"),
                        ("jobs_build_spread", "count"), ("jobs_total", "count"))
    ),
    # Spark's event log over the timed phase
    ("sparklog.jobs", "count"),
    ("sparklog.job_s", "s"),
    ("sparklog.task_cpu_s", "s"),
    ("sparklog.shuffle_bytes", "bytes"),
    # self time per layer over the whole traced run: span time minus the
    # time its child spans cover
    ("self.store_s", "s"),
    ("self.repository_s", "s"),
    ("self.projection_s", "s"),
    ("self.checkpoints_s", "s"),
    ("self.operators_s", "s"),
    ("self.analytics_s", "s"),
    # the trace itself: root-span time vs the timed phase's wall time
    ("trace.wall_s", "s"),
    ("trace.spans_s", "s"),
    ("trace.reconcile_ratio", "ratio"),
    # the traced run's own end-to-end figures; minus the untraced median
    # they give the tracing overhead
    *((f"traced.{name}", unit) for name, unit, _better in END_TO_END),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}

# Root spans must cover the timed phase's wall time within this share.
RECONCILE_TOLERANCE = 0.05
