"""The projection phase of oltp_accounts: catch-up, switch, then live.

It runs on the store the Repository phase left behind, after that phase's
timing has ended, so it never disturbs the gated figures; it reports
per-layer metrics and checks outputs. The catch-up builds the read model
with ``operators.rehydrate_all``. The live phase is an open loop: one
appender thread calls ``EventStore.append`` on a fixed schedule while the
file-source stream feeds ``Projector.live_batch`` under the default
trigger. Lag runs from an append's scheduled send time to the moment the
handler has applied that event id.
"""

from __future__ import annotations

import collections
import json
import os
import threading
import time

import pyarrow.parquet as pq

import datagen
from accounts import HANDLERS, fold_rows, init_state, store_state, table_rows
from harness import median, quantile

LIVE_RATE = 10.0  # appends per second, below the rate one micro-batch loop drains
# A fixed live window, shorter than the timed phase: nothing here is gated,
# and the run must stay inside the benchmark's time budget.
LIVE_S = 5.0
LIVE_WARMUP_S = 1.0


class ReadModel:
    """The projection's handler: Account states via ``rehydrate_all`` on
    catch-up, the applied events' ids and time on every live batch."""

    def __init__(self, out_dir, tracer):
        self.out_dir = out_dir
        self.tracer = tracer
        self.applied: list[tuple[str, float]] = []

    def __call__(self, df, meta):
        from eventsourcing_spark.operators.rehydrate import rehydrate_all

        with self.tracer.span("projection.handler"):
            if meta.kind == "catchup":
                states = rehydrate_all(df, HANDLERS, init_state)
                with self.tracer.span("operators.rehydrate_all"):
                    states.write.mode("overwrite").parquet(
                        os.path.join(self.out_dir, "catchup"))
            elif meta.kind == "live":
                ids = [r.id for r in df.select("id").collect()]
                if ids:
                    df.select("id", "aggregate_id", "aggregate_version", "kind", "body") \
                        .write.mode("append").parquet(os.path.join(self.out_dir, "live"))
                now = time.perf_counter()
                self.applied.extend((i, now) for i in ids)


def _drain(query) -> None:
    """Wait until the stream has processed every file written so far.

    A failed stream raises here; the failure is read back through
    ``query.exception()`` after ``stop()`` and counted there, not hidden.
    """
    from pyspark.errors import StreamingQueryException

    try:
        query.processAllAvailable()
    except StreamingQueryException:
        pass


class Appender(threading.Thread):
    """Open-loop writer: append ``k`` is due at ``start + k / rate``."""

    def __init__(self, store, versions, rate, seconds, seed):
        super().__init__(daemon=True)
        self.store = store
        self.versions = versions  # aggregate_id -> version, shared across appenders
        self.keys = sorted(versions)
        self.rate = rate
        self.n = int(rate * seconds)
        self.seed = seed
        self.due: dict[str, float] = {}
        self.late_ms: list[float] = []
        self.errors: list[str] = []

    def run(self):
        start = time.perf_counter() + 0.05
        for k in range(self.n):
            due = start + k / self.rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self.late_ms.append(max(0.0, time.perf_counter() - due) * 1000.0)
            agg = self.keys[(k * 7919 + self.seed) % len(self.keys)]
            try:
                last_id, version = self.store.append(
                    agg, datagen.ACCOUNT, [(datagen.DEPOSITED, {"money": 1 + k % 50})],
                    expected_version=self.versions[agg])
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                self.errors.append(f"append {k}: {type(e).__name__}: {e}")
                continue
            self.versions[agg] = version
            self.due[last_id] = due


def run(ctx, store, model) -> dict:
    """Project ``store`` and follow it live; ``model`` is
    ``{aggregate_id: (balance, version)}`` for every stream in it.

    Outputs are checked against the benchmark's own fold of the store's
    files: the catch-up read model against the events up to the switch
    boundary, and that model plus every event the live handler applied
    against the whole store at the end.
    """
    from eventsourcing_spark.projection.projector import events_file_stream
    from traced import TracedCheckpoints, TracedProjector

    spark, tracer = ctx.spark, ctx.tracer
    base = store.base_dir
    errors: list[str] = []

    model_dir = os.path.join(base, "readmodel")
    handler = ReadModel(model_dir, tracer)
    projector = TracedProjector(store, "accounts", handler,
                                TracedCheckpoints(spark, base, tracer=tracer),
                                splits=4, tracer=tracer)
    t_catchup = time.perf_counter()
    until = projector.project()
    catchup_s = time.perf_counter() - t_catchup

    caught_up = {}
    for r in pq.read_table(os.path.join(model_dir, "catchup")).to_pylist():
        caught_up[r["aggregate_id"]] = (json.loads(r["state"])["balance"],
                                        r["aggregate_version"])
    want = store_state(store._events_dir, until=until)
    if caught_up != want:
        errors.append("catch-up read model differs on "
                      f"{len(set(caught_up.items()) ^ set(want.items()))} streams")

    t_stream = time.perf_counter()
    query = (projector.live_stream_writer(events_file_stream(store))
             .option("checkpointLocation", os.path.join(ctx.work_dir, "stream-ckpt"))
             .queryName("live").start())
    _drain(query)  # the history: rejected up to the switch boundary, applied after it

    # live warm-up at the same rate, untimed, so the timed batches run
    # compiled plans and a warm write path
    rate = 2.0 if ctx.smoke else LIVE_RATE
    versions = {a: v for a, (_b, v) in model.items()}
    warmup = Appender(store, versions, rate, LIVE_WARMUP_S, ctx.seed + 1)
    warmup.start()
    warmup.join()
    _drain(query)
    n_batches0 = len(query.recentProgress)
    appender = Appender(store, versions, rate, min(LIVE_S, ctx.seconds), ctx.seed)
    t_live = time.perf_counter()
    appender.start()
    appender.join()
    _drain(query)
    progress = list(query.recentProgress)[n_batches0:]
    query.stop()
    exc = query.exception()
    failed = len(warmup.errors) + len(appender.errors)
    errors.extend(warmup.errors + appender.errors)
    if exc is not None:
        failed += 1
        errors.append(f"stream query failed: {exc}")

    # exactly-once (C2): every append applied once, no event applied twice,
    # and catch-up plus live together rebuild the whole store
    seen = collections.Counter(i for i, _t in handler.applied)
    appended = {**warmup.due, **appender.due}
    dup = [i for i, c in seen.items() if c > 1]
    lost = [i for i in appended if i not in seen]
    failed += len(dup) + len(lost)
    if dup or lost:
        errors.append(f"live: {len(lost)} appends lost, {len(dup)} events applied twice")
    live = pq.read_table(os.path.join(model_dir, "live"))
    if fold_rows(table_rows(live), caught_up) != store_state(store._events_dir):
        errors.append("catch-up plus live read model differs from the store")
    applied_at = {}
    for i, t in handler.applied:
        applied_at.setdefault(i, t)
    lag_ms = [(applied_at[i] - due) * 1000.0 for i, due in appender.due.items()
              if i in applied_at] or [0.0]

    layers = {
        "catchup_events_per_s": (sum(v for _b, v in caught_up.values()) / catchup_s, 1),
        "live_lag_p50_ms": (median(lag_ms), len(lag_ms)),
        "live_lag_p90_ms": (quantile(lag_ms, 0.9), len(lag_ms)),
    }
    if tracer.enabled:
        def secs(name, since, until=float("inf")):
            return [s["end"] - s["start"] for s in tracer.spans
                    if s["name"] == name and since <= s["start"] < until]

        def med(xs, scale=1.0):
            return (median(xs) * scale if xs else 0.0, len(xs))

        dur = lambda key: [p["durationMs"].get(key, 0) for p in progress]  # noqa: E731
        persist = secs("checkpoints.persist", t_live)
        layers.update({
            "projection.catch_up_s": med(secs("projection.catch_up", t_catchup, t_stream)),
            "projection.handler_s": med(secs("projection.handler", t_catchup, t_stream)),
            "operators.rehydrate_all_s": med(secs("operators.rehydrate_all", t_catchup, t_stream)),
            "projection.switch_s": med(secs("projection.switch", t_catchup, t_stream)),
            "projection.live_batch_ms": med(secs("projection.live_batch", t_live), 1000.0),
            "projection.live_batches": (len(progress), 1),
            "projection.rows_per_live_batch": med([p["numInputRows"] for p in progress]),
            "checkpoints.persists": (len(persist), 1),
            "checkpoints.persist_ms": med(persist, 1000.0),
            "streaming.latest_offset_ms": med(dur("latestOffset")),
            "streaming.add_batch_ms": med(dur("addBatch")),
            "streaming.generator_late_ms": (quantile(appender.late_ms, 0.9),
                                            len(appender.late_ms)),
        })
    return {"layers": layers, "errors": errors, "failed": failed,
            "attempted": len(appended) + 1,
            "phases": {"catchup": catchup_s, "live": time.perf_counter() - t_live}}
