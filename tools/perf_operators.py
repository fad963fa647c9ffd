"""Per-operator performance measurement for BASELINE.md §3.

Builds a real EventStore from the driver's sf events table (bulk_import:
the 100 TB load path), then times the operator envelope the reference
cares about: S2/S3/S5 reads (the S2 DataFrame scan and, beside it, the
driver-side S2+S5 point read that ``Repository`` uses, at 10 and at 2000
event files in the stream's bucket), the A1 full
rehydration fold, catch-up replay end-to-end, and live-phase micro-batch
latency.

Usage:  python tools/perf_operators.py [sf_dir]   (default sf0.1)
Prints one JSON line; wall-clock numbers are best-of-two (the host VM
throttles unpredictably — see bench.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from eventsourcing_spark.io import load_table
from eventsourcing_spark.operators.rehydrate import rehydrate_all
from eventsourcing_spark.projection import CheckpointStore, Projector
from eventsourcing_spark.session import get_spark
from eventsourcing_spark.store import EventStore


def best_of(n: int, fn) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def point_read_by_files(spark, base: str) -> dict[str, float]:
    """S2+S5 driver-side point read of one stream (latest snapshot plus
    the tail after it, no Spark job) in a one-bucket store, once the
    bucket holds 10 and again once it holds 2000 driver-appended event
    files, keyed by that file count; best of five."""
    store = EventStore(spark, base, n_buckets=1)
    last_id, v = store.append(
        "target", "Account", [("view", {"value": i}) for i in range(3)], 0
    )
    store.save_snapshot(last_id, "target", v, "Account", {"n": 3})
    store.append("target", "Account", [("view", {"value": 3})], v)
    out, files = {}, 2
    for total in (10, 2000):
        for i in range(files, total):
            store.append(f"other-{i}", "Account", [("view", {"value": i})], 0)
        files = total
        out[str(total)] = best_of(
            5,
            lambda: (
                store.read_snapshot("target"),
                store.read_aggregate_events("target", v),
            ),
        )
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("es-perf")
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="es-perf-")
    store = EventStore(spark, base)
    out: dict[str, float] = {}
    try:
        # --- bulk ingest (driver analytics events → envelope rows) -----
        src = load_table(spark, sf_dir, "events").select(
            F.concat(F.lit("user-"), F.col("user_id")).alias("aggregate_id"),
            F.lit("Account").alias("aggregate_kind"),
            F.col("event_type").alias("kind"),
            F.to_json(F.struct("value", "props")).alias("body"),
            F.col("ts").alias("created_at"),
        )
        n_events = src.count()
        t0 = time.time()
        store.bulk_import(src, assign_versions=True)
        ingest_s = round(time.time() - t0, 3)
        out["bulk_ingest_events"] = n_events
        out["bulk_ingest_sec"] = ingest_s
        out["bulk_ingest_events_per_sec"] = round(n_events / ingest_s)

        some_id = store.events().select("aggregate_id").first()[0]

        # --- S2 single-stream scan (bucket-pruned) ----------------------
        out["s2_stream_scan_sec"] = best_of(
            2, lambda: store.get_aggregate_events(some_id).collect()
        )
        # --- S2+S5 driver-side point read (the Repository.retrieve path)
        out["s2_s5_point_read_sec"] = point_read_by_files(
            spark, os.path.join(base, "point")
        )
        # --- S3 keyset range scan (first 1000 by id) --------------------
        bounds = store.events().agg(
            F.min("id").alias("lo"), F.max("id").alias("hi")
        ).first()
        out["s3_range_scan_sec"] = best_of(
            2,
            lambda: store.get_events(
                after=bounds.lo, until=bounds.hi, batch_size=1000
            ).collect(),
        )
        # --- S5 latest snapshot lookup (empty snapshot table: the
        # max_by aggregation over events is the measured path) -----------
        out["s5_latest_state_sec"] = best_of(
            2,
            lambda: store.events()
            .groupBy("aggregate_id")
            .agg(F.max_by(F.struct("id", "kind"), "id").alias("last"))
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )

        # --- A1 full rehydration fold over every stream ----------------
        def handlers():
            def apply(state, _kind, obj):
                state["n"] = state.get("n", 0) + 1
                state["value"] = obj.get("value")
                return state

            return {
                k: apply
                for k in ("view", "click", "purchase", "error", "signup")
            }

        out["a1_rehydrate_all_sec"] = best_of(
            2,
            lambda: rehydrate_all(
                store.events(), handlers(), dict
            ).write.format("noop").mode("overwrite").save(),
        )

        # --- catch-up replay end-to-end (count handler, 4 splits) ------
        from datetime import datetime, timedelta, timezone

        seen = {"n": 0}

        def handler(df, meta):
            if meta.kind != "switch":
                seen["n"] += df.count()

        cps = CheckpointStore(spark, base)
        projector = Projector(store, "perf", handler, cps, splits=4)
        t0 = time.time()
        projector.project(now=datetime.now(timezone.utc) + timedelta(minutes=2))
        out["catchup_replay_sec"] = round(time.time() - t0, 3)
        out["catchup_replay_events"] = seen["n"]

        # --- live-phase micro-batch latency ----------------------------
        from eventsourcing_spark.projection.projector import events_file_stream

        stream = events_file_stream(store, max_files_per_trigger=8)
        q = (
            projector.live_stream_writer(stream)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.recentProgress
        batch_ms = [
            p["durationMs"]["triggerExecution"]
            for p in progress
            if p.get("numInputRows", 0) > 0
        ]
        if batch_ms:
            out["live_microbatch_avg_sec"] = round(
                sum(batch_ms) / len(batch_ms) / 1000, 3
            )
            out["live_microbatches"] = len(batch_ms)
    finally:
        shutil.rmtree(base, ignore_errors=True)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
