"""Vacuum: physically drop invalidated event generations past retention.

Copy-replace migration (M2) leaves the old generation on disk with
``migration = rev`` — invisible to every read through the standing F8
filter, but still paying storage and scan-planning cost forever. The
reference keeps them indefinitely (audit trail); at 100 TB you
eventually reclaim: ``vacuum_migrated`` rewrites the events table
keeping only ``migration = 0`` rows plus the last ``keep_revisions``
invalidated generations (0 = drop all superseded rows).

The rewrite is ``EventStore._rewrite_table`` under the store's commit
lock, like every maintenance rewrite: the retained frame is verified
(row count + order-free id fingerprint) against what was written before
the directory swap — a mismatch aborts with the store untouched — and
appends made meanwhile wait for the swap. On Delta/Iceberg this is
VACUUM after a rewrite; the operator only builds DataFrames, so it
ports unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from eventsourcing_spark.maintenance.compaction import _dir_stats
from eventsourcing_spark.store.event_store import EventStore


def vacuum_migrated(store: EventStore, keep_revisions: int = 0) -> dict:
    """Drop invalidated generations older than the last
    ``keep_revisions`` migration revisions. Returns ``{rows_before,
    rows_after, rows_dropped, files_before, files_after}``."""
    events_dir = store._events_dir
    if not os.path.isdir(events_dir):
        return {
            "rows_before": 0, "rows_after": 0, "rows_dropped": 0,
            "files_before": 0, "files_after": 0,
        }
    with store._commit_lock():
        files_before, _ = _dir_stats(events_dir)
        ev = store.events_raw()
        n_before, max_rev = ev.agg(F.count("*"), F.max("migration")).first()

        keep_pred = F.col("migration") == 0
        if keep_revisions > 0:
            cutoff = max(0, (max_rev or 0) - keep_revisions)
            keep_pred = keep_pred | (F.col("migration") > cutoff)
        kept = ev.filter(keep_pred)
        n_keep = kept.count()
        if n_keep == n_before:  # nothing to reclaim — skip the rewrite
            return {
                "rows_before": n_before, "rows_after": n_before,
                "rows_dropped": 0,
                "files_before": files_before, "files_after": files_before,
            }
        store._rewrite_table("events", kept)
        files_after, _ = _dir_stats(events_dir)
    return {
        "rows_before": n_before,
        "rows_after": n_keep,
        "rows_dropped": n_before - n_keep,
        "files_before": files_before,
        "files_after": files_after,
    }
