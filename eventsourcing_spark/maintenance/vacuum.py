"""Vacuum: physically drop invalidated event generations past retention,
and delete the files and log entries no reader can need any more.

Copy-replace migration (M2) leaves the old generation on disk with
``migration = rev`` — invisible to every read through the standing F8
filter, but still paying storage and scan-planning cost forever. The
reference keeps them indefinitely (audit trail); at 100 TB you
eventually reclaim: ``vacuum_migrated`` rewrites the events table
keeping only ``migration = 0`` rows plus the last ``keep_revisions``
invalidated generations (0 = drop all superseded rows).

The rewrite is ``EventStore._rewrite_table``, like every maintenance
rewrite: the retained frame is verified (row count + order-free id
fingerprint) against what was staged before any bucket commits — a
mismatch aborts with the store untouched — and each bucket then commits
remove+add, keeping appends committed meanwhile (they are all
``migration = 0``); its commits are marked ``data_change: false``, as
the change feed never delivered the dropped rows. On Delta/Iceberg this
is VACUUM after a rewrite; the operator only builds DataFrames, so it
ports unchanged.

``vacuum_store`` is the store's one retention rule, the same one
``vacuum_registry`` keeps for the registries: no commit deletes the
files it removes, so a Spark frame or a point read over an older head
and a change feed that is behind still find them. The vacuum deletes a
file once no head names it and the entry that removed it is older than
``grace_seconds``, plus the files of writers that never committed,
once they are that old, and then vacuums the bucket logs. A file a head
names therefore outlives that head by at least the grace period, which
must exceed the longest query over an old head, the longest a change
feed may lag, and the longest any write takes from its data files to
its commit. On Delta this is VACUUM with its retention period.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eventsourcing_spark.store.event_store import EventStore


def vacuum_migrated(store: EventStore, keep_revisions: int = 0) -> dict:
    """Drop invalidated generations older than the last
    ``keep_revisions`` migration revisions. Returns ``{rows_before,
    rows_after, rows_dropped, files_before, files_after}``."""
    pin = store._pin("events")
    files_before = sum(len(h.files) for h in pin.values())
    if files_before == 0:
        return {
            "rows_before": 0, "rows_after": 0, "rows_dropped": 0,
            "files_before": 0, "files_after": 0,
        }
    ev = store._scan("events", pin)
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
    store._rewrite_table("events", kept, pin, data_change=False)
    return {
        "rows_before": n_before,
        "rows_after": n_keep,
        "rows_dropped": n_before - n_keep,
        "files_before": files_before,
        "files_after": sum(len(h.files) for h in store._pin("events").values()),
    }


def vacuum_store(store: EventStore, grace_seconds: float = 300.0) -> dict:
    """Delete the store's data files and log entries that no reader can
    need any more (see the module docstring). Returns
    ``{files_removed, log_keys_removed}``."""
    return store._vacuum(grace_seconds)
