"""Small-file compaction for the events table.

OLTP-style usage (one parquet append per aggregate write) proliferates
tiny files; scans then pay per-file overhead — observed locally: ~800
files → an 815-task stage for 815 rows. Compaction rewrites each hash
bucket into ``files_per_bucket`` files, sorted by ``id`` within the
bucket so range scans (S3) benefit from parquet min/max pruning — the
analog of the reference's ``(id, migration)`` index
(store/postgresql/store.go:699-701), done with file layout instead of
a btree. On Delta this is OPTIMIZE + ZORDER BY (id).

The rewrite goes through ``EventStore._rewrite_table`` under the
store's commit lock, like every maintenance rewrite: the new layout is
VERIFIED before the directory swap — its (row count, order-free id
fingerprint) must equal the live table's, else compaction aborts with
the store untouched — and appends made meanwhile wait for the swap
instead of landing in the directory being replaced. The call returns
file/row statistics for operational monitoring.
"""

from __future__ import annotations

import os

from eventsourcing_spark.store.event_store import EventStore


def _dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under a parquet dir tree."""
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")) and f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def compact_events(store: EventStore, files_per_bucket: int = 1) -> dict:
    """Compact the events table. Returns ``{files_before, files_after,
    bytes, rows}``; no-op (no swap) on a table without data files."""
    events_dir = store._events_dir
    with store._commit_lock():
        files_before, total_bytes = _dir_stats(events_dir)
        if files_before == 0:
            return {"files_before": 0, "files_after": 0, "bytes": 0, "rows": 0}
        n_rows = store._rewrite_table(
            "events", store.events_raw(), files_per_bucket=files_per_bucket
        )
        files_after, _ = _dir_stats(events_dir)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
        "rows": n_rows,
    }
