"""Small-file compaction for the events table.

OLTP-style usage (one parquet append per aggregate write) proliferates
tiny files; scans then pay per-file overhead — observed locally: ~800
files → an 815-task stage for 815 rows. Compaction rewrites each hash
bucket into one file sorted by ``id``, so range scans (S3) benefit from
parquet min/max pruning — the analog of the reference's ``(id,
migration)`` index (store/postgresql/store.go:699-701), done with file
layout instead of a btree. On Delta this is OPTIMIZE + ZORDER BY (id).

The rewrite goes through ``EventStore._rewrite_table`` like every
maintenance rewrite: the new layout is VERIFIED before anything is
committed — its (row count, order-free id fingerprint) must equal the
pinned table's, else compaction aborts with the store untouched — and
each bucket then commits remove+add on its log, keeping the appends
committed meanwhile. The commits are marked ``data_change: false``, so
the change feed does not deliver the rewritten rows again. File counts
and bytes come from the bucket heads.
"""

from __future__ import annotations

from eventsourcing_spark.store.event_store import EventStore


def compact_events(store: EventStore) -> dict:
    """Compact the events table. Returns ``{files_before, files_after,
    bytes, rows}``; no-op (no commit) on a table without data files."""
    pin = store._pin("events")
    files = [f for h in pin.values() for f in h.files.values()]
    if not files:
        return {"files_before": 0, "files_after": 0, "bytes": 0, "rows": 0}
    n_rows = store._rewrite_table(
        "events", store._scan("events", pin), pin, data_change=False
    )
    return {
        "files_before": len(files),
        "files_after": sum(len(h.files) for h in store._pin("events").values()),
        "bytes": sum(f["bytes"] for f in files),
        "rows": n_rows,
    }
