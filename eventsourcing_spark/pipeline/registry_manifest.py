"""Manifest-committed storage for the streaming-curation registries.

Round-7 VERDICT directive #1: the ingest registries (streaming_dedup's
md5 set, streaming_neardup's band set, streaming_incremental's pair of
sets, streaming_nb's additive counts) were bare parquet directories —
writers appended files, readers listed the directory, and compaction
swapped the whole directory under a quiescence contract enforced only
by a loud abort. A reader listing a directory mid-swap saw a missing
path, and a file appended between a compaction's scan and its swap was
deleted silently.

A registry directory now holds immutable DATA UNITS (each one parquet
directory written exactly once) plus a ``_manifests/`` commit log:

    reg/
      _manifests/v000000000001.json   {"version":1,"add":[...],"remove":[...]}
      _manifests/c000000000032.json   checkpoint: every live unit at v32
      data-4f2a.../part-*.parquet     (one dir per committed append)
      compact-9c1b.../part-*.parquet  (compaction rewrites)

The log is the engine's one commit protocol (``commit_log.py``, which
the event store's per-bucket logs use too): writers append a unit, then
``put_if_absent`` version N+1 carrying ``add``/``remove`` entries,
re-deriving the entry from the new head whenever a concurrent committer
wins the version. Readers resolve the newest head (checkpoint plus
entries) and scan exactly its units — never a raw directory listing.
Compaction rewrites the units of head N into one compact unit and
commits ``remove`` of those units plus ``add`` of the compact one; units
appended after N stay live — nothing is lost, no abort, no quiescence
contract. Superseded units stay on disk until ``vacuum_registry``
removes unreferenced units older than a grace period (protecting
readers that pinned an older head).

``latest_manifest`` presents a head in the manifest shape the registry
code reads: ``{"version", "files", "epochs"}``.

Exactly-once for ADDITIVE registries (streaming_nb counts): an append
may carry an ``epoch_key``, recorded on its unit; committing the same
epoch again REPLACES that epoch's units (foreachBatch replays a failed
batch under the same epoch id, so the retry overwrites its own partial
output instead of double-counting). Counts compaction folds every epoch
EXCEPT the newest — the only one Structured Streaming can still replay.

Legacy layout: a registry written before this protocol (or by tests
that hand-place parquet files) has data at the top level and no
``_manifests/``. ``read_registry`` falls back to the raw-directory
read for those, and the first commit on such a directory adopts the
existing top-level parquet files as units, so old registries upgrade
in place on their next append or compaction.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eventsourcing_spark.cas import CasBackend, FileCasBackend
from eventsourcing_spark.commit_log import CommitLog, Head

_MANIFESTS = "_manifests"


def _manifest_dir(reg_dir: str) -> str:
    return os.path.join(reg_dir, _MANIFESTS)


def _log(reg_dir: str, backend: CasBackend | None) -> CommitLog:
    """The registry's commit log: ``backend`` when given (an object-store
    or memory CAS), else the POSIX file backend under ``_manifests/``.
    Data units stay plain parquet either way."""
    return _cached_log(os.path.abspath(reg_dir), backend)


@functools.lru_cache(maxsize=256)
def _cached_log(reg_dir: str, backend: CasBackend | None) -> CommitLog:
    """One ``CommitLog`` per (registry, backend) for the process, so every
    read after the first probes only the next version's key (two gets)
    instead of loading the newest checkpoint and its entries again. A
    registry's log is never deleted while the process runs."""
    return CommitLog(
        backend if backend is not None else FileCasBackend(_manifest_dir(reg_dir))
    )


def _manifest(head: Head) -> dict:
    epochs: dict[str, list[str]] = {}
    for f in head.files.values():
        if "epoch" in f:
            epochs.setdefault(f["epoch"], []).append(f["path"])
    return {"version": head.version, "files": list(head.files), "epochs": epochs}


def latest_manifest(
    reg_dir: str, backend: CasBackend | None = None
) -> dict:
    """The newest committed head as ``{"version": int, "files": [unit,
    ...], "epochs": {key: [unit, ...]}}`` (the empty v0 when nothing is
    committed): ``files`` is the complete live unit list, ``epochs`` the
    live units of each epoch key."""
    return _manifest(_log(reg_dir, backend).head())


def _adopt_legacy_units(reg_dir: str) -> list[str]:
    """Top-level parquet part files of a pre-manifest registry — adopted
    as units by the first commit so old registries upgrade in place."""
    try:
        return sorted(
            n for n in os.listdir(reg_dir)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )
    except FileNotFoundError:
        return []


def commit(
    reg_dir: str,
    add_units: list[str],
    remove_units: tuple[str, ...] | list[str] = (),
    epoch_key: str | None = None,
    expect_version: int | None = None,
    backend: CasBackend | None = None,
) -> dict:
    """Commit ``add_units`` / ``remove_units`` as the next version; returns
    the new manifest. The entry is re-derived from the head after every
    lost race, so no concurrently committed unit is dropped; the very
    first commit also adopts legacy top-level files. With ``epoch_key``,
    units previously committed under that epoch are replaced (idempotent
    foreachBatch retry). ``expect_version`` (compaction) names the head
    ``remove_units`` came from; newer units are merged in, never
    aborted on."""
    gone = set(remove_units)

    def derive(head: Head) -> dict:
        legacy = _adopt_legacy_units(reg_dir) if head.version == 0 else []
        stale = gone | {
            p for p, f in head.files.items()
            if epoch_key is not None and f.get("epoch") == epoch_key
        }
        kept = {p for p in [*head.files, *legacy] if p not in stale}
        tag = {} if epoch_key is None else {"epoch": epoch_key}
        return {
            "remove": [p for p in head.files if p in stale],
            "add": [{"path": u} for u in legacy if u in kept]
            + [{"path": u, **tag} for u in add_units if u not in kept],
        }

    return _manifest(_log(reg_dir, backend).commit(derive))


def read_registry(
    spark, reg_dir: str, schema: str, backend: CasBackend | None = None
) -> DataFrame:
    """Registry frame per the newest manifest; the empty frame when the
    registry holds nothing yet. Pre-manifest directories (data at the
    top level, no ``_manifests/``) read via the raw-directory fallback.

    Never lists raw data paths when a manifest exists, so concurrent
    appends and compactions are invisible mid-flight."""
    if backend is not None or os.path.isdir(_manifest_dir(reg_dir)):
        m = latest_manifest(reg_dir, backend)
        paths = [os.path.join(reg_dir, u) for u in m["files"]]
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)
    # Legacy / hand-written registry: raw read, empty frame on missing.
    from eventsourcing_spark.pipeline.streaming_dedup import (
        _is_missing_registry,
    )

    try:
        return spark.read.schema(schema).parquet(reg_dir)
    except Exception as e:  # noqa: BLE001 — classify, re-raise real errors
        if _is_missing_registry(e):
            return spark.createDataFrame([], schema)
        raise


def append_df(
    df: DataFrame,
    reg_dir: str,
    epoch_key: str | None = None,
    backend: CasBackend | None = None,
) -> dict:
    """Write ``df`` as a new immutable unit, then commit it. Returns the
    committed manifest. With ``epoch_key``, the commit replaces any unit
    the same epoch committed before (exactly-once for additive deltas
    under foreachBatch retry)."""
    unit = f"data-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(os.path.join(reg_dir, unit))
    return commit(reg_dir, [unit], epoch_key=epoch_key, backend=backend)


def _key_fingerprint(df: DataFrame, key_cols: list[str]) -> tuple[int, int]:
    """(distinct key count, order-free fingerprint): sum of 40-bit md5
    slices over the concatenated key — the compact_events idiom."""
    keyed = df.select(
        F.md5(F.concat_ws("\x1f", *key_cols)).alias("k")
    ).distinct()
    fp = F.conv(F.substring(F.col("k"), 1, 10), 16, 10).cast("long")
    row = keyed.agg(
        F.count("*").alias("n"), F.coalesce(F.sum(fp), F.lit(0)).alias("s")
    ).first()
    return int(row.n), int(row.s)


def _read_units(spark, reg_dir: str, units: list[str], schema: str | None):
    paths = [os.path.join(reg_dir, u) for u in units]
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def compact_set_registry(
    spark,
    reg_dir: str,
    key_cols: list[str],
    schema: str | None = None,
    n_files: int = 4,
    backend: CasBackend | None = None,
) -> dict:
    """Fold a SET registry's units into one deduplicated unit and commit.

    Safe under live ingest: the rewrite covers the units of manifest
    version N; the commit retry-loop keeps every unit committed after N
    (they stay probe-able and fold next time). The rewritten key set is
    fingerprint-verified against its input before the commit. Returns
    {files_before, files_after, keys, rows_before}."""
    m = latest_manifest(reg_dir, backend)
    if m["version"] == 0 and _adopt_legacy_units(reg_dir):
        # upgrade a legacy directory in place, then compact normally
        m = commit(reg_dir, [], backend=backend)
    if not m["files"]:
        return {"files_before": 0, "files_after": 0, "keys": 0,
                "rows_before": 0}
    live = _read_units(spark, reg_dir, m["files"], schema)
    rows_before = live.count()
    n_keys, fp = _key_fingerprint(live, key_cols)
    unit = f"compact-{uuid.uuid4().hex[:12]}"
    out = os.path.join(reg_dir, unit)
    (
        live.dropDuplicates(key_cols)
        .repartition(n_files, *key_cols)
        .write.mode("overwrite")
        .parquet(out)
    )
    n_new, fp_new = _key_fingerprint(
        _read_units(spark, reg_dir, [unit], schema), key_cols
    )
    if (n_new, fp_new) != (n_keys, fp):
        shutil.rmtree(out, ignore_errors=True)
        raise RuntimeError(
            f"set-registry compaction verification failed: keys "
            f"{n_keys}->{n_new}, fingerprint {fp}->{fp_new}; "
            f"registry untouched"
        )
    committed = commit(
        reg_dir, [unit], remove_units=m["files"],
        expect_version=m["version"], backend=backend,
    )
    return {
        "files_before": len(m["files"]),
        "files_after": len(committed["files"]),
        "keys": n_keys,
        "rows_before": rows_before,
    }


def compact_counts_registry(
    spark,
    reg_dir: str,
    key_cols: list[str],
    sum_cols: list[str],
    schema: str | None = None,
    n_files: int = 1,
    backend: CasBackend | None = None,
) -> dict:
    """Fold an ADDITIVE registry (epoch-keyed count deltas) into one
    groupBy-sum unit. The newest epoch's units are left unfolded — it is
    the only epoch Structured Streaming can still replay, and a replay
    must find its own units to replace, not a fold that already absorbed
    them (folding it would double-count on retry). The compact unit
    carries no epoch, so folded epochs drop out of ``epochs``. Totals
    are verified: sum of every ``sum_col`` unchanged through the fold."""
    m = latest_manifest(reg_dir, backend)
    if not m["files"]:
        return {"files_before": 0, "files_after": 0, "rows_before": 0}
    epochs = m["epochs"]
    newest = max(epochs, key=lambda k: (len(k), k)) if epochs else None
    keep_out = set(epochs.get(newest, [])) if newest is not None else set()
    fold_units = [u for u in m["files"] if u not in keep_out]
    if not fold_units:
        return {"files_before": len(m["files"]),
                "files_after": len(m["files"]), "rows_before": 0}
    live = _read_units(spark, reg_dir, fold_units, schema)
    rows_before = live.count()
    sums = live.agg(
        *[F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c)
          for c in sum_cols]
    ).first()
    unit = f"compact-{uuid.uuid4().hex[:12]}"
    out = os.path.join(reg_dir, unit)
    (
        live.groupBy(*key_cols)
        .agg(*[F.sum(c).cast("long").alias(c) for c in sum_cols])
        .repartition(n_files, *key_cols)
        .write.mode("overwrite")
        .parquet(out)
    )
    new_sums = (
        _read_units(spark, reg_dir, [unit], schema)
        .agg(*[F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c)
               for c in sum_cols])
        .first()
    )
    if tuple(new_sums) != tuple(sums):
        shutil.rmtree(out, ignore_errors=True)
        raise RuntimeError(
            f"counts-registry compaction verification failed: totals "
            f"{tuple(sums)}->{tuple(new_sums)}; registry untouched"
        )
    committed = commit(
        reg_dir, [unit], remove_units=fold_units,
        expect_version=m["version"], backend=backend,
    )
    return {
        "files_before": len(m["files"]),
        "files_after": len(committed["files"]),
        "rows_before": rows_before,
    }


def vacuum_registry(
    reg_dir: str,
    grace_seconds: float = 300.0,
    backend: CasBackend | None = None,
) -> dict:
    """Delete data units no manifest-live reader can need: units NOT in
    the newest manifest whose mtime is older than ``grace_seconds`` (the
    window protects readers that pinned an older manifest mid-scan), and
    log entries and checkpoints below a fresh checkpoint of the head,
    older than the same grace (``CommitLog.vacuum``). Returns
    {units_removed, manifests_removed}."""
    m = latest_manifest(reg_dir, backend)
    if m["version"] == 0:
        return {"units_removed": 0, "manifests_removed": 0}
    live = set(m["files"])
    cutoff = time.time() - grace_seconds
    units_removed = 0
    for name in os.listdir(reg_dir):
        if name == _MANIFESTS or name in live or name.startswith((".",)):
            continue
        full = os.path.join(reg_dir, name)
        is_unit = os.path.isdir(full) or name.endswith(".parquet")
        if is_unit and os.path.getmtime(full) < cutoff:
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.unlink(full)
            units_removed += 1
    manifests_removed = _log(reg_dir, backend).vacuum(grace_seconds)
    return {
        "units_removed": units_removed,
        "manifests_removed": manifests_removed,
    }
