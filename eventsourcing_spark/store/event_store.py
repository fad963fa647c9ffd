"""The event store: one append-only events table + snapshots, Spark-first.

Re-expresses the reference store API (store/postgresql/store.go) as
DataFrame views and conflict-checked parquet appends:

* S1 ``append``        — multi-event save with optimistic concurrency
                         (unique (aggregate_id, aggregate_version);
                         duplicate ⇒ ConcurrentModificationError,
                         store/postgresql/store.go:258-264)
* S2 ``get_aggregate_events`` — by-stream scan in fold order
                         (store/postgresql/store.go:423-444);
                         ``read_aggregate_events`` is its driver-side twin
* S3 ``get_events``    — global keyset range scan `(after, until]` with
                         the Filter algebra (store/postgresql/store.go:497-518)
* S4 ``get_events_by_ids``   (store/postgresql/store.go:665-674)
* S5 ``get_snapshot`` / ``latest_snapshots`` — argmax by id
                         (store/postgresql/store.go:295-323);
                         ``read_snapshot`` is its driver-side twin
* F1-F3 ``Filter``     — kinds / discriminator / splits
                         (store/store.go:75-82, store/postgresql/store.go:522-577)
* F8                   — standing ``migration = 0`` view
                         (store/postgresql/store.go:425)
* M4 ``save_snapshot`` + threshold bookkeeping (eventstore.go:381-400)

Storage: each table (``events``, ``snapshots``) is bucketed by
``pmod(aggregate_id_hash, n_buckets)`` into ``<table>/bucket=N/*.parquet``,
mirroring the reference's split predicate (F3), and every bucket has its
own commit log (``commit_log.CommitLog`` over the store's ``CasBackend``,
keys ``<table>/<N>/…``; by default files under ``_log/``). The per-bucket
log is the seam: a file is part of the table once, and only while, a log
entry adds it, and every reader — the Spark views, the driver-side
``_read_stream`` and the change feed (``store/feed.py``) alike —
resolves its files from the log and never lists a directory.
``append`` / ``save_snapshot`` write one file at its final path in
``bucket=N/`` and ``put_if_absent`` the next version of the stream's
bucket log; losing that race re-runs the conflict check against the new
head (a version clash still raises ``ConcurrentModificationError``, the
reference's unique index, store/postgresql/store.go:258-264), and a
rejected write deletes its file. Writers on different buckets never
wait for each other. Each driver-side entry records its one
``aggregate_id``, so a point read opens only the files that can hold its
stream; Spark-written files (``bulk_import``, the maintenance rewrites)
carry no id and are always read. ``_rewrite_table`` is the one rewrite
path of the maintenance operators (forget, migrations, compaction,
vacuum): a verified write, then one remove+add commit per bucket that
merges appends committed meanwhile, or raises
``ConcurrentModificationError`` when a newer entry may hold a stream a
migration rewrote. Commits never delete the files they remove, so a
frame or a head read before a rewrite still reads its rows;
``maintenance.vacuum_store`` deletes them once a grace period has
passed. On a lakehouse the per-bucket log is a Delta/Iceberg table's own
log. Only this class knows the layout.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from eventsourcing_spark.cas import CasBackend, FileCasBackend
from eventsourcing_spark.commit_log import CommitLog, Head
from eventsourcing_spark.functions.hashing import (
    fnv1a_32,
    fnv1a_32_py,
    split_predicate,
)
from eventsourcing_spark.functions.ulid import UlidGenerator
from eventsourcing_spark.schema import EVENT_SCHEMA, SNAPSHOT_SCHEMA


def _arrow_schema(schema) -> pa.Schema:
    """Arrow twin of a Spark table schema for the driver-side writes, every
    field nullable (parquet ``optional``, as Spark itself writes them)."""
    return pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)])


_SCHEMAS = {"events": EVENT_SCHEMA, "snapshots": SNAPSHOT_SCHEMA}
_ARROW_SCHEMAS = {t: _arrow_schema(s) for t, s in _SCHEMAS.items()}


def _may_hold(files: list[dict], streams: DataFrame) -> bool:
    """Whether any of ``files`` may hold a stream of ``streams``: a file
    whose entry records no ``aggregate_id`` may hold any, and the ids the
    entries record are looked up in ``streams`` by a Spark job."""
    if any("aggregate_id" not in f for f in files):
        return True
    ids = sorted({f["aggregate_id"] for f in files})
    return bool(ids) and bool(
        streams.filter(F.col("aggregate_id").isin(ids)).limit(1).count()
    )


def _fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row_count, order-free id fingerprint): sum of 40-bit md5 slices
    — commutative, so layout/order-independent (corpus_fingerprint
    idiom)."""
    fp = F.conv(F.substring(F.md5(F.col("id")), 1, 10), 16, 10).cast("long")
    row = df.agg(
        F.count("*").alias("n"), F.coalesce(F.sum(fp), F.lit(0)).alias("s")
    ).first()
    return int(row.n), int(row.s)


class ConcurrentModificationError(Exception):
    """Parity with ErrConcurrentModification (eventstore.go:21)."""


@dataclass(frozen=True)
class Filter:
    """F1-F3 read-filter algebra (store/store.go:75-82).

    * ``aggregate_kinds``: OR within the list (F1)
    * ``discriminator``: AND across keys, OR across values per key (F2)
    * ``splits``/``split_ids``: MOD(aggregate_id_hash, splits) IN ids (F3)
    """

    aggregate_kinds: tuple[str, ...] = ()
    discriminator: dict[str, tuple[str, ...]] = field(default_factory=dict)
    splits: int = 0
    split_ids: tuple[int, ...] = ()

    def predicate(self) -> Column:
        pred = F.lit(True)
        if self.aggregate_kinds:
            pred = pred & F.col("aggregate_kind").isin(list(self.aggregate_kinds))
        for key, values in sorted(self.discriminator.items()):
            vals = [values] if isinstance(values, str) else list(values)
            pred = pred & F.col("discriminator").getItem(key).isin(vals)
        if self.splits > 1:
            pred = pred & split_predicate(
                F.col("aggregate_id_hash"), self.splits, list(self.split_ids)
            )
        return pred


def _discriminator_predicate(discriminator: dict[str, str] | None) -> Column:
    """F4 context-discriminator equality conjunction (store/store.go:195-228)."""
    pred = F.lit(True)
    for k, v in sorted((discriminator or {}).items()):
        pred = pred & (F.col("discriminator").getItem(k) == v)
    return pred


def _discriminator_matches(row_disc, discriminator: dict[str, str]) -> bool:
    """Row-side twin of ``_discriminator_predicate``: ``row_disc`` is a
    map column as pyarrow yields it (``[(k, v), ...]`` or None). A missing
    key or a null on either side never matches, as in SQL."""
    have = dict(row_disc or ())
    return all(v is not None and have.get(k) == v for k, v in discriminator.items())


class EventStore:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        snapshot_threshold: int = 100,
        allowed_discriminator_keys: tuple[str, ...] | None = None,
        n_buckets: int = 32,
        backend: CasBackend | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.snapshot_threshold = snapshot_threshold
        self.allowed_discriminator_keys = allowed_discriminator_keys
        self.n_buckets = n_buckets
        self._events_dir = os.path.join(base_dir, "events")
        self._snapshots_dir = os.path.join(base_dir, "snapshots")
        self.backend = (
            backend if backend is not None
            else FileCasBackend(os.path.join(base_dir, "_log"))
        )
        self._logs = {
            (t, b): CommitLog(self.backend, f"{t}/{b}/")
            for t in _SCHEMAS
            for b in range(n_buckets)
        }
        self._open_log()

    def _open_log(self) -> None:
        """Record the layout as the first entry of the ``layout/`` log;
        refuse a directory whose data no log describes, or a log written
        with another bucket count."""
        layout = {"path": "layout", "n_buckets": self.n_buckets}
        log = CommitLog(self.backend, "layout/")
        if log.head().version == 0 and any(
            n.endswith(".parquet")
            for t in _SCHEMAS
            for _root, _dirs, names in os.walk(self._dir(t))
            for n in names
        ):
            raise ValueError(f"{self.base_dir} holds table data but no commit log")
        head = log.commit(lambda h: None if h.version else {"add": [layout]})
        if head.files["layout"] != layout:
            raise ValueError(
                f"{self.base_dir} was created with {head.files['layout']}"
            )

    # ------------------------------------------------------------------ views
    def events_raw(self) -> DataFrame:
        """All generations, including migration-invalidated rows."""
        return self._view("events")

    def events(self) -> DataFrame:
        """Active events — the standing F8 ``migration = 0`` view."""
        return self.events_raw().filter(F.col("migration") == 0)

    def _events_pruned(self, buckets: list[int]) -> DataFrame:
        """Active-events view over the files of ``buckets`` only.

        A single-stream read (S2) touches 1/n_buckets of the table, and a
        split-filtered scan (F3) reads only its splits' buckets. This is
        the access-path role of the reference's ``(aggregate_id,
        migration)`` index (store/postgresql/store.go:699-701), recreated
        as physical layout instead of a btree.
        """
        return self._view("events", buckets).filter(F.col("migration") == 0)

    def snapshots(self) -> DataFrame:
        return self._view("snapshots")

    # ------------------------------------------------------------------ reads
    def get_aggregate_events(
        self,
        aggregate_id: str,
        gt_version: int = 0,
        discriminator: dict[str, str] | None = None,
    ) -> DataFrame:
        """S2 — by-stream scan in fold order (store/postgresql/store.go:423-444).

        Bucket-pruned: the stream's hash names its directory, so the scan
        reads 1/n_buckets of the table before the row filter even runs.
        """
        bucket = fnv1a_32_py(aggregate_id) % self.n_buckets
        df = self._events_pruned([bucket]).filter(
            (F.col("aggregate_id") == aggregate_id)
            & (F.col("aggregate_version") > gt_version)
            & _discriminator_predicate(self._restrict_disc(discriminator))
        )
        return df.orderBy("aggregate_version")

    def read_aggregate_events(
        self,
        aggregate_id: str,
        gt_version: int = 0,
        discriminator: dict[str, str] | None = None,
    ) -> list[dict]:
        """S2 driver-side: the rows of ``get_aggregate_events`` as dicts of
        ``id, aggregate_version, kind, body``, in fold order, read from the
        stream's files in its bucket head without a Spark job."""
        import pyarrow.dataset as ds

        rows = self._read_stream(
            "events",
            aggregate_id,
            ["id", "aggregate_version", "kind", "body"],
            where=(ds.field("migration") == 0)
            & (ds.field("aggregate_version") > gt_version),
            discriminator=self._restrict_disc(discriminator),
        )
        return sorted(rows, key=lambda r: r["aggregate_version"])

    def get_events(
        self,
        after: str = "",
        until: str | None = None,
        batch_size: int | None = None,
        filter: Filter = Filter(),  # noqa: A002 — reference name
        discriminator: dict[str, str] | None = None,
    ) -> DataFrame:
        """S3 — keyset range scan ``(after, until]`` (store/postgresql/store.go:497-518).

        When the split grid divides the bucket grid, the F3 split filter
        becomes directory pruning: ``hash % splits ∈ ids`` selects exactly
        the buckets with ``bucket % splits ∈ ids`` (hash ≥ 0, n_buckets a
        multiple of splits), so each catch-up split reads only its share
        of the table. The row-level predicate is kept regardless — it is
        the correctness contract; pruning is only an access path.
        """
        ids = set(filter.split_ids)
        if 1 < filter.splits <= self.n_buckets and (
            self.n_buckets % filter.splits == 0
        ) and len(ids) < filter.splits:
            allowed = [b for b in range(self.n_buckets) if b % filter.splits in ids]
            df = self._events_pruned(allowed).filter(filter.predicate())
        else:
            df = self.events().filter(filter.predicate())
        df = df.filter(_discriminator_predicate(self._restrict_disc(discriminator)))
        if after:
            df = df.filter(F.col("id") > after)
        if until is not None:
            df = df.filter(F.col("id") <= until)
        df = df.orderBy("id")
        if batch_size:
            df = df.limit(batch_size)
        return df

    def get_events_by_ids(self, ids: list[str]) -> DataFrame:
        """S4 — point-set scan (store/postgresql/store.go:665-674)."""
        return self.events().filter(F.col("id").isin(ids)).orderBy("id")

    def get_snapshot(
        self, aggregate_id: str, discriminator: dict[str, str] | None = None
    ) -> DataFrame:
        """S5 — latest snapshot of one stream (store/postgresql/store.go:295-323)."""
        return (
            self.snapshots()
            .filter(
                (F.col("aggregate_id") == aggregate_id)
                & _discriminator_predicate(self._restrict_disc(discriminator))
            )
            .orderBy(F.desc("id"))
            .limit(1)
        )

    def read_snapshot(
        self, aggregate_id: str, discriminator: dict[str, str] | None = None
    ) -> dict | None:
        """S5 driver-side: the row of ``get_snapshot`` as a dict of ``id,
        aggregate_version, aggregate_kind, body`` (None when the stream has
        no snapshot), read without a Spark job."""
        rows = self._read_stream(
            "snapshots",
            aggregate_id,
            ["id", "aggregate_version", "aggregate_kind", "body"],
            discriminator=self._restrict_disc(discriminator),
        )
        return max(rows, key=lambda r: r["id"], default=None)

    def latest_snapshots(self) -> DataFrame:
        """Set-oriented S5: argmax by id per aggregate (one shuffle, map-side
        combine — the W1 window formulation would sort every partition)."""
        snaps = self.snapshots()
        cols = [c for c in snaps.columns if c != "aggregate_id"]
        return snaps.groupBy("aggregate_id").agg(
            F.max_by(F.struct(*cols), "id").alias("s")
        ).select("aggregate_id", *[F.col(f"s.{c}").alias(c) for c in cols])

    def distinct_aggregates(self, aggregate_kind: str) -> DataFrame:
        """A5 — distinct streams of a kind (projection_migration.go:182-220)."""
        return (
            self.events()
            .filter(F.col("aggregate_kind") == aggregate_kind)
            .select("aggregate_id")
            .distinct()
        )

    # ----------------------------------------------------------------- writes
    def append(
        self,
        aggregate_id: str,
        aggregate_kind: str,
        events: list[tuple[str, dict]],
        expected_version: int,
        discriminator: dict[str, str] | None = None,
        created_at: datetime | None = None,
        migrated: bool = False,
    ) -> tuple[str, int]:
        """S1 — conflict-checked multi-event append (store/postgresql/store.go:191-269).

        ``events`` is ``[(kind, body_dict), ...]``; versions are assigned
        ``expected_version+1 ...``; all share one ULID generator so IDs are
        strictly increasing within the write (eventid/eventid.go:170-189).
        Raises ConcurrentModificationError when any (aggregate_id, version)
        already exists — the reference's unique-index violation — checked
        against the bucket head the append commits over.
        """
        if not events:
            return "", expected_version
        discriminator = self._restrict_disc(discriminator) or {}
        created_at = created_at or datetime.now(timezone.utc)
        agg_hash = fnv1a_32_py(aggregate_id)
        versions = [expected_version + 1 + i for i in range(len(events))]

        def check(head: Head) -> str | None:
            return self._check_conflicts(head, aggregate_id, versions)

        head = self._logs["events", self._bucket(aggregate_id)].head()
        last_existing = check(head)
        # per-aggregate ID monotonicity across saves (README.md:389-399):
        # never generate at or before the stream's last ID's millisecond,
        # even under clock skew / equal created_at
        base = created_at
        if last_existing:
            from eventsourcing_spark.functions.ulid import ulid_millis_py

            last_ms = ulid_millis_py(last_existing)
            base = max(base, datetime.fromtimestamp(last_ms / 1000, tz=timezone.utc))
        gen = UlidGenerator(after=base, now_fn=lambda: base)
        rows = []
        for version, (kind, body) in zip(versions, events):
            rows.append(
                (
                    gen.new_id(),
                    aggregate_id,
                    agg_hash,
                    version,
                    aggregate_kind,
                    kind,
                    json.dumps(body, separators=(",", ":")).encode(),
                    created_at.replace(tzinfo=None),
                    0,
                    migrated,
                    discriminator,
                )
            )
        self._commit_rows("events", aggregate_id, rows, head, check)
        return rows[-1][0], versions[-1]

    def bulk_import(self, events: DataFrame, assign_versions: bool = False) -> None:
        """Set-oriented ingest — the 100 TB load path.

        ``events`` needs columns ``aggregate_id, aggregate_kind, kind,
        body (binary/string), created_at`` (+ optional ``discriminator``,
        and ``aggregate_version`` unless ``assign_versions``). Envelope
        columns are minted JVM-side: ULIDs from ``created_at`` via
        ``ulid_random`` (uniqueness from 80-bit entropy), FNV-1a hashes,
        bucket layout — one distributed write, no driver loop, no
        conflict check (bulk loads own their version integrity;
        ``assign_versions`` derives 1..N per stream in created_at order),
        then one commit per bucket.
        """
        from pyspark.sql import Window

        from eventsourcing_spark.functions.ulid import ulid_random

        df = events
        if "discriminator" not in df.columns:
            df = df.withColumn(
                "discriminator",
                F.lit(None).cast("map<string,string>"),
            )
        df = df.withColumn("aggregate_id_hash", fnv1a_32(F.col("aggregate_id")))
        df = df.withColumn("id", ulid_random(F.col("created_at")))
        if assign_versions:
            w = Window.partitionBy("aggregate_id").orderBy("created_at", "id")
            df = df.withColumn(
                "aggregate_version", F.row_number().over(w).cast("int")
            )
        df = (
            df.withColumn("body", F.col("body").cast("binary"))
            .withColumn("created_at", F.col("created_at").cast("timestamp"))
            .withColumn("migration", F.lit(0))
            .withColumn("migrated", F.lit(False))
            .select(*[f.name for f in EVENT_SCHEMA.fields])
        )
        self._append_rows_df(df)

    def save_snapshot(
        self,
        snapshot_id: str,
        aggregate_id: str,
        aggregate_version: int,
        aggregate_kind: str,
        body: dict,
        discriminator: dict[str, str] | None = None,
        created_at: datetime | None = None,
    ) -> None:
        """M4 — snapshot write at the id of the last folded event
        (eventstore.go:381-400; store/postgresql/store.go:379-421)."""
        created_at = created_at or datetime.now(timezone.utc)
        row = (
            snapshot_id,
            aggregate_id,
            aggregate_version,
            aggregate_kind,
            json.dumps(body, separators=(",", ":")).encode(),
            created_at.replace(tzinfo=None),
            self._restrict_disc(discriminator) or {},
        )
        self._commit_rows("snapshots", aggregate_id, [row])

    # -------------------------------------------------------------- internals
    def _restrict_disc(
        self, discriminator: dict[str, str] | None
    ) -> dict[str, str] | None:
        """F4 — restrict to allowed keys (store/store.go:195-228)."""
        if discriminator is None:
            return None
        if self.allowed_discriminator_keys is None:
            return dict(discriminator)
        return {
            k: v
            for k, v in discriminator.items()
            if k in self.allowed_discriminator_keys
        }

    def _dir(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _bucket(self, aggregate_id: str) -> int:
        return fnv1a_32_py(aggregate_id) % self.n_buckets

    def _pin(self, table: str, buckets=None) -> dict[int, Head]:
        """The current head of each bucket log (all buckets by default):
        the version vector a Spark frame and a rewrite of it agree on."""
        if buckets is None:
            buckets = range(self.n_buckets)
        return {b: self._logs[table, b].head() for b in buckets}

    def _paths(self, table: str, rels) -> list[str]:
        """Absolute paths of files named relative to ``table``."""
        root = self._dir(table)
        return [os.path.join(root, rel) for rel in rels]

    def _read(self, table: str, rels) -> DataFrame:
        """Spark frame over exactly the files ``rels``."""
        if not rels:
            return self.spark.createDataFrame([], _SCHEMAS[table])
        return self.spark.read.schema(_SCHEMAS[table]).parquet(
            *self._paths(table, rels)
        )

    def _scan(self, table: str, pin: dict[int, Head]) -> DataFrame:
        """Spark frame over exactly the files of ``pin``. They stay on disk
        for ``vacuum_store``'s grace period after a commit removes them,
        so the frame reads the same rows when it runs after a rewrite."""
        return self._read(table, [p for h in pin.values() for p in h.files])

    def _view(self, table: str, buckets=None) -> DataFrame:
        """``_scan`` of the current heads."""
        return self._scan(table, self._pin(table, buckets))

    def _read_stream(
        self,
        table: str,
        aggregate_id: str,
        columns: list[str],
        where=None,
        discriminator: dict[str, str] | None = None,
        head: Head | None = None,
    ) -> list[dict]:
        """Driver-side point read of one stream's rows in ``table``.

        Reads the files of the stream's bucket ``head`` (the current one
        by default) that can hold the stream: those whose entry records
        this ``aggregate_id``, and Spark-written ones, which record none.
        pyarrow pushes ``aggregate_id == …`` and the optional ``where``
        expression down to row-group statistics, so a single-key read
        launches no cluster job. The F4 ``discriminator`` conjunction
        runs on the few surviving rows.
        """
        import pyarrow.dataset as ds

        head = head or self._logs[table, self._bucket(aggregate_id)].head()
        rels = [
            p for p, f in head.files.items()
            if f.get("aggregate_id", aggregate_id) == aggregate_id
        ]
        if not rels:
            return []
        flt = ds.field("aggregate_id") == aggregate_id
        if where is not None:
            flt = flt & where
        read = columns + ["discriminator"] if discriminator else columns
        rows = (
            ds.dataset(
                self._paths(table, rels), schema=_ARROW_SCHEMAS[table],
                format="parquet",
            )
            .to_table(columns=read, filter=flt)
            .to_pylist()
        )
        if discriminator:
            rows = [
                r for r in rows
                if _discriminator_matches(r.pop("discriminator"), discriminator)
            ]
        return rows

    def _check_conflicts(
        self, head: Head, aggregate_id: str, versions: list[int]
    ) -> str | None:
        """Single stream read over all generations in ``head``: conflict
        detection + last existing id. Returns the stream's max id (or
        None); raises on version clash."""
        rows = self._read_stream(
            "events", aggregate_id, ["id", "aggregate_version"], head=head
        )
        if not rows:
            return None
        if {r["aggregate_version"] for r in rows}.intersection(versions):
            raise ConcurrentModificationError(
                f"{aggregate_id}: version(s) {versions} already exist"
            )
        return max(r["id"] for r in rows)

    def _commit_rows(
        self, table: str, aggregate_id: str, rows, seen: Head | None = None,
        check=None,
    ) -> None:
        """Driver-side commit of one aggregate's rows for the single-key
        OLTP path: one parquet file at its final path, no Spark job (the
        reference's analog is a one-transaction SQL insert,
        store/sql.go:39-61), then the next version of the aggregate's
        bucket log, whose entry records the aggregate. ``check(head)``
        conflict-checks against every head the entry is committed over
        except ``seen``, the one the caller already checked. A failed
        commit deletes the file. Bulk/distributed writes go through
        ``_append_rows_df``."""
        import pyarrow.parquet as pq

        bucket = self._bucket(aggregate_id)
        rel = f"bucket={bucket}/part-{uuid.uuid4().hex}.parquet"
        path = os.path.join(self._dir(table), rel)
        schema = _ARROW_SCHEMAS[table]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows], schema=schema
            ),
            path,
        )
        entry = {"add": [{
            "path": rel, "aggregate_id": aggregate_id,
            "bytes": os.path.getsize(path),
        }]}

        def derive(head: Head) -> dict:
            if check is not None and (seen is None or head.version != seen.version):
                check(head)
            return entry

        try:
            self._logs[table, bucket].commit(derive)
        except BaseException:
            os.remove(path)
            raise

    def _append_rows_df(self, df: DataFrame, pin=None, streams=None) -> None:
        """Spark-written events, committed bucket by bucket (see
        ``_commit_staged`` for ``pin`` / ``streams``)."""
        staging = self._write_staging("events", df)
        staged = self._move_staged("events", staging)
        self._commit_staged("events", staged, pin, streams)

    def _write_staging(self, table: str, df: DataFrame, one_file=False) -> str:
        """Write ``df`` with its ``bucket`` column, partitioned by it, under
        a fresh ``<table>/_staging-*`` directory. ``one_file``: one
        id-sorted file per bucket, the rewrite layout."""
        key = F.col("aggregate_id_hash") if table == "events" else fnv1a_32(
            F.col("aggregate_id")
        )
        df = df.withColumn("bucket", F.pmod(key, F.lit(self.n_buckets)))
        if one_file:
            df = df.repartition(self.n_buckets, "bucket").sortWithinPartitions("id")
        staging = os.path.join(self._dir(table), f"_staging-{uuid.uuid4().hex}")
        try:
            df.write.partitionBy("bucket").parquet(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return staging

    def _move_staged(self, table: str, staging: str) -> dict[int, list[dict]]:
        """Move the staged files to their final paths in the bucket
        directories, where nothing reads them until a commit names them,
        and remove the staging directory; returns each bucket's file
        entries."""
        staged: dict[int, list[dict]] = {}
        try:
            for part in os.scandir(staging):
                if not part.name.startswith("bucket="):
                    continue
                bucket = int(part.name.split("=", 1)[1])
                final = os.path.join(self._dir(table), part.name)
                os.makedirs(final, exist_ok=True)
                for f in os.scandir(part.path):
                    if f.name.endswith(".parquet"):
                        rel = f"{part.name}/{f.name}"
                        size = f.stat().st_size
                        os.replace(f.path, os.path.join(final, f.name))
                        staged.setdefault(bucket, []).append(
                            {"path": rel, "bytes": size}
                        )
        except BaseException:
            self._delete(table, [f["path"] for fs in staged.values() for f in fs])
            raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return staged

    def _delete(self, table: str, rels) -> None:
        """Delete uncommitted files."""
        for path in self._paths(table, rels):
            pathlib.Path(path).unlink(missing_ok=True)

    def _commit_staged(
        self, table, staged, pin=None, streams=None, replace=False,
        data_change=True,
    ) -> None:
        """Commit ``staged`` files bucket by bucket, in bucket order.

        ``replace``: each bucket's entry also removes the files ``pin``
        listed for it; it raises ConcurrentModificationError when a newer
        commit already removed one (first committer wins) and keeps files
        committed since ``pin`` (concurrent appends are merged). Removed
        files stay on disk for ``vacuum_store``. ``streams`` (a frame
        with an ``aggregate_id`` column, left on the executors): raise
        ConcurrentModificationError instead of merging when a file
        committed since ``pin`` may hold one of them — its entry records
        no id, or one that a Spark job finds in ``streams``.
        ``data_change=False`` marks entries that only rearrange or drop
        rows already delivered, which the change feed skips. A bucket
        that raises leaves the buckets before it committed; its own and
        later staged files are deleted.
        """
        if replace:
            staged = {b: staged.get(b, []) for b in pin if pin[b].files} | staged
        buckets = sorted(staged)
        for i, b in enumerate(buckets):
            old = pin[b].files if pin else {}
            remove = list(old) if replace else []
            entry = {"remove": remove, "add": staged[b]}
            if not data_change:
                entry["data_change"] = False

            def derive(head: Head, b=b, old=old, entry=entry) -> dict:
                if any(p not in head.files for p in entry["remove"]):
                    raise ConcurrentModificationError(
                        f"{table} bucket {b} was rewritten concurrently"
                    )
                if streams is not None and _may_hold(
                    [f for p, f in head.files.items() if p not in old], streams
                ):
                    raise ConcurrentModificationError(
                        f"{table} bucket {b}: a stream being rewritten "
                        "was appended to concurrently"
                    )
                return entry

            try:
                self._logs[table, b].commit(derive)
            except BaseException:
                self._delete(table, [f["path"] for c in buckets[i:] for f in staged[c]])
                raise

    def _vacuum(self, grace_seconds: float) -> dict:
        """Delete the files under each ``<table>/bucket=N/`` that no
        reader can need: not named by the bucket head, not removed by a
        log entry younger than ``grace_seconds`` (a reader of an older
        head may still open it), and themselves older than that (a write
        whose commit has not published yet). Then vacuum the bucket logs
        with the same grace. The directory is listed before the head is
        read, so only a write that has been waiting longer than the grace
        period for its commit can be taken for an orphan."""
        cutoff = time.time() - grace_seconds
        files = keys = 0
        for (table, b), log in self._logs.items():
            folder = os.path.join(self._dir(table), f"bucket={b}")
            listed = (
                [(e.name, e.stat().st_mtime) for e in os.scandir(folder)]
                if os.path.isdir(folder) else []
            )
            head = log.head()
            keep = set(head.files)
            for v in range(head.version, 0, -1):
                try:
                    _v, entry, age = next(log.entries(v - 1, v))
                except LookupError:
                    break
                if age > grace_seconds:
                    break
                keep.update(entry.get("remove", ()))
            for name, mtime in listed:
                if f"bucket={b}/{name}" not in keep and mtime < cutoff:
                    pathlib.Path(folder, name).unlink(missing_ok=True)
                    files += 1
            keys += log.vacuum(grace_seconds)
        return {"files_removed": files, "log_keys_removed": keys}

    def _rewrite_table(
        self, table: str, df: DataFrame, pin: dict[int, Head], streams=None,
        data_change: bool = True,
    ) -> int:
        """Replace the files ``pin`` lists in the ``events`` or ``snapshots``
        table with ``df``, built from ``_scan(table, pin)``; returns its row
        count. The one rewrite path of the maintenance operators — parquet
        has no UPDATE/DELETE, so on Delta/Iceberg this method becomes their
        ``UPDATE``/``MERGE``/``OPTIMIZE`` transaction.

        ``df`` is written as one id-sorted file per bucket, moved to its
        final paths, read back by those paths and committed bucket by
        bucket (``_commit_staged`` with ``replace``, passing
        ``data_change`` on) only if its (row count, order-free id
        fingerprint) equals ``df``'s; a mismatch deletes the new files and
        commits nothing.
        """
        df = df.select(*_SCHEMAS[table].names)
        expected = _fingerprint(df)
        staged = self._move_staged(table, self._write_staging(table, df, one_file=True))
        rels = [f["path"] for fs in staged.values() for f in fs]
        try:
            written = _fingerprint(self._read(table, rels))
            if written != expected:
                raise RuntimeError(
                    f"{table} rewrite verification failed: (rows, fingerprint) "
                    f"{expected} -> {written}; table left untouched"
                )
        except BaseException:
            self._delete(table, rels)
            raise
        self._commit_staged(
            table, staged, pin, streams, replace=True, data_change=data_change
        )
        return expected[0]
