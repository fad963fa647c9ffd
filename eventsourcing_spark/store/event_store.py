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

Storage is a directory of parquet appends. On a production cluster the
same protocol runs over Delta/Iceberg where the conflict check and the
append commit atomically; the class isolates that seam in
``_read_stream`` + ``_append_rows`` + ``_rewrite_table`` so only those
methods change. ``_read_stream`` serves both the conflict check and the
single-key point reads (``read_aggregate_events``, ``read_snapshot``),
so on a lakehouse those reads must see the same table version as the
conflict check. ``_rewrite_table`` is the one table-rewrite path of the
maintenance operators (forget, migrations, compaction, vacuum): a
verified temp-directory swap made under the commit lock, so an append
either lands before the rewrite's scan or waits for the swap and is
conflict-checked against the rewritten table (the reference runs these
operators as SQL transactions, store/postgresql/store.go:446-495).
Partition layout: events are written with a ``bucket`` column =
``pmod(aggregate_id_hash, n_buckets)`` and partitioned by it on disk,
mirroring the reference's split predicate (F3) so split-filtered scans
prune entire directories. Only this class knows that layout.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from eventsourcing_spark.functions.hashing import fnv1a_32_py, split_predicate
from eventsourcing_spark.functions.ulid import UlidGenerator
from eventsourcing_spark.schema import EVENT_SCHEMA, SNAPSHOT_SCHEMA


def _arrow_schema(schema) -> pa.Schema:
    """Arrow twin of a Spark table schema for the driver-side writes, every
    field nullable (parquet ``optional``, as Spark itself writes them)."""
    return pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)])


_ARROW_EVENT_SCHEMA = _arrow_schema(EVENT_SCHEMA)
_ARROW_SNAPSHOT_SCHEMA = _arrow_schema(SNAPSHOT_SCHEMA)


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
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.snapshot_threshold = snapshot_threshold
        self.allowed_discriminator_keys = allowed_discriminator_keys
        self.n_buckets = n_buckets
        self._events_dir = os.path.join(base_dir, "events")
        self._snapshots_dir = os.path.join(base_dir, "snapshots")
        self._lock_dir = os.path.join(base_dir, "_commit.lock")

    # ------------------------------------------------------------------ views
    def events_raw(self) -> DataFrame:
        """All generations, including migration-invalidated rows."""
        if not self._exists(self._events_dir):
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        df = self.spark.read.schema(self._bucketed(EVENT_SCHEMA)).parquet(
            self._events_dir
        )
        return df.drop("bucket")

    def events(self) -> DataFrame:
        """Active events — the standing F8 ``migration = 0`` view."""
        return self.events_raw().filter(F.col("migration") == 0)

    def _events_pruned(self, buckets: list[int]) -> DataFrame:
        """Active-events view restricted to specific bucket directories.

        The filter lands on the ``bucket`` partition column, so Spark
        prunes whole directories at planning time — a single-stream read
        (S2) touches 1/n_buckets of the table, and a split-filtered scan
        (F3) reads only its splits' directories. This is the access-path
        role of the reference's ``(aggregate_id, migration)`` index
        (store/postgresql/store.go:699-701), recreated as physical
        layout instead of a btree.
        """
        if not self._exists(self._events_dir):
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        df = self.spark.read.schema(self._bucketed(EVENT_SCHEMA)).parquet(
            self._events_dir
        )
        return (
            df.filter(F.col("bucket").isin(buckets))
            .drop("bucket")
            .filter(F.col("migration") == 0)
        )

    def snapshots(self) -> DataFrame:
        if not self._exists(self._snapshots_dir):
            return self.spark.createDataFrame([], SNAPSHOT_SCHEMA)
        return self.spark.read.schema(SNAPSHOT_SCHEMA).parquet(self._snapshots_dir)

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
        stream's bucket directory without a Spark job."""
        import pyarrow.dataset as ds

        rows = self._read_stream(
            self._bucket_dir(aggregate_id),
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
            self._snapshots_dir,
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
        already exists — the reference's unique-index violation.
        """
        if not events:
            return "", expected_version
        discriminator = self._restrict_disc(discriminator)
        created_at = created_at or datetime.now(timezone.utc)
        agg_hash = fnv1a_32_py(aggregate_id)

        versions = [expected_version + 1 + i for i in range(len(events))]
        with self._commit_lock():
            return self._append_locked(
                aggregate_id, aggregate_kind, events, versions,
                discriminator, created_at, migrated, agg_hash,
            )

    def _append_locked(
        self, aggregate_id, aggregate_kind, events, versions,
        discriminator, created_at, migrated, agg_hash,
    ) -> tuple[str, int]:
        last_existing = self._check_conflicts(aggregate_id, versions)
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
        last_id = ""
        for version, (kind, body) in zip(versions, events):
            last_id = gen.new_id()
            rows.append(
                (
                    last_id,
                    aggregate_id,
                    agg_hash,
                    version,
                    aggregate_kind,
                    kind,
                    json.dumps(body, separators=(",", ":")).encode(),
                    created_at.replace(tzinfo=None),
                    0,
                    migrated,
                    discriminator or {},
                )
            )
        self._append_rows(rows)
        return last_id, versions[-1]

    def bulk_import(self, events: DataFrame, assign_versions: bool = False) -> None:
        """Set-oriented ingest — the 100 TB load path.

        ``events`` needs columns ``aggregate_id, aggregate_kind, kind,
        body (binary/string), created_at`` (+ optional ``discriminator``,
        and ``aggregate_version`` unless ``assign_versions``). Envelope
        columns are minted JVM-side: ULIDs from ``created_at`` via
        ``ulid_random`` (uniqueness from 80-bit entropy), FNV-1a hashes,
        bucket layout — one distributed write, no driver loop, no
        conflict check (bulk loads own their version integrity;
        ``assign_versions`` derives 1..N per stream in created_at order).
        """
        from pyspark.sql import Window

        from eventsourcing_spark.functions.hashing import fnv1a_32
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
        import pyarrow.parquet as pq

        # driver-side single-row write, same rationale as _append_rows
        schema = _ARROW_SNAPSHOT_SCHEMA
        table = pa.Table.from_pylist([dict(zip(schema.names, row))], schema=schema)
        os.makedirs(self._snapshots_dir, exist_ok=True)
        pq.write_table(
            table,
            os.path.join(self._snapshots_dir, f"part-{uuid.uuid4().hex}.parquet"),
        )

    # -------------------------------------------------------------- internals
    @contextlib.contextmanager
    def _commit_lock(self, timeout_s: float = 60.0):
        """Serialize conflict-check + append across concurrent writers, and
        appends against the maintenance rewrites (``_rewrite_table``).

        ``os.mkdir`` is atomic on POSIX/shared filesystems — the classic
        mutex primitive — so the reference's unique-index guarantee
        (store/postgresql/store.go:702) holds under true concurrency,
        not just single-writer. On a lakehouse this whole seam is a
        Delta/Iceberg serializable transaction instead; the reference's
        own distributed locks (dist/lock.go) play the same role there.
        """
        os.makedirs(self.base_dir, exist_ok=True)
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                os.mkdir(self._lock_dir)
                break
            except FileExistsError:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"commit lock held too long: {self._lock_dir}")
                time.sleep(0.02)
        try:
            yield
        finally:
            os.rmdir(self._lock_dir)

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

    def _read_stream(
        self,
        directory: str,
        aggregate_id: str,
        columns: list[str],
        where=None,
        discriminator: dict[str, str] | None = None,
    ) -> list[dict]:
        """Driver-side point read of one stream's rows in ``directory``.

        ``directory`` is the stream's bucket directory (events: the bucket
        layout guarantees every row of the aggregate lives there) or the
        snapshots directory. pyarrow pushes ``aggregate_id == …`` and the
        optional ``where`` expression down to row-group statistics, so a
        single-key read launches no cluster job. The F4 ``discriminator``
        conjunction runs on the few surviving rows.
        """
        import pyarrow.dataset as ds

        if not self._exists(directory):
            return []
        flt = ds.field("aggregate_id") == aggregate_id
        if where is not None:
            flt = flt & where
        read = columns + ["discriminator"] if discriminator else columns
        rows = (
            ds.dataset(directory, format="parquet")
            .to_table(columns=read, filter=flt)
            .to_pylist()
        )
        if discriminator:
            rows = [
                r for r in rows
                if _discriminator_matches(r.pop("discriminator"), discriminator)
            ]
        return rows

    def _check_conflicts(self, aggregate_id: str, versions: list[int]) -> str | None:
        """Single stream-scan over all generations: conflict detection +
        last existing id. Returns the stream's max id (or None); raises on
        version clash. Driver-side, so no cluster job runs while the
        commit lock is held."""
        rows = self._read_stream(
            self._bucket_dir(aggregate_id), aggregate_id, ["id", "aggregate_version"]
        )
        if not rows:
            return None
        if {r["aggregate_version"] for r in rows}.intersection(versions):
            raise ConcurrentModificationError(
                f"{aggregate_id}: version(s) {versions} already exist"
            )
        return max(r["id"] for r in rows)

    def _bucket_dir(self, aggregate_id: str) -> str:
        bucket = fnv1a_32_py(aggregate_id) % self.n_buckets
        return os.path.join(self._events_dir, f"bucket={bucket}")

    def _append_rows(self, rows: list[tuple]) -> None:
        """Driver-side parquet append for the single-key OLTP path.

        All rows of one append share the aggregate, hence one bucket; a
        small row batch is written as one parquet file without launching
        a Spark job (the reference's analog is a one-transaction SQL
        insert, store/sql.go:39-61). Bulk/distributed writes go through
        ``bulk_import`` → ``_append_rows_df`` instead.
        """
        import pyarrow.parquet as pq

        schema = _ARROW_EVENT_SCHEMA
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, row)) for row in rows], schema=schema
        )
        bucket_dir = self._bucket_dir(rows[0][1])
        os.makedirs(bucket_dir, exist_ok=True)
        pq.write_table(
            table, os.path.join(bucket_dir, f"part-{uuid.uuid4().hex}.parquet")
        )

    def _append_rows_df(self, df: DataFrame) -> None:
        self._with_bucket(df).write.mode("append").partitionBy("bucket").parquet(
            self._events_dir
        )

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(F.col("aggregate_id_hash"), F.lit(self.n_buckets))
        )

    def _rewrite_table(
        self, table: str, df: DataFrame, files_per_bucket: int | None = None
    ) -> int:
        """Replace the ``events`` or ``snapshots`` table with ``df``; returns
        its row count. The one rewrite path of the maintenance operators —
        parquet has no UPDATE/DELETE, so on Delta/Iceberg this method
        becomes their ``UPDATE``/``MERGE``/``OPTIMIZE`` transaction.

        The caller holds ``_commit_lock`` and builds ``df`` under it:
        Spark lists the table's files when the frame is built, so a
        concurrent append either commits before that listing or waits for
        the swap. ``df`` is written to a sibling temp directory (events
        bucketed as ``_append_rows_df`` writes them; ``files_per_bucket``
        shuffles each bucket into that many tasks sorted by ``id``, the
        compaction layout), read back with the explicit schema, and
        swapped in only if its (row count, order-free id fingerprint)
        equals ``df``'s; any failure removes the temp directory and
        leaves the table untouched.
        """
        if not os.path.isdir(self._lock_dir):
            raise RuntimeError("_rewrite_table needs the commit lock held")
        path, schema = {
            "events": (self._events_dir, EVENT_SCHEMA),
            "snapshots": (self._snapshots_dir, SNAPSHOT_SCHEMA),
        }[table]
        df = df.select(*schema.names)
        expected = _fingerprint(df)
        tmp = f"{path}.rewrite-{uuid.uuid4().hex[:8]}"
        try:
            if table == "events":
                df, schema = self._with_bucket(df), self._bucketed(schema)
                if files_per_bucket:
                    df = df.repartition(
                        self.n_buckets * files_per_bucket, "bucket"
                    ).sortWithinPartitions("id")
                writer = df.write.partitionBy("bucket")
            else:
                writer = df.write
            writer.mode("overwrite").parquet(tmp)
            written = _fingerprint(self.spark.read.schema(schema).parquet(tmp))
            if written != expected:
                raise RuntimeError(
                    f"{table} rewrite verification failed: (rows, fingerprint) "
                    f"{expected} -> {written}; table left untouched"
                )
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        return expected[0]

    @staticmethod
    def _bucketed(schema):
        from pyspark.sql import types as T

        return T.StructType(
            list(schema.fields) + [T.StructField("bucket", T.IntegerType(), True)]
        )

    def _exists(self, path: str) -> bool:
        return os.path.isdir(path) and any(
            not n.startswith((".", "_")) for n in os.listdir(path)
        )
