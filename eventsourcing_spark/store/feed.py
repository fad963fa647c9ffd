"""The event store's change feed: a Structured Streaming source over the
per-bucket commit logs (S8-S10 collapsed).

The reference tails the database's change stream — PostgreSQL logical
replication, MySQL binlog, Mongo change streams
(store/postgresql/listener_logrepl.go:88-210) — and delivers each
committed change once. Here the change stream is the store's own commit
log. The source's offset is the version vector ``{bucket: version}`` of
the ``events`` bucket logs, which Spark checkpoints and replays as the
Structured Streaming paper asks of a source (Armbrust et al., SIGMOD
2018): the initial offset is all zeros, the latest one the bucket heads,
and a batch ``(start, end]`` reads the data files its entries add.

* **What a batch delivers.** The files added by its entries, read with
  pyarrow on the executors, ``migration = 0`` rows only. Entries marked
  ``"data_change": false`` (compaction, ``vacuum_migrated``) only
  rearrange or drop rows already delivered, so their files are skipped.
  Forget and migration rewrites deliver their files; the projector's C2
  filter rejects the ids in them it has already applied. When a rewrite
  in the same batch replaces a file the batch also adds, only the
  rewrite's file is read, so no row reaches one batch twice. A new feed
  over a bucket whose first entries a vacuum deleted reads the bucket's
  files at ``end`` instead, so a projection can still start after a
  vacuum.
* **Read tasks.** A batch's files are packed into read tasks the way
  Spark's file source packs them (``_pack``), so a live batch of a few
  one-event files runs a few tasks, not one per file or bucket.
* **Backpressure.** ``max_files_per_trigger`` caps the files between the
  last offset Spark gave the reader and the offset it returns, taking
  entries across buckets in commit order. An entry (or such a snapshot)
  is never split, so one with more files than the cap forms a batch on
  its own. Spark runs ``availableNow`` as one batch for a Python source,
  so there the cap bounds that one batch.
* **Retention.** A batch reads files that later commits may have
  removed; ``maintenance.vacuum_store`` keeps them for its grace period.
  A running feed that falls further behind than that fails — a vacuumed
  entry raises ``LookupError``, a vacuumed file ``FileNotFoundError`` —
  and never skips a change.

The reader plans batches in a Spark Python worker, not in the driver
process, so it reaches the logs through ``CasBackend.shared()``.
"""

from __future__ import annotations

import base64
import heapq
import os
import pickle
import time
from functools import cached_property

import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from eventsourcing_spark.commit_log import CommitLog
from eventsourcing_spark.schema import EVENT_SCHEMA
from eventsourcing_spark.store.event_store import _ARROW_SCHEMAS

_MAX_SPLIT = 128 * 1024 * 1024  # spark.sql.files.maxPartitionBytes
_OPEN_COST = 4 * 1024 * 1024  # spark.sql.files.openCostInBytes


def _delivers(entry: dict) -> bool:
    return entry.get("data_change", True)


def _delivered(entries) -> list[dict]:
    """The files one bucket's ``entries`` (in version order) deliver.

    A data-changing rewrite re-delivers every row of the files it
    removes, so it drops from the batch each file the batch added
    earlier that it replaces, directly or through a compaction in
    between (``holds``: file -> the delivered files whose rows it
    holds)."""
    out: dict[str, dict] = {}
    holds: dict[str, set[str]] = {}
    for entry in entries:
        held = set().union(*(holds.pop(p, ()) for p in entry.get("remove", ())))
        added = entry.get("add", ())
        if _delivers(entry):
            for p in held:
                out.pop(p, None)
            for f in added:
                out[f["path"]] = f
                holds[f["path"]] = {f["path"]}
        else:
            for f in added:
                holds[f["path"]] = held
    return list(out.values())


def _pack(files: list[dict], parallelism: int) -> list[list[str]]:
    """Group files into read tasks the way Spark's file source does:
    largest first, each file costing its bytes plus an open cost, into
    splits of ``min(128 MiB, max(open cost, total / parallelism))``."""
    total = sum(f["bytes"] + _OPEN_COST for f in files)
    split = min(_MAX_SPLIT, max(_OPEN_COST, total // max(parallelism, 1)))
    tasks: list[list[str]] = []
    size = split + 1
    for f in sorted(files, key=lambda f: -f["bytes"]):
        if size + f["bytes"] > split:
            tasks.append([])
            size = 0
        tasks[-1].append(f["path"])
        size += f["bytes"] + _OPEN_COST
    return tasks


class _Reader(DataSourceStreamReader):
    def __init__(self, options):
        self.root, n_buckets, self.backend = pickle.loads(
            base64.b64decode(options["store"])
        )
        self.buckets = [str(b) for b in range(n_buckets)]
        self.max_files = int(options.get("max_files_per_trigger") or 0)
        self.parallelism = int(options["parallelism"])
        # Spark may ask for the latest offset before the initial one
        self.seen = self.initialOffset()

    @cached_property
    def logs(self):
        # built on first use: Spark pickles the reader into its read
        # tasks, and a CommitLog holds a lock
        return {b: CommitLog(self.backend, f"events/{b}/") for b in self.buckets}

    def initialOffset(self) -> dict:
        return {b: 0 for b in self.buckets}

    def latestOffset(self) -> dict:
        heads = {b: log.head().version for b, log in self.logs.items()}
        if not self.max_files:
            return heads
        # merge the buckets' pending entries by commit time, oldest first,
        # while they fit under the cap (at least one entry)
        pending = {b: self._units(b, self.seen[b], heads[b]) for b in self.buckets}
        queue: list = []

        def push(b: str) -> None:
            nxt = next(pending[b], None)
            if nxt is not None:
                heapq.heappush(queue, (nxt[0], b, *nxt[1:]))

        for b in self.buckets:
            push(b)
        end, taken = dict(self.seen), 0
        while queue:
            _t, b, v, n = queue[0]
            if taken and taken + n > self.max_files:
                break
            heapq.heappop(queue)
            end[b], taken = v, taken + n
            push(b)
        return end

    def _units(self, b: str, after: int, upto: int):
        """Yield ``(commit time, version, files)`` per entry of bucket
        ``b`` after ``after``; for a new feed over a vacuumed log, one
        unit for the snapshot at ``upto`` (first, whatever its time)."""
        log, now = self.logs[b], time.time()
        try:
            for v, entry, age in log.entries(after, upto):
                yield now - age, v, len(entry.get("add", ())) if _delivers(entry) else 0
        except LookupError:
            if after:
                raise
            yield float("-inf"), upto, len(log.head_at(upto).files)

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        self.seen = end
        files = []
        for b in self.buckets:
            if end[b] <= start[b]:
                continue
            log = self.logs[b]
            try:
                files += _delivered(e for _v, e, _a in log.entries(start[b], end[b]))
            except LookupError:
                if start[b]:
                    raise
                files += log.head_at(end[b]).files.values()
        return [
            InputPartition([os.path.join(self.root, p) for p in task])
            for task in _pack(files, self.parallelism)
        ]

    def read(self, partition: InputPartition):
        dataset = ds.dataset(
            partition.value, schema=_ARROW_SCHEMAS["events"], format="parquet"
        )
        yield from dataset.to_batches(filter=ds.field("migration") == 0)


class EventFeed(DataSource):
    """``spark.readStream.format("eventsourcing_events")``; built by
    ``events_file_stream``, which fills in the ``store`` option."""

    @classmethod
    def name(cls) -> str:
        return "eventsourcing_events"

    def schema(self):
        return EVENT_SCHEMA

    def streamReader(self, schema) -> _Reader:
        return _Reader(self.options)


def events_file_stream(store, max_files_per_trigger: int | None = None) -> DataFrame:
    """The store's active events as a streaming frame (S8-S10 collapsed:
    the per-bucket commit log is the CDC feed, its version vector the
    resume token in the streaming checkpoint; see the module docstring).

    ``max_files_per_trigger`` is the backpressure knob — the analog of
    the reference's 1000-row replay batches (projection/player.go:29):
    it bounds the data files, and so the work, of one micro-batch during
    a large backlog drain.
    """
    spark = store.spark
    spark.dataSource.register(EventFeed)
    handle = (store._dir("events"), store.n_buckets, store.backend.shared())
    reader = (
        spark.readStream.format(EventFeed.name())
        .option("store", base64.b64encode(pickle.dumps(handle)).decode())
        .option("parallelism", str(spark.sparkContext.defaultParallelism))
    )
    if max_files_per_trigger:
        reader = reader.option("max_files_per_trigger", str(max_files_per_trigger))
    return reader.load()
