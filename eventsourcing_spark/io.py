"""Table loaders for the driver's synthetic datasets (TESTDATA.md).

Timestamp normalization: the driver regenerates the parquet between
rounds and the physical timestamp encoding has varied — TIMESTAMP(NANOS)
(readable only as long-nanos under
``spark.sql.legacy.parquet.nanosAsLong``), and plain ``timestamp[us]``
with no timezone (surfaced as TIMESTAMP_NTZ by Spark 4's
``inferTimestampNTZ`` default). Downstream operators assume a proper
instant TimestampType (``unix_millis`` et al. reject NTZ), so
``load_table`` normalizes every arrival shape to TimestampType:

- ``bigint`` ts (nanos-as-long): integer ``div 1000`` to µs — double
  division only carries ~0.25 µs precision at 1.7e18 ns and can round
  across the microsecond boundary, diverging from DuckDB's truncation.
- ``timestamp_ntz``: epoch µs via ``timestampdiff(MICROSECOND, epoch,
  ts)`` — pure wall-clock arithmetic, *independent of the session
  timezone* (a plain ``cast(ntz as timestamp)`` would shift by session
  tz). The resulting instant equals the naive value read as UTC, which
  is exactly how DuckDB's ``epoch_ms`` treats naive timestamps.

This keeps the whole engine oblivious to which session created it — the
correctness driver runs our ``queries()`` under *its own* SparkSession,
so load-time normalization is the only seam we control.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ntz_to_instant(col: str):
    """TIMESTAMP_NTZ → TimestampType instant, session-tz-independent."""
    return F.timestamp_micros(
        F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', `{col}`)"
        )
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, _ntz_to_instant(field.name))
        elif field.name == "ts" and isinstance(field.dataType, LongType):
            # nanos-as-long legacy encoding
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# Round 13 (VERDICT r12 #4/#7): the materialization seam. Query
# functions eagerly materialize shared intermediate frames (the
# scan-collapse discipline: compute the bounded/linear state once, let
# every consumer read the materialization instead of replanning the
# corpus scan). The default primitive is localCheckpoint(): blocks on
# executor-local storage, lineage truncated, recomputed on every
# invocation (never cached across calls — each call builds a fresh
# frame). That is the right trade on a single box or a preemption-free
# cluster, but localCheckpoint blocks have NO recompute path: on a real
# 100 TB deployment with executor loss/preemption a mid-run failure
# kills the query. Production deploys set
# $SPARK_GRAFT_RELIABLE_CHECKPOINT to a durable checkpoint directory
# (HDFS/object store) and the SAME call sites route to reliable
# checkpoint(), which survives executor loss. Plan shape is identical
# in both modes (one eager materialization job, consumers read blocks).
_RELIABLE_CKPT_ENV = "SPARK_GRAFT_RELIABLE_CHECKPOINT"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut lineage — localCheckpoint by
    default, durable ``checkpoint()`` when $SPARK_GRAFT_RELIABLE_CHECKPOINT
    names a checkpoint directory. Use as ``df.transform(materialize)``."""
    ckpt_dir = os.environ.get(_RELIABLE_CKPT_ENV, "")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


_BYTES_PER_PARTITION = 256 * 1024

# Per-partition input target for CPU-dense kernels (round 12): stages
# whose per-byte work is ~10x a typical scan — character-gram explodes
# (interpreted transform/sequence lambdas), winnowing chains, deletion-
# key fan-outs, media codec decode — saturate a core on far less input
# than 256 KB, so the default target under-parallelizes them whenever
# the corpus fits in a handful of partitions (measured on the sf0.1
# bench: the langid gram explode ran on 2 of 32 cores, 2.3 s → 0.4 s at
# full width; query-level 4.2 s → 1.8 s). Still size-derived and capped
# at defaultParallelism — at 100 TB the scan already yields thousands
# of partitions and both constants are plan-time no-ops.
# Round 13 (VERDICT r12 #6): one global 32 KB constant overshot for some
# kernel families at 32 cores (task-launch + python-worker overhead vs
# kernel CPU density). Swept {32, 64, 128, 256 KB} per family on adjacent
# pairs at sf0.1/32c; three tiers cover the measured optima:
#
# * 32 KB  — the densest kernels: char-gram explode classifiers (langid
#   2.19 s @32K vs 3.24 @128K), deletion-neighborhood fan-outs (fastss
#   1.86 vs 2.23), minhash signatures (0.31 vs 0.51);
# * 64 KB  — medium-density line/codec kernels: C4 line filters (1.09 vs
#   1.24 @32K), PNG decode/resize (media_resize 0.58 vs 1.52 @32K), KS
#   distance (1.06 vs 1.39), boilerplate n-grams (0.84 vs 0.93);
# * 128 KB — wide-window scans whose per-row state amortizes: winnowed
#   exact-substring (3.67 vs 4.13 @32K), Kneser-Ney bigrams (1.55 vs
#   2.18), span rewrite (0.90 vs 1.36).
#
# All three stay size-derived and capped at defaultParallelism
# (ensure_parallelism): at 100 TB the scan already yields thousands of
# partitions and every tier is a plan-time no-op.
TEXT_KERNEL_BYTES = 32 * 1024
TEXT_KERNEL_BYTES_MID = 64 * 1024
TEXT_KERNEL_BYTES_WIDE = 128 * 1024


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    per_partition_bytes: int = _BYTES_PER_PARTITION,
) -> DataFrame:
    """Repartition only when the scan produced too few partitions — and
    never to more partitions than the data justifies.

    Small single-file tables (documents/embeddings at test scale) arrive
    as one partition, serializing CPU-heavy expressions (md5 minhash,
    dot products). But blanket-repartitioning a 1 MB table to
    defaultParallelism is just as wrong: 32 near-empty tasks cost more
    in scheduling and (for pandas-UDF stages) python-worker startup than
    the work itself. Target ≈``per_partition_bytes`` of input per
    partition (default 256 KB; pass ``TEXT_KERNEL_BYTES`` for CPU-dense
    text/codec kernels — measured per family in round 12), capped at
    defaultParallelism. At 100 TB the scan already yields thousands of
    partitions and this whole function is a plan-time no-op.
    """
    if min_partitions is None:
        size = sum(
            os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
            for f in df.inputFiles()
            if os.path.exists(f[len("file:"):] if f.startswith("file:") else f)
        )
        by_size = max(1, size // per_partition_bytes)
        min_partitions = int(
            min(by_size, df.sparkSession.sparkContext.defaultParallelism)
        )
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
