"""The signal store: partitioned-Parquet persistence (SURVEY.md §1.5).

Replaces the reference's RocksDB KV of bincode'd segments
(file_handler.rs:29-53 fm_write/fm_get) with the declarative layout
Spark prunes natively:

- partition column `event_date` (day of ts) → partition pruning for
  time-range queries (the SegmentKey.timestamp axis);
- file-level signal clustering via a hash repartition on user_id +
  an in-file sort on (user_id, ts) → per-file min/max footer stats
  prune on signal id (the SegmentKey.signal axis) and rows arrive
  presorted for per-signal windows. The repartition names no count:
  AQE's partition coalescing sizes each ingest's write fan-out to the
  batch (capped at spark.sql.shuffle.partitions), so a small batch
  writes one file per touched day instead of a fixed bucket count;
- Parquet encodings (dictionary / delta / byte-stream-split) + zstd do
  the Methods-enum job (§1.3) per column chunk, chosen by the writer.

Reads declare the schema the writer recorded in the first file's
footer (`read_parquet`), so opening the store starts no
schema-inference job.

At 100 TB: same layout, plus a target file size (maxRecordsPerFile or
table-format compaction) and bucketed tables if the engine supports
writing bucket metadata (saveAsTable with bucketBy) so signal-keyed
joins co-locate without a shuffle.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SIGNAL_BUCKETS = 16  # cap on compact_partition's output files per date
TARGET_FILE_BYTES = 128 * 1024 * 1024  # compaction target file size


def _micros_timestamps(events: DataFrame) -> None:
    """Write timestamps as TIMESTAMP_MICROS, not Spark's legacy INT96:
    INT96 columns carry NO parquet min/max statistics, which silently
    disables footer-stat time pruning on every store below. Session
    conf (sticky, like tables.load_table's nanosAsLong): the writer
    runs lazily, so the conf must hold at action time."""
    events.sparkSession.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )


def write_signal_store(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist events as the time-partitioned, signal-clustered store.

    The sort leads with event_date: the partitioned write requires
    that ordering and would otherwise plan its own Sort(event_date)
    on top, and the optimizer then drops the (user_id, ts) sort
    beneath it, leaving the files unsorted."""
    _micros_timestamps(events)
    (
        events.withColumn("event_date", F.to_date("ts"))
        .repartition(F.col("user_id"))
        .sortWithinPartitions("event_date", "user_id", "ts")
        .write.partitionBy("event_date")
        .option("compression", "zstd")
        .mode(mode)
        .parquet(path)
    )


# the key under which Spark's parquet writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The data schema Spark's writer recorded in the footer of the
    first data file under `path` (sorted walk, skipping `_`/`.` names
    as Spark's listing does), or None when there is no local file or
    the file was not written by Spark."""
    first = path if os.path.isfile(path) else None
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        data = sorted(f for f in files if not f.startswith(("_", ".")))
        if data:
            first = os.path.join(root, data[0])
            break
    if first is None:
        return None
    meta = pq.read_metadata(first).metadata or {}
    if SPARK_SCHEMA_KEY not in meta:
        return None
    return StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """`spark.read.parquet(*paths)` without the schema-inference job:
    the schema comes from the first file's footer (a local read well
    under a millisecond) and is declared, so Spark only lists files.
    Partition columns (event_date, batch_id) are still discovered from
    the directory names. Falls back to plain inference when no footer
    schema is found, or when the file vanished mid-read (a concurrent
    compaction retiring it)."""
    try:
        schema = _footer_schema(paths[0])
    except FileNotFoundError:
        schema = None
    if schema is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(schema).parquet(*paths)


def read_signal_store(spark: SparkSession, path: str) -> DataFrame:
    """Scan the store; time/signal predicates prune partitions/files."""
    return read_parquet(spark, path)


ZORDER_BITS = 16    # per-dimension resolution of the z-curve
ZORDER_FILES = 16   # default file count for the clustered layout


def zorder_value(a: Column, b: Column) -> Column:
    """Interleave the low ZORDER_BITS bits of two already-normalized
    integer ranks into one z-curve key (bit of `a` above bit of `b`).
    Pure shift/mask arithmetic → whole-stage codegen, no UDF."""
    terms = []
    for i in range(ZORDER_BITS):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        terms.append(bit_a * F.lit(1 << (2 * i + 1)) + bit_b * F.lit(1 << (2 * i)))
    return sum(terms[1:], terms[0])


def _rank(c: Column, lo: float, hi: float) -> Column:
    """Order-preserving map of `c` onto [0, 2^ZORDER_BITS)."""
    span = max(hi - lo, 1e-9)
    scaled = (c.cast("double") - F.lit(float(lo))) / F.lit(span) * F.lit(
        float((1 << ZORDER_BITS) - 1)
    )
    return F.least(
        F.greatest(F.floor(scaled), F.lit(0)), F.lit((1 << ZORDER_BITS) - 1)
    ).cast("long")


def write_zorder_store(
    events: DataFrame, path: str, n_files: int = ZORDER_FILES, mode: str = "overwrite"
) -> None:
    """Multi-dimensional clustering: lay events out along a (user_id,
    ts) Z-ORDER curve so parquet footer min/max stats stay narrow in
    BOTH dimensions at once — a point/range predicate on EITHER column
    prunes ~sqrt-fraction of the files, where single-column sorting
    prunes only its own column and leaves the other unprunable.

    This is the layout for the second axis the date-partitioned store
    can't serve: `write_signal_store` answers time-sliced queries of
    many signals; this serves signal-sliced queries across long time
    spans from the same file set. One min/max agg (a scalar job) fixes
    the rank scale; repartitionByRange on the z-key plus an in-file
    sort gives every file a compact z-range, hence compact per-column
    ranges. At 100 TB the same two jobs run per ingest batch or per
    compaction window — the z-key is one codegen expression, so the
    cost is the range shuffle that a clustered write pays anyway."""
    _micros_timestamps(events)
    lo_a, hi_a, lo_b, hi_b = (
        events.agg(
            F.min(F.col("user_id").cast("double")),
            F.max(F.col("user_id").cast("double")),
            F.min(F.unix_micros(F.col("ts").cast("timestamp")).cast("double")),
            F.max(F.unix_micros(F.col("ts").cast("timestamp")).cast("double")),
        ).first()
    )
    z = zorder_value(
        _rank(F.col("user_id"), lo_a, hi_a),
        _rank(F.unix_micros(F.col("ts").cast("timestamp")), lo_b, hi_b),
    )
    (
        events.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.option("compression", "zstd")
        .mode(mode)
        .parquet(path)
    )


def compact_partition(spark: SparkSession, path: str, event_date: str) -> int:
    """Small-file compaction for one date partition — streaming ingest
    appends a file per micro-batch, and a 100 TB store lives or dies
    by file sizes (footer-stat pruning and scan throughput both
    degrade with file count). Rewrites the partition to at most
    SIGNAL_BUCKETS signal-clustered sorted files; returns the file
    count removed.

    The rewrite stages to a sibling directory, then swaps by renaming
    the original to `.old` before renaming the staged copy in — a
    crash mid-swap leaves the data recoverable in `.old` (never in a
    deleted-only state), though the partition path itself may be
    briefly absent; use a table format for an atomic swap."""
    part = f"{path}/event_date={event_date}"
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    ppath = jvm.org.apache.hadoop.fs.Path(part)
    fs = ppath.getFileSystem(conf)
    if not fs.exists(ppath):
        return 0
    statuses = [
        f for f in fs.listStatus(ppath) if f.getPath().getName().endswith(".parquet")
    ]
    before = len(statuses)
    total_bytes = sum(f.getLen() for f in statuses)
    # size the output by bytes (the point of compaction), capped at the
    # bucket count so signal clustering is preserved on big partitions
    n_files = max(1, min(SIGNAL_BUCKETS, -(-total_bytes // TARGET_FILE_BYTES)))
    staged = f"{part}.compacting"
    (
        read_parquet(spark, part)
        .repartition(n_files, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.option("compression", "zstd")
        .mode("overwrite")
        .parquet(staged)
    )
    spath = jvm.org.apache.hadoop.fs.Path(staged)
    # swap via rename-out → rename-in: the original survives as
    # `.old` through the window, so a crash mid-swap is recoverable
    # (the data is never only in a deleted state); a table format
    # makes this step atomic
    old = jvm.org.apache.hadoop.fs.Path(f"{part}.old")
    fs.delete(old, True)
    fs.rename(ppath, old)
    fs.rename(spath, ppath)
    fs.delete(old, True)
    after = sum(
        1 for f in fs.listStatus(ppath) if f.getPath().getName().endswith(".parquet")
    )
    return max(0, before - after)
