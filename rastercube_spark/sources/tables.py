"""Relational test-table source (driver TESTDATA parquet).

The only scan primitive the relational layer needs: a parquet read, so
Catalyst gets predicate pushdown / column pruning / partition pruning for
free (SURVEY.md §4). Mirrors the reference's catalog-open (S1,
jgrid3.py:675-680) collapsing to `spark.read.parquet`.

A bare ``spark.read.parquet`` runs one Spark job to read footers and
infer the schema. Each table file's schema is inferred once per process
and declared on later loads; the cache key holds the file's size and
mtime, so a rewritten file is inferred afresh.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

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

# Raster fixtures live beside the repo (FIXTURES.md); both Spark and the
# DuckDB oracle read the same files.
FIXTURES_DIR = "/root/repo/fixtures"
FIXTURE_TABLES = (
    "ndvi_pixels",
    "qa_pixels",
    "glcf_pixels",
    "timestamps",
    "chunk_catalog",
    "region_polygons",
)


# (path, size, mtime_ns) → the schema Spark inferred for that file
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def _read(spark: SparkSession, path: str) -> DataFrame:
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in FIXTURE_TABLES:
        return _read(spark, fixture_path(name))
    if name == "events":
        # The driver's events.parquet stores ts as parquet TIMESTAMP(NANOS).
        # Spark version behavior differs:
        #   - Spark 4.0 rejects NANOS outright unless
        #     spark.sql.legacy.parquet.nanosAsLong=true, in which case ts
        #     reads as raw int64 nanos → truncate to µs ourselves;
        #   - Spark 4.1+ ignores that legacy conf and reads NANOS natively
        #     as TIMESTAMP_NTZ, already truncated to µs.
        # Both paths end at a µs TimestampType, matching DuckDB's
        # TIMESTAMP_NS → TIMESTAMP truncation, so the two engines see
        # identical values on either Spark version.
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read(spark, f"{sf_dir}/events.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # session tz is UTC, so NTZ → TIMESTAMP keeps the wall-clock value
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read(spark, f"{sf_dir}/{name}.parquet")


def fixture_path(name: str) -> str:
    return f"{FIXTURES_DIR}/{name}.parquet"


# Input bytes one spread task should own after a rebalance (overridable
# per deployment). Scan-side compressed parquet understates the
# downstream stage's in-flight volume by the codec ratio (~4-8× for
# text) times the consumer's row fan-out (3-gram shingles, char
# trigrams, chunk windows: 3-50×), so 256 KiB of INPUT per task puts
# the actual exploded stage data in the guide §2.2 partition-sizing
# band (~8-64 MB/task) instead of hash-spreading kilobytes across the
# whole cluster. Measured at sf0.1/local[32] (r15, same-instrument
# medians): byte-derived targets beat repartition(defaultParallelism)
# on every datapipe query tried — qg3 0.98→0.51, qg7 0.56→0.33,
# qd9 0.69→0.36, qd2 0.92→0.35, qe5 0.92→0.47, qf5 1.61→0.94,
# q93 2.19→0.97 — and beat a fixed single partition on the
# explode-heavy ones (qg2 4.35 single vs 1.86 byte-derived), i.e. the
# OLD cores-derived target was pure scheduling overhead at small
# volume while zero spread serializes real compute; bytes track both
# regimes and scale with the input instead of the box.
_REBALANCE_BYTES_PER_TASK = 256 << 10


def rebalance_scan(
    df: DataFrame, bytes_per_task: int = _REBALANCE_BYTES_PER_TASK
) -> DataFrame:
    """Repartition an under-partitioned scan for compute-heavy consumers
    (explode/hash/UDF stages) to a BYTE-DERIVED width: enough tasks that
    each owns ~``bytes_per_task`` of input (default
    ``_REBALANCE_BYTES_PER_TASK``, sized for word-level explode
    consumers — callers with a materially larger fan-out, e.g.
    character-level trigram explodes at ~10-20× the word-gram row
    volume, pass a proportionally smaller value), never more than the
    cluster's default parallelism.

    A single parquet row-group gives the scan ONE partition, which
    serializes every pre-shuffle stage in the consumer regardless of
    cluster size (observed: the winnowing fingerprint ran its whole
    10M-row explode+hash in one task). The repartition only fires when
    the scan reads at most half the default parallelism in FILES — a
    no-op on production inputs (many files), a parallelism fix on
    single-file inputs; AQE cannot help here because the bottleneck
    precedes the first exchange.

    The spread WIDTH is derived from the scan's file bytes, not from
    the core count (r15, guide §2.2 — partition counts must track data
    size): ``repartition(defaultParallelism)`` pinned 32 tasks onto
    kilobyte inputs, and because a user-specified repartition is
    exempt from AQE coalescing, every downstream map stage inherited
    the 32-way spread; the 8-core bench beat the 32-core bench on 22
    queries (PERF_r14 scaling block) on exactly these paths. When the
    file size cannot be stat'ed (non-local filesystem), fall back to
    the old cores-wide spread — at that point the input is a real
    multi-file table and the fire condition almost surely no-ops.

    The under-partitioned signal is ``len(df.inputFiles())``, NOT
    ``df.rdd.getNumPartitions()``: the ``.rdd`` conversion forces full
    plan analysis plus eager file-partition planning on the driver at
    every query build — harmless at sf0.1, measurable on a
    many-thousand-file production scan (ADVICE r04). Few files ⇒ few
    partitions unless a file exceeds maxPartitionBytes (row-group
    splitting only raises parallelism, making the fire-condition safely
    conservative); the quiet case — many tiny files packed into few
    partitions — is the production shape where rebalance was a
    deliberate no-op anyway."""
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    files = df.inputFiles()
    nfiles = len(files)
    if not (nfiles and nfiles * 2 <= cores):
        return df
    size = 0
    for p in files:
        local = p
        if local.startswith("file://"):
            local = local[len("file://"):]
        elif local.startswith("file:"):
            local = local[len("file:"):]
        try:
            size += os.path.getsize(local)
        except OSError:
            size = -1
            break
    if size < 0:
        target = cores
    else:
        target = min(cores, max(1, -(-size // bytes_per_task)))
    if target <= nfiles:
        # the scan already has at least this much parallelism; a
        # repartition would only add an exchange (and its sort)
        return df
    return df.repartition(target)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a test table from parquet FOOTER metadata — a
    driver-side file-stat, never a Spark job.

    Sizing parameters (LSH plane counts, IVF nlist) need the corpus
    cardinality before the query plan is built; running ``df.count()``
    for that schedules a separate full-scan job per query invocation,
    outside the returned plan and easy to miss in cost accounting
    (ADVICE r7). Parquet footers carry the row count per file, so the
    answer costs one metadata read per file. At production scale the
    same number comes from catalog statistics
    (``ANALYZE TABLE``/Delta stats); this is the no-catalog equivalent.
    """
    import pyarrow.parquet as pq

    if name in FIXTURE_TABLES:
        path = fixture_path(name)
    else:
        path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
        return total
    return pq.ParquetFile(path).metadata.num_rows
