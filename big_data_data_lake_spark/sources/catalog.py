"""Table catalog over the parquet lake.

The reference treats HDFS directories as tables with filename-embedded
timestamps as the only metadata (consumer.py:121, dashboard.py:54-56).
Here a table is a parquet path registered in the Spark catalog as a
temp view — columnar scans, predicate pushdown, and column pruning for
free. At 100 TB these would be Delta/Iceberg tables partitioned by
ingest date; the access API is identical (``load_table`` /
``spark.table``), so the swap is a one-liner where the jars exist.

Source-operator coverage (SURVEY §2.1):
- S8/S9 parquet read (multi-file union is implicit in a directory scan)
- S6 option'd CSV (``read_csv`` below: quotechar, column pruning)
- S7 JSONL with explicit schema (``read_jsonl``)
- S11 pathGlobFilter

Parquet schema inference is a Spark job per read. ``load_table``
therefore infers each table's schema once per session and reads it back
with that schema afterwards: the cache key is the absolute path, the
fingerprint of the files it resolves to (``(size, mtime_ns)`` of a
single file, or the sorted ``(name, size, mtime_ns)`` of every data
file under a directory) and the session values that change parquet
inference. A rewritten or added file, or a flipped inference setting,
misses and infers again. A path ``os.stat`` cannot see (``hdfs://``,
``s3a://``) is inferred on every read, as Spark does by itself.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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


# session values that change the schema parquet inference yields
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# per session: (absolute path, inference confs) -> (fingerprint, schema);
# a changed fingerprint replaces its path's entry, so the map holds one
# schema per table and setting, not one per file version
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _fingerprint(path: str):
    """What a parquet read of ``path`` resolves to: ``(size,
    mtime_ns)`` of a single file, or the sorted ``(relative name, size,
    mtime_ns)`` of every data file under a directory (names starting
    with ``_`` or ``.`` are skipped, as Spark's listing skips them).
    None when ``os.stat`` cannot see the path."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                full = os.path.join(root, n)
                fst = os.stat(full)
                files.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(files))


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of ``path`` from this session's cache, inferred (one
    Spark job) and cached on a miss. A path ``os.stat`` cannot see is
    inferred on every call."""
    fp = _fingerprint(path)
    if fp is None:
        return spark.read.parquet(path).schema
    key = (os.path.abspath(path), tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    cache = _SCHEMAS.setdefault(spark, {})
    hit = cache.get(key)
    if hit is None or hit[0] != fp:
        hit = cache[key] = (fp, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one lake table; Catalyst prunes columns/filters.

    The scan reads with the table's schema from this session's cache
    (module docstring), so only the first read of a table version
    starts an inference job; a path ``os.stat`` cannot see is inferred
    on every call.

    ``events.ts`` is parquet TIMESTAMP(NANOS): with
    ``spark.sql.legacy.parquet.nanosAsLong`` it scans as a raw nanos
    long, re-typed here to a microsecond timestamp (integer ``div`` so
    no double round-trip) — byte-identical to DuckDB's ns→us read.

    Naive parquet timestamps (``isAdjustedToUTC=false`` — how the
    current testdata is written) infer as TIMESTAMP_NTZ under Spark 4
    defaults, which epoch functions (``unix_micros`` & co.) reject.
    Normalize NTZ → TIMESTAMP here: under a UTC session timezone the
    cast is bit-identical to DuckDB's naive-timestamp semantics, and it
    keeps the engine independent of the caller's
    ``inferTimestampNTZ`` setting.
    """
    path = f"{sf_dir}/{name}.parquet"
    schema = _parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    types = {f.name: f.dataType for f in schema.fields}
    if name == "events" and isinstance(types.get("ts"), LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [c for c, t in types.items() if isinstance(t, TimestampNTZType)]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every lake table as a temp view so SQL entry points work."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    quote: str = '"',
    header: bool = True,
    glob: str | None = None,
) -> DataFrame:
    """CSV source with the reference's dimension-table options.

    Mirrors the metadata read at consumer.py:31-37 /
    process_silver.py:233-238: single-quote ``quotechar``, explicit
    column pruning (``usecols``), tolerant parsing. Column pruning is
    expressed as a select so Catalyst pushes it into the scan.
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("quote", quote)
        .option("mode", "PERMISSIVE")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.csv(path)
    if columns:
        df = df.select(*columns)
    return df


def read_jsonl(spark: SparkSession, path: str, schema=None, glob: str | None = None) -> DataFrame:
    """JSON-Lines source (bronze zone shape, process_silver.py:74-100).

    Always pass a schema in production — inference is a full extra pass.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.json(path)
