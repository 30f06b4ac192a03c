"""Table sources.

Two source families, mirroring the reference's single source plus the
engine's canonical fixture format:

1. ``read_kv_text_dir`` -- the reference's native source: a directory
   of plain-text files, one ``key\\tvalue`` record per line
   (scan at ``worker/WorkerServlet.java:510-530``, parse at
   ``worker/MapThread.java:50-51``). Kept for Job-API fidelity tests.
2. ``load_table`` -- parquet fixture tables (TESTDATA.md). Columnar,
   predicate-pushdown- and column-pruning-friendly; this is the 100 TB
   path (a directory of parquet files partitioned on disk behaves
   identically).

Parquet schemas are resolved once per process. ``spark.read.parquet``
without a schema launches a Spark job that reads a footer to infer it
(52-90 ms at 4 cores, against 5-10 ms for a schema-given read), and
the engine reads the same fixtures and staged copies over and over.
``parquet_schema`` infers a path's schema once and caches it;
``read_parquet`` reads with that schema. An entry is keyed on the
absolute path, the ``(name, size, mtime_ns)`` of every file Spark
would scan under it (symlinks followed, ``_``/``.`` names skipped as
Spark skips them) and ``spark.sql.legacy.parquet.nanosAsLong``, which
changes the inferred type of TIMESTAMP(NANOS) columns. A path keeps
at most one entry, replaced when its key changes, so a regenerated or
grown input is re-inferred and memory stays bounded by the number of
distinct paths read. Outputs that a query rewrites on every call --
the streaming queries' parquet sinks, ``sinks.compact_parquet_dir``'s
output, the dynamic-overwrite round trip -- are read with plain
``spark.read.parquet``: their key changes on every call, so the cache
would add its file walk to the inference job and save nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: absolute path -> (key, schema); see the module docstring
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _scanned_files(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(name, size, mtime_ns)`` of every file a parquet scan of
    ``path`` reads: the file itself, or the non-hidden files below a
    directory. ``os.stat`` follows symlinks (streaming stages link to
    the fixtures)."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    files = []
    for root, dirs, names in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of the parquet file or directory at ``path``, inferred by
    Spark on the first call and served from the process-wide cache
    until the files under ``path`` or ``nanosAsLong`` change.

    The key is taken BEFORE inference: if the files change while
    Spark reads them, the stored key is already stale and the next
    call re-infers. Concurrent callers can at worst infer twice; the
    dict's single get/set operations keep every entry consistent.
    A path with no local files (missing, or on a remote filesystem)
    has nothing to key on and is inferred on every call. Every caller
    gets the same ``StructType`` object: treat it as read-only
    (``StructType.add`` mutates in place)."""
    abspath = os.path.abspath(path)
    files = _scanned_files(abspath)
    if not files:
        return spark.read.parquet(path).schema
    key = (files, spark.conf.get(_NANOS_AS_LONG, "false"))
    hit = _SCHEMAS.get(abspath)
    if hit is not None and hit[0] == key:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[abspath] = (key, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the cached schema: no
    footer-inference job once ``path`` has been read in this process."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table through ``read_parquet``: the schema is
    inferred on the first load of a fixture in this process and reused
    after that (keyed on the fixture file's size and mtime and on
    ``nanosAsLong``, see the module docstring), so a repeat load fires
    no Spark job. The read is a plain schema-given parquet scan, so
    Catalyst retains pushdown/pruning; no caching of data here
    (operators decide).

    ``events.ts`` has shipped under two physical parquet types across
    fixture generations: TIMESTAMP(NANOS) (which Spark cannot
    represent -- read nanos as long under the session's
    ``nanosAsLong=true``, set by ``session.get_spark`` and
    ``session.tune_session``, then floor-divide to microseconds) and
    plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark
    reads as TIMESTAMP_NTZ -- cast to the session-zone TIMESTAMP,
    identical instants under the engine's pinned UTC session). Both
    normalize to the same microsecond instants the DuckDB oracle sees
    via ``CAST(ts AS TIMESTAMP)``, so the choice is detected from the
    loaded schema, not assumed.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":  # TIMESTAMP(NANOS) read as raw nanos
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type == "timestamp_ntz":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def source_fingerprint(sf_dir: str, *names: str) -> str:
    """Cheap content key for staged-artifact invalidation: size and
    mtime of each source parquet file. Staging sites record this in
    their ``_STAGED`` marker and re-stage when it changes, so a
    regenerated fixture can never be silently shadowed by a stale
    staged copy (the failure mode: queries read the stage, the DuckDB
    oracle reads the fresh parquet)."""
    import pathlib

    parts = []
    for name in names:
        st = pathlib.Path(f"{sf_dir}/{name}.parquet").stat()
        parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Input-skew guard for operators with heavy PRE-SHUFFLE work
    (optimization guide §2.5: "one huge unsplittable file ...
    repartition immediately after the read").

    The fixture tables are single-file single-ROW-GROUP parquet, so a
    scan is ONE task regardless of cores or ``maxPartitionBytes`` --
    and every expensive map-side chain above it (explode+hash streams,
    wide md5 fan-outs, Arrow kernels) serializes on one core while the
    other N-1 idle. Measured on stats_permutation_test at sf0.1 /
    local[32]: 4.4 s -> 1.4 s from this guard alone.

    The guard is CONDITIONAL on the scan's actual split count, so at
    production scale (splits >= cores -- any healthy 100 TB layout) it
    returns the input unchanged and adds NO exchange. When it fires,
    it hash-repartitions on ``key_cols`` (deterministic under task
    retry, and no sort-before-repartition cost -- round-robin
    ``repartition(n)`` pays a per-partition sort, measured +50% on a
    600k-row spread) to ``default_parallelism()`` partitions. Pass a
    high-cardinality key (the table's id column); callers should
    project to the needed columns FIRST so the exchange carries only
    those bytes.
    """
    from ..session import default_parallelism

    n = default_parallelism()
    # INPUT CONTRACT (ADVICE r12): the split probe below uses .rdd,
    # which under AQE finalizes the adaptive plan -- on a plan that
    # contains exchanges that means EXECUTING the upstream shuffle
    # stages as real jobs during what looks like plan inspection. So
    # the probe only runs on LEAF SCANS (projections/filters over a
    # file source, where .rdd just builds the physical RDD chain,
    # ~50 ms, no job); any input that already has an exchange-bearing
    # operator above the scan established its own parallelism there
    # and passes through unchanged -- the same no-op contract as a
    # production multi-split layout.
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if any(k in plan for k in ("Join", "Aggregate", "Repartition", "Window")):
        return df
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(c) for c in key_cols])


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None, header: bool = True
) -> DataFrame:
    """CSV interchange source. Pass an explicit DDL ``schema`` in
    production -- schema inference is a full extra pass over the data
    and type-drifts between runs; at 100 TB both are unacceptable."""
    r = spark.read.option("header", str(header).lower())
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines interchange source; same explicit-schema guidance as
    CSV. Corrupt records land in ``_corrupt_record`` (PERMISSIVE mode)
    instead of failing the scan -- filter them, don't crash a 100 TB
    read on one bad line."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar source — same pushdown/pruning posture as parquet;
    completes the read side of the ``write_table`` format matrix."""
    return spark.read.orc(path)


def read_kv_text_dir(spark: SparkSession, path: str) -> DataFrame:
    """Reference-native source: directory of text files of
    ``key\\tvalue`` lines -> DataFrame(key string, value string).

    Mirrors the semantics of the reference scan: every line is one
    record, split at the first tab (``worker/MapThread.java:50-51``
    uses ``split("\\t")`` and takes fields 0 and 1, so content after a
    second tab is dropped -- we reproduce the two-field contract by
    limiting the split).
    """
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), "\t", 2)
    # F.get, not getItem: a tabless line has no second field, and
    # under ANSI semantics getItem(1) would fail the whole scan on
    # one malformed line — get() degrades it to a null value instead
    return lines.select(
        F.get(parts, 0).alias("key"),
        F.get(parts, 1).alias("value"),
    )
