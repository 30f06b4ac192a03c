"""Source/sink round-trips: the engine's non-parquet intake formats,
declared as oracle-checked queries.

The reference's only source is a directory of ``key\tvalue`` text
files (``worker/WorkerServlet.java:512-529``) -- already covered by
``read_kv_text_dir`` and the disk-to-disk Job API query. This module
covers the formats a real pipeline ingests alongside parquet: CSV
with an explicit schema, JSON-lines, and a partitioned parquet layout
whose partition column prunes at the scan.

Each staging function writes the fixture table into
``.tmp/roundtrip/`` once per (sf, format) and returns the path; the
declared queries read the staged copy back and aggregate, so the
oracle (the same aggregate over the original parquet) verifies the
round-trip preserved content, not just row counts.

100 TB posture: CSV/JSON are *ingest* formats -- schema declared
up front (no inference pass over 100 TB), then immediately landed to
columnar storage; the partitioned layout is the write side of
partition pruning (``PartitionFilters`` at the scan, asserted in
tests/test_bucketing.py).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession

from .tables import load_table, read_parquet, source_fingerprint

_REPO_ROOT = pathlib.Path(__file__).resolve().parents[2]

#: Explicit ingest schema for documents: inference is a full extra
#: pass over the data -- never acceptable at scale.
DOCUMENTS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def _needs_restage(stage: pathlib.Path, fp: str) -> bool:
    """True when the stage is absent OR its ``_STAGED`` marker records
    a different source fingerprint (fixture regenerated since staging).
    Clears the stale stage so the caller rebuilds from scratch."""
    import shutil

    done = stage / "_STAGED"
    if done.exists() and done.read_text() == fp:
        return False
    shutil.rmtree(stage, ignore_errors=True)
    stage.mkdir(parents=True, exist_ok=True)
    return True


def _stage(spark: SparkSession, sf_dir: str, fmt: str) -> pathlib.Path:
    sf_name = pathlib.Path(sf_dir).name
    stage = _REPO_ROOT / ".tmp" / "roundtrip" / f"{sf_name}_{fmt}"
    src_table = "documents" if fmt.startswith("documents") else "events"
    fp = source_fingerprint(sf_dir, src_table)
    if _needs_restage(stage, fp):
        if fmt == "documents_csv":
            (
                load_table(spark, sf_dir, "documents")
                .write.mode("overwrite")
                .option("header", True)
                .option("quoteAll", True)
                .csv(str(stage / "data"))
            )
        elif fmt == "documents_jsonl":
            (
                load_table(spark, sf_dir, "documents")
                .write.mode("overwrite")
                .json(str(stage / "data"))
            )
        elif fmt == "documents_orc":
            (
                load_table(spark, sf_dir, "documents")
                .write.mode("overwrite")
                .orc(str(stage / "data"))
            )
        elif fmt == "events_partitioned":
            (
                load_table(spark, sf_dir, "events")
                .write.mode("overwrite")
                .partitionBy("event_type")
                .parquet(str(stage / "data"))
            )
        elif fmt == "documents_csv_malformed":
            from pyspark.sql import functions as F

            docs = load_table(spark, sf_dir, "documents")
            qtext = F.concat(
                F.lit('"'), F.regexp_replace("text", '"', '""'), F.lit('"')
            )
            good = F.concat_ws(
                ",",
                F.col("doc_id").cast("string"),
                qtext,
                F.col("lang"),
                F.col("source"),
                F.col("n_chars").cast("string"),
            )
            # every 10th doc ships an unparseable doc_id ("X<id>") --
            # the deterministic corruption the oracle mirrors
            bad = F.concat(F.lit("X"), good)
            line = F.when(F.col("doc_id") % 10 == 0, bad).otherwise(good)
            docs.select(line.alias("value")).write.mode("overwrite").text(
                str(stage / "data")
            )
        else:  # pragma: no cover - guarded by callers
            raise ValueError(f"unknown roundtrip format {fmt!r}")
        (stage / "_STAGED").write_text(fp)
    return stage / "data"


def read_documents_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents staged to quoted, headered CSV and read back with the
    declared schema (no inference scan)."""
    path = _stage(spark, sf_dir, "documents_csv")
    return (
        spark.read.schema(DOCUMENTS_DDL)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(str(path))
    )


def read_documents_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents staged to JSON-lines and read back with the declared
    schema -- the log-ingest shape."""
    path = _stage(spark, sf_dir, "documents_jsonl")
    return spark.read.schema(DOCUMENTS_DDL).json(str(path))


def read_documents_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents staged to ORC and read back -- the second columnar
    container (stripe/row-group layout, predicate pushdown and column
    pruning like parquet), exercising that the engine is not
    parquet-coupled. Schema comes from ORC's self-describing footer."""
    path = _stage(spark, sf_dir, "documents_orc")
    return spark.read.orc(str(path))


def read_events_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events staged to a directory layout partitioned by event_type;
    a filter on the partition column prunes directories at the scan
    (PartitionFilters, not data skipping)."""
    path = _stage(spark, sf_dir, "events_partitioned")
    return read_parquet(spark, str(path))


def compacted_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction round-trip: a deliberately fragmented
    copy of events (64 tiny files, the pathological ingest layout) is
    compacted by ``sinks.compact_parquet_dir`` and read back. The
    fragmented copy stages once; compaction reruns per call (it IS the
    operator under test). File-count reduction is asserted in tests;
    the declared oracle verifies content preservation."""
    from .sinks import compact_parquet_dir

    sf_name = pathlib.Path(sf_dir).name
    stage = _REPO_ROOT / ".tmp" / "roundtrip" / f"{sf_name}_events_fragmented"
    fp = source_fingerprint(sf_dir, "events")
    if _needs_restage(stage, fp):
        (
            load_table(spark, sf_dir, "events")
            .repartition(64)
            .write.mode("overwrite")
            .parquet(str(stage / "data"))
        )
        (stage / "_STAGED").write_text(fp)
    return compact_parquet_dir(
        spark, str(stage / "data"), str(stage / "compacted")
    )


def read_events_schema_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on an append-only dataset: batch 1 was written
    BEFORE the ``props`` column existed, batch 2 after.
    ``mergeSchema=true`` unifies the footers at read time; old rows
    surface NULL for the added column -- the canonical grow-a-column
    path for a dataset too large to rewrite. (Per-file footer merging
    costs a planning pass; production pins the unified schema in a
    table catalog instead of re-merging every read.)"""
    sf_name = pathlib.Path(sf_dir).name
    stage = _REPO_ROOT / ".tmp" / "roundtrip" / f"{sf_name}_events_evolved"
    fp = source_fingerprint(sf_dir, "events")
    if _needs_restage(stage, fp):
        events = load_table(spark, sf_dir, "events")
        old = events.filter("event_id % 2 = 0").drop("props")
        new = events.filter("event_id % 2 = 1")
        old.write.mode("overwrite").parquet(str(stage / "data" / "batch=1"))
        new.write.mode("overwrite").parquet(str(stage / "data" / "batch=2"))
        (stage / "_STAGED").write_text(fp)
    return spark.read.option("mergeSchema", True).parquet(str(stage / "data"))


def read_documents_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-reality path: CSV with deterministically corrupted
    rows (unparseable doc_id on every 10th record), read in PERMISSIVE
    mode with an explicit ``_corrupt_record`` column -- bad rows
    surface as data instead of killing the job (or silently vanishing
    as DROPMALFORMED would). The 100 TB discipline: quarantine-and-
    count at ingest, never crash-or-drop."""
    path = _stage(spark, sf_dir, "documents_csv_malformed")
    return (
        spark.read.schema(DOCUMENTS_DDL + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("quote", chr(34))
        .option("escape", chr(34))
        .csv(str(path))
    )


def dynamic_overwrite_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition-overwrite round-trip -- THE idempotent
    batch-write pattern for date-partitioned tables: a daily rerun
    must replace ONLY the partitions it recomputed, never truncate
    the table (static overwrite mode would). Here the base table
    stages date-partitioned once; each call then recomputes the LAST
    day's slice (values deterministically doubled, derived from the
    ORIGINAL fixture so reruns are idempotent) and overwrites with
    ``partitionOverwriteMode=dynamic`` scoped to the write -- every
    other day's files are untouched, which the declared oracle
    verifies by content.

    100 TB posture: the rewrite job touches one day of data however
    large the table is; the per-write option (not a global conf
    mutation) keeps the dangerous static default for everything else.

    Returns the post-overwrite table read back from disk.
    """
    from pyspark.sql import functions as F

    sf_name = pathlib.Path(sf_dir).name
    stage = _REPO_ROOT / ".tmp" / "roundtrip" / f"{sf_name}_events_dynpart"
    fp = source_fingerprint(sf_dir, "events")
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    if _needs_restage(stage, fp):
        (
            events.write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(str(stage / "data"))
        )
        (stage / "_STAGED").write_text(fp)
    max_d = events.agg(F.max("event_date").alias("d")).collect()[0]["d"]  # bounded: 1 row
    updated = events.filter(F.col("event_date") == F.lit(max_d)).withColumn(
        "value", F.col("value") * 2
    )
    (
        updated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(str(stage / "data"))
    )
    return spark.read.parquet(str(stage / "data"))
