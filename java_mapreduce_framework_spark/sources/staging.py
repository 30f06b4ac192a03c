"""Fingerprint-staged warehouse tables that survive SESSION restarts.

The staging contract (``_SOURCE_FP`` marker = fingerprint of the
source parquet, re-stage on mismatch) has been shared by the LSH /
ANN index builders, the bucketed-join staging, and ``staged_table``
since round 4. What every site missed until round 12: the default
local catalog is SESSION-SCOPED (in-memory; no Hive metastore), so a
fresh session always saw ``tableExists == False`` and paid a full
rebuild-and-rewrite of every staged table on first touch -- per
session, not per fixture generation (VERDICT r11 #4: that rebuild was
most of ``dedup_index_append``'s fixed cost, and every index-family
query paid it once per bench run).

``ensure_staged_table`` closes the gap: when the catalog entry is
missing but the on-disk staging is intact AND fingerprint-current, it
ADOPTS the existing files by registering an external table over them
(``CREATE TABLE ... USING PARQUET [CLUSTERED BY ...] LOCATION ...``)
-- a metadata-only operation. Bucket specs re-attach exactly (Spark
re-reads bucket ids from the file names the bucketed write produced),
so probe joins stay exchange-free on the index side; asserted in
tests/test_bucketing.py.

At 100 TB the same contract holds against a real shared metastore --
the adopt path is then simply never taken -- but the build-once
semantics this module encodes (pay the sketch + bucketed write once
per corpus generation, never per session) is the production contract.
"""
from __future__ import annotations

import os
import pathlib
import shutil
import uuid
from typing import Callable, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from .tables import parquet_schema


def stage_once(stage: pathlib.Path, build: Callable[[str], None]) -> pathlib.Path:
    """Build-once DIRECTORY fixture (stream source dirs, kv text
    dirs): ensure ``stage`` exists, building it at most once.

    ``build(tmp_path)`` must create+populate ``tmp_path``. Staged
    directories are built under a unique temp name and renamed into
    place: a concurrent builder of the same fixture either wins the
    rename or discards its copy, so readers never observe a
    half-written directory (a bare marker-file protocol is racy
    between the build and the marker touch). The rename is atomic on
    POSIX; if another process won the race the temp copy is dropped
    and the winner's directory is used.
    """
    if stage.exists():
        return stage
    stage.parent.mkdir(parents=True, exist_ok=True)
    tmp = stage.parent / f".build-{uuid.uuid4().hex[:8]}-{stage.name}"
    build(str(tmp))
    try:
        os.rename(tmp, stage)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not stage.exists():
            raise
    return stage


def warehouse_dir(spark: SparkSession) -> pathlib.Path:
    return pathlib.Path(
        urlparse(
            spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        ).path
        or "spark-warehouse"
    )


def _has_parquet(path: pathlib.Path) -> bool:
    return path.is_dir() and any(
        p.suffix == ".parquet" or p.name.endswith(".snappy.parquet")
        for p in path.iterdir()
        if not p.name.startswith(("_", "."))
    )


def _register_external(
    spark: SparkSession,
    name: str,
    path: pathlib.Path,
    bucket_cols: Sequence[str] | None,
    sort_cols: Sequence[str] | None,
    buckets: int | None,
) -> None:
    """Adopt an existing staged directory as an external table --
    schema from the parquet footers (marker files start with '_' and
    are invisible to the scan; inferred once per staged generation by
    ``tables.parquet_schema``), bucket spec re-declared verbatim so
    the catalog metadata matches the layout the original bucketed
    write produced."""
    ddl = parquet_schema(spark, str(path)).toDDL()
    clause = ""
    if bucket_cols:
        bs = ", ".join(bucket_cols)
        ss = ", ".join(sort_cols or bucket_cols)
        clause = (
            f" CLUSTERED BY ({bs}) SORTED BY ({ss})"
            f" INTO {buckets} BUCKETS"
        )
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING PARQUET{clause}"
        f" LOCATION '{path.resolve()}'"
    )


def ensure_staged_table(
    spark: SparkSession,
    name: str,
    build: Callable[[], DataFrame],
    source_fp: str | None,
    bucket_cols: Sequence[str] | None = None,
    sort_cols: Sequence[str] | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Return table ``name``, staging it at most once per fixture
    generation:

    1. cataloged + fingerprint-current -> return it;
    2. cataloged but stale -> drop, fall through to rebuild;
    3. not cataloged, on-disk staging fingerprint-current -> ADOPT
       (external registration, metadata-only -- the fresh-session
       fast path);
    4. otherwise -> build() and bucketed-write, stamp the marker.
    """
    path = warehouse_dir(spark) / name
    marker = path / "_SOURCE_FP"
    fp_ok = (
        source_fp is not None
        and marker.exists()
        and marker.read_text() == source_fp
    )
    if spark.catalog.tableExists(name):
        if source_fp is None or fp_ok:
            return spark.table(name)
        spark.sql(f"DROP TABLE {name}")  # stale: marker mismatch
    if fp_ok and _has_parquet(path):
        _register_external(spark, name, path, bucket_cols, sort_cols, buckets)
        return spark.table(name)
    # a fresh session's catalog is empty even when a previous session
    # left the managed location on disk; saveAsTable refuses to reuse
    # it, so clear the disposable staging dir before rebuilding
    shutil.rmtree(path, ignore_errors=True)
    writer = build().write.mode("overwrite")
    if bucket_cols:
        writer = writer.bucketBy(buckets, *bucket_cols).sortBy(
            *(sort_cols or bucket_cols)
        )
    writer.saveAsTable(name)
    if source_fp is not None:
        marker.write_text(source_fp)
    return spark.table(name)
