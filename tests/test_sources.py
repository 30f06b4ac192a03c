import os
import pathlib
import re
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from java_mapreduce_framework_spark.session import tune_session
from java_mapreduce_framework_spark.sources.tables import (
    load_table,
    parquet_schema,
    read_kv_text_dir,
    read_parquet,
)


def test_read_kv_text_dir(spark, tmp_path):
    (tmp_path / "part1.txt").write_text("apple\t1\nbanana\t2\n")
    (tmp_path / "part2.txt").write_text("cherry\twith\ttabs\n")
    df = read_kv_text_dir(spark, str(tmp_path))
    rows = {r["key"]: r["value"] for r in df.collect()}
    assert rows == {"apple": "1", "banana": "2", "cherry": "with\ttabs"}


def test_kvtext_datasource_contract_and_partitioning(spark, tmp_path):
    """The registered kvtext format must (a) parse exactly like
    read_kv_text_dir — first-tab split, tabs preserved in the value,
    tabless line -> null value — and (b) scan one partition per data
    file, skipping marker files."""
    from java_mapreduce_framework_spark.sources.kvtext_datasource import (
        register_kvtext,
    )

    (tmp_path / "part1.txt").write_text("apple\t1\nbanana\t2\n\n")
    (tmp_path / "part2.txt").write_text("cherry\twith\ttabs\nnotab\n")
    (tmp_path / "part3.txt").write_text("dupe\tx\n")
    (tmp_path / "_SUCCESS").write_text("")
    register_kvtext(spark)
    df = spark.read.format("kvtext").load(str(tmp_path))
    rows = {r["key"]: r["value"] for r in df.collect()}
    assert rows == {
        "apple": "1",
        "banana": "2",
        "cherry": "with\ttabs",
        "notab": None,
        "dupe": "x",
        "": None,  # blank line: empty key, null value (both readers)
    }
    assert df.rdd.getNumPartitions() == 3
    # parse contract equivalence with the projection-based reader
    legacy = {
        r["key"]: r["value"]
        for r in read_kv_text_dir(spark, str(tmp_path)).collect()
    }
    assert legacy == rows


def test_kvtext_datasource_write_roundtrip(spark, tmp_path):
    """format('kvtext') write -> read roundtrip: raw lines, no
    escaping, null value = bare key; overwrite wipes prior files."""
    from java_mapreduce_framework_spark.sources.kvtext_datasource import (
        register_kvtext,
    )

    register_kvtext(spark)
    out = str(tmp_path / "kv_out")
    df = spark.createDataFrame(
        [("a", "1"), ("b", "x\ty"), ("c", None)], "key string, value string"
    )
    df.write.format("kvtext").mode("overwrite").save(out)
    back = {
        r["key"]: r["value"]
        for r in spark.read.format("kvtext").load(out).collect()
    }
    assert back == {"a": "1", "b": "x\ty", "c": None}
    # overwrite semantics: second write replaces, never appends
    df2 = spark.createDataFrame([("z", "9")], "key string, value string")
    df2.write.format("kvtext").mode("overwrite").save(out)
    back2 = {
        r["key"]: r["value"]
        for r in spark.read.format("kvtext").load(out).collect()
    }
    assert back2 == {"z": "9"}


def test_kvtext_stream_reader_offsets_and_drain(spark, tmp_path):
    """Streaming kvtext: offset bookkeeping hands each file to exactly
    one microbatch partition, and a bounded drain equals the batch
    read of the same directory."""
    from java_mapreduce_framework_spark.sources.kvtext_datasource import (
        KvTextStreamReader,
        register_kvtext,
    )

    (tmp_path / "a.txt").write_text("x\t1\ny\t2\n")
    (tmp_path / "b.txt").write_text("x\t3\n")
    rdr = KvTextStreamReader({"path": str(tmp_path)})
    assert rdr.initialOffset() == {"files": []}
    end = rdr.latestOffset()
    assert end == {"files": ["a.txt", "b.txt"]}
    parts = rdr.partitions(rdr.initialOffset(), end)
    assert sorted(p.path.rsplit("/", 1)[1] for p in parts) == ["a.txt", "b.txt"]
    # a later batch sees only files beyond the committed offset
    (tmp_path / "c.txt").write_text("z\t9\n")
    parts2 = rdr.partitions(end, rdr.latestOffset())
    assert [p.path.rsplit("/", 1)[1] for p in parts2] == ["c.txt"]
    assert list(rdr.read(parts2[0])) == [("z", "9")]

    register_kvtext(spark)
    from pyspark.sql import functions as F  # noqa: F811

    stream = (
        spark.readStream.format("kvtext")
        .load(str(tmp_path))
        .groupBy("key")
        .agg(F.count("*").alias("n"))
    )
    from java_mapreduce_framework_spark.streaming.jobs import _drain_to_memory

    got = {r["key"]: r["n"] for r in _drain_to_memory(stream).collect()}
    assert got == {"x": 2, "y": 1, "z": 1}


def test_load_table_events_timestamp_us(spark, sf_small):
    events = load_table(spark, sf_small, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    # microsecond floor of the nanos fixture: values must be non-null
    assert events.filter(F.col("ts").isNull()).count() == 0


def _jobs_fired(spark, fn) -> int:
    """Number of Spark jobs submitted while ``fn()`` runs. A sentinel
    job in a second group runs after it; the status store applies job
    starts in submission order, so once the sentinel is visible every
    job ``fn`` fired has been counted."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(group + "-end", group)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 60
    while not tracker.getJobIdsForGroup(group + "-end"):
        assert time.time() < deadline, "sentinel job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_load_table_repeat_fires_no_jobs(spark, sf_small, tmp_path):
    """The first load of a table infers its schema with a Spark job;
    the second is served from the schema cache and fires none."""
    shutil.copy(f"{sf_small}/lineitem.parquet", tmp_path / "lineitem.parquet")
    d = str(tmp_path)
    assert _jobs_fired(spark, lambda: load_table(spark, d, "lineitem")) >= 1
    assert _jobs_fired(spark, lambda: load_table(spark, d, "lineitem")) == 0
    assert load_table(spark, d, "lineitem").count() == (
        load_table(spark, sf_small, "lineitem").count()
    )


def test_schema_cache_follows_rewrite_at_same_path(spark, tmp_path):
    """A copy rewritten in place with an extra column is re-inferred:
    the cache key holds the file's size and mtime, so a regenerated
    fixture is never shadowed by its old schema."""
    path = tmp_path / "region.parquet"
    base = {"r_regionkey": [0, 1], "r_name": ["A", "B"]}
    pq.write_table(pa.table(base), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(pa.table({**base, "r_extra": [1.5, 2.5]}), path)
    assert parquet_schema(spark, str(path)).names == ["r_regionkey", "r_name", "r_extra"]
    df = load_table(spark, str(tmp_path), "region")
    assert sorted(r["r_extra"] for r in df.collect()) == [1.5, 2.5]


def test_schema_cache_invalidated_by_added_part_file(spark, tmp_path):
    """Directory inputs (the split layout: several part files per
    table) key on every part file, so one more file is a cache miss."""
    d = tmp_path / "orders.parquet"
    d.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"o_orderkey": [i]}), d / f"part-{i}.parquet")
    (d / "_SUCCESS").write_text("")
    path = str(d)
    assert _jobs_fired(spark, lambda: parquet_schema(spark, path)) >= 1
    assert _jobs_fired(spark, lambda: parquet_schema(spark, path)) == 0
    (d / "_SUCCESS").write_text("marker files are not scanned")
    assert _jobs_fired(spark, lambda: parquet_schema(spark, path)) == 0
    pq.write_table(pa.table({"o_orderkey": [2]}), d / "part-2.parquet")
    assert _jobs_fired(spark, lambda: parquet_schema(spark, path)) >= 1
    assert _jobs_fired(spark, lambda: parquet_schema(spark, path)) == 0
    got = sorted(r["o_orderkey"] for r in read_parquet(spark, path).collect())
    assert got == [0, 1, 2]


def test_schema_cache_concurrent_callers_and_rewrite(spark, tmp_path):
    """Threads share the cache (foreachBatch bodies run off the main
    thread). Under concurrent lookups and an in-place rewrite, every
    call returns one of the two real schemas, and once the rewrite is
    done the cache serves the new one: the key is taken before
    inference, so no interleaving stores the old schema under the new
    key."""
    import sys
    import threading

    path = tmp_path / "part.parquet"
    pq.write_table(pa.table({"p_partkey": list(range(50))}), path)
    old, new = ["p_partkey"], ["p_partkey", "p_extra"]
    seen, errors = [], []

    def worker():
        try:
            for _ in range(6):
                seen.append(parquet_schema(spark, str(path)).names)
        except Exception as e:  # noqa: BLE001 -- reported below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        # regenerate atomically: a reader sees the old file or the new
        tmp = tmp_path / "part.parquet.tmp"
        pq.write_table(pa.table({"p_partkey": list(range(50)), "p_extra": [0.5] * 50}), tmp)
        os.replace(tmp, path)
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(seen) == 48 and all(names in (old, new) for names in seen)
    assert parquet_schema(spark, str(path)).names == new


def test_load_table_events_nanos_cached_schema(spark, tmp_path):
    """TIMESTAMP(NANOS) events: the cached schema types ``ts`` as long
    (the session's nanosAsLong), and a read GIVEN that long schema
    still decodes nanos -- both loads floor to the same microsecond
    instants."""
    ns = [1_700_000_000_123_456_789, 1_700_000_360_000_000_999]
    tbl = pa.table(
        {"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))}
    )
    pq.write_table(tbl, tmp_path / "events.parquet", version="2.6")
    ts_field = pq.read_schema(tmp_path / "events.parquet").field("ts")
    assert ts_field.type == pa.timestamp("ns")
    # a plain session reads nanos as long once tune_session (applied by
    # every registered query) has run; load_table no longer sets it
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    tune_session(spark)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"

    def micros():
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        rows = df.select("event_id", F.unix_micros("ts").alias("us")).collect()
        return sorted((r["event_id"], r["us"]) for r in rows)

    first = micros()
    schema = parquet_schema(spark, str(tmp_path / "events.parquet"))
    assert schema["ts"].dataType.typeName() == "long"
    assert _jobs_fired(spark, lambda: load_table(spark, str(tmp_path), "events")) == 0
    assert micros() == first == [(1, ns[0] // 1000), (2, ns[1] // 1000)]


#: ``<reader>.read.parquet(<args>).schema`` -- schema inference outside
#: the cache; arguments may nest one level of parentheses
_INFERENCE = re.compile(r"\bread\s*\.\s*parquet\((?:[^()]|\([^()]*\))*\)\s*\.\s*schema\b")


def test_no_schema_inference_outside_tables_module():
    """Every parquet schema lookup goes through
    ``sources.tables.parquet_schema``: a ``read.parquet(...).schema``
    anywhere else in the package (``experimental/`` excepted) brings
    back one footer-inference job per call."""
    for sample in (
        "schema = spark.read.parquet(path).schema",
        'spark.read.parquet(str(src / "slice_0.parquet")).schema',
        "ddl = spark.read.parquet(\n    str(path)\n).schema.toDDL()",
    ):
        assert _INFERENCE.search(sample), sample
    assert not _INFERENCE.search("spark.read.schema(s).parquet(path)")

    pkg = pathlib.Path(__file__).resolve().parents[1] / "java_mapreduce_framework_spark"
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg)
        if rel.parts[0] == "experimental" or rel == pathlib.Path("sources/tables.py"):
            continue
        src = py.read_text()
        for m in _INFERENCE.finditer(src):
            offenders.append(f"{rel}:{src.count(chr(10), 0, m.start()) + 1}")
    assert not offenders, offenders


def test_load_table_pushdown_projection(spark, sf_small):
    df = load_table(spark, sf_small, "lineitem").select("l_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "l_orderkey" in plan


def test_csv_roundtrip_preserves_rows_exactly(spark, sf_small):
    from java_mapreduce_framework_spark.sources.roundtrip import (
        read_documents_csv,
        read_documents_jsonl,
    )
    from java_mapreduce_framework_spark.sources.tables import load_table

    orig = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in load_table(spark, sf_small, "documents").collect()
    }
    via_csv = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in read_documents_csv(spark, sf_small).collect()
    }
    via_jsonl = {
        (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
        for r in read_documents_jsonl(spark, sf_small).collect()
    }
    assert via_csv == orig
    assert via_jsonl == orig


def test_staged_artifacts_refresh_on_fixture_change(spark, sf_small, tmp_path):
    """Fingerprint-keyed staging: a staged copy re-derives when the
    source parquet changes (size/mtime), instead of silently shadowing
    the regenerated fixture."""
    import shutil

    from java_mapreduce_framework_spark.sources.roundtrip import (
        _needs_restage,
        _stage,
    )
    from java_mapreduce_framework_spark.sources.tables import source_fingerprint

    # _needs_restage contract directly
    stage = tmp_path / "stage"
    assert _needs_restage(stage, "fp1") is True  # absent -> stage
    (stage / "_STAGED").write_text("fp1")
    assert _needs_restage(stage, "fp1") is False  # fresh -> reuse
    assert _needs_restage(stage, "fp2") is True  # changed -> cleared
    assert not (stage / "_STAGED").exists()

    # end to end: stage, fake a regeneration by rewriting the marker,
    # and observe the staged data directory actually rebuild
    data = _stage(spark, sf_small, "documents_jsonl")
    marker = data.parent / "_STAGED"
    assert marker.read_text() == source_fingerprint(sf_small, "documents")
    marker.write_text("stale-fingerprint")
    old_parts = {p.name for p in data.iterdir() if p.name.startswith("part-")}
    data2 = _stage(spark, sf_small, "documents_jsonl")
    assert data2 == data
    assert marker.read_text() == source_fingerprint(sf_small, "documents")
    new_parts = {p.name for p in data2.iterdir() if p.name.startswith("part-")}
    # rewritten files carry fresh write UUIDs: proof the stage re-derived
    assert new_parts and new_parts.isdisjoint(old_parts)


def test_malformed_csv_quarantines_not_drops(spark, sf_small):
    """PERMISSIVE + _corrupt_record: every 10th record surfaces as a
    corrupt row carrying the raw line; good rows parse completely."""
    from java_mapreduce_framework_spark.sources.roundtrip import (
        read_documents_csv_malformed,
    )
    from pyspark.sql import functions as F

    df = read_documents_csv_malformed(spark, sf_small).cache()
    try:
        total = df.count()
        corrupt = df.filter(F.col("_corrupt_record").isNotNull()).collect()
        assert len(corrupt) == total // 10
        assert all(r["doc_id"] is None for r in corrupt)
        assert all(r["_corrupt_record"].startswith("X") for r in corrupt)
        good = df.filter(F.col("_corrupt_record").isNull())
        assert good.filter(F.col("doc_id").isNull()).count() == 0
        # round-trip fidelity on the good rows
        assert good.filter(F.length("text") != F.col("n_chars")).count() == 0
    finally:
        df.unpersist()
