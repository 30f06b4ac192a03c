"""Structured Streaming variants of the flagship operators (SURVEY.md
M6): the unbounded analog of the reference's continuous job queue.

Both queries read the bounded parquet fixture as a file-source stream
(``readStream``), run the *same* aggregation expressions as the batch
operators, and drain with ``trigger(availableNow)`` into a memory
sink -- so on bounded input the result provably equals the batch run
(this is the declared equivalence check, SURVEY.md section 5.2).

Production shape at scale: source = Kafka/files arriving, sink =
parquet/Delta with checkpointing, outputMode=update + watermark on
event time for bounded state. The memory sink + complete mode here is
the bounded-fixture harness, not the deployment posture; watermark
usage is exercised in ``stream_sessionize_state`` tests.
"""

from __future__ import annotations

import contextlib
import os
import pathlib
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_col
from ..sources.tables import load_table, parquet_schema, read_parquet

_REPO_ROOT = pathlib.Path(__file__).resolve().parents[2]


def _stage_stream_dir(spark: SparkSession, sf_dir: str, table: str) -> str:
    """The parquet file source requires a *directory*; fixtures are
    single files. Stage each (sf, table) once under .tmp/stream/:
    a symlink for plain tables (always tracks the live fixture), a
    rewritten microsecond-timestamp copy for events (whose
    TIMESTAMP(NANOS) physical type Spark cannot scan -- see
    sources.tables.load_table). The ``_STAGED`` marker records the
    source parquet's fingerprint, so a regenerated fixture re-stages
    instead of being shadowed by the stale copy."""
    from ..sources.roundtrip import _needs_restage
    from ..sources.tables import source_fingerprint

    sf_name = pathlib.Path(sf_dir).name
    stage = _REPO_ROOT / ".tmp" / "stream" / f"{sf_name}_{table}"
    fp = source_fingerprint(sf_dir, table)
    if _needs_restage(stage, fp):
        if table == "events":
            load_table(spark, sf_dir, table).write.mode("overwrite").parquet(
                str(stage / "data")
            )
        else:
            os.symlink(f"{sf_dir}/{table}.parquet", stage / f"{table}.parquet")
        (stage / "_STAGED").write_text(fp)
    return str(stage / "data") if table == "events" else str(stage)


def _ckpt_root() -> pathlib.Path:
    """Checkpoint parent for bounded drains: state-store and commit-log
    I/O dominates small-batch stateful queries, so prefer tmpfs
    (/dev/shm) when present. Production deployments pass a durable
    checkpointLocation instead (see stream_tumbling_window_watermarked);
    this root only serves the bounded-equivalence harness, where the
    checkpoint is discarded after the drain."""
    shm = pathlib.Path("/dev/shm")
    base = shm if shm.is_dir() else (_REPO_ROOT / ".tmp")
    return base / "jmrf_ckpt"


def stream_state_partitions(spark) -> int:
    """Shuffle/state partition count for streaming queries.

    A stateful streaming operator creates ONE state-store instance per
    shuffle partition, and every microbatch commits a delta file (plus
    periodic snapshot + maintenance) per store; streaming also has no
    AQE, so nothing coalesces the constant away. The per-partition
    fixed cost therefore scales with ``spark.sql.shuffle.partitions``
    itself, not with data (measured at sf0.1 / local[32]:
    stream_tumbling_window_watermarked 7.1 s @ 32 partitions -> 2.7 s
    @ 8 -> 1.7 s @ 4; stream_stream_join 6.4 s -> 4.4 s @ 8).

    State partitions are PINNED by the checkpoint at first start, so
    production sizes them for peak state volume up front --
    ``JMRF_STREAM_STATE_PARTITIONS`` (typically 2-3x total cores on a
    cluster; cannot be changed without a new checkpoint). The local
    default min(8, cores) suits the bounded fixture drains, whose
    state is KB-scale."""
    env = os.environ.get("JMRF_STREAM_STATE_PARTITIONS")
    if env:
        return int(env)
    from ..session import default_parallelism

    return min(8, default_parallelism())


@contextlib.contextmanager
def _stream_conf(spark):
    """Scope the streaming partition count to one bounded drain: the
    query binds ``spark.sql.shuffle.partitions`` when it starts; the
    session-wide (batch) value is restored on exit."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(stream_state_partitions(spark))
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drain_to_memory(stream_df: DataFrame, mode: str = "complete") -> DataFrame:
    """Run a bounded streaming query to completion via availableNow and
    return the memory-sink table."""
    import shutil

    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = _ckpt_root() / name
    with _stream_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.table(name)


def stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming flagship: same explode/groupBy/count plan as
    ``operators.text.wordcount``, driven by the file-source stream."""
    path = _stage_stream_dir(spark, sf_dir, "documents")
    schema = parquet_schema(spark, path)
    docs = spark.readStream.schema(schema).parquet(path)
    counts = (
        docs.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return _drain_to_memory(counts)


def stream_kvtext_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole lifecycle, streaming: its ``key\\tvalue``
    directory format consumed through the REGISTERED custom source
    (``readStream.format("kvtext")`` — partition-per-new-file
    microbatches, sources/kvtext_datasource.py) into the flagship
    wordcount plan. Bounded drain of the staged directory equals the
    batch wordcount — the declared oracle."""
    import pathlib

    from ..plans.jobs import _REPO_ROOT
    from ..sources.kvtext_datasource import register_kvtext
    from ..sources.sinks import write_kv_text_dir
    from ..sources.staging import stage_once
    from ..sources.tables import load_table

    sf_name = pathlib.Path(sf_dir).name
    in_dir = _REPO_ROOT / ".tmp" / "jobapi" / f"{sf_name}_documents_kv"

    def _build(tmp: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("key"),
            F.col("text").alias("value"),
        )
        write_kv_text_dir(docs, tmp)

    stage_once(in_dir, _build)
    register_kvtext(spark)
    kv = spark.readStream.format("kvtext").load(str(in_dir))
    counts = (
        kv.select(F.explode(tokens_col("value")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return _drain_to_memory(counts)


def stream_sessionize(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Streaming gap-based sessionization with the native
    ``session_window`` generator -- true streaming session state
    (windows merge as late events arrive; SURVEY.md section 7 stretch
    item). Same plan as the batch ``temporal.session_window_agg``, so
    bounded input gives bounded-equality with the batch oracle.

    Unbounded posture: add ``withWatermark('ts', ...)`` + update mode
    so closed sessions emit and their state is dropped; complete mode
    here keeps the bounded-equality contract."""
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path)
    agg = (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )
    return _drain_to_memory(agg)


def stream_dedup_watermarked(
    spark: SparkSession, sf_dir: str, delay: str = "3650 days"
) -> DataFrame:
    """Streaming dedup via the NATIVE bounded-state API,
    ``dropDuplicatesWithinWatermark`` -- the production answer when
    "duplicates arrive close together in event time" (retries,
    at-least-once sources): state per key lives only until the
    watermark passes its event time + delay, so the store is bounded
    by the duplicate horizon, not by stream history. This sits next
    to the ``applyInPandasWithState`` variant (``stream_dedup_state``)
    which keeps arbitrary per-key aggregates forever; when the need
    is plain dedup-within-horizon, the native operator is simpler and
    its state eviction is engine-managed.

    Emits the KEY COLUMNS ONLY: within one horizon the operator
    guarantees exactly one row per key, but WHICH physical row
    survives is arrival-order-dependent -- projecting the key makes
    the output deterministic, and on bounded input (delay spanning
    the whole fixture) it equals ``SELECT DISTINCT`` over the keys,
    the declared oracle. Short-delay eviction behavior is exercised
    in tests/test_streaming.py with a two-file forced batch order."""
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path)
    deduped = (
        events.select("user_id", "event_type", "ts")
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _drain_to_memory(deduped, mode="append")


def stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup against the PERSISTED corpus index --
    the continuous-crawl production shape: documents arrive as a
    stream, each microbatch is sketched row-locally and LSH-probed
    against the bucketed MinHash index, emitting the new-vs-corpus
    near-dup pairs as they surface.

    Composition per microbatch (via ``foreachBatch``, so full batch
    semantics apply inside): ``minhash_signatures_rowlocal`` (no
    shuffle -- per-doc state is bounded by doc length, exactly right
    for streaming where each doc is one arriving row) feeds
    ``probe_minhash_index`` (exchange-free on the index side). Pair
    dedup within the batch is EXACT across the whole stream because
    candidates are keyed by the arriving doc: each doc_a's pairs are
    produced entirely in the microbatch that carries doc_a.

    Batch-stream equivalence: a doc's signature and band hashes are
    bit-identical to the batch aggregation path (asserted in tests),
    so the bounded drain equals ``dedup_incremental_minhash`` on the
    same batch -- the declared check. Output goes to a parquet sink
    per batch (append; batch-id idempotence is demonstrated separately
    by ``stream_foreachbatch_idempotent``)."""
    import shutil

    from ..operators import dedup
    from ..sources.tables import source_fingerprint

    sf_name = pathlib.Path(sf_dir).name
    name = f"mh_idx_{sf_name.replace('.', '_')}"
    corpus = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    dedup.build_minhash_index(
        spark, corpus, name, source_fp=source_fingerprint(sf_dir, "documents")
    )

    src = _stage_stream_dir(spark, sf_dir, "documents")
    schema = parquet_schema(spark, src)
    root = _REPO_ROOT / ".tmp" / "stream" / f"{sf_name}_increment_sink"
    sink, ckpt = root / "sink", root / "ckpt"
    shutil.rmtree(root, ignore_errors=True)

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        sigs = dedup.minhash_signatures_rowlocal(
            batch_df.filter(F.col("doc_id") % 10 == 0)
        ).select("doc_id", "sig")
        out = dedup.probe_minhash_index(spark, sigs, name)
        out.write.mode("append").parquet(str(sink))

    with _stream_conf(spark):
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(probe_batch)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(str(sink))


def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the engine's arbitrary-state surface, SURVEY.md section 7 stretch):
    exact streaming dedup that remembers, per content hash, the lowest
    doc_id seen and the copy count across microbatches.

    Each update emits the key's current (keep_doc_id, n_copies), so on
    bounded input the final state equals the batch ``dedup_exact``
    aggregation -- the declared oracle. State per key is two int64s:
    at 100 TB the state store scales with DISTINCT hashes only, and a
    production deployment would add state TTL via the timeout conf.

    r13 (guide §4): the per-key (min, count) fold IS a streaming
    aggregation -- the ``applyInPandasWithState`` form it replaced
    paid one Arrow round-trip per content-hash group per microbatch
    (plus the arbitrary-state machinery that measurably degrades the
    whole session; see bench.py's STATEFUL_LAST note) for semantics
    the native operator states in one line. Native streaming
    ``groupBy().agg(min, count)`` keeps identical per-key state in
    the JVM state store, updates it incrementally per microbatch,
    and map-side partial aggregation now shuffles one row per
    (partition, distinct hash) instead of every document row.
    Result-identical (oracle re-verified); the plan drops the Python
    boundary entirely."""
    path = _stage_stream_dir(spark, sf_dir, "documents")
    schema = parquet_schema(spark, path)
    docs = spark.readStream.schema(schema).parquet(path)
    out = (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )
    return _drain_to_memory(out)


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static equi-join: the event stream enriched with the
    static customer dimension, aggregated per market segment.

    Stream-static joins are *stateless* on the stream side -- every
    microbatch joins against the current static snapshot, so no
    watermark or join state store is involved (contrast stream-stream
    joins, which buffer both sides). The dim is explicitly broadcast:
    per microbatch the stream partitions never shuffle for the join,
    which is the only sane shape for a 100 TB/day stream against a
    dimension that fits in memory; a big dimension would instead be a
    bucketed/Delta table co-partitioned with the stream's shuffle.
    """
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path)
    customer = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    agg = (
        events.join(customer, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return _drain_to_memory(agg)


def stream_tumbling_window(
    spark: SparkSession, sf_dir: str, duration: str = "1 hour"
) -> DataFrame:
    """Streaming tumbling-window aggregation over events: the
    slide == size special case of ``stream_sliding_window`` (one
    shared windowed-agg body — any drain/watermark change applies to
    both). On an unbounded source this would add
    ``withWatermark('ts', ...)`` and update/append mode; complete
    mode keeps bounded-input equality."""
    return stream_sliding_window(spark, sf_dir, size=duration, slide=duration)


def stream_tumbling_window_watermarked(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "1 hour",
    delay: str = "30 minutes",
) -> DataFrame:
    """The *unbounded-deployment* posture as a declared operator:
    watermarked tumbling-window aggregation in APPEND mode into a real
    file sink (parquet + checkpoint), then the sink read back.

    This is what the complete-mode bounded-equality queries above
    don't exercise: ``withWatermark`` bounds the window state store
    (closed windows are evicted), append mode emits each window
    exactly once -- when the watermark passes its end -- and the
    parquet sink + checkpoint is the restartable production shape of
    the reference's continuous job queue
    (``master/MasterServlet.java:145-178``).

    Bounded-equivalence contract: emissions accumulate in the sink
    regardless of microbatch slicing, so on a bounded fixture the sink
    holds exactly the windows whose end <= final watermark
    (max event time - delay); trailing windows stay in state and are
    deliberately withheld. The oracle applies the same cutoff.

    One sink + checkpoint directory per scale factor, cleared at the
    start of each call: a call rewrites it from scratch, so repeated
    calls leave one directory behind, not one per call.
    """
    import shutil

    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path)
    agg = (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    sf_name = pathlib.Path(sf_dir).name
    run = _REPO_ROOT / ".tmp" / "stream" / f"{sf_name}_wm"
    shutil.rmtree(run, ignore_errors=True)
    with _stream_conf(spark):
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(run / "out"))
            .option("checkpointLocation", str(run / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # explicit schema: a zero-emission run leaves no data files to
    # infer from (cannot happen on the fixtures, but fail loud > flaky)
    return spark.read.schema(agg.schema).parquet(str(run / "out"))


def stream_sliding_window(
    spark: SparkSession, sf_dir: str, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Streaming hopping-window aggregation: the unbounded analog of
    ``temporal.sliding_window_agg`` — the SAME ``window(size, slide)``
    generator plan runs under the microbatch executor, each event
    expanding into size/slide overlapping windows before the partial
    aggregation. Unbounded deployment adds ``withWatermark`` to bound
    window state; complete mode keeps bounded-input equality with the
    batch operator."""
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path)
    agg = (
        events.groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _drain_to_memory(agg)


def stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "30 minutes",
    delay: str = "1 hour",
    state_partitions: int = 8,
) -> DataFrame:
    """Watermarked stream-stream inner join: click events joined to
    the same user's view events within a ``lookback`` window -- the
    attribution-join shape (view precedes click by at most 30 min).

    Both sides carry watermarks and the join predicate bounds
    ``view_ts`` on BOTH sides of ``click_ts``, which is what lets the
    state store evict buffered rows once the watermark passes --
    without the time bound, a stream-stream join buffers forever.
    Inner-join rows emit as soon as both sides arrive (the watermark
    gates only state cleanup, not emission), so on the bounded fixture
    the drained result equals the equivalent batch self-join -- the
    declared oracle.

    100 TB posture: both streams shuffle-partition on ``user_id``;
    per-key buffered state is bounded by rate x (lookback + delay).
    ``state_partitions`` sizes the state-store partitioning (4 stores
    per partition for a join: key/value x left/right) -- set it to
    cluster cores in production; the local default keeps the
    per-partition store open/commit overhead proportional to the
    bounded fixture.
    """
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        return _stream_stream_join_inner(spark, path, schema, lookback, delay)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _stream_stream_join_inner(spark, path, schema, lookback, delay, how="inner"):
    events = spark.readStream.schema(schema).parquet(path)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("view_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", delay)
    )
    joined = clicks.join(
        views,
        F.expr(
            f"""
            user_id = view_user_id
            AND view_ts BETWEEN click_ts - INTERVAL {lookback} AND click_ts
            """
        ),
        how,
    ).select("user_id", "click_id", "view_id")
    return _drain_to_memory(joined, mode="append")


def stream_stream_join_left(
    spark: SparkSession,
    sf_dir: str,
    lookback: str = "30 minutes",
    delay: str = "1 hour",
    state_partitions: int = 8,
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join -- the attribution
    shape of ``stream_stream_join`` plus the semantics users get wrong:
    an unmatched click emits its null-view row only when the joint
    watermark proves no matching view can still arrive (watermark past
    ``click_ts``, the top of the click's match window), at which point
    its buffered state is evicted. Matched pairs emit immediately,
    exactly as in the inner join.

    Bounded-equivalence contract: the drained sink holds every matched
    pair, but ONLY those null rows whose click cleared the final
    watermark (max event time - ``delay``); trailing unmatched clicks
    are withheld, as on a live stream. The declared oracle is the batch
    left join with the null rows restricted to that cutoff. The final
    no-data microbatch (on by default) is what flushes the last
    evictions; without it the drain would under-emit.

    Same 100 TB posture as the inner form -- see ``stream_stream_join``
    (state keyed on user_id, bounded by rate x (lookback + delay)).
    """
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        return _stream_stream_join_inner(
            spark, path, schema, lookback, delay, how="left_outer"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def stream_session_window_watermarked(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    delay: str = "30 minutes",
) -> DataFrame:
    """Unbounded-posture sessionization: watermarked ``session_window``
    in APPEND mode -- a session emits exactly once, when the watermark
    passes its merged window end (last event + gap), and its state is
    dropped. Completes the streaming window matrix next to the
    watermarked tumbling query (fixed windows) and complete-mode
    ``stream_sessionize`` (bounded-equality form).

    Bounded-equivalence contract: the drained sink holds exactly the
    batch sessions whose last event <= max event time - delay - gap
    (window end = last event + gap, watermark = max - delay) --
    verified empirically against the batch plan and encoded in the
    declared oracle's HAVING cutoff. Trailing open sessions are
    deliberately withheld, as on a live stream."""
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path).withWatermark("ts", delay)
    agg = (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )
    return _drain_to_memory(agg, mode="append")


def stream_foreachbatch_idempotent(
    spark: SparkSession, sf_dir: str, replays: int = 1, resumes: int = 0
) -> DataFrame:
    """Exactly-once file sink via ``foreachBatch`` + batch-id keyed
    dynamic partition overwrite -- the production recovery posture for
    sinks without transactional streaming support.

    Each microbatch writes its rows into a ``batch_id=<n>`` partition
    with ``partitionOverwriteMode=dynamic``: a replayed batch (restart
    after failure, checkpoint rollback) OVERWRITES its own partition
    instead of appending a duplicate -- idempotence comes from the
    (deterministic) batch id keying the write, not from the sink being
    transactional. An append-mode sink here would double-count on every
    replay; that is precisely the mistake this pattern exists to avoid.

    The declared query makes the claim falsifiable: it drains the
    bounded stream once, then REPLAYS the whole drain ``replays`` more
    times from a wiped checkpoint (same files, same availableNow
    batching, so the same batch ids rewrite the same partitions), and
    returns per-type counts read back from the sink. Any duplication
    would show up against the batch ``GROUP BY`` oracle. ``resumes``
    adds drains with the checkpoint KEPT: the commit log marks the
    source files done, so a resume processes zero batches and leaves
    the sink untouched (asserted in tests via file mtimes).

    100 TB posture: the sink write inherits the stream's parallelism
    (one file per task per partition), dynamic overwrite touches only
    the replayed batch's partition directory, and recovery cost is one
    batch rewrite -- nothing rescans the sink. ``batch_id`` is a
    physical recovery key, not a query dimension; readers prune it out.
    """
    import shutil

    sf_name = pathlib.Path(sf_dir).name
    src = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, src)
    root = _REPO_ROOT / ".tmp" / "stream" / f"{sf_name}_fbsink"
    sink, ckpt = root / "sink", root / "ckpt"
    shutil.rmtree(root, ignore_errors=True)

    def _drain_once(wipe_ckpt: bool = True) -> None:
        if wipe_ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(str(sink))
            )

        with _stream_conf(spark):
            q = (
                spark.readStream.schema(schema)
                .parquet(src)
                .select("event_id", "user_id", "event_type")
                .writeStream.foreachBatch(write_batch)
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    for _ in range(1 + replays):
        _drain_once()
    for _ in range(resumes):
        _drain_once(wipe_ckpt=False)
    return (
        spark.read.parquet(str(sink))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )


def stream_quality_filter(
    spark: SparkSession, sf_dir: str, min_quality: float = 0.5
) -> DataFrame:
    """Streaming ingest curation: the BATCH ``text.quality_score``
    operator applied UNCHANGED to a document stream, filtered at the
    keep threshold — the unified batch/stream contract in one line.
    Because the operator is map-only (pure row expressions), the
    streaming plan is stateless append mode: no state store, no
    watermark, unbounded-safe at any rate, and each microbatch is
    embarrassingly parallel. This is the production shape for
    score-and-drop at ingest time (dedup against the corpus index is
    the stateful sibling, ``stream_dedup_incremental``)."""
    from ..operators.text import quality_score

    path = _stage_stream_dir(spark, sf_dir, "documents")
    schema = parquet_schema(spark, path)
    docs = spark.readStream.schema(schema).parquet(path)
    kept = quality_score(docs).filter(F.col("quality") >= min_quality)
    return _drain_to_memory(kept, mode="append")


def stream_topk_windowed(
    spark: SparkSession, sf_dir: str, duration: str = "1 hour", k: int = 3
) -> DataFrame:
    """Streaming "trending now": top-k event types per tumbling
    window. Structured Streaming cannot rank inside an unbounded
    aggregation (rank needs the window CLOSED), so this is the
    standard two-tier topology: the stream maintains the windowed
    counts — the unbounded, high-volume half — and the rank runs as a
    bounded batch query over the drained aggregate, whose size is
    windows × type-alphabet regardless of input rate. In a live
    deployment the rank tier reads the continuously-updated sink
    (or runs in foreachBatch on each update); bounded-input drain
    keeps the result equal to the batch oracle.

    Emits (window_start, event_type, n_events, rnk).
    """
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path)
    agg = (
        events.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    counts = _drain_to_memory(agg)
    rank_w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(rank_w))
        .filter(F.col("rnk") <= k)
    )


def stream_index_ingest(
    spark: SparkSession, sf_dir: str, n_slices: int = 4
) -> DataFrame:
    """The FULL growing-corpus ingest lifecycle as a stream -- the
    step past ``stream_dedup_incremental``'s probe-only shape: each
    microbatch is LSH-probed against the persisted index, its
    SURVIVORS (docs with no near-dup in the corpus-so-far) are
    appended back into the index inside the same ``foreachBatch``,
    so LATER microbatches deduplicate against EARLIER microbatches'
    survivors with no re-index ever. This is the continuous-crawl
    loop ``dedup_index_append`` stages once, run end to end under
    streaming semantics.

    Verdict AS DATA (the dedup_index_append oracle discipline): the
    streamed survivor set must equal a sequential batch replay of the
    same slices (probe -> ``dedup_incremental_apply`` ->
    ``dedup_index_append``, same order); one row per streamed doc,
    ``ingest_match`` TRUE iff stream and replay agreed on its fate --
    so the plain SQL oracle pins every row TRUE. Docs WITHIN one
    microbatch are probed against the index only, not each other --
    in BOTH paths, by the same incremental-apply contract.

    Microbatch order is pinned: the streamed tenth of the corpus is
    staged as ``n_slices`` parquet files with strictly increasing
    mtimes, and the file source runs ``maxFilesPerTrigger=1`` with
    ``latestFirst=false``, so slices arrive oldest-first exactly as
    the replay consumes them.

    Staged once per fixture generation (``_DONE_FP`` marker): a rerun
    on the same fixture reads the persisted verdict parquet; a
    regenerated fixture drops both ingest indexes and replays the
    whole lifecycle. 100 TB posture: per microbatch the corpus never
    reshuffles (both index joins bucketed on the index side), and the
    append writes stay bucket-spec-preserving -- state grows with
    survivors only."""
    import shutil
    import time as _time

    from ..operators import dedup
    from ..sources.tables import source_fingerprint

    sf_name = pathlib.Path(sf_dir).name
    tag = sf_name.replace(".", "_")
    fp = source_fingerprint(sf_dir, "documents")
    root = _REPO_ROOT / ".tmp" / "stream" / f"{sf_name}_index_ingest"
    src, sink, ckpt = root / "src", root / "sink", root / "ckpt"
    done = root / "_DONE_FP"
    verdict_path = str(root / "verdict")
    if done.exists() and done.read_text() == fp:
        return read_parquet(spark, verdict_path)

    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    name_s, name_r = f"mh_ing_s_{tag}", f"mh_ing_r_{tag}"
    for nm in (name_s, name_r):
        for suffix in ("_bands", "_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {nm}{suffix}")

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    streamed = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "slice", (F.col("doc_id") / 10 % n_slices).cast("int")
    )
    for i in range(n_slices):
        p = src / f"slice_{i}.parquet"
        streamed.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("overwrite").parquet(str(p))
        t = _time.time() + i  # strictly increasing mtimes, slice order
        for f_ in pathlib.Path(p).rglob("*"):
            os.utime(f_, (t, t))
        os.utime(p, (t, t))

    dedup.build_minhash_index(spark, corpus, name_s)
    dedup.build_minhash_index(spark, corpus, name_r)

    schema = parquet_schema(spark, str(src / "slice_0.parquet"))

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        survivors = dedup.dedup_incremental_apply(spark, batch_df, name_s)
        dedup.dedup_index_append(spark, survivors, name_s)
        # the append's saveAsTable runs on the MICROBATCH CLONE
        # session (batch_df's lineage), which refreshes the clone's
        # relation cache only -- without an explicit refresh the
        # OUTER session's probe would read a stale file listing and
        # the next batch would silently miss this batch's survivors
        # (observed, not hypothetical: the crafted cross-batch dup
        # survived until this line existed)
        spark.catalog.refreshTable(f"{name_s}_bands")
        spark.catalog.refreshTable(f"{name_s}_sigs")
        survivors.select("doc_id").write.mode("append").parquet(str(sink))

    with _stream_conf(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(str(src) + "/*.parquet")
            .writeStream.foreachBatch(ingest_batch)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # sequential batch replay, same slice order, same per-slice contract
    replay_parts = []
    for i in range(n_slices):
        sl = read_parquet(spark, str(src / f"slice_{i}.parquet"))
        sv = dedup.dedup_incremental_apply(spark, sl, name_r)
        dedup.dedup_index_append(spark, sv, name_r)
        replay_parts.append(sv.select("doc_id").localCheckpoint())
    replay = replay_parts[0]
    for p_ in replay_parts[1:]:
        replay = replay.unionByName(p_)

    stream_sv = spark.read.parquet(str(sink)).withColumn(
        "in_stream", F.lit(True)
    )
    replay_sv = replay.withColumn("in_replay", F.lit(True))
    verdict = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
        .join(stream_sv, "doc_id", "left")
        .join(replay_sv, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce("in_stream", F.lit(False))
                == F.coalesce("in_replay", F.lit(False))
            ).alias("ingest_match"),
        )
    )
    verdict.write.mode("overwrite").parquet(verdict_path)
    done.write_text(fp)
    return read_parquet(spark, verdict_path)


def stream_session_timeout(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    delay: str = "30 minutes",
) -> DataFrame:
    """Timer-driven session closure -- a user's session must close
    even if the user NEVER sends another event, which no data-driven
    operator can do; only a timer fired by the advancing watermark
    (natively, the ``session_window`` state machine's window-close).

    Per user, gap-based sessions (the ``sessionize`` contract):
    sessions already closed by a later in-stream event emit from the
    update function itself (closed_by = 'gap'); the trailing OPEN
    session parks in state with an event-time timer at
    last_event + gap, and emits when the watermark passes the timer
    (closed_by = 'timeout'), its state dropped. Trailing sessions the
    final watermark (max event time - delay) never reaches stay
    withheld, exactly as on a live stream -- the declared oracle
    encodes that cutoff, making the bounded drain == batch sessions
    minus the withheld tail.

    r13 (guide §4): the per-user gap/timer bookkeeping above is
    word-for-word what the NATIVE ``session_window`` state machine
    already does inside the JVM, so the Python state boundary
    (FlatMapGroupsInPandasWithState: one Arrow round-trip per user
    group per microbatch, plus the arbitrary-state store machinery
    that measurably degrades the whole session) bought generality
    this operator does not use. The rewrite drains the native session
    aggregation (the ``stream_sessionize`` plan) and applies the
    DECLARED emission rule as a batch post-pass over the tiny session
    table:

    - session boundaries: native ``session_window`` merges an event
      into the open session when ``t - last <= gap`` (inclusive --
      pinned by tests/test_opt_r13.py's exact-boundary fixture),
      which is exactly the declared contract (``t - last > gap``
      starts a new session);
    - ``closed_by``: a session later followed by another in-stream
      event of the same user was closed by that event ('gap'); only
      each user's chronologically LAST session can park in state and
      time out;
    - emission: 'gap' sessions always emit (the update function
      emitted them in-stream); the trailing session emits iff the
      final watermark (max event time - delay, ms granularity)
      passed its timer at last_event + gap -- the exact integer
      arithmetic of the declared oracle.

    Result-identical to the applyInPandasWithState form (oracle
    re-verified); the plan drops the Python boundary entirely.
    """
    m = re.fullmatch(r"(\d+)\s+(second|minute|hour)s?", delay.strip())
    if not m:
        raise ValueError(f"unsupported delay {delay!r}")
    delay_ms = int(m.group(1)) * {"second": 1, "minute": 60, "hour": 3600}[
        m.group(2)
    ] * 1000
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = (
        spark.readStream.schema(schema).parquet(path).select("user_id", "ts")
    )
    gap_us = gap_s * 1_000_000
    sess = (
        events.groupBy(
            F.session_window("ts", f"{gap_us} microseconds").alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )
    out = _drain_to_memory(sess)
    end_us = F.unix_micros(F.col("session_end"))
    # max event time == max session end: every event lies in a session
    mx = out.agg(F.max(F.unix_micros("session_end")).alias("mxus"))
    is_last = end_us == F.max(end_us).over(Window.partitionBy("user_id"))
    # integer ms arithmetic, exactly the declared oracle's `// 1000`
    timer_fired = F.expr(
        f"(unix_micros(session_end) + {gap_us}) div 1000"
    ) < F.expr("mxus div 1000") - F.lit(delay_ms)
    return (
        out.crossJoin(F.broadcast(mx))
        .withColumn("is_last", is_last)
        .filter(~F.col("is_last") | timer_fired)
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            F.when(~F.col("is_last"), F.lit("gap"))
            .otherwise(F.lit("timeout"))
            .alias("closed_by"),
        )
    )


def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE INTO kernel as a stream: change batches arrive as
    files (base snapshot rows at version 0, amended rows at version
    1), and every microbatch upserts into a persisted parquet target
    inside ``foreachBatch`` -- read target, union the batch, keep the
    newest (version, ts) per key, overwrite. This is the streaming
    form of ``cdc_latest_wins``'s batch kernel and the production
    shape of a continuously-maintained mutable table on an immutable
    store (Delta/Iceberg MERGE does exactly this per commit).

    Latest-wins is associative and commutative over batches, so the
    final target is INDEPENDENT of how the file source slices
    microbatches (``maxFilesPerTrigger=2`` forces several) -- which
    is what makes the bounded drain equal to the batch oracle, and
    what makes the operator restart-safe in production: re-merging an
    already-applied batch is a no-op.

    At 100 TB the full-target rewrite becomes partition-pruned
    (dynamic partition overwrite on the touched keys' partitions --
    exercised by sink_dynamic_overwrite); the MERGE logic here is
    unchanged.

    Emits the final table (event_id, ts, user_id, event_type, value,
    version).
    """
    import shutil

    from ..sources.roundtrip import _needs_restage
    from ..sources.tables import source_fingerprint

    sf_name = pathlib.Path(sf_dir).name
    stage = _REPO_ROOT / ".tmp" / "stream" / f"{sf_name}_cdc_upsert"
    fp = source_fingerprint(sf_dir, "events")
    if _needs_restage(stage, fp):
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        base = ev.withColumn("version", F.lit(0))
        upd = (
            ev.filter(F.pmod("event_id", F.lit(10)) == 0)
            .select(
                "event_id",
                (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
                "user_id",
                "event_type",
                F.round(F.col("value") * 2, 2).alias("value"),
                F.lit(1).alias("version"),
            )
        )
        shutil.rmtree(stage, ignore_errors=True)
        base.repartition(3).write.mode("overwrite").parquet(
            str(stage / "data")
        )
        upd.repartition(1).write.mode("append").parquet(str(stage / "data"))
        (stage / "_STAGED").write_text(fp)

    src = str(stage / "data")
    schema = parquet_schema(spark, src)
    sink = stage / "target"
    ckpt = _ckpt_root() / f"cdc_upsert_{uuid.uuid4().hex[:12]}"
    shutil.rmtree(sink, ignore_errors=True)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        bs = batch_df.sparkSession
        if (sink / "_SUCCESS").exists():
            target = bs.read.parquet(str(sink))
            merged_in = target.unionByName(batch_df)
        else:
            merged_in = batch_df
        w = Window.partitionBy("event_id").orderBy(
            F.col("version").desc(), F.col("ts").desc()
        )
        merged = (
            merged_in.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .drop("rnk")
            .localCheckpoint()  # materialize BEFORE overwriting the input
        )
        merged.write.mode("overwrite").parquet(str(sink))

    with _stream_conf(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(str(sink)).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.col("version").cast("int").alias("version"),
    )


def stream_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact DAU, bounded-state form (the declared plan;
    promoted from the complete-mode set-state variant below, VERDICT
    r10 #4): a watermarked streaming ``dropDuplicates`` on
    (day, user_id) emits each pair exactly once in append mode, and
    the per-day count is an agg over the deduped emission. State is
    one entry per distinct (day, user) *inside the lateness horizon*
    -- the 1-day watermark evicts closed days, so state is ~2 days of
    users regardless of stream length, vs the set-state variant whose
    per-day user-id sets grow with history and are replayed every
    trigger by complete mode.

    The count here runs on the drained sink rather than as a chained
    windowed agg because append mode only emits windows the watermark
    has closed -- the in-flight final day would be silently missing
    from a bounded drain (and from the count-distinct oracle). At
    scale the downstream count is the same one-shuffle agg whether it
    reads the dedup emission from a sink or a chained stage.

    Exactness: dedup emission is exact (the bounded drain processes
    the backlog in one availableNow batch, where the watermark is
    still at its initial floor, so no fixture row can be
    late-dropped); the per-day count of exact distinct pairs equals
    batch ``count(DISTINCT user_id)``.
    """
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path)
    pairs = (
        events.select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .withWatermark("day", "1 day")
        .dropDuplicates(["day", "user_id"])
    )
    drained = _drain_to_memory(pairs, mode="append")
    return drained.groupBy("day").agg(
        F.count("*").cast("long").alias("dau")
    )


def stream_daily_active_users_setstate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixture-scale exact-DAU variant: per-day distinct user count as
    ONE stateful aggregation (a per-day user-id set via
    ``collect_set`` in complete mode -- streaming rejects
    ``count_distinct``). Kept as the single-operator reference for
    bounded-equivalence tests; NOT the declared plan, because the
    set state grows with history and complete mode re-emits the full
    result every trigger. The declared bounded-state form is
    ``stream_daily_active_users`` above."""
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path)
    agg = (
        events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.size(F.collect_set("user_id")).cast("long").alias("dau"))
    )
    return _drain_to_memory(agg)


def stream_hll_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming approximate DAU -- the HLL-state scale path that
    ``stream_daily_active_users``'s docstring names: per-day
    ``approx_count_distinct`` keeps ONE constant-size HyperLogLog
    sketch per day as the streaming state (vs one entry per distinct
    (day, user) for the exact form), so state is bounded by the
    calendar alone at ANY user cardinality -- the form you deploy
    when a day can hold a billion distinct users.

    rsd = 0.02 (the engine's approx_count_distinct default posture);
    the drained counts' relative error against the exact per-day
    distinct is bounded in RECALL.json (<= 0.06, the 3-sigma
    ceiling), which is why this op is rows-only rather than
    hash-oracled: the sketch estimate is approximate BY DESIGN.

    Emits (day, dau_approx).
    """
    path = _stage_stream_dir(spark, sf_dir, "events")
    schema = parquet_schema(spark, path)
    events = spark.readStream.schema(schema).parquet(path)
    agg = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.approx_count_distinct("user_id", rsd=0.02)
        .cast("long")
        .alias("dau_approx")
    )
    return _drain_to_memory(agg)
