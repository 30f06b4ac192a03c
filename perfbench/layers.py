"""Per-layer metrics from a traced run: spans, the event log and the
streaming-progress events, reduced to one number per metric.

Unless a name ends in ``_ratio``, ``_frac``, ``_min`` or is
``session.get_spark_s`` (a mean per call), each metric is a mean per
traced query execution. A span's self time is its duration minus the
part of it that its child spans cover; a Spark job or stage counts
toward the innermost span open when it was submitted.
"""

from __future__ import annotations

from collections import defaultdict

from eventlog import PYTHON_METRICS, EventLog
from tracing import LAYER_MODULES, Span

QUERY, BUILD, EXEC = "query", "plans.registry.build", "spark.exec"

#: layers reported as ``<layer>.calls``, ``.self_s`` and ``.jobs``
CALL_LAYERS = tuple(m for m in LAYER_MODULES if m not in ("session", "sources.tables"))

_EXEC_STAGE_FIELDS = (
    ("tasks", "tasks"),
    ("failed_tasks", "failed_tasks"),
    ("task_run_s", "run_s"),
    ("task_cpu_s", "cpu_s"),
    ("task_deser_s", "deser_s"),
    ("sched_delay_s", "sched_delay_s"),
    ("input_bytes", "input_bytes"),
    ("shuffle_read_bytes", "shuffle_read_bytes"),
    ("shuffle_write_bytes", "shuffle_write_bytes"),
    ("spill_bytes", "spill_bytes"),
)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[s.id]
            if min(c.end, s.end) > max(c.start, s.start)
        ]
        out[s.id] = (s.end - s.start) - covered(clipped)
    return out


def stream_totals(progress: list[tuple[str, dict]], queries: set[str]) -> dict[str, float]:
    """Sums over every progress event of ``queries``; state sizes are
    each query's largest total across its batches."""
    keys = ("batches", "trigger_s", "add_batch_s", "wal_commit_s", "input_rows", "state_rows_removed")
    out = dict.fromkeys(keys, 0.0)
    peak_rows: dict[str, float] = defaultdict(float)
    peak_mem: dict[str, float] = defaultdict(float)
    for qid, p in progress:
        if qid not in queries:
            continue
        durations = p["duration_ms"]
        out["batches"] += 1
        out["trigger_s"] += durations.get("triggerExecution", 0) / 1e3
        out["add_batch_s"] += durations.get("addBatch", 0) / 1e3
        out["wal_commit_s"] += durations.get("walCommit", 0) / 1e3
        out["input_rows"] += p["input_rows"] or 0
        out["state_rows_removed"] += sum(s["rows_removed"] or 0 for s in p["state"])
        peak_rows[qid] = max(peak_rows[qid], sum(s["rows_total"] or 0 for s in p["state"]))
        peak_mem[qid] = max(peak_mem[qid], sum(s["memory_bytes"] or 0 for s in p["state"]))
    out["state_rows_total"] = sum(peak_rows.values())
    out["state_memory_bytes"] = sum(peak_mem.values())
    return out


def layer_metrics(
    spans: list[Span],
    log: EventLog,
    stream_started: dict[str, int | None],
    stream_progress: list[tuple[str, dict]],
    cores: int,
    overhead_frac: float,
) -> dict[str, float]:
    execs = [s for s in spans if s.name == QUERY]
    n = max(1, len(execs))
    in_query = [s for s in spans if s.query is not None]
    by_id = {s.id: s for s in spans}
    self_s = self_times(spans)
    jobs_by_span: dict[int, int] = defaultdict(int)
    for job in log.jobs:
        if job.span is not None:
            jobs_by_span[job.span] += 1
    stages_by_span = defaultdict(list)
    for stage in log.stages:
        if stage.span is not None:
            stages_by_span[stage.span].append(stage)

    m: dict[str, float] = {}

    def per_query(name: str, total: float) -> None:
        m[name] = total / n

    def group(prefix: str, members: list[Span]) -> None:
        per_query(f"{prefix}.calls", len(members))
        per_query(f"{prefix}.self_s", sum(self_s[s.id] for s in members))
        per_query(f"{prefix}.jobs", sum(jobs_by_span[s.id] for s in members))

    # session
    gets = [s for s in spans if s.name == "session.get_spark"]
    m["session.get_spark_s"] = sum(s.end - s.start for s in gets) / max(1, len(gets))
    tunes = [s for s in in_query if s.name == "session.tune_session"]
    per_query("session.tune_session.calls", len(tunes))
    per_query("session.tune_session.self_s", sum(self_s[s.id] for s in tunes))

    # plans.registry: the registered callable, including eager jobs it fires
    builds = [s for s in in_query if s.name == BUILD]
    build_ids = {s.id for s in builds}

    def under_build(span_id: int | None) -> bool:
        while span_id is not None:
            if span_id in build_ids:
                return True
            span_id = by_id[span_id].parent if span_id in by_id else None
        return False

    per_query("plans.registry.build_s", sum(s.end - s.start for s in builds))
    per_query("plans.registry.build_self_s", sum(self_s[s.id] for s in builds))
    per_query("plans.registry.build_jobs", sum(1 for j in log.jobs if under_build(j.span)))

    for layer in CALL_LAYERS:
        group(layer, [s for s in in_query if s.layer == layer])

    # sources.tables
    group("sources.tables.load_table", [s for s in in_query if s.name == "sources.tables.load_table"])
    query_stages = [st for s in in_query for st in stages_by_span.get(s.id, [])]
    scans = [p for st in query_stages for p in st.scan_partitions]
    m["sources.tables.scan_partitions_min"] = float(min(scans)) if scans else 0.0
    spreads = [s for s in in_query if s.name == "sources.tables.spread_scan"]
    per_query("sources.tables.spread_scan.calls", len(spreads))
    m["sources.tables.spread_scan.fired_ratio"] = (
        sum(1 for s in spreads if s.info.get("fired")) / len(spreads) if spreads else 0.0
    )

    # sources.staging outcomes
    staging = [s for s in in_query if s.layer == "sources.staging" and "staging" in s.info]
    outcome = defaultdict(int)
    for s in staging:
        outcome[s.info["staging"]] += 1
    per_query("sources.staging.builds", outcome["build"])
    per_query("sources.staging.adopts", outcome["adopt"])
    m["sources.staging.reuse_ratio"] = (
        (outcome["hit"] + outcome["adopt"]) / len(staging) if staging else 0.0
    )

    # streaming progress of queries started inside a query execution
    in_query_ids = {s.id for s in in_query}
    started = {q for q, sid in stream_started.items() if sid in in_query_ids}
    for key, total in stream_totals(stream_progress, started).items():
        per_query(f"streaming.{key}", total)

    # spark.catalyst / spark.exec: the final noop write of each execution
    writes = [s for s in in_query if s.name == EXEC]
    plan_total = exec_total = 0.0
    for w in writes:
        starts = [
            j.execution_start
            for j in log.jobs
            if j.span == w.id and j.execution_start is not None
        ]
        plan = max(0.0, min(starts) - w.start) if starts else 0.0
        plan_total += plan
        exec_total += (w.end - w.start) - plan
    per_query("spark.catalyst.analysis_s", sum(w.info.get("analysis_s", 0.0) for w in writes))
    per_query("spark.catalyst.plan_s", plan_total)
    per_query("spark.exec.s", exec_total)
    write_stages = [st for w in writes for st in stages_by_span.get(w.id, [])]
    per_query("spark.exec.jobs", sum(jobs_by_span[w.id] for w in writes))
    per_query("spark.exec.stages", len(write_stages))
    for name, attr in _EXEC_STAGE_FIELDS:
        per_query(f"spark.exec.{name}", sum(getattr(st, attr) for st in write_stages))
    run_s = sum(st.run_s for st in write_stages)
    m["spark.exec.busy_ratio"] = run_s / (exec_total * cores) if exec_total > 0 else 0.0

    # Python workers, over every stage of the execution
    for key in PYTHON_METRICS.values():
        per_query(f"spark.python.{key}", sum(st.python.get(key, 0.0) for st in query_stages))

    m["trace.overhead_frac"] = overhead_frac
    return m
