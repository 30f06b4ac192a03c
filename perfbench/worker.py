"""One workload run inside a fresh process (started by ``run.py``).

Order of work: set up the session (timed from process start), run
every query once (its first run in the session), run the workload's
untimed warm passes, then the planned number of whole timed passes, then
collect every query once, untimed, for the oracle check. With tracing
on, spans are recorded for the first runs, and the steady passes run
each query untraced and traced back to back; the pairs give the tracing
overhead.

Usage: python3 worker.py <plan.json>   (writes the plan's ``results``)
"""

from __future__ import annotations

import json
import multiprocessing
import pathlib
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

import gate
import layers
from tracing import Tracer, StreamRecorder, default_hooks


def _warm(spark, warmups: list[str]) -> None:
    if "jvm" in warmups:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
    if "arrow" in warmups:

        def _ident(batches):
            yield from batches

        spark.range(100).mapInPandas(_ident, "id long").count()
    if "stream" in warmups:
        (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "1")
            .load()
            .groupBy("value")
            .count()
            .writeStream.outputMode("complete")
            .format("noop")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def main(plan_path: str) -> None:
    with open(plan_path) as f:
        plan = json.load(f)
    t_process = plan["t0"]
    checkout = pathlib.Path(plan["checkout"])
    trace = bool(plan["trace"])

    from java_mapreduce_framework_spark import session as engine_session
    from java_mapreduce_framework_spark.plans import registry

    tracer = Tracer()
    if trace:
        tracer.install()
        tracer.hooks = default_hooks()
        tracer.active = True

    spark = engine_session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark, plan["warmups"])
    setup_s = time.time() - t_process
    tracer.active = False

    stream = StreamRecorder(tracer)
    if trace:
        spark.streams.addListener(stream.listener())
        tracer.on_exit.append(stream.drain)

    specs = registry.registry()
    order = plan["order"]
    sf_dir = plan["sf_dir"]
    failures: dict[str, str] = {}

    if plan["min_scan_partitions"]:
        from java_mapreduce_framework_spark.sources.tables import TABLES, load_table

        for t in TABLES:
            parts = load_table(spark, sf_dir, t).rdd.getNumPartitions()
            if parts < plan["min_scan_partitions"]:
                raise SystemExit(
                    f"split copy of {t} scans as {parts} partitions, "
                    f"fewer than {plan['min_scan_partitions']}"
                )

    executions = 0

    def execute(name: str, traced: bool) -> float | None:
        nonlocal executions
        tracer.active = traced
        tracer.query = executions if traced else None
        executions += 1
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span(layers.QUERY, layers.QUERY, query=name):
                    with tracer.span(layers.BUILD, "plans.registry"):
                        df = specs[name].fn(spark, sf_dir)
                    tracker = df._jdf.queryExecution().tracker().phases()
                    analysis = tracker.get("analysis")
                    with tracer.span(layers.EXEC, layers.EXEC) as w:
                        df.write.format("noop").mode("overwrite").save()
                    if analysis.isDefined():
                        w.info["analysis_s"] = analysis.get().durationMs() / 1e3
            else:
                df = specs[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 -- a failing query is a result
            failures.setdefault(name, f"{type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc()
            return None
        finally:
            tracer.active = False
            tracer.query = None
        return time.perf_counter() - t0

    phases = {"setup": setup_s}
    t_phase = time.time()
    # first runs go in one fixed order: the session's earliest queries
    # pay one-time costs, and a seeded order would hand them to
    # different queries in different runs
    first = {}
    for name in sorted(order):
        took = execute(name, trace)
        if took is not None:
            first[name] = took

    runnable = [n for n in order if n not in failures]
    # untimed warm passes: query times keep falling for a few passes
    # after the first runs while the JIT compiles, and a timed pass on
    # that slope moves with how fast the host runs the compiler
    for _ in range(plan["warm_passes"]):
        for name in runnable:
            execute(name, False)
        runnable = [n for n in runnable if n not in failures]
    start_wall = time.time()
    steady: list[tuple[str, float]] = []
    paired: dict[str, dict[bool, list[float]]] = {}
    start = time.perf_counter()
    if trace:
        # each query runs untraced and traced back to back, alternating
        # which goes first, so the warm-up between the two cancels
        for p in range(max(1, round(plan["passes"] / 2))):
            for i, name in enumerate(runnable):
                for traced in (False, True) if (i + p) % 2 == 0 else (True, False):
                    took = execute(name, traced)
                    if took is not None:
                        paired.setdefault(name, {False: [], True: []})[traced].append(took)
            runnable = [n for n in runnable if n not in failures]
    else:
        for _ in range(plan["passes"]):
            for name in runnable:
                took = execute(name, False)
                if took is not None:
                    steady.append((name, took))
            runnable = [n for n in runnable if n not in failures]
    steady_wall = time.perf_counter() - start
    phases["first"] = start_wall - t_phase
    phases["steady"] = steady_wall
    t_phase = time.time()

    # correctness gate: collect each query once, untimed; oracle checks
    # run in spawned processes while the next query collects
    ctx = multiprocessing.get_context("spawn")
    oracle_path = str(checkout / "tests" / "oracle_check.py")
    with ProcessPoolExecutor(plan["cores"], mp_context=ctx) as pool:
        pending = {}
        for name in order:
            if name in failures:
                continue
            spec = specs[name]
            oracle_side = None
            if spec.oracle is not None:
                oracle_side = pool.submit(
                    gate.oracle_summary, spec.oracle, plan["tables"],
                    plan["table_glob"], oracle_path,
                )
            try:
                sdf = spec.fn(spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001
                failures[name] = f"{type(e).__name__}: {str(e)[:300]}"
                continue
            if oracle_side is None:
                if len(sdf) == 0:
                    failures[name] = "no rows (oracle-less query)"
                continue
            reason = gate.driver_canon_error(sdf)
            if reason is not None:
                failures[name] = reason
                continue
            pending[name] = (pool.submit(gate.summary, sdf, oracle_path), oracle_side)
        for name, (spark_side, oracle_side) in pending.items():
            try:
                reason = gate.verdict(spark_side.result(), oracle_side.result())
            except Exception as e:  # noqa: BLE001
                reason = f"{type(e).__name__}: {str(e)[:300]}"
            if reason is not None:
                failures[name] = reason
    phases["gate"] = time.time() - t_phase
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024

    results = {
        "setup_s": setup_s,
        "first_s": first,
        "steady_s": steady,
        "steady_wall_s": steady_wall,
        "failures": failures,
        "peak_rss_mb": rss_mb,
        "phase_s": phases,
    }
    if trace:
        both = [v for v in paired.values() if len(v[False]) == len(v[True])]
        u_sum = sum(sum(v[False]) for v in both)
        overhead = sum(sum(v[True]) for v in both) / u_sum - 1 if u_sum else 0.0
        spark.stop()
        import eventlog

        log = eventlog.read(
            p for p in pathlib.Path(plan["eventlog_dir"]).iterdir() if p.is_file()
        )
        results["layers"] = layers.layer_metrics(
            tracer.spans, log, stream.started, stream.progress, plan["cores"], overhead
        )
        results["overhead_queries"] = len(both)
    else:
        spark.stop()
    with open(plan["results"], "w") as f:
        json.dump(results, f)


if __name__ == "__main__":
    main(sys.argv[1])
