"""Benchmark for the engine's registered queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The load is a closed loop with one
client: one Python process submits one query at a time to a
``local[nproc]`` session and waits for its result. Each workload runs in
a fresh worker process (``worker.py``) whose working directory
(``perfbench/.work/<workload>``) is emptied first, so staged tables are
rebuilt inside every run's first executions.

The seed fixes the stratified query sample, its order, and the row
order of the generated split-layout copy. Workloads and their frozen
strata are in ``workloads.json``; the fixture data is in ``data/``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run
(spans, a Spark event log and streaming progress). The lines before it
are a readable report.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
CHECKOUT = HERE.parent
sys.path.insert(0, str(HERE))

import sampling  # noqa: E402

#: fixture tables (mirrors ``sources.tables.TABLES``)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
WORKER_TIMEOUT_S = 170
TAIL_BEYOND = 10


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile of ``values`` with at least TAIL_BEYOND
    samples above it, as (value, percentile). With too few samples it
    is the maximum (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0
    i = n - TAIL_BEYOND - 1
    return xs[i], 100.0 * (i + 1) / n


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of the order
    statistics, weighted by the Beta((n+1)/2, (n+1)/2) density. The
    sample median of a fixed query set is the time of whichever query
    sits in the middle, and jumps when the values around the middle sit
    apart; this estimate moves smoothly with every value near it."""
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2
    per = 200  # grid steps per order statistic
    steps = per * n
    dens = [(k / steps * (1 - k / steps)) ** (a - 1) for k in range(steps + 1)]
    cdf = [0.0]
    for k in range(steps):
        cdf.append(cdf[-1] + (dens[k] + dens[k + 1]) / 2)
    weights = [cdf[(i + 1) * per] - cdf[i * per] for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs)) / cdf[-1]


def end_to_end(res: dict, attempted: int) -> tuple[dict[str, float], dict]:
    steady = [t for _, t in res["steady_s"]]
    by_query: dict[str, list[float]] = {}
    for name, t in res["steady_s"]:
        by_query.setdefault(name, []).append(t)
    tail_s, tail_pct = tail(steady)
    m = {
        "setup_s": res["setup_s"],
        "first_run_s_p50": hd_median(res["first_s"].values()),
        # median over queries of each query's median over the timed passes
        "query_s_p50": hd_median(statistics.median(v) for v in by_query.values()),
        "query_s_tail": tail_s,
        "queries_per_s": len(steady) / res["steady_wall_s"],
        "failed_frac": len(res["failures"]) / attempted,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    detail = {"tail_percentile": tail_pct, "steady_samples": len(steady)}
    return m, detail


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` lists them."""
    with open(CHECKOUT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


#: every end-to-end metric the report prints; BENCHMARK.json gates a subset
UNITS = {
    "setup_s": "s", "first_run_s_p50": "s", "query_s_p50": "s", "query_s_tail": "s",
    "queries_per_s": "1/s", "failed_frac": "ratio", "peak_rss_mb": "MB",
}


def _stop_group(pgid: int) -> None:
    """Kill every process left in the worker's session and wait for them
    to end. The worker has written its results or timed out by then, so
    nothing left needs a graceful stop; the JVM's own shutdown after
    ``spark.stop()`` took about 2 s a run."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10.0
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (CHECKOUT / "java_mapreduce_framework_spark" / "__init__.py").is_file():
        fail(f"engine package not found under {CHECKOUT}")
    if not (CHECKOUT / "tests" / "oracle_check.py").is_file():
        fail(f"tests/oracle_check.py not found under {CHECKOUT}")
    config = sampling.load_config()
    if args.workload not in config["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {sorted(config['workloads'])}")
    spec = sampling.workload_spec(config, args.workload)
    order = sampling.draw(spec["strata"], args.seed)

    cores = len(os.sched_getaffinity(0))
    work = HERE / ".work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()

    data = HERE / "data" / spec["data"]
    if spec["layout"] == "split":
        import inputs

        sf_dir = HERE / ".work" / "inputs" / f"{spec['data']}_split"
        sf_dir.parent.mkdir(parents=True, exist_ok=True)
        inputs.split_copy(data, sf_dir, TABLES, args.seed, 2 * cores)
        inputs.verify(data, sf_dir, TABLES)
        table_glob = f"{sf_dir}/{{t}}.parquet/*.parquet"
        min_parts = cores
    else:
        sf_dir = data
        table_glob = f"{sf_dir}/{{t}}.parquet"
        min_parts = 0

    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    submit = [f"--driver-java-options -Djava.io.tmpdir={work / 'tmp'}"]
    if args.trace:
        (work / "eventlog").mkdir()
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([str(CHECKOUT), str(HERE), env.get("PYTHONPATH", "")]),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=driver_memory,
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    plan = {
        "checkout": str(CHECKOUT),
        "order": order,
        "sf_dir": str(sf_dir),
        "tables": list(TABLES),
        "table_glob": table_glob,
        "min_scan_partitions": min_parts,
        "warmups": spec["warmups"],
        "warm_passes": spec["warm_passes"],
        # whole passes, as many as fit --seconds at the workload's
        # expected pass time: every run of a workload then measures the
        # same executions, whatever the host's speed that day
        "passes": max(1, round(args.seconds / spec["pass_s"])),
        "trace": args.trace,
        "cores": cores,
        "eventlog_dir": str(work / "eventlog"),
        "results": str(work / "results.json"),
    }
    plan_path = work / "plan.json"
    plan["t0"] = time.time()
    plan_path.write_text(json.dumps(plan))
    with open(work / "worker.log", "w") as log:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(plan_path)],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0:
        lines = (work / "worker.log").read_text(errors="replace").splitlines()
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail("worker timed out" if code is None else f"worker exited with code {code}")
    res = json.loads((work / "results.json").read_text())

    failures = res["failures"]
    header = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cores,
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_DRIVER_MEMORY": driver_memory,
        "inputs": str(sf_dir.relative_to(CHECKOUT)),
        "order": order,
    }
    print(json.dumps(header))
    if args.trace:
        metrics = res["layers"]
        declared = _declared("per_layer")
        for name, value in metrics.items():
            print(f"  {name:45s} {value:14.6g} {declared.get(name, '')}")
    else:
        metrics, detail = end_to_end(res, len(order))
        declared = _declared("end_to_end")
        for name, value in metrics.items():
            print(f"  {name:18s} {value:12.6g} {UNITS[name]}")
        print(
            f"  query_s_tail is p{detail['tail_percentile']:.1f} of "
            f"{detail['steady_samples']} steady executions"
        )
    print(f"  correctness: {len(order) - len(failures)}/{len(order)} queries match")
    for name, reason in sorted(failures.items()):
        print(f"  FAILED {name}: {reason}")
    result = {
        "correct": not failures,
        "attempted": len(order),
        "failed": len(failures),
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in declared.items()
            if name in metrics
        },
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
