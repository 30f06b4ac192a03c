"""Rebuild the frozen strata in ``workloads.json``.

    python3 perfbench/make_strata.py

Populations come from ``BENCH_FULL.json`` at the checkout root (32-core
steady times): ``fixed_cost`` is every non-streaming query under 1.0 s,
``heavy`` every non-streaming query at or over 1.0 s. Query families are
name prefixes, grouped below.

``heavy`` strata are its family groups, whole, and a seed draws one
query from each. The workloads ``BENCHMARK.json`` gates on must give
the same figures whatever the seed, and a seeded draw from whole
families did not: over four seeds ``fixed_cost`` medians moved 17% and
``streaming`` medians 45%. So their strata are single queries:
``fixed_cost`` takes, from each family group, the query closest to the
group's median in log first-run and log steady time measured at 4 cores
(``population_4core.json``: first run and two repeats per query,
``local[4]``, one session); ``fixed_split`` takes the ``SPLIT_TWIN``
strata of ``fixed_cost``; ``streaming`` takes one query per state
mechanism of similar cost (``STREAMING``). Their seed fixes the order
only.
"""

from __future__ import annotations

import json
import math
import pathlib
import statistics

HERE = pathlib.Path(__file__).resolve().parent

FIXED_GROUPS = {
    "stats": ["stats", "chi2", "ks", "psi", "corr", "mad", "winsorize", "ab", "t", "survival"],
    "window": ["window", "time", "rolling", "seasonal", "forecast", "trend"],
    "multimodal": ["multimodal"],
    "events": [
        "events", "event", "session", "sessionize", "funnel", "retention", "activity",
        "audience", "attribution", "hourly", "user", "tumbling", "sliding", "interval",
        "sequence",
    ],
    "sql": ["sql"],
    "text": [
        "text", "lm", "vocab", "token", "ngram", "char", "doc", "quality", "corpus", "lang",
        "bpe", "tfidf", "bm25", "wordcount", "flatmap", "length", "chunk", "pii",
        "decontaminate", "curation", "train", "dedup",
    ],
    "vectors": ["embedding", "similarity", "k"],
    "ml": ["ml"],
    "relational": [
        "join", "set", "groupby", "grouping", "sort", "topk", "scan", "filter", "map",
        "pivot", "unpivot", "ordered", "distinct", "count", "approx", "sketch", "percentile",
        "key", "group", "skyline", "zorder", "sample", "stratified", "split", "snapshot",
        "sink", "source", "json", "incremental", "cdc", "pair", "udtf", "weighted", "l",
    ],
    "business": ["orders", "customer", "dp", "target"],
    "jobapi": ["jobapi"],
}
HEAVY_GROUPS = {
    "sql": ["sql"],
    "graph": ["graph"],
    "dedup": ["dedup"],
    "ml": ["ml"],
    "text": ["text", "lm", "bpe", "ulm", "quality", "repetition", "curriculum", "doc", "column"],
}
#: Fast queries that reach ``sources.staging`` (found by walking the
#: registry's call graph); they form their own group so that fixed_cost
#: stages something.
STAGING = ["similarity_incremental_lsh", "source_kvtext_datasource"]
#: Fast queries that reach ``sources.tables.spread_scan`` (found by
#: tracing every fast dedup query at sf0.01; all four are in
#: ``operators.dedup``). They form their own group so that fixed_cost
#: calls spread_scan on single-file input, and fixed_split on a split copy.
SPREAD_SCAN = [
    "dedup_containment", "dedup_edit_distance", "dedup_ngram_jaccard", "dedup_novelty_frac",
]
#: fixed_cost strata that fixed_split runs on the split copy of sf0.01:
#: the spread_scan group, plus ml and sql picks that scan the documents
#: and TPC-H tables without it.
SPLIT_TWIN = ("fixed.ml", "fixed.spread_scan", "fixed.sql")
#: One stream query per mechanism, all with 0.8-1.0 s steady runs at 4
#: cores: watermarked deduplication state, windowed aggregation state,
#: a foreachBatch sink, a stream-static join, collect_set state. Queries
#: of similar cost keep the median inside one cluster of samples; the
#: 1.3-2.8 s stateful queries (session windows, stream-stream joins) would
#: leave about eight samples a run and a median that falls between them.
STREAMING = {
    "stream.dedup_state": "stream_dedup_watermarked",
    "stream.window_state": "stream_tumbling_window",
    "stream.foreach_batch": "stream_foreachbatch_idempotent",
    "stream.static_join": "stream_static_join",
    "stream.set_state": "stream_daily_active_users",
}


def _group(name: str, groups: dict[str, list[str]]) -> str:
    prefix = name.split("_")[0]
    return next((g for g, prefixes in groups.items() if prefix in prefixes), "other")


def _cost(times: list[float]) -> tuple[float, float]:
    """(first run, steady) in log seconds; steady is the median of the
    repeat runs."""
    return math.log(times[0]), math.log(statistics.median(times[1:]))


def _medoid(members: list[str], pop: dict[str, list[float]]) -> list[str]:
    costs = {m: _cost(pop[m]) for m in members}
    centre = tuple(statistics.median(c[i] for c in costs.values()) for i in (0, 1))
    return [min(members, key=lambda m: (math.dist(costs[m], centre), m))]


def build(full: dict[str, float], pop: dict[str, list[float]]) -> dict[str, dict[str, list[str]]]:
    ok = {n for n, t in pop.items() if all(isinstance(x, float) for x in t) and len(t) == 3}
    batch = {n: t for n, t in full.items() if not n.startswith("stream_")}
    fixed: dict[str, list[str]] = {"fixed.staging": STAGING, "fixed.spread_scan": SPREAD_SCAN}
    for n in sorted(batch):
        if batch[n] < 1.0 and n in ok and n not in STAGING + SPREAD_SCAN:
            fixed.setdefault(f"fixed.{_group(n, FIXED_GROUPS)}", []).append(n)
    heavy: dict[str, list[str]] = {}
    for n in sorted(batch):
        if batch[n] >= 1.0:
            heavy.setdefault(f"heavy.{_group(n, HEAVY_GROUPS)}", []).append(n)
    fixed_picks = {k: _medoid(v, pop) for k, v in sorted(fixed.items())}
    return {
        "fixed_cost": fixed_picks,
        "fixed_split": {k: fixed_picks[k] for k in SPLIT_TWIN},
        "heavy": heavy,
        "streaming": {k: [q] for k, q in sorted(STREAMING.items())},
    }

def main() -> None:
    full = json.loads((HERE.parent / "BENCH_FULL.json").read_text())["queries"]
    pop = json.loads((HERE / "population_4core.json").read_text())
    config_path = HERE / "workloads.json"
    config = json.loads(config_path.read_text())
    for workload, strata in build(full, pop).items():
        config["workloads"][workload]["strata"] = strata
    config_path.write_text(json.dumps(config, indent=1) + "\n")


if __name__ == "__main__":
    main()
