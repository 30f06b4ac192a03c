"""Seeded query sample and order for one workload.

Each workload's strata are frozen in ``workloads.json``: a stratum is a
list of registered query names, and a run draws one name from every
stratum. The seed fixes both the draw and the order the picks run in;
nothing else about the sample depends on the seed.
"""

from __future__ import annotations

import json
import pathlib
import random

CONFIG_PATH = pathlib.Path(__file__).resolve().parent / "workloads.json"


def load_config(path: pathlib.Path = CONFIG_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def workload_spec(config: dict, workload: str) -> dict:
    """The workload's spec, with ``strata`` resolved through
    ``sample_of`` (a workload that runs another workload's sample)."""
    spec = dict(config["workloads"][workload])
    if "sample_of" in spec:
        base = config["workloads"][spec["sample_of"]]
        spec["strata"] = base["strata"]
    return spec


def draw(strata: dict[str, list[str]], seed: int) -> list[str]:
    """Draw one name from each stratum and shuffle the picks into the
    run order. Strata are visited in sorted-name order so the result
    depends only on the config and the seed."""
    rng = random.Random(seed)
    picks = [rng.choice(sorted(strata[stratum])) for stratum in sorted(strata)]
    rng.shuffle(picks)
    return picks


def sample_for(config: dict, workload: str, seed: int) -> list[str]:
    spec = workload_spec(config, workload)
    return draw(spec["strata"], seed)
