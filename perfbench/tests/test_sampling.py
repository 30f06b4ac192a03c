import pytest

import sampling

CONFIG = sampling.load_config()
WORKLOADS = sorted(CONFIG["workloads"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_sample_and_order(workload):
    assert sampling.sample_for(CONFIG, workload, 7) == sampling.sample_for(CONFIG, workload, 7)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_stratum_is_represented(workload):
    spec = sampling.workload_spec(CONFIG, workload)
    for seed in range(20):
        picks = sampling.sample_for(CONFIG, workload, seed)
        for stratum, members in spec["strata"].items():
            assert len(set(picks) & set(members)) == 1, stratum
        assert len(picks) == len(set(picks))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seed_changes_the_order(workload):
    orders = {tuple(sampling.sample_for(CONFIG, workload, s)) for s in range(10)}
    assert len(orders) > 1


def test_seed_changes_the_heavy_draw():
    draws = {frozenset(sampling.sample_for(CONFIG, "heavy", s)) for s in range(10)}
    assert len(draws) > 1


def test_split_layout_runs_the_heavy_sample():
    for seed in range(5):
        assert sampling.sample_for(CONFIG, "split_layout", seed) == sampling.sample_for(
            CONFIG, "heavy", seed
        )


def test_strata_name_registered_queries_once():
    from java_mapreduce_framework_spark.plans import registry

    names = set(registry.registry())
    for workload in WORKLOADS:
        spec = CONFIG["workloads"][workload]
        members = [m for ms in spec.get("strata", {}).values() for m in ms]
        assert len(members) == len(set(members)), workload
        assert set(members) <= names, workload


def test_fixed_split_runs_fixed_cost_strata():
    fixed = CONFIG["workloads"]["fixed_cost"]["strata"]
    for stratum, members in CONFIG["workloads"]["fixed_split"]["strata"].items():
        assert fixed[stratum] == members, stratum
