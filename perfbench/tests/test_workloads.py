"""Workload inputs are a function of the seed, and every sampled entry
exists in the registry with an oracle to check it against."""

from __future__ import annotations

import workloads


def test_same_seed_same_inputs():
    for seed in range(20):
        assert workloads.sample_entries(seed) == workloads.sample_entries(seed)
        assert workloads.Github(None, seed).repo == workloads.Github(None, seed).repo


def test_sample_has_fixed_entries_and_one_per_stratum():
    for seed in range(20):
        names = workloads.sample_entries(seed)
        assert len(names) == len(set(names)) == len(workloads.FIXED) + len(workloads.STRATA)
        assert set(workloads.FIXED) <= set(names)
        for stratum in workloads.STRATA:
            assert len(set(stratum) & set(names)) == 1


def test_every_candidate_is_an_oracle_checked_entry():
    from github_data_pipeline_spark.plans import all_plans

    registry = all_plans()
    candidates = set(workloads.FIXED).union(*workloads.STRATA)
    for name in candidates:
        assert registry[name].oracle is not None, name


def test_github_step_count():
    g = workloads.Github(None, 1)
    assert g.planned_steps() == 4 + len(g.scenarios())


def test_pinned_entries_call_their_operator():
    """Each FIXED builder calls a function of the operator module its
    stage time is folded into."""
    from github_data_pipeline_spark.plans import all_plans

    registry = all_plans()
    for name, module in workloads.OPERATOR_OF.items():
        fn = registry[name].builder
        called = {
            getattr(fn.__globals__.get(n), "__module__", None)
            for n in fn.__code__.co_names
        }
        assert module in called, (name, module)
