"""Smoke tests for the benchmark itself, at a tiny size.

    python3 -m pytest perfbench/ -q

They check that seeded inputs and truth are deterministic, and that every
metric BENCHMARK.json names is printed, with its unit, by every workload in
both modes.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import run  # noqa: E402


def test_inputs_are_a_function_of_seed_and_index():
    idx = np.arange(inputs.index_offset(3), inputs.index_offset(3) + 21)
    a = inputs.image_batch(idx, seed=3)
    b = inputs.image_batch(idx, seed=3)
    pd.testing.assert_frame_equal(a, b)
    # the same rows come back whatever the batch boundaries
    pd.testing.assert_frame_equal(
        pd.concat([inputs.image_batch(idx[:10], 3), inputs.image_batch(idx[10:], 3)],
                  ignore_index=True),
        a,
    )
    assert inputs.index_offset(3) % inputs.GROUP_STRIDE == 0
    assert inputs.index_offset(3) != inputs.index_offset(4)


def test_truth_is_deterministic_and_keeps_triples_whole():
    n, seed = 7_000, 5
    t = inputs.truth_groups(n, seed)
    pd.testing.assert_frame_equal(t, inputs.truth_groups(n, seed))
    assert not t.equals(inputs.truth_groups(n, seed + 1))
    idx = np.arange(inputs.index_offset(seed), inputs.index_offset(seed) + n)
    hot = inputs.hot_mask(idx, seed)
    assert 0.01 < hot.mean() < 0.03
    assert hot[idx % 7 == 2].any()  # the slice also takes resized copies
    base = idx - np.where(idx % 7 < 3, idx % 7, 0)
    per_triple = pd.Series(t["link"].to_numpy()).groupby(base).nunique()
    assert (per_triple == 1).all()
    assert t["link"].value_counts().max() >= hot.sum()
    # truth refines link: one link group per truth group
    assert (t.groupby("truth")["link"].nunique() == 1).all()


def test_truth_splits_a_resized_copy_only_when_its_caption_link_is_gone():
    n = 7_000
    for seed in range(20):
        t = inputs.truth_groups(n, seed)
        idx = np.arange(inputs.index_offset(seed), inputs.index_offset(seed) + n)
        hot = inputs.hot_mask(idx, seed)
        truth = t["truth"].to_numpy()
        for k in np.flatnonzero(idx % 7 == 2):
            b, v1, v2 = k - 2, k - 1, k
            expect_split = hot[v2] != hot[b] and hot[v2] != hot[v1]
            assert (truth[v2] != truth[b]) == expect_split
            assert truth[b] == truth[v1]


def test_dup_pair_scores_count_pairs_from_group_sizes():
    truth = pd.Series([1, 1, 1, 2, 2, 3])
    assert inputs.dup_pair_scores(truth, truth) == {
        "recall": 1.0, "precision": 1.0, "unscored_pairs": 0, "unscored_linked": 0,
    }
    split = pd.Series([1, 1, 9, 2, 2, 3])  # loses 2 of 4 true pairs
    assert inputs.dup_pair_scores(split, truth)["recall"] == 0.5
    fused = pd.Series([1, 1, 1, 1, 1, 3])  # 10 predicted pairs, 4 true
    assert inputs.dup_pair_scores(fused, truth)["precision"] == 0.4


def test_dup_pair_scores_leave_out_pairs_across_a_truth_split():
    # rows 0-2 one link group, truth splits row 2 off: pairs (0,2), (1,2) unscored
    truth = pd.Series([1, 1, 2, 3])
    link = pd.Series([1, 1, 1, 3])
    linked = inputs.dup_pair_scores(pd.Series([1, 1, 1, 3]), truth, link)
    assert linked == {"recall": 1.0, "precision": 1.0, "unscored_pairs": 2, "unscored_linked": 2}
    apart = inputs.dup_pair_scores(pd.Series([1, 1, 2, 3]), truth, link)
    assert apart == {"recall": 1.0, "precision": 1.0, "unscored_pairs": 2, "unscored_linked": 0}
    # a link across link groups is still false
    wrong = inputs.dup_pair_scores(pd.Series([1, 1, 2, 2]), truth, link)
    assert wrong["precision"] == 0.5


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["pipeline", "signatures"])
def test_every_declared_metric_is_printed(workload, trace, monkeypatch, capsys):
    monkeypatch.setitem(run.WORKLOADS, "pipeline", 350)
    monkeypatch.setitem(run.WORKLOADS, "signatures", 700)
    monkeypatch.setattr(run, "KERNEL_ROWS", 350)
    assert workload in {w["name"] for w in _declared()["workloads"]}
    assert run.main(
        ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    ) == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = _declared()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
