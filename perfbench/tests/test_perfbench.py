"""The benchmark's own tests.

- Every workload runs once, untraced and traced, at the tiny input size
  with its output checks on (several minutes: each run starts JVMs).
- Each output check accepts a correct output and rejects a planted bad
  one, so no check is vacuous.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

FIXTURES = os.path.join(run.WORK, "fixtures")


def _result(capsys) -> tuple[dict, dict]:
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-2])["annotations"], json.loads(lines[-1])


# A known package defect, not a benchmark fault: on this seed's tiny
# events table one user's pipeline_submission target is 3 ulps
# (1.4e-9 at -2.4e6) away from the DuckDB oracle, so the check fails
# (see README.md, "Known defect: pipeline_submission parity").
SF01_PARITY_DEFECT = pytest.mark.xfail(
    strict=True, reason="pipeline_submission is not bit-equal to DuckDB on seed 7 (tiny)"
)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize(
    "workload",
    [
        "dedup_minhash",
        "score_cli",
        pytest.param("submission_sf01", marks=SF01_PARITY_DEFECT),
    ],
)
def test_smoke_tiny(workload, trace, capsys):
    argv = ["--workload", workload, "--seed", "7", "--seconds", "0.1", "--trace", str(trace)]
    assert run.main(argv + ["--size", "tiny"]) == 0
    notes, res = _result(capsys)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 2
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
    assert res["correct"] and res["failed"] == 0, notes


def test_fixture_cache_keys_on_seed_and_size():
    a = inputs.prepare("submission_sf01", 3, "tiny", FIXTURES, run.ROOT)
    b = inputs.prepare("submission_sf01", 4, "tiny", FIXTURES, run.ROOT)
    assert a != b and inputs.prepare("submission_sf01", 3, "tiny", FIXTURES, run.ROOT) == a
    pd.testing.assert_frame_equal(inputs.sf_events(3, "tiny"), inputs.sf_events(3, "tiny"))


def test_cli_input_shape():
    tx = inputs.cli_transactions(11, "s50")
    per_user = tx.groupby("user_id").size()
    assert len(per_user) == 250 and 0.08 < (per_user <= 40).mean() < 0.22
    assert set(tx["mcc_code"]) <= set(inputs.CLI_CATS) and len(inputs.MCC_VOCAB) == 156
    assert (tx["transaction_amt"] < 0).any() and (tx["transaction_amt"] > 0).any()


def _good_scores(per_user: pd.Series) -> pd.DataFrame:
    ids = np.sort(per_user.index.to_numpy())
    trimmed = per_user.reindex(ids).to_numpy() <= 2 * workloads.TRIM
    return pd.DataFrame({"user_id": ids, "target": np.where(trimmed, 2.0, 0.5)})


def test_score_check_rejects_bad_output():
    per_user = pd.Series([5, 50, 60, 41, 7], index=[10, 20, 30, 40, 50])
    good = _good_scores(per_user)
    assert workloads.check_scores(good, per_user) == []
    assert workloads.check_scores(good.drop(index=2), per_user)  # a dropped user row
    assert workloads.check_scores(good.iloc[::-1].reset_index(drop=True), per_user)
    bad = good.copy()
    bad.loc[0, "target"] = 1.0  # a trimmed-away user below the global max
    assert workloads.check_scores(bad, per_user)
    bad = good.copy()
    bad.loc[1, "target"] = np.nan
    assert workloads.check_scores(bad, per_user)


def test_pair_check_rejects_bad_output():
    texts = {1: "a b c d e f", 2: "a b c d e", 3: "x y z w v u", 9: "a b c d e f"}
    planted = {(1, 2)}
    good = pd.DataFrame({"id_a": [1, 1], "id_b": [2, 9], "jaccard": [0.75, 1.0]})
    assert workloads.check_pairs(good, planted, texts) == []
    assert workloads.check_pairs(good.iloc[1:], planted, texts)  # a missing planted pair
    assert workloads.check_pairs(good.assign(id_a=[2, 1], id_b=[1, 9]), planted, texts)
    low = pd.concat([good, pd.DataFrame({"id_a": [1], "id_b": [3], "jaccard": [0.5]})])
    assert workloads.check_pairs(low, planted, texts)


def test_submission_check_rejects_bad_output():
    fixture = inputs.prepare("submission_sf01", 5, "tiny", FIXTURES, run.ROOT)
    wl = workloads.SubmissionSf01(None, fixture, None)
    wl.load_reference()
    good = wl.oracle.copy()
    assert len(good) == inputs.SF_SIZES["tiny"] and wl.check(good) == []
    assert wl.check(good.drop(index=3))  # a dropped user row
    bad = good.copy()
    bad.loc[0, "target"] += 1e-9
    assert wl.check(bad)


def test_self_times_add_up():
    class FakeContext:
        def setJobGroup(self, *a):
            pass

        def setLocalProperty(self, *a):
            pass

    class FakeSpark:
        sparkContext = FakeContext()

    tr = spans.Tracer(FakeSpark(), "w")
    tr.spans = [
        {"name": "b", "parent": "e", "inputs": ["r", "f"], "start": 0.0, "end": 6.0},
        {"name": "e", "parent": None, "inputs": [], "start": 0.0, "end": 7.0},
        {"name": "r", "parent": None, "inputs": [], "start": 7.0, "end": 8.0},
        {"name": "f", "parent": None, "inputs": ["r"], "start": 8.0, "end": 11.0},
    ]
    selfs = tr.self_times()
    assert selfs == {"b": 3.0, "e": 1.0, "r": 1.0, "f": 2.0}
    assert sum(selfs.values()) == 7.0  # the traced execution's wall time
