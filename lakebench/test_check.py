"""The benchmark's checker must be able to fail.

    python3 -m pytest lakebench/test_check.py -q -p no:cacheprovider

No Spark: the engine side of each comparison is built from the oracle
itself, then damaged in one place.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402


@pytest.fixture()
def frame():
    return pd.DataFrame({
        "k": [1, 2, 3],
        "name": ["a", "b", "c"],
        "v": [0.5, 1.25, 2.0],
    })


def test_identical_result_passes(frame):
    shuffled = frame.sample(frac=1.0, random_state=0)[["v", "k", "name"]]
    assert check.compare("q", shuffled, frame) == []


def test_changed_value_fails(frame):
    bad = frame.copy()
    bad.loc[1, "v"] = 1.2500001
    assert check.compare("q", bad, frame)
    bad = frame.copy()
    bad.loc[2, "name"] = "z"
    assert check.compare("q", bad, frame)


def test_dropped_row_fails(frame):
    assert check.compare("q", frame.iloc[:2], frame)


def test_int_vs_float_fails(frame):
    assert check.compare("q", frame.assign(k=frame["k"].astype(float)), frame)


def test_dtype_drift_with_equal_values_fails(frame):
    assert check.compare("q", frame.assign(k=frame["k"].astype("int32")), frame)


def test_float_equal_within_tolerance_but_not_bitwise_fails(frame):
    assert check.compare("q", frame.assign(v=frame["v"] + 1e-12), frame)


@pytest.fixture(scope="module")
def pipeline_case(tmp_path_factory):
    paths = gen.noaa_bronze(str(tmp_path_factory.mktemp("noaa")), seed=5,
                            n_stations=4, days=3, files=2)
    want = check.pipeline_oracle(duckdb.connect(), paths)
    got = {"fact": want["fact"].copy(), "dims": dict(want["dims"])}
    return got, want


def test_pipeline_restatement_passes_itself(pipeline_case):
    got, want = pipeline_case
    assert want["dims"]["gold.dim_date"] == 3
    assert check.diff_pipeline(got, want) == []


def test_pipeline_changed_sum_fails(pipeline_case):
    got, want = pipeline_case
    fact = got["fact"].copy()
    fact.loc[0, "s"] += 0.1
    assert check.diff_pipeline({**got, "fact": fact}, want)
    fact = got["fact"].copy()
    fact.loc[0, "n"] += 1
    assert check.diff_pipeline({**got, "fact": fact}, want)


def test_pipeline_sums_in_another_order_pass(pipeline_case):
    got, want = pipeline_case
    fact = got["fact"].iloc[::-1].copy()
    fact["s"] *= 1 + 1e-12
    assert check.diff_pipeline({**got, "fact": fact}, want) == []


def test_pipeline_dropped_row_fails(pipeline_case):
    got, want = pipeline_case
    assert check.diff_pipeline({**got, "fact": got["fact"].iloc[1:]}, want)
    dims = {**got["dims"], "silver.dim_stations": got["dims"]["silver.dim_stations"] - 1}
    assert check.diff_pipeline({**got, "dims": dims}, want)


GOOD_MANIFEST = {
    "gold_snapshot": {"path": "x", "version": 0},
    "maintenance": [
        {"table": "silver.observations", "op": "expire_snapshots", "applied": False},
        {"table": "silver.observations", "op": "compact_files", "applied": True},
    ],
}


def test_clean_manifest_passes():
    assert check.manifest_problems(GOOD_MANIFEST, [], [0], (12, 4)) == []


def test_maintenance_error_entry_fails():
    manifest = {**GOOD_MANIFEST, "maintenance": GOOD_MANIFEST["maintenance"] + [
        {"table": "silver.observations", "op": "remove_orphans", "error": "boom"}]}
    assert check.manifest_problems(manifest, [], [0], (12, 4))


def test_snapshot_commit_must_add_one_version():
    assert check.manifest_problems(GOOD_MANIFEST, [], [], (12, 4))
    assert check.manifest_problems(GOOD_MANIFEST, [], [0, 1], (12, 4))


def test_compaction_must_not_raise_file_count():
    assert check.manifest_problems(GOOD_MANIFEST, [], [0], (4, 12))
