"""BENCHMARK.json names exactly the metrics and workloads run.py reports."""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import eventlog  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
    MANIFEST = json.load(fh)


def test_per_layer_metrics_and_units_match():
    listed = {m["name"]: m["unit"] for m in MANIFEST["per_layer"]}
    assert listed == run.LAYER_UNITS


def test_event_log_keys_are_reported():
    assert set(eventlog.LAYER_KEYS) <= set(run.LAYER_UNITS)


def test_end_to_end_has_setup_and_bounds():
    names = [m["name"] for m in MANIFEST["end_to_end"]]
    assert names == ["setup_s", "job_p50_s", "rows_per_s", "peak_pss_mb"]
    setup = MANIFEST["end_to_end"][0]
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in MANIFEST["end_to_end"])


def test_workloads_exist():
    sys.path.insert(0, run.REPO)
    import workloads

    assert {w["name"] for w in MANIFEST["workloads"]} <= set(workloads.WORKLOADS)
