"""Tiny-input smoke test of the benchmark: every workload runs traced in one
Spark session; every named metric must come out with its unit, and the span
tree must be well formed.

    python -m pytest perfbench -q
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
os.environ["PYSPARK_PYTHON"] = sys.executable

import run  # noqa: E402
from rollup import PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TINY = {"er_batch": 10, "corpus_profile": 10}


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark, driver_mb = run.build_session(4, work)
    yield spark, driver_mb, work
    run.stop_session(spark)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_traced(session, name):
    spark, driver_mb, work = session
    wd = os.path.join(work, name)
    os.makedirs(wd)
    args = argparse.Namespace(workload=name, seed=1, seconds=0, trace=1)
    result, report = run.measure(args, WORKLOADS[name], wd, spark, 4, driver_mb, 0.0,
                                 families=TINY[name])

    assert result["correct"] and result["failed"] == 0, report["failures"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    # per-layer metrics, each with its unit
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    # the end-to-end set is computed in the same run
    assert set(report["end_to_end"]) == set(run.END_TO_END)
    assert all(v > 0 for v in report["end_to_end"].values()), report["end_to_end"]
    # BENCHMARK.json names exactly these metrics with these units
    bench = declared()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    # the span tree is well formed and, on er_batch, covers its floor
    assert report["span_coverage"]
    for cov in report["span_coverage"]:
        assert cov["problems"] == [], cov
        assert (cov["floor"] is not None) == (name == "er_batch")
    spans_file = os.path.join(ROOT, report["spans_file"])
    with open(spans_file) as f:
        spans = json.load(f)
    assert any(s["name"] == "assemble.build_records" for s in spans) == (name != "corpus_profile")
    os.remove(spans_file)


def test_refuses_outside_a_checkout(tmp_path):
    """With only BENCHMARK.json and perfbench/ present, the command fails
    fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    bench = declared()
    p = subprocess.run(
        bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
