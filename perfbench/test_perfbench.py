"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last two tests run the benchmark itself as a subprocess (about two
minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from datetime import datetime, timezone

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, workloads  # noqa: E402
from perfbench.run import END_TO_END, _per_layer_names  # noqa: E402
from perfbench.sparkstats import parse_metric  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_valid_and_match_benchmark_json():
    doc = _benchmark_json()
    e2e = {m["name"]: (m["unit"], m["better"]) for m in doc["end_to_end"]}
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]}
    assert e2e == END_TO_END
    assert per_layer == _per_layer_names()
    for name in [*e2e, *per_layer, *(w["name"] for w in doc["workloads"])]:
        assert NAME.match(name), name
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
    assert {w["name"] for w in doc["workloads"]} <= set(workloads.WORKLOADS)


def test_parse_metric_reads_spark_formats():
    assert parse_metric("44.3 MiB (1411.8 KiB, 2.5 MiB, 5.4 MiB (stage 21.0: task 77))") == 44.3 * 2**20
    assert parse_metric("13.3 s (481 ms, 752 ms, 1.4 s (stage 21.0: task 77))") == 13.3
    assert parse_metric("85 ms") == pytest.approx(0.085)
    assert parse_metric("2.5 m") == 150.0
    assert parse_metric("19,364") == 19364
    assert parse_metric("0.0 B") == 0.0
    assert parse_metric(None) is None


def test_self_time_subtracts_what_children_cover():
    tracer = Tracer("t")
    run = tracer.add("run", 0.0, 10.0)
    tracer.add("a", 1.0, 4.0, parent=run)
    tracer.add("b", 3.0, 5.0, parent=run)  # overlaps a
    tracer.add("c", 9.0, 12.0, parent=run)  # runs past the parent's end
    assert tracer.self_time(run) == pytest.approx(10.0 - 4.0 - 1.0)


def test_hostile_documents_extract_without_parse_failed():
    from readability_scanner_spark.functions.udfs import extract_one

    for name, html in inputs.hostile_documents(seed=1, count=6):
        assert not extract_one(html)[6], name


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import _start_spark, _stop_spark

    session = _start_spark(str(tmp_path_factory.mktemp("spark")), 2)
    yield session
    _stop_spark(session)


def test_fingerprint_repeats_for_a_seed_and_differs_across_seeds(spark, tmp_path):
    from readability_scanner_spark.plans.pipeline import extract_and_score

    started = datetime.now(timezone.utc)

    def fingerprint(seed: int, run: int) -> str:
        table, _ = inputs.build_transcripts(spark, str(tmp_path / f"s{seed}-{run}"), 20, 150, seed, 2)
        return workloads.output_fingerprint(extract_and_score(table, 2), started)[1]

    first = fingerprint(1, 0)
    assert fingerprint(1, 1) == first
    assert fingerprint(2, 0) != first


def _run_benchmark(cwd: str, *args: str) -> subprocess.CompletedProcess:
    # the spark fixture puts the repository on PYTHONPATH; the benchmark
    # must find the program in its own checkout
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def test_traced_extract_html_attributes_wall_time_to_layers():
    proc = _run_benchmark(ROOT, "--workload", "extract_html", "--seed", "3",
                          "--seconds", "1", "--trace", "1")
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(metrics) == set(_per_layer_names())
    named = sum(metrics[k] for k in ("plan.build_s", "scan.read_s", "repartition.s", "udf.wall_s", "sink.s"))
    wall = metrics["trace.wall_s"]
    assert named + metrics["unattributed_s"] == pytest.approx(wall, rel=0.02)
    assert metrics["unattributed_s"] <= 0.1 * wall
    for layer in ("udf.python_total_s", "dom.parse_us_per_doc", "formulas.s",
                  "pipeline.bucket_s_max", "pdf.us_per_doc"):
        assert metrics[layer] > 0, layer


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run_benchmark(str(tmp_path), "--workload", "extract_html", "--seed", "1",
                          "--seconds", "5", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
