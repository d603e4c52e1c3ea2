"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

- BENCHMARK.json lists the workloads and metrics ``run.py`` reports;
- the Cricsheet generator is byte-deterministic and emits its drift matrix;
- in a traced pass, build + planning + job time + driver gap adds up to
  each op's wall time;
- a wrong answer is counted as a failed op.
"""

from __future__ import annotations

import filecmp
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen_cricket  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_benchmark_json_lists_what_run_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in doc["end_to_end"]] \
        == [(k, u, b) for k, (u, b) in run.END_TO_END.items()]
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] \
        == [(k, run.LAYERS[k][0], run.LAYERS[k][1]) for k in run.PER_LAYER]
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_generator_is_deterministic(tmp_path):
    a = gen_cricket.generate(str(tmp_path / "a"), 5, 120)
    b = gen_cricket.generate(str(tmp_path / "b"), 5, 120)
    c = gen_cricket.generate(str(tmp_path / "c"), 6, 120)
    assert a == b
    assert a != c
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    _, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False
    )
    assert mismatch == [] and errors == []
    assert len(names) == a["files"]


def test_generator_emits_the_drift_matrix(tmp_path):
    truth = gen_cricket.generate(str(tmp_path), 5, 120)
    seen = set()
    corrupt = 0
    for name in os.listdir(tmp_path):
        text = (tmp_path / name).read_text()
        try:
            doc = json.loads(text)
        except json.JSONDecodeError:
            corrupt += 1
            continue
        if name.endswith("_rev.json"):
            seen.add("revised")
        for inn in doc["innings"]:
            seen.update(k for k in ("innings", "number") if k in inn)
            for over in inn["overs"]:
                for d in over["deliveries"]:
                    seen.update(k for k in ("striker", "nonStriker", "wicket",
                                            "wickets") if k in d)
                    if "ball" not in d:
                        seen.add("no ball")
                    if "total" not in d["runs"]:
                        seen.add("no total")
    assert seen >= {"innings", "number", "striker", "nonStriker", "wicket",
                    "wickets", "no ball", "no total", "revised"}
    assert corrupt == truth["quarantined"] >= 1
    assert truth["duplicates"] >= 1
    assert truth["rows_in"] > truth["deliveries"]


@pytest.fixture(scope="module")
def spark():
    run.pin_environment()
    from cricket_analytics_nosql_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def cricket(monkeypatch_module):
    monkeypatch_module.setattr(workloads, "CRICKET_MATCHES", 30)
    wl = workloads.CricketReference()
    wl.prepare(os.path.join(run.WORK, "tests"), 3)
    return wl


@pytest.fixture(scope="module")
def monkeypatch_module():
    mp = pytest.MonkeyPatch()
    yield mp
    mp.undo()


def traced_pass(spark, workload):
    """A checked, traced pass; every op in it must pass its checks,
    the layer-sum check included."""
    from probes import JobProbe, StreamProbe

    probes = (JobProbe(spark), StreamProbe())
    spark.streams.addListener(probes[1])
    tally = run.Tally()
    try:
        p = run.run_checked_pass(spark, workload, random.Random(1), True,
                                 probes, tally)
    finally:
        spark.streams.removeListener(probes[1])
    assert tally.failed == 0, tally.errors
    return p


def assert_layers_sum(p):
    for s in p["samples"]:
        assert s["error"] is None, s["error"]
        parts = s["build_s"] + s["plan_s"] + s["job_busy_s"] + s["gap_s"]
        assert abs(parts - s["wall_s"]) <= run.SUM_TOLERANCE * s["wall_s"], s
        assert s["jobs"] >= 1, s["op"]


def test_layers_sum_to_wall_time_catalog(spark):
    wl = workloads.Catalog()
    wl.prepare(run.WORK, 0)
    p = traced_pass(spark, wl)
    assert_layers_sum(p)
    by_layer = {s["layer"]: s for s in p["samples"]}
    assert by_layer["sinks"]["output_bytes"] > 0
    assert by_layer["sinks"]["write_s"] > 0
    assert by_layer["streaming"]["stream"]["batches"] >= 1


def test_layers_sum_to_wall_time_cricket(spark, cricket):
    p = traced_pass(spark, cricket)
    assert_layers_sum(p)
    ingest = p["samples"][0]["ingest"]
    assert ingest["rows_flattened"] == cricket.truth["rows_in"]
    assert p["samples"][0]["output_bytes"] > 0


def test_wrong_answer_counts_as_failed(spark, cricket):
    ops = [op for op in cricket.ops(random.Random(1))
           if op.name in ("ingest", "mongo_runs_by_batter")]
    tally = run.Tally()
    run.check_pass(spark, cricket, ops, tally)
    assert (tally.attempted, tally.failed) == (2, 0), tally.errors

    top = max(cricket.truth["per_batter"].items(), key=lambda kv: kv[1][0])
    runs, balls, boundaries = top[1]
    cricket.truth["per_batter"][top[0]] = (runs + 1, balls, boundaries)
    try:
        ops = [op for op in cricket.ops(random.Random(1))
               if op.name == "mongo_runs_by_batter"]
        run.check_pass(spark, cricket, ops, tally)
    finally:
        cricket.truth["per_batter"][top[0]] = (runs, balls, boundaries)
    assert (tally.attempted, tally.failed) == (3, 1), tally.errors

    # a catalog op whose DuckDB oracle disagrees with it
    catalog = workloads.Catalog()
    catalog.prepare(run.WORK, 0)
    wrong = workloads.Op("wrong_oracle", build=None, oracle="SELECT 1 AS a",
                         fn=lambda s, sf: s.sql("SELECT 2 AS a"))
    run.check_pass(spark, catalog, [wrong], tally)
    assert (tally.attempted, tally.failed) == (4, 2), tally.errors
    assert "value mismatch" in tally.errors[-1]
