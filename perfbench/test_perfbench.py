"""Tests of the benchmark itself: seeded inputs, the output checks and
the event-log folder.

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]

import eventlog  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


# -- seeded inputs ------------------------------------------------------------

def test_same_seed_same_inputs():
    assert np.array_equal(inputs.match_keys(5000, 7), inputs.match_keys(5000, 7))
    ids_a, text_a = inputs.corpus(500, 0.1, 7)
    ids_b, text_b = inputs.corpus(500, 0.1, 7)
    assert np.array_equal(ids_a, ids_b) and text_a == text_b


def test_different_seed_different_inputs():
    assert not np.array_equal(inputs.match_keys(5000, 7), inputs.match_keys(5000, 8))
    assert inputs.corpus(500, 0.1, 7)[1] != inputs.corpus(500, 0.1, 8)[1]


def _workload(name):
    import workloads

    return run.WORKLOADS[name](workloads)


def _match_parts(wl):
    import workloads

    return [p for p in getattr(wl, "parts", [wl]) if isinstance(p, workloads._Layers)]


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
def test_workload_class_mix(name):
    """Every match layer draws classes 0-7 only (each probe has a
    candidate within 105 m), near-uniformly, with unique ids."""
    for part in _match_parts(_workload(name)):
        keys = inputs.match_keys(part.n, 3)
        assert len(np.unique(keys)) == len(keys)
        share = np.bincount(keys % 10, minlength=10) / len(keys)
        assert share[8:].sum() == 0.0
        assert np.all(np.abs(share[:8] - 1 / 8) < 0.02)


def test_corpus_near_dup_share():
    n = 4000
    _, text = inputs.corpus(n, 0.1, 3)
    lengths = [len(t.split()) for t in text]
    assert min(lengths) >= 10 and max(lengths) <= 100
    assert set(w for t in text for w in t.split()) <= set(inputs.VOCAB)
    # a near-dup shares its first or last 3-shingle with its source
    # far more often than two unrelated documents do
    heads = {}
    for t in text:
        heads.setdefault(" ".join(t.split()[:3]), []).append(t)
    shared = sum(len(v) - 1 for v in heads.values())
    assert 0.03 * n < shared < 0.2 * n


# -- event-log folding ----------------------------------------------------------

def _event_log(tmp_path):
    """A two-job application: one job in span group `s#0` with a
    Python node, one outside any group."""
    plan = {
        "nodeName": "Project", "metrics": [], "children": [{
            "nodeName": "ArrowEvalPython", "children": [],
            "metrics": [
                {"name": "number of output rows", "accumulatorId": 7, "metricType": "sum"},
                {"name": "time to run Python workers", "accumulatorId": 8, "metricType": "timing"},
            ],
        }],
    }

    def task(stage, launch, finish, reason="Success"):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": [
                {"ID": 7, "Update": "10", "Metadata": "sql"},
                {"ID": 8, "Update": "500", "Metadata": "sql"},
            ]},
            "Task Metrics": {"Executor CPU Time": 2 * 10**8, "JVM GC Time": 10,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 40}},
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "s#0"}},
        # the Python node is announced after its tasks ran (AQE re-plan)
        task(1, 1100, 1600),
        task(1, 1100, 1600, reason="ExceptionFailure"),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [2], "Properties": {}},
        task(2, 2500, 2600),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2700},
    ]
    path = tmp_path / "local-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return tmp_path


def test_eventlog_span_metrics(tmp_path):
    log_dir = _event_log(tmp_path)
    [m] = eventlog.span_metrics(str(log_dir), [{"name": "s", "group": "s#0", "t0": 0.5, "t1": 3.0}], cores=2)
    assert m["wall_s"] == pytest.approx(2.5)
    assert m["driver_s"] == pytest.approx(1.5)  # one job busy 1.0 of 2.5 s
    assert m["core_idle_frac"] == pytest.approx(1 - 1000 / (2500 * 2))
    assert (m["jobs"], m["stages"], m["stages_skipped"], m["tasks"]) == (1, 1, 1, 2)
    assert m["task_failures"] == 1
    assert m["task_cpu_s"] == pytest.approx(0.4) and m["gc_s"] == pytest.approx(0.02)
    assert (m["shuffle_write_bytes"], m["shuffle_read_bytes"]) == (200, 80)
    assert (m["udf_rows"], m["udf_s"]) == (20, pytest.approx(1.0))


def test_per_layer_metric_count():
    assert len(run.per_layer_names()) <= 128


# -- output checks that can fail ---------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    from overmatch_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = get_spark("perfbench-test", cpus=2, extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_corrupted_output_fails_check(spark, tmp_path):
    """Oracle matches pass both checks; the same rows with one value
    changed fail both the oracle compare and the fingerprint check."""
    import checks
    import workloads
    from check_oracle import compare

    wl = workloads.MatchPipeline(2000)
    wl.generate(str(tmp_path), 5)
    wl.materialize(spark, 2)
    exp = checks.conflate_oracle(wl.keys_path)["matches"]
    schema = checks.rounded_matches(workloads.conflate(wl.a, wl.b)).schema
    ref = checks.pandas_fingerprint(spark, exp, schema)

    good = exp.copy()
    bad = exp.copy()
    bad.loc[bad.index[len(bad) // 2], "distance_m"] += 0.1
    assert compare("conflate", good, exp) == []
    assert compare("conflate", bad, exp) != []
    assert checks.pandas_fingerprint(spark, good, schema) == ref
    assert checks.pandas_fingerprint(spark, bad, schema) != ref

    # the run check the benchmark applies to every run
    knn = (5, 11, 12, 1, 2, 3)
    wl.ref = {"conflate": ref, "group": (1, 2, 3), "knn_n": 5, "knn_sample": knn[3:], "knn_all": None}
    run_out = {"conflate": checks.pandas_fingerprint(spark, good, schema), "group": (1, 2, 3), "knn": knn}
    assert wl.check(run_out) == []
    run_out["conflate"] = checks.pandas_fingerprint(spark, bad, schema)
    assert [p for p in wl.check(run_out) if p.startswith("conflate")]


def test_benchmark_json_matches_the_program():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.REPORTED)
    for m in spec["end_to_end"]:
        assert run.END_TO_END[m["name"]] == m["unit"]
