"""Event-log reader: attribution arithmetic on a hand-built log, and the
layer table of a small recorded traced run (record_eventlog.py)."""

import json
import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _plan(name, simple, metrics=(), children=()):
    return {"nodeName": name, "simpleString": simple,
            "metrics": [{"name": n, "accumulatorId": i} for n, i in metrics],
            "children": list(children)}


def _task(stage, launch, run, accums=(), cpu_ns=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Failed": False,
                          "Killed": False,
                          "Accumulables": [{"ID": i, "Update": str(u),
                                            "Metadata": "sql"}
                                           for i, u in accums]},
            "Task Metrics": {"Executor Run Time": run,
                             "Executor CPU Time": cpu_ns,
                             "JVM GC Time": 5,
                             "Disk Bytes Spilled": 0}}


def _job(job, submit, stages, desc=None, exec_id=None):
    props = {}
    if desc:
        props["spark.job.description"] = desc
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Submission Time": submit, "Stage IDs": stages,
            "Properties": props}


@pytest.fixture
def tiny_log(tmp_path):
    plan = _plan(
        "Execute InsertIntoHadoopFsRelationCommand",
        "Execute InsertIntoHadoopFsRelationCommand"
        " file:/x/out/extracted/run_id=ab, false, Parquet",
        [("number of output rows", 50)],
        [_plan("MapInPandas",
               "MapInPandas _html_kernel(doc_id#1)#2, [doc_id#3], false",
               [("time to run Python workers", 10),
                ("data sent to Python workers", 11),
                ("data returned from Python workers", 12),
                ("number of output rows", 13)],
               [_plan("ObjectHashAggregate",
                      "ObjectHashAggregate(keys=[doc_id#1], functions="
                      "[collect_list(struct(span_idx, span_idx#4))])",
                      [("number of output rows", 20)])])])
    events = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart",
         "executionId": 1, "time": 1000, "sparkPlanInfo": plan},
        _job(0, 1100, [0, 1], "perfbench:pipeline.run_resumable.first", 1),
        _task(0, 1200, 100, [(10, 30), (11, 2**20), (12, 2 * 2**20),
                             (13, 7)], cpu_ns=50_000_000),
        _task(1, 1300, 200, [(20, 5)], cpu_ns=80_000_000),
        _job(1, 1500, [2]),
        _task(2, 1600, 100),
        _job(2, 2500, [3], "perfbench:pipeline.run_resumable.first", 1),
        _task(3, 2600, 1000),  # after the timed section: not counted
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionEnd",
         "executionId": 1, "time": 1900},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerDriverAccumUpdates",
         "executionId": 1, "accumUpdates": [[50, 9]]},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    run = {"workload": "extract_interleaved", "cores": 2,
           "iterations": [{}], "extra": {"skip_frac": 0.5},
           "section": {"start": 1.0, "end": 2.0},
           "calls": [{"call": "pipeline.run_resumable.first", "start": 1.0,
                      "end": 1.95, "wall_s": 0.95}]}
    return eventlog.read(str(path)), run


def test_attribution_splits_python_time_assembly_and_calls(tiny_log):
    t = eventlog.layer_table(*tiny_log)
    v = {k: m["value"] for k, m in t.items()}
    assert v["functions.htmlparse.py_run_s"] == pytest.approx(0.030)
    assert v["functions.htmlparse.task_s"] == pytest.approx(0.030)
    assert v["functions.htmlparse.arrow_sent_mb"] == pytest.approx(1.0)
    assert v["functions.htmlparse.arrow_returned_mb"] == pytest.approx(2.0)
    assert v["functions.htmlparse.rows_out"] == 7
    assert v["pipeline.run_resumable.task_s"] == pytest.approx(0.070)
    assert v["pipeline.assembly.task_s"] == pytest.approx(0.200)
    assert v["pipeline.assembly.cpu_s"] == pytest.approx(0.080)
    assert v["layer.unattributed_frac"] == pytest.approx(0.25)
    assert v["spark.exec_run_s"] == pytest.approx(0.4)
    assert v["spark.tasks"] == 3
    assert v["spark.slot_util"] == pytest.approx(0.4 / (1.0 * 2))
    assert v["pipeline.extract.plan_s"] == pytest.approx(0.1)
    assert v["pipeline.run_resumable.write_s"] == pytest.approx(0.9)
    assert v["pipeline.run_resumable.skip_frac"] == 0.5


def test_metric_not_emitted_is_absent_not_zero(tiny_log):
    t = eventlog.layer_table(*tiny_log)
    assert "functions.pdfparse.py_run_s" not in t
    assert "operators.pdf_relational.py_run_s" not in t
    assert "pipeline.run_resumable.metrics_s" not in t


@pytest.mark.parametrize("workload", ["extract_interleaved", "curate_dedup"])
def test_recorded_run_layer_table(workload):
    log = eventlog.read(os.path.join(DATA, f"{workload}.eventlog.jsonl.gz"))
    with open(os.path.join(DATA, f"{workload}.run.json")) as fh:
        run = json.load(fh)
    t = eventlog.layer_table(log, run)
    from_log = [k for k in eventlog.PER_LAYER
                if k not in ("session.start_s", "trace.overhead_frac")]
    assert set(from_log) <= set(t)
    assert t["layer.unattributed_frac"]["value"] <= 0.10
    assert t["spark.tasks"]["value"] > 0
    if workload == "extract_interleaved":
        # the corpus kernels, and the raw-file slice's parsers and probe
        for mod in ("functions.htmlparse", "functions.markdown",
                    "operators.pdf_relational", "functions.pdfparse",
                    "functions.docx", "dispatch"):
            assert t[f"{mod}.py_run_s"]["value"] > 0
        assert t["pipeline.extract_files.plan_s"]["value"] > 0
        assert t["pipeline.assembly.task_s"]["value"] > 0
        assert t["pipeline.run_resumable.write_s"]["value"] > 0
        assert t["pipeline.run_resumable.metrics_s"]["value"] > 0
    else:
        assert not any(k.endswith(".py_run_s") for k in t)
        for fn in ("exact_dedup", "minhash_dedup_pairs", "ngram_jaccard_pairs"):
            assert t[f"operators.dedup.{fn}_s"]["value"] > 0
        assert 0 < t["operators.dedup.ngram_jaccard_pairs.pair_yield"]["value"] <= 1
