"""Record the small event log the event-log reader's test runs on.

    python3 -m perfbench.tests.record_eventlog <workload>

Runs one traced smoke measurement of <workload> in a fresh process and
keeps, from its event log, only the timed section's events and the
fields eventlog.read() uses (plan node strings cut short), gzipped,
together with the run result the reader pairs with it.  Output:
perfbench/tests/data/<workload>.eventlog.jsonl.gz and <workload>.run.json.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import subprocess
import sys

from perfbench import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
KEEP_METRICS = ("Executor Run Time", "Executor CPU Time", "JVM GC Time",
                "Shuffle Write Metrics", "Shuffle Read Metrics",
                "Disk Bytes Spilled", "Output Metrics")


def _plan(node: dict) -> dict:
    return {"nodeName": node["nodeName"],
            "simpleString": node["simpleString"][
                :300 if node["nodeName"].startswith("Execute") else 120],
            "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]}
                        for m in node["metrics"]],
            "children": [_plan(c) for c in node["children"]]}


def trim(event: dict) -> dict | None:
    ev = event["Event"]
    if ev == "SparkListenerJobStart":
        props = event.get("Properties") or {}
        return {"Event": ev, "Job ID": event["Job ID"],
                "Submission Time": event["Submission Time"],
                "Stage IDs": event["Stage IDs"],
                "Properties": {k: props[k] for k in (
                    "spark.job.description", "spark.sql.execution.id")
                    if k in props}}
    if ev == "SparkListenerTaskEnd":
        info, m = event["Task Info"], event.get("Task Metrics") or {}
        return {"Event": ev, "Stage ID": event["Stage ID"],
                "Task Info": {
                    "Launch Time": info["Launch Time"],
                    "Failed": info["Failed"], "Killed": info["Killed"],
                    "Accumulables": [
                        {"ID": a["ID"], "Update": a["Update"],
                         "Metadata": "sql"}
                        for a in info.get("Accumulables", ())
                        if a.get("Metadata") == "sql"]},
                "Task Metrics": {k: m[k] for k in KEEP_METRICS if k in m}}
    if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
        out = {"Event": ev, "executionId": event["executionId"],
               "sparkPlanInfo": _plan(event["sparkPlanInfo"])}
        if "time" in event:
            out["time"] = event["time"]
        return out
    if ev.endswith(("SQLExecutionEnd", "SparkListenerDriverAccumUpdates")):
        return event
    return None


def _in_section(event: dict, start_ms: float, kept_execs: set[int]) -> bool:
    """Events of the timed section (and of SQL executions started in it)."""
    ev = event["Event"]
    if ev == "SparkListenerJobStart":
        return event["Submission Time"] >= start_ms
    if ev == "SparkListenerTaskEnd":
        return event["Task Info"]["Launch Time"] >= start_ms
    if ev.endswith("SQLExecutionStart") and event["time"] >= start_ms:
        kept_execs.add(event["executionId"])
    return event["executionId"] in kept_execs


def main(workload: str) -> None:
    work = os.path.join(ROOT, ".perfbench_work", f"record-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    subprocess.run(
        [sys.executable, "-m", "perfbench.measure", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1", "--smoke", "1",
         "--work", work, "--t0-boot", repr(proctree.boottime()),
         "--result", f"{work}/result.json"],
        cwd=ROOT, check=True, stdout=sys.stderr,
        env=dict(os.environ, TMPDIR=f"{work}/tmp",
                 SPARK_LOCAL_DIRS=f"{work}/local"))
    with open(f"{work}/result.json") as fh:
        run = json.load(fh)
    start_ms = run["section"]["start"] * 1000
    (log,) = glob.glob(f"{work}/eventlog/*")
    kept_execs: set[int] = set()
    with open(log) as src, gzip.open(
            f"{HERE}/data/{workload}.eventlog.jsonl.gz", "wt") as dst:
        for line in src:
            event = trim(json.loads(line))
            if event is None or not _in_section(event, start_ms, kept_execs):
                continue
            # plan strings name output paths: keep them host-independent
            dst.write(json.dumps(event, separators=(",", ":")).replace(
                work, "/work") + "\n")
    with open(f"{HERE}/data/{workload}.run.json", "w") as fh:
        json.dump(run, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1])
