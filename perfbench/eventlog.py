"""Offline reader of one Spark event log -> per-module layer table.

The traced run writes an uncompressed, non-rolling event log.  The reader
joins four things found in it:

  job start      job description `perfbench:<call>` (set by the benchmark
                 around each call) and the stage ids of the job
  task end       executor run/CPU/GC time, shuffle, spill and output
                 bytes, and the per-task updates of every SQL metric
  SQL plans      (initial and every adaptive update) name the plan node
                 that owns each SQL-metric accumulator: MapInPandas nodes
                 by their python function, the per-document collect of
                 extract()'s assembly, pair aggregates, parquet writes
  driver updates SQL metrics the driver sets itself (rows written)

Task run time in the timed section is attributed as follows: the python
worker time each task reports for a kernel goes to that kernel's module;
the rest of a task goes to pipeline.assembly when its stage holds the
per-document collect, else to the module of the call that launched it.
Tasks of jobs without a call tag are unattributed.

A metric Spark did not emit (no python kernel ran, no assembly stage)
is absent from the table, never reported as zero.  Additive metrics are
per timed iteration (section total / iterations).
"""

from __future__ import annotations

import gzip
import json
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from .workloads import TAG_PREFIX

# mapInPandas python function -> module that owns the kernel's parser
KERNELS = {
    "_html_kernel": "functions.htmlparse",
    "_markdown_kernel": "functions.markdown",
    "runs": "operators.pdf_relational",      # routed page/table kernel walk
    "_parse_pdf_blobs_kernel": "functions.pdfparse",
    "_docx_kernel": "functions.docx",
    "probe_zip": "dispatch",                 # zip container probe
}
PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "arrow_sent_mb",
    "data returned from Python workers": "arrow_returned_mb",
    "number of output rows": "rows_out",
}
ASSEMBLY = "pipeline.assembly"
UNATTRIBUTED = "unattributed"
MB = 2**20

# the per_layer metrics every workload emits (BENCHMARK.json per_layer)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "driver.plan_s": ("s", "lower"),
    "spark.exec_cpu_s": ("s", "lower"),
    "spark.exec_run_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_fetch_wait_s": ("s", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.output_mb": ("MB", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "spark.slot_util": ("fraction", "higher"),
    "layer.unattributed_frac": ("fraction", "lower"),
    "trace.overhead_frac": ("fraction", "lower"),
}


@dataclass
class Task:
    stage: int
    launch_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    fetch_wait_ms: int
    spill: int
    output: int
    failed: bool
    accums: dict[int, int]


@dataclass
class Log:
    jobs: dict[int, dict] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    # accumulator id -> (owner label, metric name, SQL execution id)
    owners: dict[int, tuple[str, str, int]] = field(default_factory=dict)
    executions: dict[int, dict] = field(default_factory=dict)
    driver_accums: dict[int, int] = field(default_factory=dict)


# the (id_a, id_b) aggregate of a pair operator: minhash's dropDuplicates
# and n-gram's common-shingle count (keyed before the id_a/id_b aliases)
_PAIR_KEYS = re.compile(
    r"HashAggregate\(keys=\[(id_a#\d+, id_b#\d+|id#\d+, id#\d+)\]")


def _owner(node: dict) -> str | None:
    name, s = node["nodeName"], node["simpleString"]
    if name == "MapInPandas":
        fn = s.split(" ", 2)[1].split("(", 1)[0]
        return f"kernel:{fn}"
    if name == "ObjectHashAggregate" and s.startswith(
            "ObjectHashAggregate(keys=[doc_id") and "collect_list(struct(span_idx" in s:
        return "assembly"
    if name == "HashAggregate" and _PAIR_KEYS.match(s):
        return "pairs"
    if name == "Execute InsertIntoHadoopFsRelationCommand":
        # "Execute InsertIntoHadoopFsRelationCommand <path>, ..."
        return "write:" + s.split(" ", 3)[2].split(",", 1)[0]
    return None


def _walk_plan(log: Log, exec_id: int, node: dict) -> None:
    owner = _owner(node)
    if owner is not None:
        for m in node["metrics"]:
            log.owners[m["accumulatorId"]] = (owner, m["name"], exec_id)
        if owner.startswith("write:"):
            log.executions[exec_id]["write"] = owner[len("write:"):]
    for child in node["children"]:
        _walk_plan(log, exec_id, child)


def read(path: str) -> Log:
    log = Log()
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                log.jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "exec": int(exec_id) if exec_id is not None else None,
                    "submit_ms": e["Submission Time"]}
                for s in e["Stage IDs"]:
                    log.stage_job.setdefault(s, e["Job ID"])
            elif ev == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                log.tasks.append(Task(
                    stage=e["Stage ID"], launch_ms=info["Launch Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write=m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0),
                    fetch_wait_ms=m.get("Shuffle Read Metrics", {}).get(
                        "Fetch Wait Time", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                    output=m.get("Output Metrics", {}).get("Bytes Written", 0),
                    failed=info["Failed"] or info["Killed"],
                    accums={a["ID"]: int(a["Update"])
                            for a in info.get("Accumulables", ())
                            if a.get("Metadata") == "sql"}))
            elif ev.endswith("SQLExecutionStart"):
                log.executions[e["executionId"]] = {"start_ms": e["time"]}
                _walk_plan(log, e["executionId"], e["sparkPlanInfo"])
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(log, e["executionId"], e["sparkPlanInfo"])
            elif ev.endswith("SQLExecutionEnd"):
                log.executions[e["executionId"]]["end_ms"] = e["time"]
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e["accumUpdates"]:
                    log.driver_accums[acc_id] = (
                        log.driver_accums.get(acc_id, 0) + int(value))
    return log


def call_module(call: str) -> str:
    """`pipeline.run_resumable.first` -> `pipeline.run_resumable`,
    `operators.dedup.exact_dedup` -> `operators.dedup`."""
    return ".".join(call.split(".")[:2])


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _skew(run_ms: list[int]) -> float | None:
    med = statistics.median(run_ms) if run_ms else 0
    return max(run_ms) / med if med else None


def layer_table(log: Log, run: dict) -> dict[str, dict]:
    """Per-module table of one traced run (`run` is measure.py's result)."""
    n_it = max(len(run["iterations"]), 1)
    cores = run["cores"]
    lo = run["section"]["start"] * 1000
    hi = run["section"]["end"] * 1000

    def call_of(task: Task) -> str | None:
        job = log.jobs.get(log.stage_job.get(task.stage))
        desc = job and job["desc"]
        if desc and desc.startswith(TAG_PREFIX) and not desc.startswith(
                TAG_PREFIX + "warmup:"):
            return desc[len(TAG_PREFIX):]
        return None

    timed = [t for t in log.tasks if lo <= t.launch_ms <= hi]
    attributed: dict[str, float] = defaultdict(float)
    kernel: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_runs: dict[tuple[str, int], list[int]] = defaultdict(list)
    assembly_cpu_ns = 0
    for t in timed:
        call = call_of(t)
        if call is None:
            attributed[UNATTRIBUTED] += t.run_ms
            continue
        py: dict[str, float] = defaultdict(float)
        in_assembly = False
        for acc, upd in t.accums.items():
            owner, metric, _ = log.owners.get(acc, (None, None, None))
            if owner is None:
                continue
            if owner.startswith("kernel:"):
                fn = owner[len("kernel:"):]
                mod = KERNELS.get(fn, f"kernel.{fn}")
                key = PY_METRICS.get(metric)
                if key:
                    kernel[mod][key] += upd
                if key == "py_run_s":
                    py[mod] += upd
            elif owner == "assembly":
                in_assembly = True
        scale = min(1.0, t.run_ms / sum(py.values())) if py else 0.0
        for mod, ms in py.items():
            attributed[mod] += ms * scale
        rest = t.run_ms - sum(py.values()) * scale
        if in_assembly:
            attributed[ASSEMBLY] += rest
            assembly_cpu_ns += t.cpu_ns
            stage_runs[(ASSEMBLY, t.stage)].append(t.run_ms)
        else:
            mod = call_module(call)
            attributed[mod] += rest
            stage_runs[(mod, t.stage)].append(t.run_ms)

    table: dict[str, dict] = {}
    total_run = sum(t.run_ms for t in timed)
    wall_s = (hi - lo) / 1000
    table["spark.exec_cpu_s"] = _metric(sum(t.cpu_ns for t in timed) / 1e9 / n_it, "s")
    table["spark.exec_run_s"] = _metric(total_run / 1000 / n_it, "s")
    table["spark.gc_s"] = _metric(sum(t.gc_ms for t in timed) / 1000 / n_it, "s")
    table["spark.shuffle_write_mb"] = _metric(
        sum(t.shuffle_write for t in timed) / MB / n_it, "MB")
    table["spark.shuffle_fetch_wait_s"] = _metric(
        sum(t.fetch_wait_ms for t in timed) / 1000 / n_it, "s")
    table["spark.spill_mb"] = _metric(sum(t.spill for t in timed) / MB / n_it, "MB")
    table["spark.output_mb"] = _metric(sum(t.output for t in timed) / MB / n_it, "MB")
    table["spark.tasks"] = _metric(len(timed) / n_it, "count")
    table["spark.tasks_failed"] = _metric(
        sum(t.failed for t in timed) / n_it, "count")
    table["spark.slot_util"] = _metric(
        total_run / 1000 / (wall_s * cores) if wall_s else 0.0, "fraction")
    table["layer.unattributed_frac"] = _metric(
        attributed[UNATTRIBUTED] / total_run if total_run else 0.0, "fraction")
    for mod, ms in sorted(attributed.items()):
        if mod != UNATTRIBUTED:
            table[f"{mod}.task_s"] = _metric(ms / 1000 / n_it, "s")

    for mod, vals in sorted(kernel.items()):
        for key, v in sorted(vals.items()):
            if key == "py_run_s":
                table[f"{mod}.{key}"] = _metric(v / 1000 / n_it, "s")
            elif key.endswith("_mb"):
                table[f"{mod}.{key}"] = _metric(v / MB / n_it, "MB")
            else:
                table[f"{mod}.{key}"] = _metric(v / n_it, "count")

    if assembly_cpu_ns:
        table[f"{ASSEMBLY}.cpu_s"] = _metric(assembly_cpu_ns / 1e9 / n_it, "s")
    for mod in sorted({m for m, _ in stage_runs}):
        # skew of the module's heaviest stage: max / median task time
        runs = max((r for (m, _), r in stage_runs.items() if m == mod), key=sum)
        skew = _skew(runs)
        if skew is not None and len(runs) > 1:
            table[f"{mod}.task_skew"] = _metric(skew, "ratio")
        if mod == "operators.dedup":
            spill = sum(t.spill for t in timed if (mod, t.stage) in stage_runs)
            table[f"{mod}.spill_mb"] = _metric(spill / MB / n_it, "MB")

    _call_metrics(log, run, table, n_it)
    return table


def _call_metrics(log: Log, run: dict, table: dict, n_it: int) -> None:
    """Driver-side split of every timed call: plan time (call start to its
    first job), action time of its SQL executions, and where the call has
    them the write/metrics split and the pair yield."""
    jobs = sorted(log.jobs.values(), key=lambda j: j["submit_ms"])
    plan: dict[str, float] = defaultdict(float)
    action: dict[str, float] = defaultdict(float)
    resumable: dict[str, float] = defaultdict(float)
    yields: dict[str, list[float]] = defaultdict(list)
    for c in run["calls"]:
        lo, hi = c["start"] * 1000, c["end"] * 1000
        inside = [j for j in jobs if lo <= j["submit_ms"] <= hi
                  and j["desc"] == TAG_PREFIX + c["call"]]
        plan[c["call"]] += ((inside[0]["submit_ms"] - lo) / 1000 if inside
                            else c["wall_s"])
        execs = {j["exec"] for j in inside if j["exec"] is not None}
        for x in execs:
            ex = log.executions.get(x, {})
            dur = (ex.get("end_ms", ex.get("start_ms", 0))
                   - ex.get("start_ms", 0)) / 1000
            action[c["call"]] += dur
            target = ex.get("write", "")
            if "/extracted/run_id=" in target:
                resumable["write_s"] += dur
            elif target.endswith("/metrics"):
                resumable["metrics_s"] += dur
        if c["call"].endswith("_pairs"):
            candidates, verified = _pair_counts(log, execs)
            if candidates:
                yields[c["call"]].append(verified / candidates)

    table["driver.plan_s"] = _metric(sum(plan.values()) / n_it, "s")
    for call, secs in sorted(plan.items()):
        # extract() is planned inside the first run_resumable call: its
        # driver time before the first job is extract()'s plan time
        name = ("pipeline.extract" if call == "pipeline.run_resumable.first"
                else call)
        table[f"{name}.plan_s"] = _metric(secs / n_it, "s")
        if call.startswith("operators."):
            table[f"{call}_s"] = _metric(action[call] / n_it, "s")
    for key, secs in sorted(resumable.items()):
        table[f"pipeline.run_resumable.{key}"] = _metric(secs / n_it, "s")
    if "skip_frac" in run["extra"]:
        table["pipeline.run_resumable.skip_frac"] = _metric(
            run["extra"]["skip_frac"], "fraction")
    for call, ys in sorted(yields.items()):
        table[f"{call}.pair_yield"] = _metric(statistics.median(ys), "fraction")


def _pair_counts(log: Log, execs: set[int]) -> tuple[int, int]:
    """(candidate pairs, verified pairs) of one pair-operator call:
    candidates are the rows of its smallest (id_a, id_b) aggregate (the
    final, deduplicated one), verified the rows its parquet write
    committed."""
    rows: dict[int, int] = defaultdict(int)
    for t in log.tasks:
        for acc, upd in t.accums.items():
            rows[acc] += upd
    pair_rows = [rows[a] for a, (o, m, x) in log.owners.items()
                 if o == "pairs" and m == "number of output rows"
                 and x in execs and rows.get(a)]
    written = sum(log.driver_accums.get(a, 0)
                  for a, (o, m, x) in log.owners.items()
                  if o.startswith("write:") and m == "number of output rows"
                  and x in execs)
    return (min(pair_rows) if pair_rows else 0), written


def print_table(table: dict[str, dict]) -> None:
    print("# per-module layer table (traced run; additive metrics per timed"
          " iteration)")
    for key in sorted(table):
        m = table[key]
        print(f"{key:<52} {m['value']:>14.4f} {m['unit']}")
