"""Seeded extract / ingest / curate benchmark for pydoxtools_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Every measured run happens in a fresh
child process (perfbench/measure.py) on local[<cores of this host>] with
a driver memory sized from this host.  The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}:

  --trace 0  end-to-end metrics of one untraced run (BENCHMARK.json
             end_to_end)
  --trace 1  an untraced run, then a traced run of the same workload and
             seed (Spark event log on), each measuring half of --seconds;
             prints the per-module layer table
             read from the event log, the kernels timed in-process
             outside Spark, and the tracing overhead; the metrics are the
             BENCHMARK.json per_layer set

--smoke 1 runs the tiny input sizes of the benchmark's own tests.  A
failed output check prints the result with "correct": false and exits 1;
a run that cannot produce a result (e.g. the package is missing) exits
non-zero without printing one.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import proctree  # noqa: E402

RUN_BUDGET_S = 170.0
PR_SET_CHILD_SUBREAPER = 36

E2E_UNITS = {"setup_s": "s", "docs_per_s": "docs/s",
             "cpu_s_per_kdoc": "cpu-s/kdoc", "peak_rss_mb": "MB"}
WORKLOAD_E2E = {"extract_interleaved": {"resume_s": "s"},
                "curate_dedup": {"pair_recall": "fraction"}}


def _child(args, work: str, trace: bool, seconds: float, t0_boot: float,
           deadline: float) -> dict:
    """Run one measurement in a fresh process; whatever it leaves behind
    (JVM, python worker daemon and workers) is stopped and reaped before
    this returns, also when it overruns the deadline."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    result = f"{work}/result.json"
    env = dict(os.environ, TMPDIR=f"{work}/tmp", SPARK_LOCAL_DIRS=f"{work}/local",
               PYTHONDONTWRITEBYTECODE="1")
    cmd = [sys.executable, "-m", "perfbench.measure",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", str(int(trace)),
           "--smoke", str(args.smoke), "--work", work,
           "--t0-boot", repr(t0_boot), "--result", result]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_descendants()
    if code != 0 or not os.path.exists(result):
        raise RuntimeError(f"measurement process failed (exit {code})")
    with open(result) as fh:
        return json.load(fh)


def _become_subreaper() -> None:
    """Orphaned descendants (the python worker daemon runs in its own
    process group) are re-parented to this process instead of init, so
    _stop_descendants can find and reap them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stop_descendants() -> None:
    """Kill every remaining descendant of this process and reap it."""
    me = os.getpid()
    while True:
        rest = [p for p in proctree.tree_pids(me) if p != me]
        if not rest:
            return
        for pid in rest:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while True:
                os.waitpid(-1, 0)
        except ChildProcessError:
            pass


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _print_run(res: dict, label: str) -> None:
    print(f"# {label}: {res['workload']} seed={res['seed']} cores={res['cores']}"
          f" driver_memory={res['driver_memory_mb']}MB"
          f" iterations={len(res['iterations'])}")
    print(f"# setup parts: session {res['session_start_s']:.2f} s, inputs"
          f" {res['inputs_s']:.2f} s, warm-up {res['warmup_s']:.2f} s;"
          " iteration walls " + ", ".join(f"{it['wall_s']:.2f}"
                                         for it in res["iterations"]))
    print("# warm-up calls: " + ", ".join(
        f"{c['call']} {c['wall_s']:.2f}" for c in res["warmup_calls"]))
    walls: dict[str, list[float]] = {}
    for c in res["calls"]:
        walls.setdefault(c["call"], []).append(c["wall_s"])
    for call, w in walls.items():
        print(f"call {call:<40} {statistics.median(w):8.3f} s (median of {len(w)})")
    for k, unit in {**E2E_UNITS, **WORKLOAD_E2E.get(res["workload"], {})}.items():
        v = res[k] if k in res else res["extra"].get(k)
        print(f"{k:<22} {v if v is None else round(v, 4):>12} {unit}")
    frac = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"{'doc_fail_frac':<22} {round(frac, 6):>12} fraction")
    for p in res["problems"]:
        print(f"  check: {p}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0_boot = proctree.process_start_boottime()
    _become_subreaper()
    # SIGTERM unwinds like an exception, so the measurement processes are
    # stopped and the scratch data removed
    signal.signal(signal.SIGTERM, _terminate)
    deadline = time.monotonic() + RUN_BUDGET_S
    base = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        # --trace 1 splits --seconds between the untraced and traced run
        seconds = args.seconds / 2 if args.trace else args.seconds
        plain = _child(args, f"{base}/plain", False, seconds, t0_boot,
                       deadline)
        _print_run(plain, "untraced run")
        runs = [plain]
        if args.trace:
            from perfbench import eventlog, kernels

            traced = _child(args, f"{base}/traced", True, seconds,
                            proctree.boottime(), deadline)
            runs.append(traced)
            _print_run(traced, "traced run")
            logs = glob.glob(f"{base}/traced/eventlog/*")
            table = eventlog.layer_table(eventlog.read(logs[0]), traced)
            table.update(kernels.time_kernels(args.workload, args.seed,
                                              smoke=bool(args.smoke)))
            table["session.start_s"] = _metric(traced["session_start_s"], "s")
            if traced["docs_per_s"] and plain["docs_per_s"]:
                table["trace.overhead_frac"] = _metric(
                    1.0 - traced["docs_per_s"] / plain["docs_per_s"],
                    "fraction")
            eventlog.print_table(table)
            wanted = set(eventlog.PER_LAYER)
            metrics = {k: table[k] for k in eventlog.PER_LAYER if k in table}
        else:
            wanted = set(E2E_UNITS)
            metrics = {k: _metric(plain[k], u) for k, u in E2E_UNITS.items()
                       if plain[k] is not None}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(base))  # only when no other run uses it
        except OSError:
            pass
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    # a raising run leaves metrics unmeasured; it is never correct
    correct = failed == 0 and set(metrics) == wanted
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
