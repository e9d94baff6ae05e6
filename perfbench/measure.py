"""One measured run of one workload in a fresh Spark session.

Started by run.py as its own process (`python3 -m perfbench.measure`),
so every run gets a fresh JVM, python worker daemon and CacheManager.
Writes its result as JSON to --result; prints nothing on stdout.

Sequence: session start and a warm-up of the same calls on a separate
tiny input (other seed, other files), while the measured inputs are
generated on a thread -> timed section -> output checks -> session
stop.  The timed section repeats the
workload's calls (fresh output, cache cleared) until --seconds have
passed; the iteration running at that moment completes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from pydoxtools_spark.session import get_spark

from . import proctree
from .workloads import SIZES, WORKLOADS, Calls

WARMUP_SEED_OFFSET = 7_919


def _timed(fn, *args):
    t = time.monotonic()
    return fn(*args), time.monotonic() - t


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of this host's memory, between 1 and 2 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 1024 // 8))


def session(work: str, cores: int, trace: bool):
    mem = driver_memory_mb()
    os.environ["SPARK_DRIVER_MEM"] = f"{mem}m"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # initial heap = max heap, every heap page made resident at start:
        # how much of the heap GC timing happens to touch does not move
        # the resident-memory peak, so it repeats
        "spark.driver.extraJavaOptions":
            f"-Xms{mem}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp"
            " -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                     extra_conf=conf)


def measure(workload: str, seed: int, seconds: float, trace: bool,
            smoke: bool, work: str, t0_boot: float) -> dict:
    wl = WORKLOADS[workload]
    measured_size, smoke_size = SIZES[workload]
    cores = host_cores()
    pid = os.getpid()

    # the inputs are generated (pure python) while the JVM starts and the
    # warm-up runs; both mostly wait on the JVM with the GIL released
    pool = ThreadPoolExecutor(max_workers=1)
    generated = pool.submit(_timed, wl.generate, f"{work}/in", seed,
                            smoke_size if smoke else measured_size)
    pool.shutdown(wait=False)
    t = proctree.boottime()
    spark = session(work, cores, trace)
    try:
        session_start_s = proctree.boottime() - t
        t = proctree.boottime()
        warm = wl.load(spark, wl.generate(f"{work}/warm_in",
                                          seed + WARMUP_SEED_OFFSET, smoke_size))
        warm_calls = Calls(spark, "warmup:")
        wl.run(spark, warm, f"{work}/warm_out", warm_calls, cores)
        spark.catalog.clearCache()
        warmup_s = proctree.boottime() - t
        data, inputs_s = generated.result()
        data = wl.load(spark, data)

        calls = Calls(spark)
        iterations, failure = [], None
        setup_s = proctree.boottime() - t0_boot
        section_start = time.time()
        cpu0 = proctree.tree_cpu_s(pid)
        with proctree.PeakMemory(pid) as mem:
            t_section = time.monotonic()
            while True:
                spark.catalog.clearCache()
                try:
                    it = wl.run(spark, data, f"{work}/out{len(iterations)}",
                                calls, cores)
                except Exception:  # a raising run fails all its documents
                    failure = traceback.format_exc()
                    break
                iterations.append(it)
                if smoke or time.monotonic() - t_section >= seconds:
                    break
        cpu_s = proctree.tree_cpu_s(pid) - cpu0
        section_end = time.time()

        checks = [wl.check(data, it) for it in iterations]
    finally:
        spark.stop()

    attempted = sum(c.attempted for c in checks)
    failed = sum(c.failed for c in checks)
    problems = [p for c in checks for p in c.problems][:20]
    if failure is not None:
        n = wl.n_docs(data)
        attempted, failed = attempted + n, failed + n
        problems.append(failure)
    docs = sum(it.docs for it in iterations)
    wall_s = sum(it.wall_s for it in iterations)
    # workload-specific values (resume_s, skip_frac, pair_recall):
    # median over the iterations
    per_it = [{**it.extra, **c.extra} for it, c in zip(iterations, checks)]
    extra = {k: statistics.median(d[k] for d in per_it)
             for k in (per_it[0] if per_it else {})}
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "cores": cores, "driver_memory_mb": driver_memory_mb(),
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "inputs_s": inputs_s, "warmup_s": warmup_s,
        "docs_per_s": docs / wall_s if wall_s else None,
        "cpu_s_per_kdoc": cpu_s / (docs / 1000) if docs else None,
        "peak_rss_mb": mem.peak / 2**20,
        "attempted": attempted, "failed": failed, "problems": problems,
        "iterations": [{"docs": it.docs, "wall_s": it.wall_s, **d}
                       for it, d in zip(iterations, per_it)],
        "extra": extra,
        "calls": calls.spans, "warmup_calls": warm_calls.spans,
        "section": {"start": section_start, "end": section_end,
                    "cpu_s": cpu_s},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0-boot", type=float, required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args(argv)
    res = measure(a.workload, a.seed, a.seconds, bool(a.trace),
                  bool(a.smoke), a.work, a.t0_boot)
    tmp = a.result + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(res, fh)
    os.replace(tmp, a.result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
