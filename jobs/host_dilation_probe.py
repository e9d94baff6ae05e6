"""Host concurrency-dilation probe (r7 scaling diagnosis).

Measures how per-thread throughput changes with concurrency for four
workload classes, separating host-hardware effects from plan effects:

  1. python md5 (C loop, cache-resident)     -- N concurrent PROCESSES
  2. numpy streaming sum (memory bandwidth)  -- N concurrent PROCESSES
  3. Spark codegen, ALU-only                 -- local[N] JVM threads
     (bit_xor(xxhash64(id)) over range: zero allocation)
  4. Spark codegen, allocation-heavy         -- local[N] JVM threads
     (md5(cast(id as string)): one UTF8String + digest per row)

Motivation: the N->4N scaling artifact reads raw 0.64-0.70 after the
r7 speedups while per-stage accounting shows the job's python kernels
scale FLAT in clean windows (run-cpu gap 131-140 s across the three
clean ABAB windows on the 96k corpus; a noisy 8-core window read
199.3 s, OPTIMIZATION_r07.md) and the JVM executorCpuTime for identical logical work
inflates 88.7 -> 188.4 s.  This probe shows the mechanism is real and
independent of the plan: allocation-heavy JVM codegen dilates ~1.3x at
8 concurrent threads on this host while ALU-only codegen and python
workers do not dilate at all.  A ratio gate therefore punishes exactly
the work this round moved from python into efficient JVM operators.

Run: python jobs/host_dilation_probe.py   (~3 min, prints one JSON line)
Each Spark point runs in its own session; work is sized per thread
count so fixed job overhead (~0.2-0.4 s) stays <10% of the wall.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _py_md5(_):
    buf = bytes(range(256)) * 4096  # 1 MiB, cache-resident
    t0 = time.monotonic()
    d = b""
    for _ in range(400):
        d = hashlib.md5(buf + d).digest()
    return time.monotonic() - t0


def _np_stream(_):
    import numpy as np

    a = np.arange(50_000_000, dtype=np.int64)  # 400 MB working set
    t0 = time.monotonic()
    s = 0
    for _ in range(5):
        s += int(a.sum())
    assert s is not None
    return time.monotonic() - t0


def _pool_point(fn, n: int) -> float:
    """Mean per-process seconds with n concurrent processes."""
    with mp.Pool(n) as p:
        times = p.map(fn, range(n))
    return round(sum(times) / len(times), 3)


def _spark_point(cores: int, expr: str,
                 rows_per_thread: int) -> tuple[float, list[float]]:
    """Per-thread Mrows/s for one codegen workload at local[cores].
    Fresh session per point (mirrors bench.scaling_evidence isolation);
    min-of-4 after an untimed warm rep — this host's single-thread
    speed wobbles +-20% minute-to-minute (CLAUDE.md trap 12), so the
    per-rep times are returned too and cross-point ratios should use
    the min (a one-off slow rep must not poison the point)."""
    from pydoxtools_spark.session import get_spark

    n = rows_per_thread * cores
    spark = get_spark(f"dilation-{cores}", cores=cores,
                      shuffle_partitions=cores)
    reps = []
    for i in range(5):
        t0 = time.monotonic()
        spark.range(0, n if i else n // 8, 1, cores).selectExpr(
            f"{expr} AS h").selectExpr("max(h)").collect()
        dt = time.monotonic() - t0
        if i:
            reps.append(round(dt, 2))
    spark.stop()
    return round(n / min(reps) / cores / 1e6, 1), reps


def main():
    out = {"py_md5_sec_per_proc": {}, "np_stream_sec_per_proc": {},
           "spark_alu_mrows_per_thread": {}, "spark_alloc_mrows_per_thread": {}}
    for n in (1, 4, 16):
        out["py_md5_sec_per_proc"][n] = _pool_point(_py_md5, n)
        out["np_stream_sec_per_proc"][n] = _pool_point(_np_stream, n)
    out["spark_reps_sec"] = {}
    for cores in (2, 8):
        out["spark_alu_mrows_per_thread"][cores], alu_reps = _spark_point(
            cores, "bit_xor(xxhash64(id))", 1_000_000_000)
        out["spark_alloc_mrows_per_thread"][cores], alloc_reps = _spark_point(
            cores, "md5(cast(id AS string))", 20_000_000)
        out["spark_reps_sec"][cores] = {"alu": alu_reps, "alloc": alloc_reps}
    alu = out["spark_alu_mrows_per_thread"]
    alloc = out["spark_alloc_mrows_per_thread"]
    out["alu_thread_efficiency_8v2"] = round(alu[8] / alu[2], 3)
    out["alloc_thread_efficiency_8v2"] = round(alloc[8] / alloc[2], 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
