"""Stage-level decomposition of one scaling point (r7 evidence).

Runs the exact `bench.run_scale_point` job shape (same session confs,
tiny-corpus JIT warm-up, page-cache prewarm, one cold timed run) with
the Spark UI enabled, then prints per-stage executorRunTime /
executorCpuTime / jvmGcTime and the job timeline from the REST API.

This is how the r7 round separated the scaling story into its parts
(OPTIMIZATION_r07.md "Scaling-job decomposition"):

  - scheduler/driver fixed cost: ~4-6 s (gaps + build + commit), NOT
    the 16-18 s an (F, W) Amdahl fit over (t_lo, t_hi) suggests;
  - python-kernel work (runTime - cpuTime in kernel stages): FLAT
    across local[2] vs local[8] (139.7 vs 148.2 s);
  - JVM executorCpuTime for identical logical work: 88.7 s at
    local[2] vs 188.4 s at local[8] — per-task CPU dilation under
    concurrency, the actual source of the sub-0.8 N->4N ratio
    (mechanism isolated in jobs/host_dilation_probe.py).

Usage: python jobs/profile_scale_point.py [cores]    (default 8)
Needs the 96k bench corpus (bench._bench_corpus generates/caches it).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from pydoxtools_spark.session import get_spark  # noqa: E402


def main():
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    shuffle = 64
    corpus = bench._bench_corpus(96000)
    out_dir = "/tmp/px_prof_out"

    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark(
        f"prof-{cores}", cores=cores, shuffle_partitions=shuffle,
        extra_conf={
            "spark.driver.extraJavaOptions":
                "-XX:+UseG1GC -XX:G1HeapRegionSize=32m",
            "spark.ui.enabled": "true",
        })

    from pydoxtools_spark.pipeline import extract

    tiny = "/tmp/px_scale_warm_corpus"
    if not os.path.exists(f"{tiny}/documents_in.parquet/_SUCCESS"):
        from pydoxtools_spark.fixtures import write_corpus
        write_corpus(spark, tiny, n_docs=200, partitions=8)
    docs_w = spark.read.parquet(f"{tiny}/documents_in.parquet")
    pdf_w = spark.read.parquet(f"{tiny}/pdf_elements.parquet")
    shutil.rmtree("/tmp/px_prof_warm_out", ignore_errors=True)
    extract(spark, docs_w, pdf_w, parallelism=8).write.mode(
        "overwrite").parquet("/tmp/px_prof_warm_out")
    os.sync()
    for root, _d, files in os.walk(corpus):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                while fh.read(1 << 22):
                    pass

    shutil.rmtree(out_dir, ignore_errors=True)
    docs = spark.read.parquet(f"{corpus}/documents_in.parquet")
    pdf = spark.read.parquet(f"{corpus}/pdf_elements.parquet")
    mark0 = time.time()
    t0 = time.monotonic()
    df = extract(spark, docs, pdf, parallelism=shuffle)
    t1 = time.monotonic()
    _ = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    t2 = time.monotonic()
    df.write.mode("overwrite").parquet(out_dir)
    t3 = time.monotonic()
    print(json.dumps({"cores": cores, "build_sec": round(t1 - t0, 3),
                      "plan_sec": round(t2 - t1, 3),
                      "exec_sec": round(t3 - t2, 3),
                      "total_sec": round(t3 - t0, 3)}))

    # uiWebUrl, not a hard-coded :4040 — Spark walks to the next free
    # port when another session holds the default one
    base = f"{spark.sparkContext.uiWebUrl}/api/v1"
    appid = json.load(urllib.request.urlopen(
        f"{base}/applications", timeout=30))[0]["id"]
    stages = json.load(urllib.request.urlopen(
        f"{base}/applications/{appid}/stages?status=complete",
        timeout=30))

    def ts(s):
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
            tzinfo=timezone.utc).timestamp()

    st = [s for s in stages
          if "submissionTime" in s and ts(s["submissionTime"]) >= mark0 - 1]
    tot_run = sum(s["executorRunTime"] for s in st) / 1000
    tot_cpu = sum(s.get("executorCpuTime", 0) for s in st) / 1e9
    tot_gc = sum(s["jvmGcTime"] for s in st) / 1000
    print(f"TOTAL runTime {tot_run:.1f}s  cpuTime {tot_cpu:.1f}s  "
          f"gc {tot_gc:.1f}s  "
          f"non-cpu (python + IO/fetch wait) {tot_run - tot_cpu:.1f}s")
    st.sort(key=lambda s: -s["executorRunTime"])
    for s in st[:12]:
        print(f"stage {s['stageId']:>3} tasks={s['numTasks']:>4} "
              f"run={s['executorRunTime']/1000:7.1f}s "
              f"cpu={s.get('executorCpuTime', 0)/1e9:7.1f}s "
              f"gc={s['jvmGcTime']/1000:5.1f}s "
              f"sRead={s.get('shuffleReadBytes', 0) >> 20}M "
              f"sWrite={s.get('shuffleWriteBytes', 0) >> 20}M")
    spark.stop()


if __name__ == "__main__":
    main()
