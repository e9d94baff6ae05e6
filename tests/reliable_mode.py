"""Reliable-checkpoint mode harness: runs the lineage-truncating
operators once on a session WITHOUT a checkpoint dir (local-checkpoint
default) and once on a fresh session WITH `spark.checkpoint.dir` set,
so tests can compare the two forms.

The reliable session runs in a subprocess (this file's __main__): the
session-scoped `spark` fixture must never get a checkpoint dir, or every
later test would silently switch to reliable mode.  The `reliable_mode`
fixture in conftest.py runs it once per test session."""

import glob
import json
import os
import subprocess
import sys
from dataclasses import dataclass

import pytest

OPS = ("minhash", "ngram", "windows", "components", "pagerank")


def results(spark, rdd_dirs=lambda: 0) -> tuple[dict, dict]:
    """Each operator's result (as sorted JSON-able lists) and how many
    checkpoint rdd dirs `rdd_dirs()` counted new while it was built."""
    from pydoxtools_spark.operators import dedup, similarity

    shared = " ".join(f"w{i}" for i in range(12))
    texts = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog " + shared),
         (2, "the quick brown fox jumps over the lazy dog " + shared),
         (3, "different opening words here " + shared),
         (4, "no overlap with anything at all whatsoever honestly")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"])
    edges = spark.createDataFrame(
        [("d", s, t, w) for s, t, w in
         [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (1, 3, 3.0)]],
        ["doc_id", "src", "dst", "weight"])
    build = {
        "minhash": lambda: dedup.minhash_dedup_pairs(
            texts, threshold=0.5, num_perm=16, bands=4),
        "ngram": lambda: dedup.ngram_jaccard_pairs(
            texts, k=3, threshold=0.3, max_df=100),
        "windows": lambda: dedup.duplicated_window_spans(
            texts, n=8, min_docs=2),
        "components": lambda: dedup.connected_components(pairs),
        "pagerank": lambda: similarity.pagerank(edges, iters=4).select(
            "id", "rank"),
    }
    out, written = {}, {}
    for name in OPS:
        before = rdd_dirs()
        df = build[name]()
        written[name] = rdd_dirs() - before
        out[name] = sorted(list(r) for r in df.collect())
    return out, written


@dataclass
class ReliableRun:
    local: dict
    reliable: dict
    written: dict
    ckpt_dir: str

    def assert_matches_local(self, name: str) -> None:
        """`name` wrote checkpoints under the session's dir and returned
        the local-checkpoint result."""
        assert self.written[name] > 0, (name, self.written)
        got, want = self.reliable[name], self.local[name]
        if name == "pagerank":
            assert [r[0] for r in got] == [r[0] for r in want]
            assert [r[1] for r in got] == pytest.approx(
                [r[1] for r in want], abs=1e-12)
        else:
            assert got == want, name


def run(spark, ckpt_dir: str) -> ReliableRun:
    """Local results on `spark` (which must have no checkpoint dir) and
    reliable results from a subprocess session checkpointing into
    `ckpt_dir`."""
    assert spark.sparkContext.getCheckpointDir() is None
    local, _ = results(spark)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), ckpt_dir],
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    reliable, written = json.loads(proc.stdout.strip().splitlines()[-1])
    return ReliableRun(local, reliable, written, ckpt_dir)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from pydoxtools_spark.session import get_spark

    ckpt_dir = sys.argv[1]
    # small heap: this JVM runs next to the test session's own
    session = get_spark("checkpoint-mode", cores=2, shuffle_partitions=8,
                        extra_conf={"spark.checkpoint.dir": ckpt_dir,
                                    "spark.driver.memory": "1g"})
    try:
        res = results(
            session, lambda: len(glob.glob(f"{ckpt_dir}/*/rdd-*")))
    finally:
        session.stop()
    print(json.dumps(res))
