"""The three workloads: input generation (pure python, no Spark), input
loading, one timed iteration of calls into the package's public
functions, and the output check.

A workload iteration returns an `Iteration`; the check of its output runs
after the timed section (so it costs no timed CPU) and returns a
`Check`.  Every call is wrapped in `Calls.timed`, which tags the Spark
jobs it launches with a job description `perfbench:<call>` and records
the call's wall-clock span, so the event-log reader can attribute task
time to the call that caused it.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs

# (measured, smoke) input sizes; the warm-up always uses the smoke size
SIZES = {
    "extract_interleaved": ({"n_docs": 1000, "n_new": 50, "n_files": 300},
                            {"n_docs": 60, "n_new": 3, "n_files": 45}),
    "ingest_files": ({"n_files": 1000}, {"n_files": 45}),
    "curate_dedup": ({"n_docs": 2000}, {"n_docs": 300}),
}

TAG_PREFIX = "perfbench:"


@dataclass
class Iteration:
    docs: int                      # documents committed to the sink
    wall_s: float                  # wall time of the timed calls
    out_dir: str
    extra: dict = field(default_factory=dict)


@dataclass
class Check:
    attempted: int
    failed: int
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Calls:
    """Wall-clock spans of the calls into the package, in call order."""

    def __init__(self, spark, prefix: str = ""):
        self._sc = spark.sparkContext
        self._prefix = TAG_PREFIX + prefix
        self.spans: list[dict] = []

    @contextmanager
    def timed(self, name: str):
        self._sc.setJobDescription(self._prefix + name)
        span = {"call": name, "start": time.time()}
        t0 = time.monotonic()
        try:
            yield span
        finally:
            span["wall_s"] = time.monotonic() - t0
            span["end"] = time.time()
            self._sc.setJobDescription(None)
            self.spans.append(span)


def _add_problem(check: Check, msg: str) -> None:
    if len(check.problems) < 20:
        check.problems.append(msg)


def _read_rows(paths: list[str], columns: list[str]) -> list[dict]:
    rows: list[dict] = []
    for p in paths:
        files = sorted(glob.glob(os.path.join(p, "**", "*.parquet"),
                                 recursive=True))
        for f in files:
            rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


# ------------------------------------------------- extract_interleaved


class ExtractInterleaved:
    name = "extract_interleaved"

    def generate(self, work: str, seed: int, size: dict) -> dict:
        corpus = inputs.extract_corpus(f"{work}/corpus", size["n_docs"],
                                       size["n_new"], seed)
        corpus["dir"] = f"{work}/corpus"
        corpus["files"] = IngestFiles().generate(work, seed, size)
        return corpus

    def load(self, spark, data: dict) -> dict:
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{data['dir']}/documents_in.parquet")
        return dict(
            data, docs_all=docs,
            docs_first=docs.filter(F.col("doc_id") < data["split_id"]),
            pdf=spark.read.parquet(f"{data['dir']}/pdf_elements.parquet"))

    def n_docs(self, data: dict) -> int:
        return data["total"] + len(data["files"]["specs"])

    def run(self, spark, data: dict, out: str, calls: Calls,
            cores: int) -> Iteration:
        from pydoxtools_spark.pipeline import run_resumable

        with calls.timed("pipeline.run_resumable.first") as first:
            r1 = run_resumable(spark, data["docs_first"], data["pdf"], out,
                               parallelism=cores)
        # redelivery: the whole committed corpus again plus the new slice
        with calls.timed("pipeline.run_resumable.resume") as resume:
            r2 = run_resumable(spark, data["docs_all"], data["pdf"], out,
                               parallelism=cores)
        # raw-file slice: the byte-level parsers and ingest dispatch
        files = IngestFiles().run(spark, data["files"], f"{out}_files", calls,
                                  cores)
        total = data["total"]
        return Iteration(
            docs=r1["docs_processed"] + r2["docs_processed"] + files.docs,
            wall_s=first["wall_s"] + resume["wall_s"] + files.wall_s,
            out_dir=out,
            extra={"resume_s": resume["wall_s"],
                   "skip_frac": (total - r2["docs_processed"]) / total})

    def check(self, data: dict, it: Iteration) -> Check:
        from pydoxtools_spark.pipeline import list_snapshots

        expected = data["expected"]
        check = Check(attempted=len(expected), failed=0)
        got: dict[str, list] = {}
        dup = set()
        for row in _read_rows(list_snapshots(it.out_dir),
                              ["doc_id", "spans", "error"]):
            if row["doc_id"] in got:
                dup.add(row["doc_id"])
            got[row["doc_id"]] = row
        bad = set(dup)
        for doc_id, want in expected.items():
            row = got.get(doc_id)
            if row is None:
                bad.add(doc_id)
                _add_problem(check, f"{doc_id}: missing")
                continue
            spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in row["spans"] or []]
            if row["error"] is not None or spans != want:
                bad.add(doc_id)
                _add_problem(check, f"{doc_id}: spans differ"
                             f" (error={row['error']!r})")
        unexpected = set(got) - set(expected)
        for doc_id in sorted(unexpected)[:5]:
            _add_problem(check, f"{doc_id}: unexpected output row")
        files = IngestFiles().check(data["files"], Iteration(
            docs=0, wall_s=0.0, out_dir=f"{it.out_dir}_files"))
        check.attempted += files.attempted
        check.failed = len(bad) + len(unexpected) + files.failed
        for p in files.problems:
            _add_problem(check, p)
        return check


# ---------------------------------------------------------- ingest_files


class IngestFiles:
    name = "ingest_files"

    def generate(self, work: str, seed: int, size: dict) -> dict:
        d = f"{work}/files"
        specs = inputs.ingest_dir(d, size["n_files"], seed)
        return {"dir": d, "specs": {s.name: s for s in specs}}

    def load(self, spark, data: dict) -> dict:
        return data

    def n_docs(self, data: dict) -> int:
        return len(data["specs"])

    def run(self, spark, data: dict, out: str, calls: Calls,
            cores: int) -> Iteration:
        from pydoxtools_spark.pipeline import extract_files

        with calls.timed("pipeline.extract_files") as span:
            extract_files(spark, data["dir"], parallelism=cores).write.mode(
                "overwrite").parquet(out)
        return Iteration(docs=len(data["specs"]), wall_s=span["wall_s"],
                         out_dir=out)

    def check(self, data: dict, it: Iteration) -> Check:
        specs = data["specs"]
        check = Check(attempted=len(specs), failed=0)
        seen: dict[str, int] = {}
        bad = set()
        for row in _read_rows([it.out_dir], ["doc_id", "spans", "error"]):
            name = os.path.basename(row["doc_id"])
            seen[name] = seen.get(name, 0) + 1
            spec = specs.get(name)
            if spec is None:
                bad.add(name)
                _add_problem(check, f"{name}: unexpected output row")
                continue
            if spec.bad:
                if row["error"] is None:
                    bad.add(name)
                    _add_problem(check, f"{name}: planted-bad file has no error")
                continue
            text = " ".join(" ".join((s["text"] or "").split())
                            for s in row["spans"] or [])
            missing = [p for p in [spec.title] + spec.paras if p not in text]
            if row["error"] is not None or missing:
                bad.add(name)
                _add_problem(check, f"{name}: error={row['error']!r},"
                             f" {len(missing)} planted lines missing")
        for name in specs:
            if seen.get(name, 0) != 1:
                bad.add(name)
                _add_problem(check, f"{name}: {seen.get(name, 0)} output rows")
        check.failed = len(bad)
        return check


# ---------------------------------------------------------- curate_dedup


class CurateDedup:
    name = "curate_dedup"

    def generate(self, work: str, seed: int, size: dict) -> dict:
        corpus = inputs.curate_corpus(size["n_docs"], seed)
        os.makedirs(work, exist_ok=True)
        path = f"{work}/curate.parquet"
        pq.write_table(pa.Table.from_pylist(
            [{"doc_id": d, "text": t} for d, t in corpus.rows],
            pa.schema([("doc_id", pa.string()), ("text", pa.string())])), path)
        return {"corpus": corpus, "path": path}

    def load(self, spark, data: dict) -> dict:
        return dict(data, df=spark.read.parquet(data["path"]))

    def n_docs(self, data: dict) -> int:
        return len(data["corpus"].rows)

    def run(self, spark, data: dict, out: str, calls: Calls,
            cores: int) -> Iteration:
        from pydoxtools_spark.operators import curation, dedup

        df = data["df"]
        steps = [
            ("operators.dedup.exact_dedup", dedup.exact_dedup),
            ("operators.dedup.minhash_dedup_pairs", dedup.minhash_dedup_pairs),
            ("operators.dedup.ngram_jaccard_pairs",
             lambda d: dedup.ngram_jaccard_pairs(
                 d, k=inputs.NGRAM_K, threshold=inputs.NGRAM_THRESHOLD,
                 max_df=inputs.NGRAM_MAX_DF)),
            ("operators.curation.unigram_logprob", curation.unigram_logprob),
            ("operators.curation.quality_filter", curation.quality_filter),
        ]
        wall = 0.0
        for name, fn in steps:
            with calls.timed(name) as span:
                fn(df).write.mode("overwrite").parquet(
                    f"{out}/{name.rsplit('.', 1)[1]}")
            wall += span["wall_s"]
        return Iteration(docs=len(data["corpus"].rows), wall_s=wall,
                         out_dir=out)

    def check(self, data: dict, it: Iteration) -> Check:
        import hashlib

        corpus: inputs.CurateCorpus = data["corpus"]
        texts = dict(corpus.rows)
        check = Check(attempted=len(texts), failed=0)
        bad: set[str] = set()

        exact = {r["content_hash"]: (r["doc_id"], r["dup_count"])
                 for r in _read_rows([f"{it.out_dir}/exact_dedup"],
                                     ["doc_id", "content_hash", "dup_count"])}
        for a, b in corpus.exact_pairs:
            h = hashlib.md5(inputs.norm_text(texts[a]).encode()).hexdigest()
            if exact.get(h) != corpus.exact_keep[h]:
                bad.update((a, b))
                _add_problem(check, f"exact pair {a},{b}: got {exact.get(h)},"
                             f" want {corpus.exact_keep[h]}")

        ngram = {(r["id_a"], r["id_b"]) for r in _read_rows(
            [f"{it.out_dir}/ngram_jaccard_pairs"], ["id_a", "id_b"])}
        for pair in corpus.near_expected:
            if pair not in ngram:
                bad.update(pair)
                _add_problem(check, f"near pair {pair} missing from n-gram pairs")

        for fn in ("unigram_logprob", "quality_filter"):
            ids = [r["doc_id"] for r in _read_rows([f"{it.out_dir}/{fn}"],
                                                   ["doc_id"])]
            counts: dict[str, int] = {}
            for d in ids:
                counts[d] = counts.get(d, 0) + 1
            for d in texts:
                if counts.get(d, 0) != 1:
                    bad.add(d)
                    _add_problem(check, f"{fn}: {counts.get(d, 0)} rows for {d}")
            extra = set(counts) - set(texts)
            bad.update(extra)
            for d in sorted(extra)[:5]:
                _add_problem(check, f"{fn}: unexpected row {d}")

        minhash = {(r["id_a"], r["id_b"]) for r in _read_rows(
            [f"{it.out_dir}/minhash_dedup_pairs"], ["id_a", "id_b"])}
        found = sum(1 for p in corpus.near_pairs if tuple(sorted(p)) in minhash)
        check.extra["pair_recall"] = found / max(len(corpus.near_pairs), 1)
        check.failed = len(bad)
        return check


WORKLOADS = {w.name: w for w in (ExtractInterleaved(), IngestFiles(),
                                 CurateDedup())}
