"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (size, seed): the same seed gives
byte-identical inputs, and every expectation the checks use is known by
construction here, never read back from the program under test.

  extract_interleaved  fixtures.gen_doc corpus (the write_corpus rows,
                       giants drawn with a fixed seed), written as
                       parquet with pyarrow
  ingest_files         a directory of raw files in every ingest format
                       plus a planted share of broken files
  curate_dedup         (doc_id, text) over a Zipf vocabulary with planted
                       exact and near duplicate pairs
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import zlib
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from pydoxtools_spark.fixtures import GIANT_DOC_PERIOD, gen_doc
from pydoxtools_spark.functions.docx import build_tiny_docx
from pydoxtools_spark.functions.odf import build_tiny_epub, build_tiny_odt
from pydoxtools_spark.functions.pdfparse import build_pdf_cid, build_tiny_pdf
from pydoxtools_spark.functions.rtf import build_tiny_rtf
from pydoxtools_spark.schemas import DOCUMENTS_IN, PDF_ELEMENT

# ------------------------------------------------------------ vocabulary

_ONSETS = "b c d f g h j k l m n p r s t v w z br cr dr fl gr pl st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()
VOCAB_SIZE = 3000
ZIPF_S = 1.05


def _vocab() -> tuple[list[str], list[float]]:
    """Fixed pseudo-word vocabulary (seed-independent) with cumulative
    Zipf weights: rank r gets weight 1 / r**ZIPF_S, so the head words make genuinely
    hot shingles while the tail stays rare."""
    rng = random.Random(20240917)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS)
                    for _ in range(rng.randint(1, 3)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    cum, total = [], 0.0
    for r in range(VOCAB_SIZE):
        total += 1.0 / (r + 1) ** ZIPF_S
        cum.append(total)
    return words, cum


_WORDS, _CUM_WEIGHTS = _vocab()


def zipf_words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(_WORDS, cum_weights=_CUM_WEIGHTS, k=n)


SENTENCE_WORDS = (8, 14)


def _sentence(rng: random.Random) -> str:
    return " ".join(zipf_words(rng, rng.randint(*SENTENCE_WORDS)))


# ------------------------------------------------- extract_interleaved


GIANT_SEED = 0


def extract_doc(idx: int, seed: int):
    """fixtures.gen_doc(idx, seed), except that the x60 giant documents
    (gen_doc makes doc idx a giant when idx % GIANT_DOC_PERIOD == 13) are
    drawn with one fixed seed: their kinds decide most of the skew work,
    and with the run's seed they made docs/s differ by a third between
    seeds.  The seed varies the other 96 of every 97 documents."""
    giant = idx % GIANT_DOC_PERIOD == 13
    return gen_doc(idx, GIANT_SEED if giant else seed)


def extract_corpus(out_dir: str, n_docs: int, n_new: int, seed: int) -> dict:
    """extract_doc documents 0..n_docs+n_new-1 -> parquet tables
    documents_in / pdf_elements under out_dir.  Returns the expected
    spans per doc_id (the generator's goldens) and the doc_id that
    splits the first delivery (ids below it) from the new slice."""
    docs, pdf, expected = [], [], {}
    for i in range(n_docs + n_new):
        d, p, e = extract_doc(i, seed)
        docs.append(d)
        pdf.extend(p)
        expected[e["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in e["spans"]]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, to_arrow_schema(DOCUMENTS_IN)),
                   f"{out_dir}/documents_in.parquet")
    pq.write_table(pa.Table.from_pylist(pdf, to_arrow_schema(PDF_ELEMENT)),
                   f"{out_dir}/pdf_elements.parquet")
    return {"expected": expected, "split_id": f"doc_{n_docs:08d}",
            "first": n_docs, "total": n_docs + n_new}


# ---------------------------------------------------------- ingest_files

FILE_KINDS = ("pdf", "pdf_cid", "pdf_noxref", "docx", "odt", "epub", "rtf",
              "html", "txt")
BAD_KINDS = ("pdf_truncated", "docx_truncated", "garbage")
BAD_EVERY = 31
_EXT = {"pdf": "pdf", "pdf_cid": "pdf", "pdf_noxref": "pdf", "docx": "docx",
        "odt": "odt", "epub": "epub", "rtf": "rtf", "html": "html",
        "txt": "txt", "pdf_truncated": "pdf", "docx_truncated": "docx",
        "garbage": "bin"}


@dataclass
class FileSpec:
    name: str
    kind: str
    title: str
    paras: list[str] = field(default_factory=list)

    @property
    def bad(self) -> bool:
        return self.kind in BAD_KINDS


def _pdf_pages(title: str, paras: list[str], lines_per_page: int = 24):
    lines = [(18.0, title)] + [(10.0, p) for p in paras]
    pages = []
    for start in range(0, len(lines), lines_per_page):
        chunk = lines[start:start + lines_per_page]
        pages.append({"texts": [(72.0, 740.0 - 28.0 * j, size, text)
                                for j, (size, text) in enumerate(chunk)]})
    return pages


def render(kind: str, title: str, paras: list[str]) -> bytes:
    """(title, paragraphs) -> file bytes of one ingest format, built with
    the package's own writers."""
    blocks = [("header", title, 1)] + [("text", p) for p in paras]
    if kind == "pdf":
        return build_tiny_pdf(_pdf_pages(title, paras), compress=True,
                              use_tj=True)
    if kind == "pdf_cid":
        return build_pdf_cid(_pdf_pages(title, paras))
    if kind == "pdf_noxref":
        data = build_tiny_pdf(_pdf_pages(title, paras), compress=True)
        return data[: data.rfind(b"xref")]  # strict rung fails, lenient repairs
    if kind == "docx":
        return build_tiny_docx(blocks)
    if kind == "odt":
        return build_tiny_odt(blocks)
    if kind == "epub":
        body = "".join(f"<p>{p}</p>" for p in paras)
        return build_tiny_epub([
            '<?xml version="1.0" encoding="utf-8"?>'
            '<html xmlns="http://www.w3.org/1999/xhtml"><body>'
            f"<h1>{title}</h1>{body}</body></html>"])
    if kind == "rtf":
        return build_tiny_rtf(blocks)
    if kind == "html":
        body = "".join(f"<p>{p}</p>" for p in paras)
        return (f"<html><head><title>{title}</title></head><body>"
                f"<h1>{title}</h1>{body}</body></html>").encode()
    if kind == "txt":
        return "\n\n".join([title] + paras).encode()
    raise ValueError(f"unknown file kind {kind!r}")


def _render_bad(kind: str, title: str, paras: list[str],
                rng: random.Random) -> bytes:
    if kind == "pdf_truncated":
        data = render("pdf", title, paras)
        return data[: data.find(b"stream")]  # cut before any content stream
    if kind == "docx_truncated":
        data = render("docx", title, paras)
        return data[: len(data) // 2]  # local headers only, no central dir
    # binary garbage: NUL bytes + invalid utf-8 route it to the
    # unknown-kind error branch
    return bytes([0, 0xFF]) + bytes(rng.getrandbits(8) for _ in range(400))


def file_spec(idx: int, seed: int, bad_every: int) -> FileSpec:
    rng = random.Random(seed * 1_000_003 + idx)
    if bad_every and idx % bad_every == bad_every // 2:
        kind = BAD_KINDS[(idx // bad_every) % len(BAD_KINDS)]
    else:
        kind = FILE_KINDS[idx % len(FILE_KINDS)]
    title = f"Title {idx} {zipf_words(rng, 1)[0]}"
    paras = [_sentence(rng) for _ in range(rng.randint(20, 36))]
    return FileSpec(f"f{idx:06d}.{_EXT[kind]}", kind, title, paras)


def file_bytes(spec: FileSpec, seed: int) -> bytes:
    if spec.bad:
        rng = random.Random(seed * 65_537 + zlib.crc32(spec.name.encode()))
        return _render_bad(spec.kind, spec.title, spec.paras, rng)
    return render(spec.kind, spec.title, spec.paras)


def ingest_dir(out_dir: str, n_files: int, seed: int,
               bad_every: int = BAD_EVERY) -> list[FileSpec]:
    """Write n_files seeded raw files into out_dir; every bad_every-th
    file (offset bad_every // 2) is a planted broken file."""
    os.makedirs(out_dir, exist_ok=True)
    specs = [file_spec(i, seed, bad_every) for i in range(n_files)]
    for s in specs:
        with open(os.path.join(out_dir, s.name), "wb") as fh:
            fh.write(file_bytes(s, seed))
    return specs


# ---------------------------------------------------------- curate_dedup

NGRAM_K = 3
NGRAM_THRESHOLD = 0.8
NGRAM_MAX_DF = 1000
EXACT_RATE = 0.03
NEAR_RATE = 0.04


def norm_text(text: str) -> str:
    """Python twin of operators.dedup._norm for ASCII text."""
    return re.sub(r"\s+", " ", text.strip().lower())


def word_shingles(text: str, k: int = NGRAM_K) -> set[str]:
    w = norm_text(text).split(" ")
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - (k - 1), 1))}


@dataclass
class CurateCorpus:
    rows: list[tuple[str, str]]
    exact_pairs: list[tuple[str, str]]
    near_pairs: list[tuple[str, str]]       # every planted near pair
    near_expected: list[tuple[str, str]]    # those at/above the threshold
    exact_keep: dict[str, tuple[str, int]]  # md5(norm) -> (min id, count)


def _mutate(rng: random.Random, text: str, frac: float) -> str:
    lines = text.split("\n")
    out = []
    for line in lines:
        words = line.split(" ")
        for j in range(len(words)):
            if rng.random() < frac:
                words[j] = zipf_words(rng, 1)[0]
        out.append(" ".join(words))
    return "\n".join(out)


def curate_corpus(n_docs: int, seed: int) -> CurateCorpus:
    """n_docs Zipf documents of 6-14 lines; a seeded EXACT_RATE share are
    verbatim copies of an earlier doc and a NEAR_RATE share are copies
    with ~2% of words replaced.  The expected outputs (exact groups,
    near pairs at/above the n-gram threshold, with the operator's
    document-frequency cap applied) are computed here."""
    rng = random.Random(seed)
    rows: list[tuple[str, str]] = []
    exact_pairs, near_pairs = [], []
    for i in range(n_docs):
        doc_id = f"c{i:07d}"
        r = rng.random()
        if i > 10 and r < EXACT_RATE:
            src = rows[rng.randrange(len(rows))]
            rows.append((doc_id, src[1]))
            exact_pairs.append((src[0], doc_id))
        elif i > 10 and r < EXACT_RATE + NEAR_RATE:
            src = rows[rng.randrange(len(rows))]
            rows.append((doc_id, _mutate(rng, src[1], 0.02)))
            near_pairs.append((src[0], doc_id))
        else:
            lines = [_sentence(rng) for _ in range(rng.randint(6, 14))]
            rows.append((doc_id, "\n".join(lines)))

    groups: dict[str, list[str]] = {}
    for doc_id, text in rows:
        h = hashlib.md5(norm_text(text).encode()).hexdigest()
        groups.setdefault(h, []).append(doc_id)
    exact_keep = {h: (min(ids), len(ids)) for h, ids in groups.items()}

    shingles = {d: word_shingles(t) for d, t in rows}
    df = Counter(s for sh in shingles.values() for s in sh)
    near_expected = []
    for a, b in near_pairs + exact_pairs:
        sa, sb = shingles[a], shingles[b]
        common = sum(1 for s in sa & sb if df[s] <= NGRAM_MAX_DF)
        if common / (len(sa) + len(sb) - common) >= NGRAM_THRESHOLD:
            near_expected.append(tuple(sorted((a, b))))
    return CurateCorpus(rows, exact_pairs, near_pairs, near_expected,
                        exact_keep)
