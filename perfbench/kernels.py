"""Kernel functions timed in-process, outside Spark.

Each parser family is timed on a seeded sample of the workload's own
inputs: the html payloads of the extract corpus and its text payloads
that the package's router (`dispatch.doc_type_sql`) sends to the
markdown or wiki kernel, and the raw files of the workload's file
directory.  A family the workload's inputs do not carry is absent from
the table (e.g. every family on `curate_dedup`).  `ms_per_doc` is the
median over repeats of the sample's total time divided by its size;
together with the event log's python-worker time (`<module>.py_run_s`)
it separates interpreter time from serialization and transfer.
"""

from __future__ import annotations

import statistics
import time

import duckdb

from pydoxtools_spark.constants import IN_KIND_HTML, IN_KIND_TEXT
from pydoxtools_spark.dispatch import (
    TYPE_HTML,
    TYPE_MARKDOWN,
    TYPE_MEDIAWIKI,
    doc_type_sql,
)
from pydoxtools_spark.functions.docx import extract_docx_spans
from pydoxtools_spark.functions.htmlparse import extract_html_spans
from pydoxtools_spark.functions.markdown import (
    extract_markdown_spans,
    extract_wiki_spans,
)
from pydoxtools_spark.functions.odf import extract_epub_spans, extract_odt_spans
from pydoxtools_spark.functions.pdfparse import pdf_elements_from_bytes
from pydoxtools_spark.functions.rtf import extract_rtf_spans

from . import inputs
from .workloads import SIZES

SAMPLE = 30
MIN_SAMPLE_S = 0.25  # repeat the sample until this much time is measured
MAX_REPEATS = 15

# family -> module name used in the layer table
FAMILIES = {
    "html": "functions.htmlparse",
    "markdown": "functions.markdown",
    "pdf": "functions.pdfparse",
    "docx": "functions.docx",
    "odf": "functions.odf",
    "rtf": "functions.rtf",
}


def _pdf(data: bytes):
    return pdf_elements_from_bytes(data, doc_id="sample")


# router type of a text payload -> (family, kernel)
_TEXT_KERNELS = {
    TYPE_HTML: ("html", extract_html_spans),
    TYPE_MEDIAWIKI: ("markdown", extract_wiki_spans),
    TYPE_MARKDOWN: ("markdown", extract_markdown_spans),
}
# raw file kind -> (family, kernel)
_FILE_KERNELS = {
    "pdf": ("pdf", _pdf),
    "pdf_cid": ("pdf", _pdf),
    "pdf_noxref": ("pdf", _pdf),
    "docx": ("docx", extract_docx_spans),
    "odt": ("odf", extract_odt_spans),
    "epub": ("odf", extract_epub_spans),
    "rtf": ("rtf", extract_rtf_spans),
    "html": ("html", lambda b: extract_html_spans(b.decode())),
}


def _router_types(con, texts: list[str]) -> list[str]:
    return con.execute(
        f"SELECT list_transform($1::VARCHAR[], t -> {doc_type_sql('t')})",
        [texts]).fetchone()[0]


def _add(out: dict[str, list], fam: str, fn, arg, n: int) -> None:
    if len(out.setdefault(fam, [])) < n:
        out[fam].append((fn, arg))


def _corpus_samples(seed: int, n: int, out: dict[str, list]) -> None:
    con = duckdb.connect()
    for i in range(SIZES["extract_interleaved"][0]["n_docs"]):
        doc = inputs.extract_doc(i, seed)[0]
        texts = [s["text"] for s in doc["spans"] if s["kind"] == IN_KIND_TEXT]
        for s in doc["spans"]:
            if s["kind"] == IN_KIND_HTML:
                _add(out, "html", extract_html_spans, s["text"], n)
        for t, typ in zip(texts, _router_types(con, texts) if texts else ()):
            if typ in _TEXT_KERNELS:
                fam, fn = _TEXT_KERNELS[typ]
                _add(out, fam, fn, t, n)
        if len(out.get("html", ())) >= n and len(out.get("markdown", ())) >= n:
            return


def _file_samples(seed: int, n_files: int, n: int, out: dict[str, list]) -> None:
    for i in range(n_files):
        spec = inputs.file_spec(i, seed, inputs.BAD_EVERY)
        if not spec.bad and spec.kind in _FILE_KERNELS:
            fam, fn = _FILE_KERNELS[spec.kind]
            _add(out, fam, fn, inputs.file_bytes(spec, seed), n)


def samples(workload: str, seed: int, n: int = SAMPLE) -> dict[str, list]:
    """family -> up to n (kernel, argument) pairs from the workload's
    measured inputs; families the inputs do not carry are left out."""
    out: dict[str, list] = {}
    size = SIZES[workload][0]
    if workload == "extract_interleaved":
        _corpus_samples(seed, n, out)
    if "n_files" in size:
        _file_samples(seed, size["n_files"], n, out)
    return out


def time_family(sample: list) -> float:
    """Median ms per document over repeats of the whole sample (the first
    pass warms imports and caches and is not counted)."""
    for fn, arg in sample:
        fn(arg)
    totals: list[float] = []
    while len(totals) < 3 or (sum(totals) < MIN_SAMPLE_S
                              and len(totals) < MAX_REPEATS):
        t = time.perf_counter()
        for fn, arg in sample:
            fn(arg)
        totals.append(time.perf_counter() - t)
    return statistics.median(totals) / len(sample) * 1000


def time_kernels(workload: str, seed: int, smoke: bool = False) -> dict:
    table = {}
    for fam, sample in samples(workload, seed, 6 if smoke else SAMPLE).items():
        table[f"{FAMILIES[fam]}.ms_per_doc"] = {
            "value": time_family(sample), "unit": "ms"}
    return table
