"""Traced in-process replay of the extraction kernel.

The replay feeds a fixed sample of a workload's documents through the
public ``extraction_kernel`` in this process, as one Python worker would
see them.  Spans are recorded by replacing the public entry point of each
layer with a timing wrapper, as a module attribute and inside this
process only; the program's files are not changed and the Spark workers
never see the wrappers.

A span is (name, start_ns, end_ns, parent, doc).  Spans stay in memory and
are written as JSON lines when the run ends.  A span's self time is its
duration minus the time its direct children cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

import pandas as pd

from pdf_extractor2_spark.functions import scalars
from pdf_extractor2_spark.operators import document
from pdf_extractor2_spark.plans import extract_job
from pdf_extractor2_spark.session import DEFAULT_ARROW_BATCH_ROWS
from pdf_extractor2_spark.sources import html_extract, pdf_reader

# (span name, module, attribute).  Each attribute is the name the caller
# resolves at call time, so replacing it reaches every call.
TRACED = [
    ("kernel.doc", extract_job, "_extract_one"),
    ("extract_job.payload_to_ir", extract_job, "payload_to_ir"),
    ("html_extract.extract_html", extract_job, "extract_html"),
    ("html_extract.decode_html_bytes", html_extract, "decode_html_bytes"),
    ("pdf_reader.extract_pdf", pdf_reader, "extract_pdf"),
    ("pdf_reader.interpret_content", pdf_reader, "interpret_content"),
    ("pdf_reader.cluster_lines", pdf_reader, "cluster_lines"),
    ("pdf_reader.stream_tables", pdf_reader, "stream_tables"),
    ("pdf_reader.lattice_tables", pdf_reader, "lattice_tables"),
    ("document.parse_document", extract_job, "parse_document"),
    ("grids", document, "detect_table_type"),
    ("grids", document, "extract_contacts_from_grid"),
    ("grids", document, "extract_projects_from_grid"),
    ("grids", document, "extract_tenders_from_grid"),
    ("document.extract_from_text_fallback", document, "extract_from_text_fallback"),
    ("document.result_with_raw_json", extract_job, "result_with_raw_json"),
]

CHUNK = 50  # docs per traced or untraced kernel call in the replay

MEMOS = {
    "clean_multiline": scalars._clean_multiline_core,
    "is_valid_person_name": scalars._is_valid_person_name_core,
    "extract_phones": scalars._extract_phones_core,
}


class Tracer:
    """Span recorder.  ``spans`` rows are [name, start_ns, end_ns,
    parent_index, doc, failed]."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.doc: str | None = None

    def wrap(self, name, fn):
        spans, stack = self.spans, self._stack

        def traced(*args, **kwargs):
            if name == "kernel.doc":
                self.doc = args[0]
            idx = len(spans)
            span = [name, time.perf_counter_ns(), 0, stack[-1] if stack else -1, self.doc, False]
            spans.append(span)
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            except BaseException:
                span[5] = True
                raise
            finally:
                stack.pop()
                span[2] = time.perf_counter_ns()

        return traced

    @contextmanager
    def installed(self):
        saved = [(mod, attr, getattr(mod, attr)) for _, mod, attr in TRACED]
        try:
            for name, mod, attr in TRACED:
                setattr(mod, attr, self.wrap(name, getattr(mod, attr)))
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def summary(self) -> dict:
        """Per span name: calls, failures, inclusive and self ns, docs."""
        child_ns = [0] * len(self.spans)
        for name, start, end, parent, _doc, _failed in self.spans:
            if parent >= 0:
                child_ns[parent] += end - start
        out: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "failures": 0, "ns": 0, "self_ns": 0, "docs": set()}
        )
        for i, (name, start, end, _parent, doc, failed) in enumerate(self.spans):
            s = out[name]
            s["calls"] += 1
            s["failures"] += failed
            s["ns"] += end - start
            s["self_ns"] += end - start - child_ns[i]
            s["docs"].add(doc)
        return dict(out)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(json.dumps({"meta": meta}) + "\n")
            for name, start, end, parent, doc, failed in self.spans:
                fh.write(json.dumps({"name": name, "start_ns": start, "end_ns": end,
                                     "parent": parent, "doc": doc, "failed": failed}) + "\n")


def payload_kind(payload: bytes | None) -> str:
    if not payload:
        return "none"
    if payload[:5] == b"%PDF-":
        return "pdf"
    if payload[:2] == b"\x1f\x8b":
        return "html_gzip"
    return "html"


def _memo_state() -> dict:
    return {k: f.cache_info() for k, f in MEMOS.items()}


def _kernel(docs) -> float:
    """Seconds to run ``extraction_kernel`` over ``docs`` in Arrow-sized
    batches and build every output frame."""
    rows = DEFAULT_ARROW_BATCH_ROWS
    batches = [
        pd.DataFrame({"url": [u for u, _ in docs[i:i + rows]],
                      "html": [p for _, p in docs[i:i + rows]],
                      "bucket": [0] * len(docs[i:i + rows])})
        for i in range(0, len(docs), rows)
    ]
    t0 = time.perf_counter()
    for _frame in extract_job.extraction_kernel(iter(batches)):
        pass
    return time.perf_counter() - t0


def replay(warmup_docs, samples) -> dict:
    """Replay each sample from the memo state a fresh Spark worker has
    after the warm-up job: memos cleared, then the warm-up docs.

    ``samples`` is one list of (url, payload) per timed repeat.  Each
    sample runs in chunks of ``CHUNK`` docs that alternate between traced
    and untraced, so host drift and memo state affect both sides alike;
    the tracing overhead is the ratio of their per-doc times.
    """
    tracer = Tracer()
    _kernel(warmup_docs)  # first-call costs: lazy imports, regex compilation
    per_repeat = []
    for i, sample in enumerate(samples):
        for f in MEMOS.values():
            f.cache_clear()
        _kernel(warmup_docs)
        rec = {"traced_s": 0.0, "traced_docs": 0, "untraced_s": 0.0, "untraced_docs": 0}
        before = _memo_state()
        for j in range(0, len(sample), CHUNK):
            chunk = sample[j:j + CHUNK]
            if (j // CHUNK + i) % 2 == 0:
                with tracer.installed():
                    rec["traced_s"] += _kernel(chunk)
                rec["traced_docs"] += len(chunk)
            else:
                rec["untraced_s"] += _kernel(chunk)
                rec["untraced_docs"] += len(chunk)
        after = _memo_state()
        rec["hit_ratio"] = {}
        for k in MEMOS:
            h = after[k].hits - before[k].hits
            m = after[k].misses - before[k].misses
            rec["hit_ratio"][k] = h / (h + m) if h + m else 0.0
        rec["memo_entries"] = sum(c.currsize for c in after.values())
        per_repeat.append(rec)

    kinds = {}
    for sample in samples:
        for url, payload in sample:
            kinds[url] = payload_kind(payload)
    return {"tracer": tracer, "repeats": per_repeat, "kinds": kinds}


def layer_metrics(result: dict) -> tuple[dict, dict]:
    """Per-layer metrics from a ``replay`` result (µs per doc reaching
    the layer unless the name says otherwise), plus counts of docs per
    payload kind reaching each layer."""
    tracer, repeats, kinds = result["tracer"], result["repeats"], result["kinds"]
    summary = tracer.summary()

    def per_doc(name, key="ns"):
        s = summary.get(name)
        if not s:
            return 0.0
        return s[key] / 1000.0 / max(1, len(s["docs"]))

    def total_us(name, key="ns"):
        s = summary.get(name)
        return s[key] / 1000.0 if s else 0.0

    def count(name, key):
        s = summary.get(name)
        return s[key] if s else 0

    parse_docs = len(summary.get("document.parse_document", {"docs": ()})["docs"])
    fallback_docs = len(summary.get("document.extract_from_text_fallback", {"docs": ()})["docs"])
    traced_s = sum(r["traced_s"] for r in repeats)
    traced_docs = sum(r["traced_docs"] for r in repeats)
    untraced_us = 1e6 * sum(r["untraced_s"] for r in repeats) / sum(r["untraced_docs"] for r in repeats)

    m = {
        "kernel.us_per_doc": untraced_us,
        "extract_job.payload_to_ir.self_us": per_doc("extract_job.payload_to_ir", "self_ns"),
        "extract_job.payload_to_ir.failures": count("extract_job.payload_to_ir", "failures"),
        "html_extract.decode_html_bytes.us": per_doc("html_extract.decode_html_bytes"),
        "html_extract.extract_html.self_us": per_doc("html_extract.extract_html", "self_ns"),
        "pdf_reader.extract_pdf.self_us": per_doc("pdf_reader.extract_pdf", "self_ns"),
        "pdf_reader.interpret_content.us": per_doc("pdf_reader.interpret_content"),
        "pdf_reader.cluster_lines.calls": count("pdf_reader.cluster_lines", "calls"),
        "pdf_reader.cluster_lines.us": per_doc("pdf_reader.cluster_lines"),
        "pdf_reader.stream_tables.us": per_doc("pdf_reader.stream_tables"),
        "pdf_reader.lattice_tables.us": per_doc("pdf_reader.lattice_tables"),
        "pdf_reader.failures": count("pdf_reader.extract_pdf", "failures"),
        "document.parse_document.self_us": per_doc("document.parse_document", "self_ns"),
        "grids.us": per_doc("grids"),
        "document.extract_from_text_fallback.share": fallback_docs / parse_docs if parse_docs else 0.0,
        "document.extract_from_text_fallback.us": per_doc("document.extract_from_text_fallback"),
        "extract_job.serialize.self_us": (
            traced_s * 1e6
            - total_us("extract_job.payload_to_ir")
            - total_us("document.parse_document")
        ) / traced_docs,
        "scalars.memo_entries": median(r["memo_entries"] for r in repeats),
        "trace.overhead_share": 1e6 * traced_s / traced_docs / untraced_us - 1.0,
    }
    for k in MEMOS:
        m[f"scalars.{k}.hit_ratio"] = median(r["hit_ratio"][k] for r in repeats)

    reached: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for name, s in summary.items():
        for doc in s["docs"]:
            reached[kinds.get(doc, "?")][name] += 1
    return m, {k: dict(v) for k, v in reached.items()}
