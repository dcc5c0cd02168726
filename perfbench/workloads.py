"""Seeded inputs for the benchmark workloads.

Every document comes from ``sources.corpus.make_doc_spec`` and
``render_payload``; the benchmark only chooses the seed, the PDF share,
the index range and, for ``extract_html_unique``, rewrites the spec's
strings before rendering.  The same (workload, seed, slice) always gives
the same payload bytes.

Document indices are laid out so that no two slices of one run share a
document: the warm-up slice takes indices ``[0, WARMUP_DOCS)`` of the
default seed, and timed slice ``r`` of seed ``s`` takes
``[OFFSET + r * n, OFFSET + (r + 1) * n)`` of seed ``s``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pdf_extractor2_spark.sources import corpus
from pdf_extractor2_spark.sources.corpus import make_doc_spec, render_payload

DEFAULT_SEED = 42
WARMUP_DOCS = 512
OFFSET = 1_000_000  # timed slices never overlap the warm-up indices


@dataclass(frozen=True)
class Workload:
    name: str
    pdf_share: float
    unique_strings: bool
    resumable: bool  # run_resumable (shuffle + write + rollup) vs run_extract
    docs_per_repeat: int  # sized for about 3 s of kernel work on local[4]


WORKLOADS = {
    w.name: w
    for w in (
        # why each workload exists: README.md
        Workload("extract_default", 0.2, False, True, 4000),
        Workload("extract_pdf_heavy", 0.8, False, False, 5000),
        Workload("extract_html_unique", 0.0, True, False, 6000),
    )
}


# --------------------------------------------------------------------------
# unique-strings rewrite
# --------------------------------------------------------------------------

# Every string the generator draws from a fixed vocabulary: names,
# places, project objects, companies, regions, stages and roles.  The
# extractors find regions, stages and roles as substrings, so a suffix
# keeps each match (test_workloads pins equal per-document counts).
# Table headers, row numbers, months and the project verbs stay: they
# decide how a table or line is classified.
_REPEATED = sorted(
    set(corpus._FIRST) | set(corpus._LAST) | set(corpus._PLACES)
    | set(corpus._PROJECT_OBJECTS) | set(corpus._COMPANY) | set(corpus._REGIONS)
    | set(corpus._STAGES) | set(corpus._PROJECT_ROLES) | set(corpus._HANDLED_ROLES)
    | set(corpus._TRADES_EN),
    key=len, reverse=True,
)
_REPEATED_RE = re.compile(r"\b(" + "|".join(map(re.escape, _REPEATED)) + r")\b")

# The tag is "q" plus consonants without c, s or v.  With no vowel and
# a leading q, no tag can complete a word of the person-name blacklist
# ("entr", "vvs", "cvr", ...) or a budget unit.
_TAG_ALPHABET = "bdfghjklmnprtwxz"


def doc_tag(idx: int, seed: int) -> str:
    n = idx * 1009 + seed
    digits = []
    while True:
        n, d = divmod(n, len(_TAG_ALPHABET))
        digits.append(_TAG_ALPHABET[d])
        if n == 0 and len(digits) >= 4:
            return "q" + "".join(digits)


def make_unique(spec: corpus.DocSpec, seed: int) -> corpus.DocSpec:
    """Suffix every vocabulary string with a tag unique to this document
    (and shared within it)."""
    tag = doc_tag(spec.idx, seed)

    def sub(s: str) -> str:
        return _REPEATED_RE.sub(lambda m: m.group(1) + tag, s)

    spec.title = sub(spec.title)
    spec.company_lines = [sub(s) for s in spec.company_lines]
    spec.paragraphs = [sub(s) for s in spec.paragraphs]
    spec.section_lines = [sub(s) for s in spec.section_lines]
    spec.tables = [[[sub(c) for c in row] for row in grid] for grid in spec.tables]
    return spec


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------

def doc(workload: Workload, idx: int, seed: int) -> tuple[str, bytes | None]:
    spec = make_doc_spec(idx, seed=seed, pdf_share=workload.pdf_share)
    if workload.unique_strings:
        spec = make_unique(spec, seed)
    return spec.url, render_payload(spec)


def slice_range(workload: Workload, repeat: int) -> tuple[int, int]:
    start = OFFSET + repeat * workload.docs_per_repeat
    return start, start + workload.docs_per_repeat


def docs(workload: Workload, seed: int, start: int, stop: int):
    """[(url, payload)] for indices [start, stop) of ``seed``."""
    return [doc(workload, i, seed) for i in range(start, stop)]


def write_parquet(rows, directory: str, files: int) -> None:
    """Write [(url, payload)] as ``files`` parquet files of
    ``pages(url, html)``, one row group each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([pa.field("url", pa.string(), nullable=False),
                        pa.field("html", pa.binary())])
    os.makedirs(directory, exist_ok=True)
    bounds = [len(rows) * k // files for k in range(files + 1)]
    for k in range(files):
        part = rows[bounds[k]:bounds[k + 1]]
        table = pa.table([[u for u, _ in part], [p for _, p in part]], schema=schema)
        pq.write_table(table, os.path.join(directory, f"part-{k:05d}.parquet"))
