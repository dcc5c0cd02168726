"""Checks on the benchmark's own inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import dataclasses
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_extractor2_spark.plans.extract_job import _extract_one  # noqa: E402
from perfbench.workloads import WORKLOADS, doc, docs, slice_range  # noqa: E402

UNIQUE = WORKLOADS["extract_html_unique"]
PLAIN_HTML = dataclasses.replace(UNIQUE, unique_strings=False)


def _counts(workload, seed, n=150):
    start, _ = slice_range(workload, 0)
    out = []
    for url, payload in docs(workload, seed, start, start + n):
        row = _extract_one(url, payload, None)
        out.append((row["success"], row["n_contacts"], row["n_projects"], row["n_tenders"]))
    return out


@pytest.mark.parametrize("seed", [1, 7])
def test_unique_rewrite_keeps_every_branch_firing(seed):
    plain, unique = _counts(PLAIN_HTML, seed), _counts(UNIQUE, seed)
    assert unique == plain
    assert sum(c for _, c, _, _ in plain) > 0 and sum(p for _, _, p, _ in plain) > 0


def test_unique_rewrite_changes_the_strings():
    start, _ = slice_range(UNIQUE, 0)
    for idx in range(start, start + 20):
        plain, unique = doc(PLAIN_HTML, idx, 1)[1], doc(UNIQUE, idx, 1)[1]
        assert (plain is None) == (unique is None)
        if plain:
            assert plain != unique


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_gives_identical_payloads(name):
    workload = WORKLOADS[name]
    start, _ = slice_range(workload, 1)
    first = docs(workload, 3, start, start + 40)
    assert docs(workload, 3, start, start + 40) == first
    assert docs(workload, 4, start, start + 40) != first
