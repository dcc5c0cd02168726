"""Write ``goldens.json``: the expected output digests of every workload.

The digests come from the in-process kernel (``_extract_one``), not from
Spark, so a run that matches them shows that the distributed job returns
exactly what the kernel computes document by document.  Regenerate only
when the corpus generator or a workload definition changes, never to make
a kernel change pass.

    python3 perfbench/make_goldens.py [--slices 5]
    python3 perfbench/make_goldens.py --queries <sf0.1 test-data directory>

The second form writes ``query_goldens.json`` from one Spark pass over
every ``queries()`` entry, each compared with its DuckDB ``oracle_sql()``
twin; an entry the oracle disagrees with is recorded as such.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import GOLDENS, _pin_hash_seed, row_digest  # noqa: E402


def digest(docs) -> tuple[int, int]:
    from pdf_extractor2_spark.plans.extract_job import _extract_one

    total = failures = 0
    for url, payload in docs:
        row = _extract_one(url, payload, None)
        total += row_digest(url, row["raw_json"])
        failures += not row["success"]
    return total, failures


def write_query_goldens(sf_dir: str) -> None:
    from perfbench import queries
    from perfbench.run import _fresh_workdir, start_spark, stop_jvm

    _fresh_workdir()
    spark = start_spark(4)
    try:
        goldens = queries.oracle_goldens(spark, sf_dir)
    finally:
        spark.stop()
        stop_jvm()
    with open(queries.GOLDENS, "w", encoding="utf-8") as fh:
        json.dump({"sf": os.path.basename(sf_dir.rstrip("/")), "queries": goldens},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> None:
    from perfbench.workloads import DEFAULT_SEED, WARMUP_DOCS, WORKLOADS, docs, slice_range

    ap = argparse.ArgumentParser()
    ap.add_argument("--slices", type=int, default=5)
    ap.add_argument("--queries", metavar="SF_DIR")
    args = ap.parse_args()
    if args.queries:
        write_query_goldens(args.queries)
        return
    out = {}
    for name, workload in WORKLOADS.items():
        d, f = digest(docs(workload, DEFAULT_SEED, 0, WARMUP_DOCS))
        out[name] = {"warmup": {"n": WARMUP_DOCS, "failures": f, "digest": d}, "slices": {}}
        for r in range(args.slices):
            d, f = digest(docs(workload, DEFAULT_SEED, *slice_range(workload, r)))
            out[name]["slices"][str(r)] = [d, f]
        print(name, json.dumps(out[name]), flush=True)
    with open(GOLDENS, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    _pin_hash_seed()
    main()
