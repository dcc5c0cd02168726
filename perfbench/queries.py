"""The ``queries_sf0.1`` workload: every ``queries()`` entry over a fixed
test-data directory, each timed in two parts.

    construct  calling the entry, which runs Catalyst analysis and any
               eager jobs the query starts while it builds its frame;
    execute    ``df.write.format("noop")``, which computes every column.

After both timings the frame is collected (untimed) and its row count
and sorted-row digest are compared with ``query_goldens.json``.  The
goldens were taken from this code after one comparison of every entry
with its DuckDB ``oracle_sql()`` twin (``make_goldens.py --queries``).

The data are fixed, so the seed selects nothing.  One pass runs in a
fresh session, so the figures include first-run JVM compilation.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_goldens.json")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon_digest(pdf) -> str:
    """Order-independent digest of a pandas frame: columns by name, rows
    as sorted tuples of their string forms."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(tuple(str(x) for x in row) for row in pdf.itertuples(index=False, name=None))
    return hashlib.sha256(json.dumps(rows).encode("utf-8")).hexdigest()


def entries():
    import __spark_entry__ as em

    return list(em.queries().items())[:50]


def run_pass(spark, sf_dir: str) -> list[dict]:
    """One construct + execute pass over all entries, each checked."""
    goldens = {}
    if os.path.exists(GOLDENS):
        with open(GOLDENS, encoding="utf-8") as fh:
            goldens = json.load(fh)["queries"]
    sc = spark.sparkContext
    out = []
    for name, fn in entries():
        row = {"name": name, "module": fn.__module__, "problem": None}
        try:
            sc.setJobDescription(f"{name}: construct")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            row["construct_s"] = time.perf_counter() - t0
            sc.setJobDescription(f"{name}: execute")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            row["execute_s"] = time.perf_counter() - t0
            sc.setJobDescription(f"{name}: check")
            pdf = df.toPandas()
            row["rows"], row["digest"] = len(pdf), canon_digest(pdf)
            golden = goldens.get(name)
            if golden is None:
                row["problem"] = "no golden"
            elif [row["rows"], row["digest"]] != [golden["rows"], golden["digest"]]:
                row["problem"] = f"{row['rows']} rows / {row['digest'][:12]} != golden {golden['rows']} / {golden['digest'][:12]}"
        except Exception as exc:  # one failing query must not hide the others
            row["problem"] = f"{type(exc).__name__}: {str(exc)[:200]}"
        finally:
            sc.setJobDescription(None)
        out.append(row)
    return out


def oracle_goldens(spark, sf_dir: str) -> dict:
    """Run every entry once, compare it with DuckDB, return the goldens."""
    import duckdb

    import __spark_entry__ as em

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = em.oracle_sql()
    out = {}
    for name, fn in entries():
        pdf = fn(spark, sf_dir).toPandas()
        odf = con.execute(oracle[name]).fetchdf()
        out[name] = {
            "rows": len(pdf),
            "digest": canon_digest(pdf),
            "oracle_agrees": len(odf) == len(pdf) and canon_digest(odf) == canon_digest(pdf),
        }
        print(name, json.dumps(out[name]), flush=True)
    return out
