"""Extraction benchmark on local[4]: one command, one workload per call.

    python3 perfbench/run.py --workload extract_default --seed 1 --seconds 20 --trace 0

Load model: a closed loop with one client.  The client submits one
extraction job, waits for it to finish, checks its output and only then
sets up the next one; no two jobs overlap.  Each timed repeat gets its
own SparkContext (fresh Python workers, so no memo state carries over
from an earlier repeat) and a slice of documents no earlier repeat saw.

Per repeat:
  set-up   start the SparkContext and run the warm-up job over the fixed
           warm-up slice (its digest is checked against ``goldens.json``
           on every run); the first set-up also starts the JVM and
           renders every slice as parquet;
  timed    the workload's job over the slice (``run_resumable``, or
           ``run_extract`` consumed by an aggregate that also computes
           the output digest);
  check    row count, failure rows against empty payloads in the input,
           zero task failures, a digest of a 1-in-64 sample recomputed
           in this process, and, on the default seed, the digest of the
           whole slice against ``goldens.json``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones: counters of the timed Spark jobs plus a traced in-process replay
(see ``trace.py``), whose spans are written to
``.perfbench_out/spans_<workload>_<seed>.jsonl``.  The last stdout line
is one JSON object; the lines before it give each metric's median,
maximum, minimum and sample count.  The exit code is non-zero when any
check fails.  README.md documents workloads, metrics and the baseline.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")

REPEAT_SECONDS = 4  # target timed seconds per repeat; sets the repeat count
RENDER_PROCESSES = 3  # input rendering runs beside the JVM start
SAMPLE_MOD = 64  # 1 in SAMPLE_MOD docs of each slice is re-extracted in process
REPLAY_DOCS = 200  # docs per repeat in the traced replay
# run_resumable's bucket count, scaled to a slice as the 64 default is to
# a 40k-doc corpus (about 625 docs per bucket), and a multiple of 4 cores
RESUMABLE_BUCKETS = 8

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "failed_share": "ratio",
    "worker_rss_mb": "MB",
}


def _pin_hash_seed() -> None:
    """Re-execute with PYTHONHASHSEED=0: the kernel's set orderings, and
    so its output, depend on it."""
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)


def _fresh_workdir() -> None:
    """Empty the work directory and point every temporary file Spark and
    its Python workers write into it."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ.setdefault("PEX2_DRIVER_MEM", "2g")


# --------------------------------------------------------------------------
# output digest: order-independent, identical in Spark SQL and in Python
# --------------------------------------------------------------------------

def row_digest(url: str, raw_json: str | None) -> int:
    key = url + "\x00" + (raw_json or "")
    return int(hashlib.sha256(key.encode("utf-8")).hexdigest()[:15], 16)


def _digest_col(F):
    key = F.concat_ws("\u0000", F.col("url"), F.coalesce(F.col("raw_json"), F.lit("")))
    return F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast("decimal(38,0)")


def _in_sample(F):
    idx = F.regexp_extract(F.col("url"), r"/doc/(\d+)$", 1).cast("long")
    return F.pmod(idx, F.lit(SAMPLE_MOD)) == 0


def result_aggregates(F):
    digest = _digest_col(F)
    return [
        F.count("*").alias("n"),
        F.sum((~F.col("success")).cast("long")).alias("failures"),
        F.sum(digest).alias("digest"),
        F.sum(F.when(_in_sample(F), digest)).alias("sample_digest"),
        F.sum("kernel_ms").alias("kernel_ms"),
    ]


# --------------------------------------------------------------------------
# worker memory
# --------------------------------------------------------------------------

def process_children() -> dict[int, list[int]]:
    """Parent pid -> child pids of every process in /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def python_worker_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of the pyspark daemon/worker processes below
    ``root_pid`` (the JVM and its Python workers are our descendants)."""
    children = process_children()
    total, todo = 0, list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmdline = fh.read()
            if b"pyspark.daemon" not in cmdline and b"pyspark.worker" not in cmdline:
                continue
            with open(f"/proc/{pid}/status", "rb") as fh:
                for line in fh:
                    if line.startswith(b"VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


class RssSampler:
    """Peak of ``python_worker_rss_kb`` sampled every 50 ms while open."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, python_worker_rss_kb(pid))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, python_worker_rss_kb(os.getpid()))


# --------------------------------------------------------------------------
# Spark jobs
# --------------------------------------------------------------------------

def start_spark(cores: int):
    from pdf_extractor2_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="perfbench", cores=cores,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (it exits
    when its stdin from this process closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant: the
    Python workers outlive the JVM that forks them, and ``stop_children``
    has to wait for them too."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_children(timeout: float = 30.0) -> None:
    """Stop every process this run started and wait until each has ended.

    Called after ``stop_jvm``: the JVM's Python workers exit once it is
    gone, and the resource tracker that the spawn-context render pool
    started exits once its pipe closes.  Whatever is still running at
    the deadline is killed."""
    from multiprocessing import resource_tracker

    # no public call stops the tracker; _stop closes its pipe and waits
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in process_children().get(os.getpid(), []):
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def stage_counters(sc, group: str) -> dict:
    st = sc.statusTracker()
    stages = set()
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    infos = [i for i in (st.getStageInfo(s) for s in sorted(stages)) if i is not None]
    return {
        "scan_tasks": infos[0].numTasks if infos else 0,
        "task_failures": sum(i.numFailedTasks for i in infos),
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.startswith(".") and not f.startswith("_")
    )


def run_resumable_job(spark, pages, name: str) -> str:
    """``run_resumable`` over a pages frame; returns the results path."""
    from pdf_extractor2_spark.plans import extract_job

    out_path = os.path.join(WORK, f"results_{name}")
    extract_job.run_resumable(
        spark, pages, out_path, os.path.join(WORK, f"metrics_{name}"),
        run_id=f"perfbench-{name}", num_buckets=RESUMABLE_BUCKETS,
    )
    return out_path


def run_repeat(spark, workload, repeat: int, trace: bool) -> dict:
    """The timed job of one repeat plus its checks (outside the timing)."""
    from pyspark.sql import functions as F

    from pdf_extractor2_spark.plans import extract_job

    sc = spark.sparkContext
    slice_path = os.path.join(WORK, "slices", f"slice={repeat}")
    pages = spark.read.parquet(slice_path)
    group = f"timed-{repeat}"
    sc.setJobGroup(group, f"{workload.name} repeat {repeat}")

    # metrics_rollup_s: from the call into metrics_rollup to the end of
    # run_resumable, which is the rollup's construction and write
    rollup: dict[str, float] = {}
    real_rollup = extract_job.metrics_rollup

    def timed_rollup(*args, **kwargs):
        rollup["t0"] = time.perf_counter()
        return real_rollup(*args, **kwargs)

    if trace:
        extract_job.metrics_rollup = timed_rollup
    try:
        with RssSampler() as rss:
            cpu0 = cpu_times()
            t0 = time.perf_counter()
            if workload.resumable:
                out_path = run_resumable_job(spark, pages, f"repeat_{repeat}")
            else:
                agg = extract_job.run_extract(pages).agg(*result_aggregates(F)).collect()[0]
            wall = time.perf_counter() - t0
            cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    finally:
        extract_job.metrics_rollup = real_rollup
    sc.setJobGroup("checks", "output checks")

    out = {"wall_s": wall, "rss_kb": rss.peak_kb, "steal_share": cpu[7] / max(1, sum(cpu)),
           "idle_share": cpu[3] / max(1, sum(cpu)), **stage_counters(sc, group)}
    if workload.resumable:
        agg = read_results(out_path)
        out["results_bytes"] = dir_bytes(out_path)
        out["metrics_rollup_s"] = (t0 + wall - rollup["t0"]) if rollup else 0.0
    out.update(n=agg["n"], failures=agg["failures"], digest=int(agg["digest"]),
               sample_digest=int(agg["sample_digest"] or 0), kernel_ms=agg["kernel_ms"])
    return out


def read_results(path: str) -> dict:
    """``result_aggregates`` over a written results table, computed in
    this process from the parquet files."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["url", "raw_json", "success", "kernel_ms"])
    urls, raws = table["url"].to_pylist(), table["raw_json"].to_pylist()
    digests = [row_digest(u, r) for u, r in zip(urls, raws)]
    return {
        "n": len(urls),
        "failures": table["success"].to_pylist().count(False),
        "digest": sum(digests),
        "sample_digest": sum(d for u, d in zip(urls, digests)
                             if int(u.rsplit("/", 1)[1]) % SAMPLE_MOD == 0),
        "kernel_ms": sum(table["kernel_ms"].to_pylist()),
    }


def expected_sample_digest(workload, seed: int, start: int, stop: int) -> int:
    """In-process kernel over the 1-in-SAMPLE_MOD docs of a slice."""
    from pdf_extractor2_spark.plans.extract_job import _extract_one

    from perfbench.workloads import doc

    total = 0
    for idx in range(start + (-start) % SAMPLE_MOD, stop, SAMPLE_MOD):
        url, payload = doc(workload, idx, seed)
        total += row_digest(url, _extract_one(url, payload, None)["raw_json"])
    return total


def warmup(spark) -> dict:
    """``run_extract`` over the warm-up slice: starts the Python workers,
    imports the kernel and compiles the scan and Arrow paths."""
    from pyspark.sql import functions as F

    from pdf_extractor2_spark.plans.extract_job import run_extract

    spark.sparkContext.setJobGroup("warmup", "warm-up job")
    pages = spark.read.parquet(os.path.join(WORK, "warmup"))
    agg = run_extract(pages).agg(*result_aggregates(F)).collect()[0]
    return {"n": agg["n"], "failures": agg["failures"], "digest": int(agg["digest"])}


def input_jobs(workload, seed: int, repeats: int, cores: int) -> list[tuple]:
    """``write_input`` arguments: the warm-up slice (default seed,
    ``cores`` files) and every timed slice (``seed``; ``max(8, n // 2000)``
    files, the count ``corpus.corpus_df`` gives)."""
    from perfbench.workloads import DEFAULT_SEED, WARMUP_DOCS, slice_range

    jobs = [(workload.name, DEFAULT_SEED, 0, WARMUP_DOCS, os.path.join(WORK, "warmup"), cores)]
    for r in range(repeats):
        start, stop = slice_range(workload, r)
        jobs.append((workload.name, seed, start, stop, os.path.join(WORK, "slices", f"slice={r}"),
                     max(8, (stop - start) // 2000)))
    return jobs


def write_input(name: str, seed: int, start: int, stop: int, directory: str, files: int) -> int:
    """Render docs [start, stop) of ``seed`` as a ``pages(url, html)``
    parquet table (runs in a render process); returns how many payloads
    are empty, which is how many failure rows the kernel must produce."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, docs, write_parquet

    rows = docs(WORKLOADS[name], seed, start, stop)
    write_parquet(rows, directory, files)
    return sum(not payload for _, payload in rows)


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def summarize(name: str, unit: str, values: list[float]) -> str:
    return (f"{name:<44} {statistics.median(values):>14.6g} {unit:<7} "
            f"max {max(values):.6g}  min {min(values):.6g}  n={len(values)}")


def run(args) -> int:
    from perfbench.workloads import DEFAULT_SEED, WORKLOADS, slice_range

    workload = WORKLOADS[args.workload]
    repeats = max(3, round(args.seconds / REPEAT_SECONDS))
    with open(GOLDENS, encoding="utf-8") as fh:
        goldens = json.load(fh)[workload.name]

    _fresh_workdir()

    problems: list[str] = []
    rows = []
    spark = None
    try:
        for r in range(repeats):
            # set-up: a fresh SparkContext, so fresh Python workers with
            # empty memos, and the warm-up job; the first set-up also
            # renders the inputs, in processes that overlap the JVM start
            t0 = time.perf_counter()
            if r == 0:
                with multiprocessing.get_context("spawn").Pool(RENDER_PROCESSES) as pool:
                    rendered = pool.starmap_async(write_input, input_jobs(workload, args.seed, repeats, args.cores))
                    spark = start_spark(args.cores)
                    empty_inputs = rendered.get()[1:]
                    pool.close()
                    pool.join()
                if workload.resumable:
                    # compile the shuffle and parquet-write paths once, so
                    # the first timed job is not the JVM's first write
                    run_resumable_job(spark, spark.read.parquet(os.path.join(WORK, "warmup")), "warmup")
            else:
                spark = start_spark(args.cores)
            warm = warmup(spark)
            setup_s = time.perf_counter() - t0
            if warm != goldens["warmup"]:
                problems.append(f"repeat {r}: warm-up output {warm} != golden {goldens['warmup']}")
            row = run_repeat(spark, workload, r, args.trace)
            row["setup_s"] = setup_s
            rows.append(row)
            spark.stop()
            spark = None
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()

    attempted = failed = failure_rows = 0
    for r, row in enumerate(rows):
        start, stop = slice_range(workload, r)
        bad = []
        if row["n"] != stop - start:
            bad.append(f"{row['n']} result rows for {stop - start} docs")
        if row["failures"] != empty_inputs[r]:
            bad.append(f"{row['failures']} failure rows for {empty_inputs[r]} empty payloads")
        if row["task_failures"]:
            bad.append(f"{row['task_failures']} task failures")
        expected = expected_sample_digest(workload, args.seed, start, stop)
        if row["sample_digest"] != expected:
            bad.append(f"sample digest {row['sample_digest']} != in-process {expected}")
        golden = goldens["slices"].get(str(r)) if args.seed == DEFAULT_SEED else None
        if golden is not None and [row["digest"], row["failures"]] != golden:
            bad.append(f"digest {row['digest']}/{row['failures']} != golden {golden}")
        print(f"repeat {r}: set-up {row['setup_s']:.2f} s, timed {row['wall_s']:.2f} s "
              f"(host CPU idle {row['idle_share']:.0%}, steal {row['steal_share']:.1%}), "
              f"docs {row['n']}, failure rows {row['failures']}, digest {row['digest']}"
              f"{' (golden)' if golden is not None else ''}")
        attempted += stop - start
        failure_rows += row["failures"]
        if bad:
            failed += stop - start
            problems.extend(f"repeat {r}: {b}" for b in bad)

    for p in problems:
        print("CHECK FAILED:", p)

    if args.trace:
        metrics = layer_run(workload, args.seed, repeats, rows, args.cores)
    else:
        samples = {
            "setup_s": [row["setup_s"] for row in rows],
            "docs_per_s": [row["n"] / row["wall_s"] for row in rows],
            "worker_rss_mb": [row["rss_kb"] / 1024.0 for row in rows],
        }
        metrics = {k: statistics.median(v) for k, v in samples.items()}
        metrics["failed_share"] = (failure_rows + failed) / attempted
        for k, v in samples.items():
            print(summarize(k, END_TO_END[k], v))
        print(summarize("failed_share", "ratio", [metrics["failed_share"]]))
        metrics = {k: (metrics[k], END_TO_END[k]) for k in END_TO_END}

    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 1 if problems else 0


def layer_run(workload, seed: int, repeats: int, rows: list[dict], cores: int) -> dict:
    from perfbench import trace
    from perfbench.workloads import DEFAULT_SEED, WARMUP_DOCS, docs, slice_range

    spark_m = {
        "extract_job.kernel_busy_share": [
            row["kernel_ms"] / 1000.0 / (row["wall_s"] * cores) for row in rows],
        "extract_job.scan_tasks": [row["scan_tasks"] for row in rows],
        "extract_job.task_failures": [row["task_failures"] for row in rows],
        "extract_job.results_bytes": [row.get("results_bytes", 0) for row in rows],
        "extract_job.metrics_rollup_s": [row.get("metrics_rollup_s", 0.0) for row in rows],
    }
    metrics = {k: statistics.median(v) for k, v in spark_m.items()}
    for k, v in spark_m.items():
        print(summarize(k, layer_unit(k), v))

    warm = docs(workload, DEFAULT_SEED, 0, WARMUP_DOCS // cores)
    samples = []
    for r in range(repeats):
        start, _stop = slice_range(workload, r)
        samples.append(docs(workload, seed, start, start + REPLAY_DOCS))
    result = trace.replay(warm, samples)
    layer, reached = trace.layer_metrics(result)
    metrics.update(layer)
    hits = [rep["hit_ratio"] for rep in result["repeats"]]
    for k in hits[0]:
        print(summarize(f"scalars.{k}.hit_ratio by repeat", "ratio", [h[k] for h in hits]),
              "first", round(hits[0][k], 4), "last", round(hits[-1][k], 4))
    for kind, layers in sorted(reached.items()):
        print(f"docs reaching each layer, payload kind {kind}: {json.dumps(layers, sort_keys=True)}")
    path = os.path.join(OUT, f"spans_{workload.name}_{seed}.jsonl")
    result["tracer"].write(path, {"workload": workload.name, "seed": seed, "reached": reached})
    print(f"spans written to {os.path.relpath(path, ROOT)} ({len(result['tracer'].spans)} spans)")
    for k in layer:
        print(summarize(k, layer_unit(k), [layer[k]]))
    return {k: (v, layer_unit(k)) for k, v in metrics.items()}


def layer_unit(name: str) -> str:
    """A per-layer metric's unit, from its name's suffix."""
    if name.endswith(("share", "hit_ratio")):
        return "ratio"
    if name.endswith(("tasks", "failures", "calls", "entries")):
        return "count"
    if name.endswith("bytes"):
        return "bytes"
    return "s" if name.endswith("_s") else "us/doc"


def run_queries(args) -> int:
    """The ``queries_sf0.1`` workload (see ``queries.py``)."""
    from perfbench import queries

    if not args.sf_dir:
        raise SystemExit("queries_sf0.1 needs --sf-dir (the sf0.1 test-data directory)")
    _fresh_workdir()
    t0 = time.perf_counter()
    spark = start_spark(args.cores)
    try:
        spark.read.parquet(os.path.join(args.sf_dir, "lineitem.parquet")).count()
        setup_s = time.perf_counter() - t0
        rows = queries.run_pass(spark, args.sf_dir)
    finally:
        spark.stop()
        stop_jvm()
    failed = [r for r in rows if r["problem"]]
    for r in rows:
        print(f"q.{r['name']:<28} {r['module']:<42} construct {r.get('construct_s', 0):8.3f} s  "
              f"execute {r.get('execute_s', 0):8.3f} s  rows {r.get('rows', '-')}"
              + (f"  CHECK FAILED: {r['problem']}" if r["problem"] else ""))
    if args.trace:
        metrics = {}
        for r in rows:
            metrics[f"q.{r['name']}.construct_s"] = (r.get("construct_s", 0.0), "s")
            metrics[f"q.{r['name']}.execute_s"] = (r.get("execute_s", 0.0), "s")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "failed_share": (len(failed) / len(rows), "ratio"),
            "queries_construct_s": (sum(r.get("construct_s", 0.0) for r in rows), "s"),
            "queries_execute_s": (sum(r.get("execute_s", 0.0) for r in rows), "s"),
        }
        for k, (v, u) in metrics.items():
            print(summarize(k, u, [v]))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(rows),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(WORK, ignore_errors=True)
    return 1 if failed else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N] parallelism; 4 for every gated run")
    ap.add_argument("--sf-dir", help="test-data directory for queries_sf0.1")
    args = ap.parse_args()
    _pin_hash_seed()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    become_subreaper()
    try:
        if args.workload == "queries_sf0.1":
            return run_queries(args)
        return run(args)
    finally:
        stop_children()


if __name__ == "__main__":
    sys.exit(main())
