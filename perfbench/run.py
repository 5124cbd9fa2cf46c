"""Seeded end-to-end benchmark of the dedup engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's input from the
seed, starts a Spark session sized to the host, sets up (session start plus
warm-up, several times), runs the job once untimed, then runs it repeatedly
for S seconds (at least once), checks the outputs and prints one JSON object as the last line
of stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs
the job untraced, then traced (spans, job groups, offline event log) and
reports the per-layer metrics. Workloads and metrics: perfbench/NOTES.md.
Everything the run writes goes under ``.perfbench_work/`` in the checkout and
is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
N_SETUPS = 3

# Per-layer metrics of the traced run. Both BENCHMARK.json workloads report
# all of these; a layer a workload never reaches reads zero.
SPANS = [
    "sources.read", "blocking.prepare", "matching.match",
    "clustering.cluster_exact", "canonical.elect", "sinks.xlsx",
    "text.score", "curation.clean_corpus", "dedup.signatures",
    "dedup.candidates", "dedup.two_phase", "curation.manifest", "sinks.parquet",
]
SPAN_FIELDS = [("s", "s"), ("task_s", "s"), ("shuffle_mb", "MB"), ("spill_mb", "MB")]
COUNTS = [
    ("blocking.blocks", "count"), ("blocking.max_block_rows", "count"),
    ("blocking.candidate_pairs", "count"), ("matching.matches", "count"),
    ("matching.pass_rate", "ratio"), ("clustering.groups", "count"),
    ("clustering.max_cluster_size", "count"), ("sinks.bytes_out", "bytes"),
    ("text.rows_kept", "count"), ("dedup.exact_dropped", "count"),
    ("dedup.candidate_pairs", "count"), ("dedup.max_bucket_rows", "count"),
    ("dedup.verified_pairs", "count"), ("dedup.verify_pass_rate", "ratio"),
    ("dedup.victims", "count"),
    ("session.start.s", "s"), ("trace.failed_tasks", "count"),
    ("trace.coverage", "ratio"), ("trace.overhead_frac", "ratio"),
    ("trace.traced_s", "s"), ("trace.untraced_s", "s"),
]
# Workloads run by hand (too slow for the benchmark's time budget, see
# NOTES.md) add their own spans and counts.
HAND_RUN = {
    "embedding_dedup": (
        ["similarity.near_pairs", "clustering.components"],
        [("similarity.candidate_pairs", "count"), ("similarity.max_bucket_rows", "count"),
         ("similarity.pairs", "count"), ("similarity.verify_pass_rate", "ratio"),
         ("clustering.edges", "count"), ("clustering.max_component", "count")],
    ),
    "stream_ingest": (
        ["index.build", "ingest.batch", "index.read", "index.match", "index.compact"],
        [("index.files", "count"), ("index.compactions", "count"),
         ("index.bytes_per_input_byte", "ratio"), ("corpus.bytes_per_input_byte", "ratio"),
         ("ingest.kept_frac", "ratio"), ("ingest.add_batch_s", "s"),
         ("ingest.trigger_s", "s"), ("ingest.batch_p50_s", "s"),
         ("ingest.batch_tail_s", "s")],
    ),
}
END_TO_END = [
    ("setup_s", "s"), ("job_s", "s"), ("rows_per_s", "1/s"),
    ("dup_recall", "ratio"), ("dup_precision", "ratio"),
]


def spans_of(workload: str) -> list[str]:
    return SPANS + HAND_RUN.get(workload, ([], []))[0]


def per_layer_metrics(workload: str) -> list[tuple[str, str]]:
    out = [(f"{s}.{f}", u) for s in spans_of(workload) for f, u in SPAN_FIELDS]
    return out + COUNTS + HAND_RUN.get(workload, ([], []))[1]


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Host sizing and process-tree memory
# ---------------------------------------------------------------------------


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0])
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_config() -> dict:
    """CPUs from the affinity mask, driver heap a quarter of MemTotal
    (at least 1 GiB): the JVM holds executors and driver in one heap, and
    Python workers and the page cache need the rest."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = max(1024, meminfo_kb()["MemTotal"] // 1024 // 4)
    return {"cpus": cpus, "driver_mem": f"{heap_mb}m"}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


class RssSampler:
    """Samples the resident memory of this process tree every 100 ms."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(0.1)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


# ---------------------------------------------------------------------------
# Session lifecycle
# ---------------------------------------------------------------------------


def start_session(work: str, event_log: str | None = None):
    from datafusion_dedup_ai_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_session(spark) -> None:
    """A query and a pandas UDF, which starts the Python workers."""

    def ident(batches):
        yield from batches

    spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        ident, "id long").selectExpr("sum(id)").collect()


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it and its children."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it; with
    fewer than 20 samples that would not be a tail, so the maximum."""
    n = len(xs)
    if n < 20:
        return (max(xs) if xs else 0.0), 100
    pct = int(100 * (n - 10) / n)
    s = sorted(xs)
    return s[min(n - 1, int(n * pct / 100))], pct


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


def measure(w, spark, seconds: float) -> tuple[list[float], int, int, list[str]]:
    """Repeat the job for ``seconds``. Returns the job times, the jobs
    attempted and failed, and the errors. The output check runs once, after
    the timed region, on the last output; a wrong output fails that job."""
    times, attempted, failed, errs = [], 0, 0, []
    t_start = time.perf_counter()
    while True:
        w.reset(spark)
        attempted += 1
        t0 = time.perf_counter()
        try:
            w.job(spark)
        except Exception as e:  # a failed job is counted, the run goes on
            failed += 1
            errs.append(f"{w.name}: job failed: {e!r}"[:500])
        else:
            times.append(time.perf_counter() - t0)
            w.after_job()
        if time.perf_counter() - t_start >= seconds:
            break
    if times:
        wrong = w.check()
        failed += 1 if wrong else 0
        errs.extend(wrong)
    return times, attempted, failed, errs


def run(args) -> dict:
    import workloads

    cfg = host_config()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cfg["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": cfg["driver_mem"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    load = loadavg()
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "config": cfg, "load_start": load,
            "idle_at_start": load[0] < 0.5 * cfg["cpus"]}
    w = workloads.WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        t0 = time.perf_counter()
        info["input"] = w.generate()
        info["gen_s"] = time.perf_counter() - t0

        # Set-up: session start plus its warm-up (a query and a pandas UDF,
        # which starts the Python workers), plus the workload's own set-up
        # work; repeated and reported as the median. The first includes the
        # JVM launch.
        setups = []
        for _ in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work)
            warm_session(spark)
            w.set_up(spark)
            setups.append(time.perf_counter() - t0)
        # The first job pays code generation and JIT compilation of the
        # job's code (a CLI user pays it on every invocation); it is logged,
        # and the timed jobs that follow measure the engine's own work, which
        # moves less between runs (NOTES.md).
        w.reset(spark)
        t0 = time.perf_counter()
        w.job(spark)
        info["first_job_s"] = time.perf_counter() - t0
        w.after_job()
        info["setup_runs_s"] = setups
        info["spark_conf"] = {
            k: spark.conf.get(k) for k in (
                "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled")
        }
        if args.trace:
            metrics, failed, attempted, errs = traced(w, spark, work, args, info)
            spark = None
        else:
            with RssSampler() as rss:
                times, attempted, failed, errs = measure(w, spark, args.seconds)
            recall, precision = w.quality() if times else (0.0, 0.0)
            jm = median(times)
            vals = {
                "setup_s": median(setups), "job_s": jm,
                "rows_per_s": w.rows() / jm if jm else 0.0,
                "dup_recall": recall, "dup_precision": precision,
            }
            info["job_runs_s"] = times
            # Printed, not a BENCHMARK.json metric: it moved 12-19% between
            # seeds, mostly with how much of the heap the JVM had touched.
            info["peak_rss_mb"] = rss.peak
            metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}
            if hasattr(w, "latencies"):
                t, pct = tail(w.latencies)
                info["batch_p50_s"], info["batch_tail_s"] = median(w.latencies), t
                info["batch_tail_pct"], info["batches"] = pct, len(w.latencies)
        info["failed_ops_frac"] = failed / attempted
        info["errors"] = errs
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        info["load_end"] = loadavg()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}, default=str))
    return {"correct": not errs, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def traced(w, spark, work, args, info):
    """The job untraced, then traced on a session with an event log;
    per-layer metrics from the spans and the reduced log."""
    from spans import Tracer, reduce_event_log

    w.reset(spark)
    t0 = time.perf_counter()
    w.job(spark)
    untraced = time.perf_counter() - t0
    w.after_job()
    spark.stop()

    log_dir = os.path.join(work, "eventlog")
    tr = Tracer()
    t0 = time.perf_counter()
    spark = start_session(work, event_log=log_dir)
    warm_session(spark)
    tr.spans.append({"name": "session.start", "parent": None, "kind": "setup",
                     "start": t0, "end": time.perf_counter()})
    tr.spark = spark
    w.reset(spark)
    try:
        w.traced_job(spark, tr)
        w.after_job()
        errs = w.check()
    except Exception as e:  # reported as a failed job
        errs = [f"{w.name}: traced job failed: {e!r}"[:500]]
    spark.stop()
    groups = reduce_event_log(log_dir)

    timeline = [s for s in tr.spans if s["kind"] == "timeline"]
    traced_s = (max(s["end"] for s in timeline) - min(s["start"] for s in timeline)
                if timeline else 0.0)
    layer = per_layer_metrics(w.name)
    vals: dict[str, float] = {name: 0.0 for name, _u in layer}
    selfs = {**tr.self_times("timeline"), **tr.self_times("probe")}
    for s in spans_of(w.name):
        g = groups.get(s, {})
        vals[f"{s}.s"] = selfs.get(s, 0.0)
        vals[f"{s}.task_s"] = g.get("task_s", 0.0)
        vals[f"{s}.shuffle_mb"] = g.get("shuffle_mb", 0.0)
        vals[f"{s}.spill_mb"] = g.get("spill_mb", 0.0)
    vals.update({k: float(v) for k, v in tr.counts.items()})
    vals["session.start.s"] = tr.wall("session.start")
    vals["trace.failed_tasks"] = float(sum(g["failed_tasks"] for g in groups.values()))
    vals["trace.coverage"] = (
        sum(tr.self_times("timeline").values()) / traced_s if traced_s else 0.0)
    vals["trace.traced_s"] = traced_s
    vals["trace.untraced_s"] = untraced
    vals["trace.overhead_frac"] = traced_s / untraced - 1.0 if untraced else 0.0
    if getattr(w, "latencies", None):
        t, pct = tail(w.latencies)
        vals["ingest.batch_p50_s"], vals["ingest.batch_tail_s"] = median(w.latencies), t
        info["batch_tail_pct"] = pct
        prog = getattr(w, "progress", [])
        vals["ingest.add_batch_s"] = median(
            [p["durationMs"].get("addBatch", 0) / 1000.0 for p in prog])
        vals["ingest.trigger_s"] = median(
            [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in prog])
    info["spans"] = [
        {"name": s["name"], "kind": s["kind"], "parent": s["parent"],
         "s": s["end"] - s["start"]} for s in tr.spans]
    info["job_groups"] = groups
    metrics = {k: {"value": vals[k], "unit": u} for k, u in layer}
    return metrics, 1 if errs else 0, 1, errs


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # The engine must be importable from the checkout; nothing else is
    # started before this check.
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import datafusion_dedup_ai_spark
    except ImportError as e:
        log(f"perfbench: the engine package is not importable from {ROOT}: {e}")
        return 2
    if not os.path.abspath(datafusion_dedup_ai_spark.__file__).startswith(ROOT + os.sep):
        log(f"perfbench: the engine package was found outside {ROOT}")
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
