#!/usr/bin/env python3
"""geo_raster_spark benchmark: one workload, closed loop, one client.

    python3 perfbench/run.py --workload catalog_tiles --seed 1 --seconds 8 --trace 0

Run from the repository root.  ``setup_s`` runs from process start to a
ready, warmed session.  The seeded input is then written to parquet under
``.perfbench/`` before timing starts and removed at exit.  Jobs run back to
back for ``--seconds`` after a first (cold) job; every answer is checked
against one computed without Spark.  The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (a separate run: untraced jobs first, then traced ones).
The run context and, when traced, the span record go to stderr and to
``.perfbench/``.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# one warm job already runs past --seconds at the benchmark's sizes; more
# would not fit the run budget, and the spread lies between runs, not jobs
MIN_WARM_JOBS = 1
# no job starts after this: a run ends well inside 180 s whatever the job size
DEADLINE = T_PROCESS + 150
END_TO_END = [("items_per_s", "1/s"), ("first_job_s", "s"), ("cpu_s_per_kitem", "s"),
              ("peak_rss_mb", "MB"), ("pass_ratio", "ratio"), ("setup_s", "s")]


def log(*parts):
    print("perfbench:", *parts, file=sys.stderr, flush=True)


def configure_env(work: str, heap: str = "1g") -> None:
    """Keep every file Spark, the JVM and the workers write inside ``work``,
    and fix the driver heap at ``heap`` unless the environment sets one."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a small fixed driver heap, committed and touched at start: under the
    # engine's 8g default peak RSS swung 3.3-4.7 GB run to run, and still
    # 1.3-1.6 GB of JVM high-water mark under 1g, as GC timing decided how
    # much heap was touched
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", heap)
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        shlex.quote(f"--conf=spark.driver.extraJavaOptions={java_opts}"),
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell"])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    from geo_raster_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until it and every worker it forked
    have exited."""
    from pyspark import SparkContext

    from perfbench import procstat

    pids = [p for p in procstat.tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after stop: {alive}")


def context(spark) -> dict:
    """Where and on what the run measured: versions, host load, and the
    fixed hardware probe (``spark.range`` hash-aggregate rows/s)."""
    import pyspark
    from pyspark.sql import functions as F

    sha = "unknown"    # a checkout without .git (an exported tree) has none
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                 text=True, timeout=10).stdout.strip() or sha
        except (OSError, subprocess.SubprocessError):
            pass
    n = 10_000_000
    t0 = time.perf_counter()
    spark.range(0, n, 1, cores()).groupBy((F.col("id") % 1024).alias("k")) \
        .agg(F.sum(F.xxhash64("id"))).count()
    return {"git_sha": sha, "cores": cores(), "pyspark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "hw_probe_rows_per_s": n / (time.perf_counter() - t0)}


def measure(spark, w, tr, seconds: float, min_jobs: int, k0: int = 0,
            deadline: float = float("inf")) -> list:
    """Closed loop: jobs back to back until ``seconds`` have passed and at
    least ``min_jobs`` ran, or the ``perf_counter`` deadline passed.
    -> one record per job."""
    from perfbench import procstat

    recs, t_start = [], time.perf_counter()
    while True:
        k = k0 + len(recs)
        w.before_job(k)
        cpu0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        try:
            if tr.enabled:
                with tr.span("job") as job:
                    answer = w.job(spark, k, tr)
            else:
                answer = w.job(spark, k, tr)
            err = None
        except Exception:   # a failed job counts toward pass_ratio
            answer, err = None, traceback.format_exc()
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s() - cpu0
        ok = err is None and w.check(answer)
        if err or not ok:
            log(f"job {k} failed:", err or "wrong answer")
        rec = {"k": k, "wall_s": wall, "cpu_s": cpu, "ok": bool(ok)}
        if tr.enabled and err is None:
            rec["layers"] = w.traced_counts(spark, tr, k)
            tr.release()
            tr.collect_engine()
            rec["span"] = job["id"]
        w.cleanup_job(k)
        recs.append(rec)
        elapsed = time.perf_counter() - t_start
        if (elapsed >= seconds and len(recs) >= min_jobs) or time.perf_counter() > deadline:
            return recs


def traced_job(spark, w, tracer, k: int) -> list:
    """One job of ``w`` with its layer functions wrapped in spans.  A traced
    job's layer-by-layer materialization and status-store reads take 2-3x
    an untraced job, so one is all a run ending inside 180 s has room for."""
    tracer.install(w.name)
    try:
        return measure(spark, w, tracer, 0, 1, k0=k)
    finally:
        tracer.uninstall()


def end_to_end(w, first, warm, setup_s, peak_mb) -> dict:
    jobs = [first] + warm
    failed = sum(not r["ok"] for r in jobs)
    return {
        "items_per_s": statistics.median(w.items / r["wall_s"] for r in warm),
        "first_job_s": first["wall_s"],
        "cpu_s_per_kitem": sum(r["cpu_s"] for r in warm) / (w.items * len(warm) / 1e3),
        "peak_rss_mb": peak_mb,
        "pass_ratio": (len(jobs) - failed) / len(jobs),
        "setup_s": setup_s,
    }


def run(args, work: str) -> dict:
    from perfbench import procstat, trace
    from perfbench.workloads import WORKLOADS, StoreIngest

    load0, stat0 = procstat.loadavg(), procstat.cpu_times()
    t0 = time.perf_counter()
    spark = start_session()
    get_spark_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_PROCESS
    warmup_jobs = int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
    ctx = context(spark)
    w = WORKLOADS[args.workload](args.scale)
    t0 = time.perf_counter()
    w.prepare(spark, args.seed, os.path.join(work, "data"))
    ctx["prepare_s"] = time.perf_counter() - t0

    untraced = trace.NoTrace()
    first = measure(spark, w, untraced, 0, 1)[0]
    warm = measure(spark, w, untraced, args.seconds, MIN_WARM_JOBS, k0=1, deadline=DEADLINE)
    e2e_jobs = [first] + warm
    if args.trace:
        tracer = trace.Tracer(spark, w.name, f"{w.name}-{args.seed}")
        traced = traced_job(spark, w, tracer, len(e2e_jobs))
        probes = w.probes(spark, tracer)
        store_jobs = []
        if w.name == "caption_dedup":
            # the persisted MinHash store: one traced store-ingest job
            store = StoreIngest(args.scale)
            store.prepare(spark, args.seed, os.path.join(work, "data", store.name))
            store_jobs = traced_job(spark, store, tracer, len(e2e_jobs) + 1)
        e2e_jobs += traced + store_jobs
    peak_mb = procstat.peak_rss_mb()
    ctx["rss_mb"] = procstat.rss_parts_mb()
    stop_session(spark)

    ctx.update(loadavg_start=load0, loadavg_end=procstat.loadavg(),
               steal_share=procstat.steal_share(stat0, procstat.cpu_times()),
               workload=w.name, seed=args.seed, items_per_job=w.items,
               setup_s=setup_s, job_walls_s=[r["wall_s"] for r in e2e_jobs])
    e2e = end_to_end(w, first, warm, setup_s, peak_mb)
    failed = sum(not r["ok"] for r in e2e_jobs)
    if not args.trace:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    else:
        def layer_metrics(recs):
            return [{**trace.job_metrics(tracer.spans, r["span"]), **r["layers"]}
                    for r in recs if "span" in r]

        layer = trace.median_metrics(layer_metrics(traced))
        # the store job reports its own layers only, not the whole-job figures
        layer.update({k: v for k, v in trace.median_metrics(layer_metrics(store_jobs)).items()
                      if not k.startswith(("spark.", "trace."))})
        layer.update(probes)
        traced_ips = statistics.median(w.items / r["wall_s"] for r in traced)
        layer.update({
            "session.get_spark_s": get_spark_s, "session.warmup_jobs": warmup_jobs,
            "spark.first_minus_warm_s": first["wall_s"] - statistics.median(
                r["wall_s"] for r in warm),
            "trace.overhead_items_per_s": traced_ips - e2e["items_per_s"],
            "trace.unattributed_jobs": tracer.unattributed,
        })
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                   for name, unit in trace.PER_LAYER}
        record = {"context": ctx, "end_to_end": e2e, "traced_items_per_s": traced_ips,
                  "per_layer": {k: v["value"] for k, v in metrics.items()},
                  "spans": [{k: s.get(k) for k in trace.SPAN_KEYS} for s in tracer.spans]}
        out = os.path.join(ROOT, ".perfbench", "traces", f"{w.name}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(record, f, indent=1)
        log("trace written to", os.path.relpath(out, ROOT))
    log("context", json.dumps(ctx))
    return {"correct": failed == 0, "attempted": len(e2e_jobs), "failed": failed,
            "metrics": metrics}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("catalog_tiles", "caption_dedup"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the benchmark's (tests use a small one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geo_raster_spark", "__init__.py")):
        log(f"no geo_raster_spark package under {ROOT}: run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    # a traced run persists every lazy layer's output, which overflows 1g
    configure_env(work, heap="2g" if args.trace else "1g")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
