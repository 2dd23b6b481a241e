"""Traced mode: spans around every layer call, attributed Spark jobs, and
the per-layer metrics derived from Spark's status stores.

The tracer wraps the layer functions a workload names (``LAYERS``) for the
duration of a traced run.  A *lazy* layer (one that returns an unexecuted
DataFrame) is materialized inside its span (``persist`` + ``count``), so
each step's time excludes the work upstream of it; an *eager* layer is
timed as called.  Every span tags its Spark jobs (``SparkContext.addJobTag``)
and records the job-id window it covers; after a job the tracer reads
- the core status store (jobs, stages, task-time quantiles), and
- the SQL status store (per-operator metrics such as the MapInPandas
  Python worker times and bytes returned),
both of which are populated with the Spark UI off.  Jobs that carry no
span tag are attributed by job-id window and counted as unattributed.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
import statistics
import threading
import time

from pyspark.sql import DataFrame

# (name, unit) of every per-layer metric, in BENCHMARK.json order.  A
# traced run reports all of them; layers a workload bypasses read 0.
PER_LAYER = [
    ("session.get_spark_s", "s"), ("session.warmup_jobs", "count"),
    ("operators.footprint.wall_s", "s"), ("operators.footprint.cpu_s", "s"),
    ("operators.pip_join.wall_s", "s"), ("operators.pip_join.cpu_s", "s"),
    ("operators.pip_join.cand_rows", "count"), ("operators.pip_join.keep_ratio", "ratio"),
    ("operators.pip_join.broadcast_mb", "MB"),
    ("operators.tile_assign.wall_s", "s"), ("operators.tile_assign.rows_per_image", "ratio"),
    ("plans.checkpoint.record_s", "s"), ("plans.checkpoint.files", "count"),
    ("plans.checkpoint.bytes", "B"), ("plans.checkpoint.recompute_ratio", "ratio"),
    ("operators.mosaic.wall_s", "s"), ("operators.mosaic.python_run_s", "s"),
    ("operators.mosaic.python_out_mb", "MB"),
    ("operators.mosaic.shuffle_write_mb", "MB"), ("operators.mosaic.task_skew", "ratio"),
    ("operators.mosaic.groups", "count"),
    ("codecs.decode_ms_per_image.png", "ms"), ("codecs.decode_ms_per_image.jpeg", "ms"),
    ("codecs.decode_ms_per_image.npy", "ms"), ("codecs.encode_png_ms_per_tile", "ms"),
    ("kernels.warp.mosaic_ms_per_tile", "ms"),
    ("sources.tile_store.write_s", "s"), ("sources.tile_store.files", "count"),
    ("sources.tile_store.bytes_per_payload_byte", "ratio"),
    ("operators.zonal.partials_s", "s"), ("operators.zonal.python_run_s", "s"),
    ("operators.zonal.cand_rows", "count"), ("operators.zonal.combine_s", "s"),
    ("operators.dedup.signatures_s", "s"), ("operators.dedup.signatures_python_run_s", "s"),
    ("operators.dedup.band_rows", "count"), ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.pairs_out", "count"), ("operators.dedup.pair_yield", "ratio"),
    ("operators.dedup.pairs_shuffle_mb", "MB"), ("operators.dedup.phash_candidates", "count"),
    ("operators.dedup.phash_pairs_out", "count"),
    ("operators.components.cc_s", "s"), ("operators.components.rounds", "count"),
    ("operators.components.jobs", "count"), ("operators.components.survivors_s", "s"),
    ("operators.components.pair_overlap", "ratio"),
    ("operators.dedup.store.build_s", "s"), ("operators.dedup.store.probe_s", "s"),
    ("operators.dedup.store.admit_s", "s"), ("operators.dedup.store.append_s", "s"),
    ("operators.dedup.store.jobs_per_batch", "count"),
    ("operators.dedup.store.files_added", "count"),
    ("operators.dedup.store.bytes_per_doc", "B"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.first_minus_warm_s", "s"),
    ("trace.overhead_items_per_s", "1/s"), ("trace.unattributed_jobs", "count"),
    ("trace.self_time_share", "ratio"),
]

# layer functions each workload's traced run wraps: (module, attribute, lazy)
LAYERS = {
    "catalog_tiles": [
        ("geo_raster_spark.operators.footprint", "with_footprint", True),
        ("geo_raster_spark.operators.pip_join", "pip_join", True),
        # flagship calls tile_assign.assign_tiles; tile_cut binds its own copy
        ("geo_raster_spark.operators.tile_assign", "assign_tiles", True),
        ("geo_raster_spark.plans.checkpoint", "CheckpointTable.record_df", False),
        ("geo_raster_spark.operators.mosaic", "tile_cut", True),
        ("geo_raster_spark.sources.tile_store", "write_tile_files", False),
        ("geo_raster_spark.operators.zonal", "zonal_partials", True),
    ],
    "caption_dedup": [
        ("geo_raster_spark.operators.components", "cross_modal_pairs", False),
        ("geo_raster_spark.operators.dedup", "minhash_lsh", False),
        ("geo_raster_spark.operators.dedup", "minhash_signatures_np", True),
        ("geo_raster_spark.operators.dedup", "minhash_pairs_from_sig", False),
        ("geo_raster_spark.operators.dedup", "phash_pairs", False),
        ("geo_raster_spark.operators.components", "connected_components", False),
    ],
    "store_ingest": [
        ("geo_raster_spark.operators.dedup", "incremental_minhash_pairs", False),
        ("geo_raster_spark.operators.dedup", "_admit_batch", True),
        ("geo_raster_spark.operators.dedup", "append_to_minhash_store", False),
    ],
}

SPAN_KEYS = ("id", "name", "parent", "run_id", "start", "end", "job_lo", "job_hi",
             "jobs", "rows", "engine")


class NoTrace:
    """The untraced run: every hook is a pass-through."""
    enabled = False

    def input(self, df):
        return df

    def run(self, name, fn):
        return fn()


def _parse_sql_value(text: str) -> float:
    """A formatted SQL metric ('1,234', '3.0 s', 'total (...)\\n1.2 MiB (...)')
    -> number in base units (seconds, bytes, or plain count)."""
    text = text.split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    scale = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
             "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40}
    return v * scale.get(m.group(2), 1.0)


def du(path: str):
    """(files, bytes) under a directory."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Tracer:
    enabled = True

    def __init__(self, spark, workload: str, run_id: str):
        self.spark, self.sc = spark, spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.workload, self.run_id = workload, run_id
        self.spans: list = []
        self.outputs: dict = {}      # span name -> last output of that layer
        self.cc_stats: dict = {}
        self.unattributed = 0        # jobs attributed by job-id window only
        self._cached: list = []
        self._local = threading.local()
        self._main_stack: list = []
        self._patches: list = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            # a pool thread's spans hang under the span that spawned it
            self._local.stack = self._main_stack[-1:]
        return self._local.stack

    def _next_job(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                stack = tracer._stack()
                self.rec = {"id": len(tracer.spans), "name": name,
                            "parent": stack[-1] if stack else None,
                            "run_id": tracer.run_id, "job_lo": tracer._next_job(),
                            "rows": None, "start": time.perf_counter()}
                self.tag = f"perfbench-{tracer.run_id}-{self.rec['id']}"
                tracer.spans.append(self.rec)
                stack.append(self.rec["id"])
                tracer.sc.addJobTag(self.tag)
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.perf_counter()
                self.rec["job_hi"] = tracer._next_job()
                tracer.sc.removeJobTag(self.tag)
                tracer._stack().pop()
                return False

        return _Span()

    def input(self, df):
        """Materialize a job input so the first layer excludes the scan."""
        with self.span("input") as rec:
            df = df.persist()
            rec["rows"] = df.count()
        self._cached.append(df)
        return df

    def run(self, name, fn):
        with self.span(name):
            return fn()

    def spans_named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    # -- layer wrappers --------------------------------------------------------
    def _wrap(self, fn, name: str, lazy: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if name.endswith("connected_components") and kwargs.get("stats") is None:
                kwargs["stats"] = tracer.cc_stats
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if lazy:
                    out = out.persist()
                    tracer._cached.append(out)
                if isinstance(out, DataFrame) and out.storageLevel.useMemory:
                    rec["rows"] = out.count()
            tracer.outputs[name] = out
            return out
        return wrapped

    def install(self, workload: str):
        for mod_name, attr, lazy in LAYERS[workload]:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            short = mod_name.replace("geo_raster_spark.", "")
            setattr(owner, leaf, self._wrap(orig, f"{short}.{leaf}", lazy))
            self._patches.append((owner, leaf, orig))

    def uninstall(self):
        for owner, leaf, orig in reversed(self._patches):
            setattr(owner, leaf, orig)
        self._patches = []

    def release(self):
        for df in self._cached:
            df.unpersist()
        self._cached = []

    # -- status stores -------------------------------------------------------
    def collect_engine(self):
        """Attach Spark engine metrics to every span recorded so far that
        has none yet."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        todo = [s for s in self.spans if "engine" not in s]
        if not todo:
            return
        lo = min(s["job_lo"] for s in todo)
        jobs = {}
        for j in self.conv.asJava(store.jobsList(None)):
            if j.jobId() >= lo:
                jobs[j.jobId()] = (list(self.conv.asJava(j.jobTags())),
                                   list(self.conv.asJava(j.stageIds())))
        by_tag = {f"perfbench-{self.run_id}-{s['id']}": s for s in todo}
        owner = {}
        for jid, (tags, _stages) in jobs.items():
            tagged = [by_tag[t] for t in tags if t in by_tag]
            if tagged:
                owner[jid] = max(tagged, key=lambda s: s["id"])   # innermost
                continue
            inside = [s for s in todo if s["job_lo"] <= jid < s["job_hi"]]
            if inside:
                owner[jid] = max(inside, key=lambda s: s["id"])
                self.unattributed += 1

        stages = {}
        quant = self.sc._gateway.new_array(self.spark._jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        for st in self.conv.asJava(store.stageList(
                None, False, False, self.sc._gateway.new_array(self.spark._jvm.double, 0),
                None)):
            stages[(st.stageId(), st.attemptId())] = st
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = []
        for e in self.conv.asJava(sql.executionsList()):
            ejobs = set(self.conv.asJava(e.jobs()).keySet())
            if ejobs and min(ejobs) >= lo:
                execs.append((e.executionId(), ejobs))

        for s in todo:
            mine = sorted(j for j, o in owner.items() if o is s)
            eng = {"jobs": len(mine), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                   "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
                   "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0,
                   "sql": {}}
            heaviest = None
            for jid in mine:
                for sid in jobs[jid][1]:
                    for (stid, att), st in stages.items():
                        if stid != sid or str(st.status()) == "SKIPPED":
                            continue
                        eng["stages"] += 1
                        eng["tasks"] += st.numCompleteTasks()
                        eng["executor_run_s"] += st.executorRunTime() / 1e3
                        eng["executor_cpu_s"] += st.executorCpuTime() / 1e9
                        eng["gc_s"] += st.jvmGcTime() / 1e3
                        eng["shuffle_read_mb"] += st.shuffleReadBytes() / 2 ** 20
                        eng["shuffle_write_mb"] += st.shuffleWriteBytes() / 2 ** 20
                        eng["spill_mb"] += (st.memoryBytesSpilled()
                                            + st.diskBytesSpilled()) / 2 ** 20
                        if heaviest is None or st.executorRunTime() > heaviest.executorRunTime():
                            heaviest = st
            if heaviest is not None and heaviest.numTasks() > 1:
                summ = store.taskSummary(heaviest.stageId(), heaviest.attemptId(), quant)
                if summ.isDefined():
                    med, mx = list(self.conv.asJava(summ.get().executorRunTime()))
                    eng["task_skew"] = mx / med if med > 0 else 0.0
            for eid, ejobs in execs:
                if min(ejobs) in mine:
                    self._add_sql(sql, eid, eng["sql"])
            s["jobs"] = mine
            s["engine"] = eng

    def _add_sql(self, sql, eid, acc: dict):
        vals = self.conv.asJava(sql.executionMetrics(eid))
        for node in self.conv.asJava(sql.planGraph(eid).allNodes()):
            # every metric read is a JVM round trip: read only the plan
            # nodes a per-layer metric uses
            if node.name() not in SQL_NODES:
                continue
            for m in self.conv.asJava(node.metrics()):
                v = vals.get(m.accumulatorId())
                if v is not None:
                    key = f"{node.name()}|{m.name()}"
                    acc[key] = acc.get(key, 0.0) + _parse_sql_value(v)


def children(spans, sid):
    return [s for s in spans if s["parent"] == sid]


def subtree(spans, sid) -> list:
    out, todo = [], [sid]
    while todo:
        cur = todo.pop()
        out.append(spans[cur])
        todo.extend(c["id"] for c in children(spans, cur))
    return out


def engine_total(spans, sid, key) -> float:
    return sum(s["engine"][key] for s in subtree(spans, sid) if "engine" in s)


def sql_total(spans, sid, node: str, metric: str, how=sum) -> float:
    vals = [v for s in subtree(spans, sid) if "engine" in s
            for k, v in s["engine"]["sql"].items() if k == f"{node}|{metric}"]
    return how(vals) if vals else 0.0


_PY_RUN = ("sql", "MapInPandas", "time to run Python workers")

# per-layer metric -> (layer span, how it is read from that span's record);
# a metric is reported only by jobs that ran its layer
SPAN_METRICS = {
    "operators.footprint.wall_s": ("operators.footprint.with_footprint", ("wall",)),
    "operators.footprint.cpu_s": ("operators.footprint.with_footprint",
                                  ("eng", "executor_cpu_s")),
    "operators.pip_join.wall_s": ("operators.pip_join.pip_join", ("wall",)),
    "operators.pip_join.cpu_s": ("operators.pip_join.pip_join", ("eng", "executor_cpu_s")),
    "operators.pip_join.cand_rows": ("operators.pip_join.pip_join",
                                     ("sql", "BroadcastHashJoin", "number of output rows", max)),
    "operators.pip_join.broadcast_mb": ("operators.pip_join.pip_join",
                                        ("sql_mb", "BroadcastExchange", "data size")),
    "operators.tile_assign.wall_s": ("operators.tile_assign.assign_tiles", ("wall",)),
    "plans.checkpoint.record_s": ("plans.checkpoint.record_df", ("wall",)),
    "operators.mosaic.wall_s": ("operators.mosaic.tile_cut", ("wall",)),
    "operators.mosaic.python_run_s": ("operators.mosaic.tile_cut", _PY_RUN),
    "operators.mosaic.python_out_mb": ("operators.mosaic.tile_cut", (
        "sql_mb", "MapInPandas", "data returned from Python workers")),
    "operators.mosaic.shuffle_write_mb": ("operators.mosaic.tile_cut",
                                          ("eng", "shuffle_write_mb")),
    "operators.mosaic.task_skew": ("operators.mosaic.tile_cut", ("eng", "task_skew")),
    "operators.mosaic.groups": ("operators.mosaic.tile_cut", ("rows",)),
    "sources.tile_store.write_s": ("sources.tile_store.write_tile_files", ("wall",)),
    "operators.zonal.partials_s": ("operators.zonal.zonal_partials", ("wall",)),
    "operators.zonal.python_run_s": ("operators.zonal.zonal_partials", _PY_RUN),
    "operators.zonal.cand_rows": ("operators.zonal.zonal_partials",
                                  ("sql", "BroadcastHashJoin", "number of output rows", sum)),
    "operators.zonal.combine_s": ("operators.zonal.combine", ("wall",)),
    "operators.dedup.signatures_s": ("operators.dedup.minhash_signatures_np", ("wall",)),
    "operators.dedup.signatures_python_run_s": ("operators.dedup.minhash_signatures_np",
                                                _PY_RUN),
    "operators.dedup.pairs_shuffle_mb": ("operators.dedup.minhash_pairs_from_sig",
                                         ("eng", "shuffle_write_mb")),
    "operators.components.cc_s": ("operators.components.connected_components", ("wall",)),
    "operators.components.jobs": ("operators.components.connected_components",
                                  ("eng", "jobs")),
    "operators.components.survivors_s": ("operators.components.dedup_corpus", ("wall",)),
    "operators.dedup.store.probe_s": ("operators.dedup.incremental_minhash_pairs", ("wall",)),
    "operators.dedup.store.admit_s": ("operators.dedup._admit_batch", ("wall",)),
    "operators.dedup.store.append_s": ("operators.dedup.append_to_minhash_store", ("wall",)),
    "operators.dedup.store.jobs_per_batch": ("operators.dedup.incremental_dedup",
                                             ("eng", "jobs")),
}


SQL_NODES = {how[1] for _layer, how in SPAN_METRICS.values() if how[0] in ("sql", "sql_mb")}


def job_metrics(spans, job_id: int) -> dict:
    """Per-layer metrics of one traced job (the span ``job_id`` and the
    layer spans beneath it)."""
    sub = subtree(spans, job_id)
    by: dict = {}
    for s in sub:
        by.setdefault(s["name"], []).append(s)

    def read(span, how):
        if how[0] == "wall":
            return span["end"] - span["start"]
        if how[0] == "rows":
            return span["rows"] or 0
        if how[0] == "eng":
            return engine_total(spans, span["id"], how[1])
        v = sql_total(spans, span["id"], how[1], how[2], *how[3:])
        return v / 2 ** 20 if how[0] == "sql_mb" else v

    m = {}
    for metric, (layer, how) in SPAN_METRICS.items():
        if layer in by:
            m[metric] = sum(read(s, how) for s in by[layer])

    def rows(layer):
        return sum(s["rows"] or 0 for s in by.get(layer, []))

    if m.get("operators.pip_join.cand_rows"):
        m["operators.pip_join.keep_ratio"] = (rows("operators.pip_join.pip_join")
                                              / m["operators.pip_join.cand_rows"])
    if rows("operators.pip_join.pip_join"):
        m["operators.tile_assign.rows_per_image"] = (
            rows("operators.tile_assign.assign_tiles") / rows("operators.pip_join.pip_join"))
    text = [(s["start"], s["end"]) for s in by.get("operators.dedup.minhash_lsh", [])]
    phash = [(s["start"], s["end"]) for s in by.get("operators.dedup.phash_pairs", [])]
    if text and phash:
        both = text + phash
        m["operators.components.pair_overlap"] = sum(e - s for s, e in both) / _union_s(both)
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"spark.{key}"] = engine_total(spans, job_id, key)
    # the layer spans' self times summed, with the overlap of concurrent
    # spans (the two cross-modal pair generators) counted once
    job = spans[job_id]
    m["trace.self_time_share"] = (_union_s((s["start"], s["end"]) for s in sub
                                           if s["id"] != job_id)
                                  / (job["end"] - job["start"]))
    return m


def median_metrics(per_job: list) -> dict:
    """Per metric, the median over the jobs that report it."""
    keys = {k for d in per_job for k in d}
    return {k: statistics.median(d[k] for d in per_job if k in d) for k in keys}
