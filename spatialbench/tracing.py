"""Spans around the calls into each layer, and Spark's own job metrics.

The traced run wraps the public functions of the package layers at run
time (the package itself is not changed), keeps every span in memory and
writes them out when the run ends.  After each operation it reads the
operation's jobs from Spark's status store (keyed by a per-op job group)
and the SQL plan metrics of the executions the operation started, and
hangs the jobs under the innermost span that was open when each job was
submitted, with Spark's own start and end times.  The listener bus that
fills the status store is drained first, so a harvest never sees a job or
an execution half recorded.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import sys
import time

# (layer, module, attribute) of every wrapped entry point.  Kernel
# functions are wrapped only on their defining module: operator modules
# ship closures that reference them to the Python workers, and those
# must keep pickling the original function by reference.
LAYER_TARGETS = [
    ("sources", "ssb_sgis_spark.sources.pages", "pages_df"),
    ("sources", "ssb_sgis_spark.sources.municipalities", "muni_df"),
    ("sources", "ssb_sgis_spark.sources.points", "points_df"),
    ("sources", "ssb_sgis_spark.sources.sites", "site_bounds_cols"),
    ("cells", "ssb_sgis_spark.cells", "covers_for_polygons"),
    ("cells", "ssb_sgis_spark.cells", "cell_of_xy_col"),
    ("kernels", "ssb_sgis_spark.kernels.wkb", "decode"),
    ("operators", "ssb_sgis_spark.operators.sjoin", "points_in_polygons_join"),
    ("operators", "ssb_sgis_spark.operators.knn", "get_k_nearest_neighbors"),
    ("operators", "ssb_sgis_spark.operators.dissolve", "buffdissexp_by_cluster"),
    ("operators", "ssb_sgis_spark.operators.dissolve", "dissexp"),
    ("operators", "ssb_sgis_spark.operators.clusters", "get_polygon_clusters"),
    ("operators", "ssb_sgis_spark.operators.clusters", "connected_components"),
    ("operators", "ssb_sgis_spark.operators.overlay", "clean_overlay"),
    ("operators", "ssb_sgis_spark.operators.overlay", "candidate_pairs"),
]
KERNEL_MODULE = "ssb_sgis_spark.kernels."
# wrapped calls whose last return value the benchmark reads afterwards
CAPTURED = {"cells.covers_for_polygons", "operators.candidate_pairs"}
# Spark's job times have millisecond resolution; a job may lie this far
# outside the span it hangs under and is still clamped into it
TOLERANCE_S = 1e-3
# how long a harvest waits for the listener bus to drain
DRAIN_TIMEOUT_MS = 30_000


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()

    def op(self, name: str, spark):
        return contextlib.nullcontext()


class Tracer:
    """Spans kept in memory, one root span per operation.  ``lake`` is
    the directory whose parquet scans count as lake scan time."""

    def __init__(self, lake: str):
        self.lake = lake
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.op_records: list[dict] = []
        self.captured: dict[str, object] = {}
        self._op_seq = 0

    # ---------------------------------------------------------------- spans
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str, spark):
        """Root span of one operation; its Spark jobs run in their own
        job group and are read back when it ends."""
        self._op_seq += 1
        group = f"spatialbench-op-{self._op_seq}"
        sc = spark.sparkContext
        _drain(sc)  # executions of earlier operations are all recorded
        sql_store = spark._jsparkSession.sharedState().statusStore()
        since = _last_execution_id(sql_store)
        sc.setJobGroup(group, name)
        first = len(self.spans)
        try:
            with self.span("op:" + name, op=name) as root:
                yield root
        finally:
            sc.setJobGroup("spatialbench-harness", "harness")
            rec = harvest_op(spark, group, since, self, first)
            self.op_records.append(rec)
        if rec["unfinished_jobs"]:
            raise RuntimeError(f"{name}: {rec['unfinished_jobs']} job(s) still running "
                               "after the operation returned")

    # ------------------------------------------------------------- patching
    def install(self):
        """Wrap every LAYER_TARGETS entry point and the TiledRun steps."""
        for layer, modname, attr in LAYER_TARGETS:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, f"{layer}.{attr}")
            if modname.startswith(KERNEL_MODULE):
                homes = [mod]
            else:
                homes = [
                    m for name, m in list(sys.modules.items())
                    if m is not None
                    and name.startswith("ssb_sgis_spark")
                    and getattr(m, attr, None) is orig
                ]
            for m in homes:
                self._patched.append((m, attr, orig))
                setattr(m, attr, wrapped)
        from ssb_sgis_spark.plans.manifest import TiledRun

        def batches(orig):
            @functools.wraps(orig)
            def run(run_self, *a, **k):
                with self.span("plans.tiled.batches"):
                    items = list(orig(run_self, *a, **k))
                yield from items

            return run

        for owner, attr, make in (
            (TiledRun, "batches", batches),
            (TiledRun._Recorder, "write", lambda o: self._wrap(o, "plans.tiled.write")),
            (TiledRun._Recorder, "__exit__", lambda o: self._wrap(o, "plans.tiled.commit")),
        ):
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, make(orig))

        import pyspark

        orig_bc = pyspark.SparkContext.broadcast
        tracer = self

        @functools.wraps(orig_bc)
        def broadcast(sc_self, value):
            import os

            with tracer.span("spark.broadcast") as rec:
                bc = orig_bc(sc_self, value)
            path = getattr(bc, "_path", None)
            rec["bytes"] = os.path.getsize(path) if path and os.path.exists(path) else 0
            return bc

        self._patched.append((pyspark.SparkContext, "broadcast", orig_bc))
        pyspark.SparkContext.broadcast = broadcast

    def uninstall(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _wrap(self, orig, name: str):
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **k):
            with tracer.span(name):
                out = orig(*a, **k)
            if name in CAPTURED:
                tracer.captured[name] = out
            return out

        return wrapped

    def take(self, name: str):
        return self.captured.pop(name, None)

    def write(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: v for k, v in s.items() if _jsonable(v)}) + "\n")


def _jsonable(v) -> bool:
    return v is None or isinstance(v, (str, int, float, bool))


# --------------------------------------------------------- Spark harvest
def _drain(sc) -> None:
    """Wait until the listener bus has delivered every posted event, so
    the status stores hold every job, stage and execution posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)


def _last_execution_id(sql_store) -> int:
    n = sql_store.executionsCount()
    return sql_store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Total of a formatted SQL metric: '1.5 s', '12.3 MiB', '200,000'
    or 'total (min, med, max ...)\\n3.8 s (...)'.  Sizes in bytes,
    times in seconds."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


# plan-node name prefix -> {metric name: result key}
_SQL_METRICS = {
    "Scan parquet": {"scan time": "lake_scan_s"},
    "BroadcastExchange": {"data size": "broadcast_bytes", "time to build": "broadcast_build_s"},
    "MapInPandas": None,
    "FlatMapGroupsInPandas": None,
    "ArrowEvalPython": None,
    "BatchEvalPython": None,
    "MapInArrow": None,
}
_PYTHON_METRICS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
    "time to run Python workers": "python_run_s",
}


def _sql_metrics(spark, since: int, lake: str) -> dict:
    """SQL plan metrics of the executions after ``since``.  Only parquet
    scans of the ``lake`` directory count as lake scan time, not the
    read-backs of a TiledRun's output or manifest."""
    store = spark._jsparkSession.sharedState().statusStore()
    lake_location = f"[file:{lake}]"
    out: dict[str, float] = {}
    for eid in range(since + 1, _last_execution_id(store) + 1):
        if not store.execution(eid).isDefined():
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            name = node.name()
            prefix = next((p for p in _SQL_METRICS if name.startswith(p)), None)
            if prefix is None:
                continue
            if prefix == "Scan parquet" and lake_location not in node.desc():
                continue
            wanted = _SQL_METRICS[prefix] or _PYTHON_METRICS
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = wanted.get(m.name())
                if key is None:
                    continue
                got = values.get(m.accumulatorId())
                if got.isDefined():
                    out[key] = out.get(key, 0.0) + parse_metric(got.get())
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _stage_numbers(store, stage_id: int, quantiles) -> dict | None:
    from py4j.protocol import Py4JJavaError

    try:
        st = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None
    if st.numTasks() == 0 or str(st.status().toString()) == "SKIPPED":
        return None
    skew = None
    if st.numCompleteTasks() >= 2:
        try:
            summ = store.taskSummary(stage_id, st.attemptId(), quantiles)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                skew = mx / med if med > 0 else None
        except Py4JJavaError:
            skew = None
    return {
        "tasks": st.numTasks(),
        "failed_tasks": st.numFailedTasks(),
        "executor_run_s": st.executorRunTime() / 1000.0,
        "executor_cpu_s": st.executorCpuTime() / 1e9,
        "shuffle_write_bytes": st.shuffleWriteBytes(),
        "shuffle_read_bytes": st.shuffleReadBytes(),
        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        "skew": skew,
    }


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def harvest_op(spark, group: str, since: int, tracer: Tracer, first_span: int) -> dict:
    """Jobs, stages and SQL metrics of one operation.  Each job becomes a
    span under the innermost span open at its submission.  A job end that
    lies within TOLERANCE_S outside that span is clamped into it; one
    further out is kept as it is and counts as an overflow.  A job with no
    completion time is counted in ``unfinished_jobs``."""
    sc = spark.sparkContext
    _drain(sc)
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    op_spans = tracer.spans[first_span:]
    root = op_spans[0]
    rec = {"op": root["op"], "wall_s": root["end"] - root["start"], "jobs": 0,
           "tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
           "task_skew": None, "unfinished_jobs": 0}
    job_intervals = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if start is None or end is None:
            rec["unfinished_jobs"] += 1
            continue
        parent = max(
            (s for s in op_spans if s["start"] - TOLERANCE_S <= start <= s["end"] + TOLERANCE_S
             and not s["name"].startswith("spark.job")),
            key=lambda s: s["start"],
            default=root,
        )
        s0 = _clamp(start, parent)
        s1 = max(_clamp(end, parent), s0)
        tracer.spans.append({"id": len(tracer.spans), "parent": parent["id"],
                             "name": "spark.job", "start": s0, "end": s1, "job_id": jid})
        job_intervals.append((s0, s1))
        rec["jobs"] += 1
        sids = jd.stageIds()
        for i in range(sids.size()):
            st = _stage_numbers(store, sids.apply(i), quantiles)
            if st is None:
                continue
            for key in ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
                        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
                rec[key] += st[key]
            if st["skew"] is not None:
                rec["task_skew"] = max(rec["task_skew"] or 0.0, st["skew"])
    rec["jobs_s"] = _union_length(job_intervals)
    rec["between_jobs_s"] = max(rec["wall_s"] - rec["jobs_s"], 0.0)
    rec.update(_sql_metrics(spark, since, tracer.lake))
    for s in op_spans:
        if s["name"] == "spark.broadcast":
            rec["broadcast_bytes"] = rec.get("broadcast_bytes", 0.0) + s["bytes"]
            rec["broadcast_build_s"] = rec.get("broadcast_build_s", 0.0) + s["end"] - s["start"]
    return rec


def _clamp(t: float, span: dict) -> float:
    """``t`` moved into ``span`` if it lies within TOLERANCE_S of it."""
    if span["start"] - TOLERANCE_S <= t < span["start"]:
        return span["start"]
    if span["end"] < t <= span["end"] + TOLERANCE_S:
        return span["end"]
    return t


# ------------------------------------------------------------ self times
def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: a span's duration minus the part of it that
    its children cover.  The layer is the first dotted component of the
    span name; op roots count as 'harness'."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        layer = "harness" if s["name"].startswith("op:") else s["name"].split(".")[0]
        own = (s["end"] - s["start"]) - _union_length(children.get(s["id"], []))
        out[layer] = out.get(layer, 0.0) + max(own, 0.0)
    return out


def overflowing_children(spans: list[dict]) -> int:
    """Spans that start before or end after their parent."""
    by_id = {s["id"]: s for s in spans}
    bad = 0
    for s in spans:
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if p is not None and (s["start"] < p["start"] or s["end"] > p["end"]):
            bad += 1
    return bad
