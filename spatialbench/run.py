"""Closed-loop benchmark of the ssb_sgis_spark spatial engine.

    python3 spatialbench/run.py --workload pip_lake --seed 1 --seconds 10 --trace 0

One client thread issues the workload's operations back to back (the
next one only after the previous one returned) against a local[2] Spark
session.  Inputs are generated from ``--seed`` and materialized as a
parquet lake during set-up, so the timed window measures operators, not
source derivation.  Every operation's result is checked against an
independent DuckDB/numpy oracle.  The window is a whole number of cycles
of the workload's operations, ``round(seconds / cycle_s)`` with the
workload's nominal cycle time, so it lasts about ``--seconds`` and every
run samples the same mix of operations.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs half
the cycles without tracing (the layer wrappers removed) and the other
half traced, and prints the per-layer metrics plus the tracing
overhead; its spans go to ``.spatialbench/traces/``.  ``--smoke``
shrinks the inputs to sf0.001 and runs one operation of each kind.

The last line of stdout is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
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
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark task slots.  The operations are dominated by per-job driver work,
# so two slots run them about as fast as four, and on a 4-vCPU host the
# two spare vCPUs keep the JIT, GC, Python workers and the driver's own
# threads from stalling a task: operation latencies spread about half as
# much as with local[4].
CORES = 2
# set-up runs SETUP_REPS times and setup_s is the median; the first also
# starts the session (JVM, SparkContext), later ones redo everything else
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "input_rows_per_s": "rows/s",
    "op_latency_p50_s": "s",
    "op_latency_tail_s": "s",
    "ok_frac": "frac",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.pages_derive_s": "s",
    "sources.lake_scan_s": "s",
    "cells.cover_build_s": "s",
    "cells.cover_rows": "count",
    "cells.partial_frac": "frac",
    "kernels.buffer_s": "s",
    "kernels.union_s": "s",
    "kernels.wkb_decode_s": "s",
    "operators.sjoin.plan_s": "s",
    "operators.sjoin.exec_s": "s",
    "operators.sjoin.match_ratio": "frac",
    "operators.knn.plan_s": "s",
    "operators.knn.exec_s": "s",
    "operators.dissolve.plan_s": "s",
    "operators.dissolve.exec_s": "s",
    "operators.overlay.plan_s": "s",
    "operators.overlay.exec_s": "s",
    "operators.overlay.candidate_ratio": "frac",
    "plans.tiled.batches_s": "s",
    "plans.tiled.write_s": "s",
    "plans.tiled.commit_s": "s",
    "plans.tiled.resume_s": "s",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "spark.between_jobs_s": "s",
    "spark.task_skew": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.broadcast_bytes": "B",
    "spark.broadcast_build_s": "s",
    "spark.python_run_s": "s",
    "spark.python_sent_bytes": "B",
    "spark.python_returned_bytes": "B",
    "harness.self_s": "s",
    "sources.self_s": "s",
    "cells.self_s": "s",
    "kernels.self_s": "s",
    "operators.self_s": "s",
    "plans.self_s": "s",
    "spark.self_s": "s",
    "trace.overhead_s": "s",
    "trace.child_overflows": "count",
}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[spatialbench {time.perf_counter() - T_START:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def tail_latency(samples: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it.  Below
    21 samples no percentile at or above the median has ten beyond it, and
    the tail is the 90th percentile, linearly interpolated: in a window of
    two cycles it lies between the two slowest operations, so it is not
    one sample."""
    xs = sorted(samples)
    if len(xs) >= 21:
        return xs[-11]
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


# ------------------------------------------------------------ memory
def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(parents.get(p, []))
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python descendants (the
    daemon and workers), sampled every 100 ms.  Other descendants are
    short-lived helpers the JVM forks; counting one caught mid-fork would
    count the JVM's memory twice."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            procs = [p for p in _descendants(self.jvm_pid)
                     if p == self.jvm_pid or _is_python(p)]
            total = sum(_rss_kb(p) for p in procs)
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# ------------------------------------------------------------ the loop
class Loop:
    """Results of one closed-loop window."""

    def __init__(self):
        self.latencies: list[float] = []
        self.rows = 0
        self.attempted = 0
        self.failed = 0
        self.by_op: dict[str, list[float]] = {}


def run_op(op, tracer, spark, loop: Loop) -> None:
    """Run one operation, check it against its oracle, record it."""
    t0 = time.perf_counter()
    try:
        with tracer.op(op.name, spark):
            got = op.run(tracer)
        dt = time.perf_counter() - t0
        ok = op.verify(got) if op.verify else got == op.expect()
        if not ok:
            log(f"{op.name}: result {got} failed its oracle check"
                + ("" if op.verify else f", expected {op.expect()}"))
    except Exception:
        log(f"{op.name} raised:\n{traceback.format_exc()}")
        ok, dt = False, time.perf_counter() - t0
    loop.attempted += 1
    if ok:
        loop.latencies.append(dt)
        loop.rows += op.input_rows
        loop.by_op.setdefault(op.name, []).append(dt)
    else:
        loop.failed += 1


def closed_loop(ops, tracer, spark, cycles: int) -> Loop:
    """Issue ``cycles`` whole cycles of ``ops``."""
    loop = Loop()
    for _ in range(cycles):
        for op in ops:
            run_op(op, tracer, spark, loop)
    return loop


# ------------------------------------------------------------ metrics
def end_to_end(setup_times, loop: Loop, peak_kb: int) -> dict:
    busy = sum(loop.latencies)
    return {
        "setup_s": statistics.median(setup_times),
        "input_rows_per_s": loop.rows / busy if busy else 0.0,
        "op_latency_p50_s": statistics.median(loop.latencies or [0.0]),
        "op_latency_tail_s": tail_latency(loop.latencies or [0.0]),
        "ok_frac": (loop.attempted - loop.failed) / max(loop.attempted, 1),
        "peak_rss_mb": peak_kb / 1024.0,
    }


def _mean(records, key) -> float:
    vals = [r.get(key) or 0.0 for r in records]
    return sum(vals) / len(vals) if vals else 0.0


def per_layer(tracer, setup_parts, untraced: Loop, traced: Loop, kernels: dict,
              cover_stats: tuple, extra: dict) -> dict:
    from spatialbench import tracing

    recs = tracer.op_records
    n_ops = max(len(recs), 1)
    by_id = {s["id"]: s for s in tracer.spans}

    def root_of(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    in_ops = [s for s in tracer.spans if root_of(s).get("op")]

    def per_op(name):
        """Mean over the ops that called ``name`` of its total time per op."""
        spans = [s for s in in_ops if s["name"] == name]
        roots = {root_of(s)["id"] for s in spans}
        return sum(s["end"] - s["start"] for s in spans) / len(roots) if roots else 0.0

    out = {
        "sources.pages_derive_s": statistics.median(p["pages_derive_s"] for p in setup_parts),
        "sources.lake_scan_s": _mean(recs, "lake_scan_s"),
        "cells.cover_build_s": statistics.median(p.get("cover_build_s", 0.0) for p in setup_parts),
        "cells.cover_rows": cover_stats[0],
        "cells.partial_frac": cover_stats[1],
        **kernels,
        "spark.jobs_per_op": _mean(recs, "jobs"),
        "spark.tasks_per_op": _mean(recs, "tasks"),
        "spark.failed_tasks": sum(r["failed_tasks"] for r in recs),
        "spark.between_jobs_s": _mean(recs, "between_jobs_s"),
        "spark.task_skew": max((r["task_skew"] or 0.0 for r in recs), default=0.0),
        "spark.executor_run_s": _mean(recs, "executor_run_s"),
        "spark.executor_cpu_s": _mean(recs, "executor_cpu_s"),
        "spark.shuffle_write_bytes": _mean(recs, "shuffle_write_bytes"),
        "spark.shuffle_read_bytes": _mean(recs, "shuffle_read_bytes"),
        "spark.spill_bytes": _mean(recs, "spill_bytes"),
        "spark.broadcast_bytes": _mean(recs, "broadcast_bytes"),
        "spark.broadcast_build_s": _mean(recs, "broadcast_build_s"),
        "spark.python_run_s": _mean(recs, "python_run_s"),
        "spark.python_sent_bytes": _mean(recs, "python_sent_bytes"),
        "spark.python_returned_bytes": _mean(recs, "python_returned_bytes"),
        "trace.overhead_s": tracing_overhead(untraced, traced),
        "trace.child_overflows": tracing.overflowing_children(tracer.spans),
    }
    for layer in ("sjoin", "knn", "dissolve", "overlay"):
        for part in ("plan", "exec"):
            out[f"operators.{layer}.{part}_s"] = per_op(f"operators.{layer}.{part}")
    for part in ("batches", "write", "commit", "resume"):
        out[f"plans.tiled.{part}_s"] = per_op(f"plans.tiled.{part}")
    selfs = tracing.self_times(in_ops)
    for layer in ("harness", "sources", "cells", "kernels", "operators", "plans", "spark"):
        out[f"{layer}.self_s"] = selfs.get(layer, 0.0) / n_ops
    out.update(extra)
    return out


def tracing_overhead(untraced: Loop, traced: Loop) -> float:
    """Traced minus untraced median latency of each operation, averaged
    over the operations both halves completed."""
    names = [n for n in untraced.by_op if n in traced.by_op]
    diffs = [statistics.median(traced.by_op[n]) - statistics.median(untraced.by_op[n])
             for n in names]
    return sum(diffs) / len(diffs) if diffs else 0.0


def kernel_probe(workload, con) -> dict:
    """Time the public geometry kernels directly on the workload's seeded
    inputs: decode WKB points and site boxes, buffer every point, union
    every overlap cluster."""
    import numpy as np

    from spatialbench import oracle, workloads
    from ssb_sgis_spark.kernels import boolean, buffer, wkb

    _, uids, x, y = workload.blob_points(con)
    sr = workloads.residue(workload.seed, workloads.SITE_MOD, 2)
    boxes = con.execute(oracle.site_bounds_sql(workload.lake, workloads.SITE_MOD, sr)).fetchnumpy()
    bufs = [wkb.encode_point(float(a), float(b)) for a, b in zip(x, y)]
    bufs += wkb.encode_boxes(boxes["minx"], boxes["miny"], boxes["maxx"], boxes["maxy"])
    t = time.perf_counter()
    ga = wkb.decode(bufs)
    decode_s = time.perf_counter() - t
    t = time.perf_counter()
    discs = [
        buffer.buffer_parts(ga.geom_parts(g), wkb.T_POINT, workloads.BLOB_RADIUS,
                            workloads.BLOB_QUAD_SEGS)
        for g in range(len(uids))
    ]
    buffer_s = time.perf_counter() - t
    _, labels = oracle.components(x, y, 2.0 * workloads.BLOB_RADIUS)
    t = time.perf_counter()
    for lbl in np.unique(labels):
        boolean.union_all([discs[i] for i in np.flatnonzero(labels == lbl)])
    union_s = time.perf_counter() - t
    return {"kernels.buffer_s": buffer_s, "kernels.union_s": union_s,
            "kernels.wkb_decode_s": decode_s}


# ------------------------------------------------------------ main
def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001 inputs, one set-up, each operation once")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import ssb_sgis_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the engine from {ROOT}: {exc}")
        return 2
    from spatialbench import data, oracle, tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    base = os.path.join(ROOT, ".spatialbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    kind = workloads.WORKLOADS[args.workload]
    scale = data.SMOKE if args.smoke else kind.full_scale
    workload = kind(args.seed, scale, work, CORES)
    tracer = tracing.Tracer(workload.lake) if args.trace else tracing.NullTracer()
    spark = oracle_pool = con = None
    try:
        data.write_sources(workload.src, args.seed, scale)
        pkg = data.zip_package(work)
        if args.trace:
            tracer.install()
        setup_times, setup_parts = [], []
        for rep in range(1 if args.smoke else SETUP_REPS):
            t0 = time.perf_counter()
            if spark is None:
                spark = data.start_session(work, CORES, pkg)
            ctx = workload.setup(spark, rep)
            setup_times.append(time.perf_counter() - t0)
            setup_parts.append(ctx.setup_parts)
            log(f"setup {rep}: {setup_times[-1]:.2f}s {ctx.setup_parts}")
        cover_stats = (0, 0.0)
        if args.trace:
            covers = tracer.take("cells.covers_for_polygons")
            if covers:
                full = sum(c.full_count() for _, c, _ in covers)
                partial = sum(len(c.partial) for _, c, _ in covers)
                cover_stats = (full + partial, partial / max(full + partial, 1))
            # the untraced half of the window runs without the layer wrappers
            tracer.uninstall()
        spark.sparkContext.setJobGroup("spatialbench-harness", "harness")
        # the oracle is untimed: it may use every vCPU
        con = oracle.connect(os.cpu_count() or CORES, os.path.join(work, "duckdb"))
        oracle_pool = ThreadPoolExecutor(1, thread_name_prefix="oracle")
        ops = workload.ops(ctx, con, oracle_pool)
        log(f"ops {[op.name for op in ops]}")
        null = tracing.NullTracer()
        # untimed warm-up (codegen, JIT, caches): one cycle, checked like
        # the rest
        warm = closed_loop(ops, null, spark, 0 if args.smoke else 1)
        oracle_pool.shutdown(wait=True)  # the timed window runs without the oracle
        log("warm-up done")
        cycles = 1 if args.smoke else max(1, round(args.seconds / workload.cycle_s))
        jvm_pid = spark.sparkContext._gateway.proc.pid
        if not args.trace:
            with RssSampler(jvm_pid) as rss:
                loop = closed_loop(ops, null, spark, cycles)
            log("op latencies: " + ", ".join(
                f"{k} {[round(x, 3) for x in v]}" for k, v in loop.by_op.items()))
            metrics = end_to_end(setup_times, loop, rss.peak_kb)
            units = END_TO_END
            attempted, failed = loop.attempted, loop.failed
        else:
            half = max(1, cycles // 2)
            untraced = closed_loop(ops, null, spark, half)
            tracer.install()
            traced = closed_loop(ops, tracer, spark, half)
            tracer.uninstall()
            kernels = kernel_probe(workload, con) if workload.calls_kernels else {
                f"kernels.{k}_s": 0.0 for k in ("buffer", "union", "wkb_decode")}
            metrics = per_layer(tracer, setup_parts, untraced, traced, kernels, cover_stats,
                                match_ratios(ops, tracer, ctx, spark))
            units = PER_LAYER
            attempted = untraced.attempted + traced.attempted
            failed = untraced.failed + traced.failed
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.write(os.path.join(base, "traces", f"{args.workload}-{args.seed}.jsonl"))
            if metrics["trace.child_overflows"]:
                log(f"{metrics['trace.child_overflows']} spans overflow their parent")
                failed += 1
        correct = warm.failed == 0 and failed == 0 and attempted > 0
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        if oracle_pool is not None:
            oracle_pool.shutdown(wait=True, cancel_futures=True)
        if con is not None:
            con.close()  # before its temp directory goes
        if args.trace:
            tracer.uninstall()
        if spark is not None:
            data.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def match_ratios(ops, tracer, ctx, spark) -> dict:
    """Useful-outcome ratios: PIP matches over pages probed, and overlay
    output pairs over candidate pairs (counted after the loop, in a job
    group of their own).  0 where the workload has no such operation."""
    out = {"operators.sjoin.match_ratio": 0.0, "operators.overlay.candidate_ratio": 0.0}
    names = {op.name: op for op in ops}
    if "pip_join" in names:
        out["operators.sjoin.match_ratio"] = names["pip_join"].expect()[0] / ctx.lake_rows
    pairs = tracer.take("operators.candidate_pairs")
    if pairs and "box_overlay" in names:
        spark.sparkContext.setJobGroup("spatialbench-probe", "candidate pairs")
        n_cand = pairs[0].count()
        out["operators.overlay.candidate_ratio"] = names["box_overlay"].expect()[0] / max(n_cand, 1)
    return out


if __name__ == "__main__":
    sys.exit(main())
