"""Smoke test of the benchmark itself.

    python3 spatialbench/smoke.py

Runs every workload at sf0.001 with one operation of each kind, once
untraced and once traced, and checks that the run exits 0, that every
oracle check passed, that exactly the metrics named in BENCHMARK.json
are printed with their units, that every per-layer metric reads non-zero
on each workload that exercises its layer (NONZERO_ON), and that no
traced span overflows its parent.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PIP, POLY = "pip_lake", "polygon_ops"
# per-layer metric -> workloads on which it must read non-zero (the
# layer-to-workload map of METRICS.md).  Not listed: spark.failed_tasks
# and spark.spill_bytes (0 on a healthy run), kernels.self_s (the kernels
# run inside the Python workers, outside the driver's spans),
# trace.overhead_s (a difference of two noisy medians) and
# trace.child_overflows (must be 0, checked below).
NONZERO_ON = {
    "sources.pages_derive_s": (PIP, POLY),
    "sources.lake_scan_s": (PIP,),
    "cells.cover_build_s": (PIP,),
    "cells.cover_rows": (PIP,),
    "cells.partial_frac": (PIP,),
    "kernels.buffer_s": (POLY,),
    "kernels.union_s": (POLY,),
    "kernels.wkb_decode_s": (POLY,),
    "operators.sjoin.plan_s": (PIP,),
    "operators.sjoin.exec_s": (PIP,),
    "operators.sjoin.match_ratio": (PIP,),
    "operators.knn.plan_s": (POLY,),
    "operators.knn.exec_s": (POLY,),
    "operators.dissolve.plan_s": (POLY,),
    "operators.dissolve.exec_s": (POLY,),
    "operators.overlay.plan_s": (POLY,),
    "operators.overlay.exec_s": (POLY,),
    "operators.overlay.candidate_ratio": (POLY,),
    "plans.tiled.batches_s": (PIP,),
    "plans.tiled.write_s": (PIP,),
    "plans.tiled.commit_s": (PIP,),
    "plans.tiled.resume_s": (PIP,),
    "spark.jobs_per_op": (PIP, POLY),
    "spark.tasks_per_op": (PIP, POLY),
    "spark.between_jobs_s": (PIP, POLY),
    "spark.task_skew": (POLY,),
    "spark.executor_run_s": (PIP, POLY),
    "spark.executor_cpu_s": (PIP, POLY),
    "spark.shuffle_write_bytes": (POLY,),
    "spark.shuffle_read_bytes": (POLY,),
    "spark.broadcast_bytes": (PIP, POLY),
    "spark.broadcast_build_s": (PIP, POLY),
    "spark.python_run_s": (POLY,),
    "spark.python_sent_bytes": (POLY,),
    "spark.python_returned_bytes": (POLY,),
    "harness.self_s": (PIP,),  # polygon_ops' op roots are all plan and exec spans
    "sources.self_s": (POLY,),
    "cells.self_s": (PIP,),
    "operators.self_s": (PIP, POLY),
    "plans.self_s": (PIP,),
    "spark.self_s": (PIP, POLY),
}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                result = None
            problems = []
            if p.returncode != 0:
                problems.append(f"exit code {p.returncode}")
            if not result:
                problems.append("no JSON result line")
            else:
                if set(result) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"result keys {sorted(result)}")
                if not result.get("correct") or result.get("failed"):
                    problems.append("oracle check failed")
                got = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
                if got != expected[trace]:
                    problems.append(
                        f"metrics differ: missing {sorted(set(expected[trace]) - set(got))}, "
                        f"extra {sorted(set(got) - set(expected[trace]))}, units "
                        f"{ {k: (got[k], u) for k, u in expected[trace].items() if k in got and got[k] != u} }"
                    )
                if trace and result["metrics"].get("trace.child_overflows", {}).get("value"):
                    problems.append("traced spans overflow their parents")
                if trace:
                    zero = sorted(k for k, on in NONZERO_ON.items()
                                  if w in on and not result["metrics"].get(k, {}).get("value"))
                    if zero:
                        problems.append(f"layer metrics read 0 on {w}: {zero}")
            status = "OK" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w} trace={trace}: {status}", flush=True)
            if problems:
                print(p.stderr[-4000:], file=sys.stderr)
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
