"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 42      # all three, one after another

Runs one workload at local[4] from the root of a checkout of this
repository, prints each metric by name and unit, and ends with one JSON
line: `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
the metrics are the end-to-end ones; with `--trace 1` they are the
per-layer ones, and the spans plus event-log counts are written to
`.perfbench_out/trace-<workload>-seed<seed>.json`. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

WORKLOAD_NAMES = ("flagship", "writer_resume", "sql_mix")
E2E_UNITS = {"setup_s": "s", "work_per_s": "1/s", "op_s": "s", "peak_mem_gb": "GB"}


def per_layer_units(roster) -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "sequences.scan_s": "s",
        "sequences.scan_tasks": "count",
        "aggregates.profile_s": "s",
        "aggregates.python_init_s": "task-s",
        "aggregates.python_run_s": "task-s",
        "fused.kernel_s": "s",
        "fused.frames": "count",
        "fused.tasks": "count",
        "fused.task_skew": "ratio",
        "fused.python_init_s": "task-s",
        "fused.python_run_s": "task-s",
        "pipeline.enrich_self_s": "s",
        "asof.self_s": "s",
        "asof.shuffle_bytes": "bytes",
        "asof.spill_bytes": "bytes",
        "sinks.write_self_s": "s",
        "sinks.resume_self_s": "s",
        "sinks.bytes_written": "bytes",
        "sinks.buckets_committed": "count",
        "sinks.buckets_rewritten": "count",
    }
    for q in roster:
        units.update(
            {
                f"q.{q}.s": "s",
                f"q.{q}.shuffle_bytes": "bytes",
                f"q.{q}.task_skew": "ratio",
                f"q.{q}.python_init_s": "task-s",
                f"q.{q}.python_run_s": "task-s",
            }
        )
    units["spark.failed_tasks"] = "count"
    units["trace.overhead_s"] = "s"
    return units


def _prepare_env(work: str) -> None:
    """Before the JVM starts: Python workers import the package from the
    checkout, and every scratch file stays inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp


def run_one(args) -> int:
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _prepare_env(work)
        sys.path[:0] = [ROOT, HERE]
        import workloads

        run = workloads.execute(
            args.workload, args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)  # only when no other run is using it

    correct = not run.problems
    print(f"workload {args.workload}  seed {args.seed}  local[4]  trace {args.trace}")
    for name, (value, unit) in run.named.items():
        print(f"  {name:<24} {value:.6g} {unit}")
    print(f"  {'setup_s':<24} {run.e2e['setup_s']:.6g} s")
    print(f"  {'peak_mem_gb':<24} {run.e2e['peak_mem_gb']:.6g} GB")
    print(
        f"  {'error_rate':<24} {run.failed / run.attempted:.6g} "
        f"({run.failed} failed / {run.attempted} attempted)"
    )
    for p in run.problems:
        print(f"  CHECK FAILED: {p}")

    if args.trace:
        units = per_layer_units(workloads.ROSTER)
        # a layer the workload does not run reports 0
        metrics = {k: {"value": run.layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        for k, m in metrics.items():
            print(f"  {k:<36} {m['value']:.6g} {m['unit']}")
        os.makedirs(OUT_DIR, exist_ok=True)
        out = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(out, "w") as fh:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "spans": run.tracer.spans if run.tracer else [],
                    "layers": run.layers,
                    "events": {
                        str(k): {**v, "stage_run_ms": dict(v["stage_run_ms"])}
                        for k, v in run.events.items()
                    },
                },
                fh,
                indent=1,
            )
        print(f"  trace written to {os.path.relpath(out, ROOT)}")
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

    # failed checks make every operation of the run suspect
    failed = run.attempted if run.problems else run.failed
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Each workload in its own process (its own JVM), one after another."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        lines = res.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        last = json.loads(lines[-1])
        merged["correct"] &= last["correct"]
        merged["attempted"] += last["attempted"]
        merged["failed"] += last["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
