"""Steadiness evidence: run every workload of BENCHMARK.json on seeds 1-10
and summarize the spread of every end-to-end metric.

    python3 perfbench/steadiness.py

For each metric: the ten values, their median and quartiles (Python's
`statistics.quantiles(values, n=4)`), and the quartile distance as a share
of the median, next to the metric's bound from BENCHMARK.json. For each
run: its wall time, the raw (uncorrected) wall time of the median
operation, the median steal share, the operations rerun for steal, the
JVM-plus-workers RSS and the two parts of `peak_mem_gb`. Also records the
host facts. Writes perfbench/steadiness.json.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)
# printed (not gated) figures kept per run: name as run.py prints it
PER_RUN = (
    "wall_pass_s",
    "wall_roster_s",
    "steal_share",
    "steal_discarded",
    "peak_rss_gb",
    "jvm_heap_gb",
    "workers_rss_gb",
)


def host_facts() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "master": "local[4]",
    }


def printed(lines: list[str]) -> dict[str, float]:
    """The `  name value unit` lines run.py prints before the JSON line."""
    out = {}
    for line in lines:
        parts = line.split()
        if len(parts) >= 2 and parts[0] in PER_RUN:
            out[parts[0]] = float(parts[1])
    return out


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"host": host_facts(), "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in (w["name"] for w in bench["workloads"]):
        values: dict[str, list[float]] = {}
        runs = []
        for seed in SEEDS:
            cmd = [*bench["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=subprocess.DEVNULL, text=True, check=True)
            wall = time.perf_counter() - t0
            lines = res.stdout.strip().splitlines()
            last = json.loads(lines[-1])
            runs.append({"seed": seed, "wall_s": wall, "correct": last["correct"],
                         "attempted": last["attempted"], "failed": last["failed"],
                         **printed(lines[:-1])})
            for k, m in last["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(json.dumps(runs[-1]), {k: round(v[-1], 4) for k, v in values.items()},
                  flush=True)
        summary = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            summary[k] = {"median": med, "q1": q1, "q3": q3,
                          "iqr_share": (q3 - q1) / med, "bound": bounds[k], "values": vs}
        walls = [r["wall_s"] for r in runs]
        report["workloads"][w] = {
            "wall_s": {"median": statistics.median(walls), "max": max(walls)},
            "runs": runs,
            "metrics": summary,
        }
        for k, s in summary.items():
            print(f"{w:<14} {k:<12} median {s['median']:.4g}  iqr/median {s['iqr_share']:.3f}"
                  f"  bound {s['bound']}", flush=True)
    with open(os.path.join(HERE, "steadiness.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
