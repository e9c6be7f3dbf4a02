"""Pin the units of Spark's Python-worker SQL metrics.

    python3 perfbench/pin_python_metrics.py

Runs a no-op `mapInArrow` over 4 single-batch partitions at local[4]
three times: a known sleep in the batch loop (0.5 s, then 1.0 s per
task), and a known sleep while the worker unpickles the function
(0.5 s per task). It prints, per case, the declared metric type and the
summed "time to initialize / run Python workers" updates from the event
log, next to the executor run time. The deltas between cases give the
unit: a 0.5 s sleep on each of 4 tasks must add about 2000 if the unit
is milliseconds summed over tasks.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class SlowUnpickle:
    """Sleeps when the Python worker unpickles it (worker init)."""

    def __init__(self, s: float):
        self.s = s

    def __getstate__(self):
        return {"s": self.s}

    def __setstate__(self, state):
        time.sleep(state["s"])
        self.s = state["s"]


def sleeper(run_s: float, init_s: float):
    obj = SlowUnpickle(init_s)

    def fn(batches):
        for b in batches:
            time.sleep(run_s)
            yield b
        assert obj.s == init_s

    return fn


CASES = (("run_0.5", 0.5, 0.0), ("run_1.0", 1.0, 0.0), ("init_0.5", 0.0, 0.5))


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path[:0] = [ROOT, HERE]
    import harness

    try:
        session = harness.Session(work, event_log=True)
        spark = session.start()
        df = spark.range(0, 4000, numPartitions=4)
        df.mapInArrow(sleeper(0.0, 0.0), df.schema).write.format("noop").mode(
            "overwrite"
        ).save()  # start the workers first
        for name, run_s, init_s in CASES:
            spark.sparkContext.setJobDescription(name)
            df.mapInArrow(sleeper(run_s, init_s), df.schema).write.format("noop").mode(
                "overwrite"
            ).save()
        session.stop()
        ev = harness.parse_event_log(session.event_dir)
        with open(next(iter(os.scandir(session.event_dir))).path) as fh:
            declared = sorted(
                set(re.findall(r'"name":"(time to \w+ Python workers)",'
                               r'"accumulatorId":\d+,"metricType":"(\w+)"', fh.read()))
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = {
        "declared": declared,
        "cases": {
            name: {
                "tasks": ev[name]["tasks"],
                "py_init_sum": ev[name]["py_init_ms"],
                "py_run_sum": ev[name]["py_run_ms"],
                "executor_run_ms_sum": sum(sum(v) for v in ev[name]["stage_run_ms"].values()),
            }
            for name, _, _ in CASES
        },
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
