"""Measure the CPU cost of one Python task on the current interpreter and
print it as one JSON line.

    python3 tools/pytask_cost.py

Run from the repository root. On a ``local[nproc]`` session it runs a
noop ``mapInPandas`` stage at 4, 64 and 256 tasks, and the same stage
without Python (``spark.range`` written to the ``noop`` sink). The noop
function imports sparkocr, as every sparkocr UDF does, so the workers run
whatever sparkocr installs in them. A stage's CPU is that of this
process's descendants (the driver JVM and its Python workers), read from
``/proc`` before and after it; the median over REPS runs of each
stage is kept, and a Python task's cost at n tasks is
``(python stage - stage without Python) / n``. ``per_task_cpu_s`` is that
cost at the largest n, where the stage's fixed cost weighs least.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procrss import descendants_cpu_s  # noqa: E402

TASKS = (4, 64, 256)
REPS = 3


def noop(batches):
    import sparkocr  # noqa: F401  (what a sparkocr UDF's unpickling does)

    for b in batches:
        yield b.iloc[:0]


def stage_cpu_s(spark, tasks: int, python: bool) -> float:
    df = spark.range(0, tasks, numPartitions=tasks)
    if python:
        df = df.mapInPandas(noop, "id long")
    before = descendants_cpu_s(os.getpid())
    df.write.format("noop").mode("overwrite").save()
    return descendants_cpu_s(os.getpid()) - before


def main() -> int:
    cores = len(os.sched_getaffinity(0))
    # the Python workers import sparkocr from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import pyspark

    from sparkocr.session import build_session

    spark = build_session(
        "pytask-cost",
        master=f"local[{cores}]",
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # start every worker and compile the JVM's paths before measuring
        for python in (True, False):
            stage_cpu_s(spark, 4 * cores, python)
        stages = {}
        for n in TASKS:
            runs = {True: [], False: []}
            for _ in range(REPS):
                for python in (True, False):
                    runs[python].append(stage_cpu_s(spark, n, python))
            py, bare = statistics.median(runs[True]), statistics.median(runs[False])
            stages[str(n)] = {
                "python_stage_cpu_s": round(py, 3),
                "bare_stage_cpu_s": round(bare, 3),
                "per_task_cpu_s": round((py - bare) / n, 4),
            }
    finally:
        spark.stop()
    print(
        json.dumps(
            {
                "python": sys.version.split()[0],
                "pyspark": pyspark.__version__,
                "cores": cores,
                "reps": REPS,
                "tasks": stages,
                "per_task_cpu_s": stages[str(TASKS[-1])]["per_task_cpu_s"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
