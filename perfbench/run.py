"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The loop is closed: one client submits one
job at a time to a ``local[nproc]`` session. Inputs are generated with
``sparkocr.datagen`` from ``--seed``. ``cpu_s`` is the median
repetition's CPU time: the driver JVM and its Python workers plus this
process's main thread, which runs the jobs' driver-side Python.
``setup_s`` is the median of
SETUPS cold session starts, each launching a new JVM, plus the
workload's warm-up pass on the last (fresh) session; then repetitions,
each reset outside the timed section and checked after it, run until
``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
untraced repetitions, then one traced repetition (spans around each call
into a layer, Spark's stage and job records read from its status store),
one extract pass under the Python UDF profiler, the kernel-only leg and
the scan/write-only leg, and prints the per-layer metrics; the spans and
records go to ``.perfbench/traces/<workload>-seed<n>.json``. Digests of
every checked output go to ``.perfbench/results/``.

The last line of stdout is ``{"correct", "attempted", "failed",
"metrics"}``; everything else goes to stderr. Work files live under
``.perfbench/work`` and are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import sparkocr  # noqa: E402,F401  (a checkout without the program stops here)

from perfbench import arith, metrics, procrss  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from perfbench.sparkstats import MB, StatusStore  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: cold session starts per run; setup_s adds their median to the warm-up
#: pass, which runs once: three cold warm-ups would cost ~35 s a run more
SETUPS = 3
#: a run stops starting repetitions after this many seconds in total,
#: whatever --seconds says, to stay inside the 180 s a run may take
RUN_CAP_S = 150
#: below physical RAM on a 15 GB box; the package preset is sized for 128 GB
DRIVER_MEM = "2g"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def start_session(work: str, warehouse: str, cores: int):
    from sparkocr.session import build_session

    spark = build_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            # the split knobs of sparkocr.session.bench_session; on this
            # input they give one scan split per core (see inputs.py)
            "spark.sql.files.maxPartitionBytes": str(1 << 20),
            "spark.sql.files.openCostInBytes": str(64 << 10),
            "spark.sql.warehouse.dir": warehouse,
            "spark.local.dir": os.path.join(work, "spark-local"),
            # a fixed heap, touched at start: otherwise the heap's resident
            # pages grow with each repetition (2.2, 2.8, 2.9 GB in one
            # run), so the peak RSS read depends on the repetition count.
            # The client compiler only: with the optimising one the CPU
            # time of an extract_full repetition fell from 18.7 to about
            # 10 s over the first eight repetitions (its compiler threads
            # and interpreted code), so a run's median depended on how
            # many repetitions fitted in it; with C1 alone it starts at
            # 11.5-12.6 s and settles at the same level after about three
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARKOCR_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                " -XX:TieredStopAtLevel=1"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until no
    child process of this one is left. The next session launches a new
    JVM: PySpark would otherwise reuse the running one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while procrss._children_map().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def engine_cpu_s() -> float:
    """CPU seconds of the JVM, its Python workers and this thread (the
    RSS sampler's thread is left out)."""
    return procrss.descendants_cpu_s(os.getpid()) + time.thread_time()


def measure(spark, wl, seconds: float, run_start: float, counters: dict, rss) -> list[dict]:
    """Untraced repetitions until ``seconds`` have passed (at least one)."""
    reps: list[dict] = []
    deadline = time.monotonic() + seconds
    first = rep = counters["attempted"]
    while counters["attempted"] == first or (
        time.monotonic() < deadline and time.monotonic() - run_start < RUN_CAP_S
    ):
        wl.reset(spark, rep)
        since = time.time()
        counters["attempted"] += 1
        rss.lap()
        c0 = engine_cpu_s()
        t0 = time.monotonic()
        try:
            result = wl.run(spark, rep)
            wall = time.monotonic() - t0
            cpu = engine_cpu_s() - c0
            peak = rss.lap()
            ok, record = wl.check(rep, result)
            check_s = time.monotonic() - t0 - wall
        except Exception:
            log(traceback.format_exc())
            counters["failed"] += 1
            rep += 1
            continue
        if not ok:
            counters["failed"] += 1
        reps.append(
            {
                "rep": rep, "wall_s": wall, "cpu_s": cpu, "ok": ok,
                "bytes": wl.output_bytes(since), "rss": peak, **record,
            }
        )
        log(f"rep {rep}: {wall:.3f} s wall, {cpu:.2f} s CPU, ok={ok} (check {check_s:.1f} s)")
        rep += 1
    return reps


def traced_rep(spark, wl, counters: dict, trace_path: str, untraced_wall: float) -> dict:
    """One traced repetition and the per-layer metrics. The repetition
    counts as failed if its check fails, if a layer metric cannot be
    computed, or if one is missing that the workload does not name in
    NOT_APPLICABLE (those read 0)."""
    tracer = Tracer()
    store = StatusStore(spark)
    rep = counters["attempted"]
    tracer.trace_id = f"{wl.name}-seed{wl.seed}-rep{rep}"
    wl.reset(spark, rep)
    counters["attempted"] += 1
    with tracer.span(wl.name, rep=rep) as root:
        result = wl.run(spark, rep, tracer)
    ok, record = wl.check(rep, result)
    stages, jobs = store.stages(), store.jobs()
    try:
        m = wl.layers(spark, tracer, root, result, stages, jobs, store)
    except Exception:
        log(traceback.format_exc())
        ok, m = False, {}

    rstages = arith.within(stages, root["start"], root["end"])
    m["driver.spark_jobs"] = len(arith.within(jobs, root["start"], root["end"]))
    m["driver.stages"] = len(rstages)
    m["driver.idle_s"] = (root["end"] - root["start"]) - arith.union_length(
        arith.clip([(s["submit"], s["complete"]) for s in rstages], root["start"], root["end"])
    )

    # Python time inside the extract UDF, from Spark's own UDF profiler
    # (cProfile in the workers, so it reads above the unprofiled time)
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        with tracer.span("profile.extract_udf"):
            wl.profile_pass(spark).write.format("noop").mode("overwrite").save()
        profiles = spark.profile.profiler_collector._perf_profile_results
        if profiles:
            m["extract.python_udf_s"] = sum(st.total_tt for st in profiles.values())
        spark.profile.clear()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")

    legs = ("kernel.batch_cpu_s", "arrow.to_pandas_s", "arrow.from_pandas_s", "extract.scan_write_s")
    if "extract.executor_run_s" in m and all(k in m for k in legs):
        m["extract.remainder_s"] = m["extract.executor_run_s"] - sum(m[k] for k in legs)
    wall = root["end"] - root["start"]
    m["trace.untraced_wall_s"] = untraced_wall
    m["trace.overhead_s"] = wall - wl.traced_extra_s(result) - untraced_wall

    missing = [k for k in metrics.PER_LAYER_NAMES if k not in m and wl.applies(k)]
    if missing:
        log(f"per-layer metrics not computed: {', '.join(missing)}")
        ok = False
    if not ok:
        counters["failed"] += 1
    selfs = arith.self_times(tracer.spans)
    owned = arith.attribute_stages(tracer.spans, stages)
    tracer.write(
        trace_path,
        {
            "self_s": {str(k): v for k, v in selfs.items()},
            "stage_span": {st["stage_id"]: sid for sid, sts in owned.items() for st in sts},
            "stages": stages,
            "jobs": jobs,
            "layers": m,
            "not_applicable": [k for k in metrics.PER_LAYER_NAMES if not wl.applies(k)],
            "check": {"ok": ok, **record},
        },
    )
    log(f"traced rep: {wall:.3f} s (untraced median {untraced_wall:.3f} s) ok={ok}; spans → {trace_path}")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=metrics.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    run_start = time.monotonic()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("work/tmp", "work/spark-local", "traces", "results"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the session launches (spark-submit's launcher too) unpacks
    # native libraries into java.io.tmpdir and, unless told not to, writes
    # /tmp/hsperfdata_<user>: both would leave the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    # with glibc's default of up to 8 malloc arenas per core, the JVM's
    # native allocations (compressors, Arrow buffers) left peak RSS
    # swinging between 3.1 and 5.3 GB from one repetition to the next
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    os.environ.setdefault("SPARKOCR_DRIVER_MEM", DRIVER_MEM)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the Python workers import sparkocr from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cores = len(os.sched_getaffinity(0))

    wl = WORKLOADS[args.workload](os.path.join(work, "wl"), args.seed)
    t0 = time.monotonic()
    wl.generate()
    log(f"{wl.name} seed={args.seed}: {wl.turns_covered()} turns generated in {time.monotonic() - t0:.1f} s")

    spark = None
    setups = []
    counters = {"attempted": 0, "failed": 0}
    try:
        # every session start is cold: it launches a new JVM
        for i in range(SETUPS):
            if spark is not None:
                stop_engine(spark)
                spark = None
            t0 = time.monotonic()
            spark = start_session(work, wl.p("warehouse"), cores)
            setups.append(time.monotonic() - t0)
            log(f"session start {i}: {setups[-1]:.3f} s")
        t0 = time.monotonic()
        wl.warm(spark)
        warm_s = time.monotonic() - t0
        log(f"warm-up pass: {warm_s:.3f} s")
        t0 = time.monotonic()
        wl.prepare(spark)
        log(f"prepare: {time.monotonic() - t0:.1f} s")

        rss = procrss.PeakRss().start()
        try:
            reps = measure(spark, wl, args.seconds, run_start, counters, rss)
        finally:
            rss.stop()
        good = [r for r in reps if r["ok"]] or reps
        if not good:
            raise RuntimeError("no repetition completed")
        wall, n = arith.median_n([r["wall_s"] for r in good])
        cpu = arith.median_n([r["cpu_s"] for r in good])[0]
        log(f"median over {n} repetitions: {wall:.3f} s wall, {cpu:.2f} s CPU")

        if args.trace:
            trace_path = os.path.join(base, "traces", f"{wl.name}-seed{args.seed}.json")
            layers = traced_rep(spark, wl, counters, trace_path, wall)
            # absent: a layer the workload does not run, or one that could
            # not be computed, which traced_rep has counted as failed
            out = {k: (layers.get(k, 0.0), unit) for k, unit, _, _ in metrics.PER_LAYER}
        else:
            setup_s = arith.median_n(setups)[0] + warm_s
            out = {
                "cpu_s": (cpu, "s"),
                "turns_per_cpu_s": (wl.turns_covered() / cpu, "1/s"),
                "setup_s": (setup_s, "s"),
                "output_mb": (arith.median_n([r["bytes"] for r in good])[0] / MB, "MB"),
                # the median repetition's peak: the JVM's native buffers
                # are freed when the collector runs, so one repetition's
                # peak can read a few GB above the next one's
                "peak_rss_mb": (arith.median_n([r["rss"] for r in good])[0] / MB, "MB"),
            }
        with open(os.path.join(base, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump({"session_starts_s": setups, "warm_s": warm_s, "reps": reps, "counters": counters}, f, indent=1)
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    log(f"run total: {time.monotonic() - run_start:.1f} s")
    print(
        json.dumps(
            {
                "correct": counters["failed"] == 0,
                "attempted": counters["attempted"],
                "failed": counters["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
