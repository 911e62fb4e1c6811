"""Benchmark command.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed under ``.perfbench/`` in the checkout, starts a fixed
``local[N]`` session, runs set-up and untimed warm iterations, measures
closed-loop iterations for ``--seconds`` (always whole iterations, at
least one), checks every result against its oracle, and prints a report
followed by one JSON line: end-to-end metrics with ``--trace 0``,
per-layer metrics (from job groups, the status tracker and the event
log) with ``--trace 1``. A traced run then repeats the measurement in an
untraced session for the event log's cost. Exits non-zero when a result
is wrong or the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".perfbench"
DRIVER_MEMORY = "3g"

# Gated metrics: steady on a host whose CPU steal moves wall times by up
# to 2x between runs. The wall-clock metrics are printed in the report.
# ``setup_s`` is the process-tree CPU seconds of set-up (session start,
# catalog load, ``prepare`` hooks); its wall-clock parts are per-layer.
END_TO_END = ("setup_s", "cpu_s_per_op", "jobs_per_op", "jvm_live_mib")
REPORT = ("setup_s", "makespan_s", "latency_p50_s", "latency_p90_s", "qps", "error_rate",
          "cpu_s_per_op", "jobs_per_op", "jvm_live_mib", "space_amp")
UNITS = {"setup_s": "s", "makespan_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
         "qps": "1/s", "jvm_live_mib": "MiB", "error_rate": "ratio", "space_amp": "ratio",
         "cpu_s_per_op": "s", "jobs_per_op": "count"}


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile, reported only when at least ten samples
    lie beyond it (so p90 needs 100 samples, p50 needs 20)."""
    n = len(values)
    if n == 0 or n * (1 - q) < 10 - 1e-9:
        return None
    s = sorted(values)
    k = max(0, min(n - 1, int(round(q * n + 0.5)) - 1))
    return s[k]


def per_layer_names() -> list[str]:
    from layers import MODULES, SPARK_KEYS
    from workloads import PREPARED

    names = []
    for m in MODULES:
        names += [f"{m}.{k}" for k in ("plan_s", "exec_s", "jobs", "stages", "tasks")]
    names += [f"{m}.prepare_s" for m in PREPARED]
    names += [f"spark.{k}" for k in SPARK_KEYS]
    names += [f"sources.connectors.{k}" for k in
              ("bytes_written", "files_written", "partitions_rewritten", "compact_files_after")]
    names += ["python.worker_cpu_s", "streaming.incremental.rows_per_changed_row",
              "storage.cached_mib", "session.start_s", "catalog.warm_s", "trace.overhead_frac"]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith("_mib"):
        return "MiB"
    if name.endswith(("_frac", "rows_per_changed_row")):
        return "ratio"
    return "count"


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat", encoding="utf-8") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def load_marker() -> dict:
    sys.path.insert(0, str(ROOT))
    try:
        import bench

        return bench.load_marker()
    except Exception as exc:  # noqa: BLE001 — a marker, not a result
        return {"error": f"{type(exc).__name__}: {exc}"}


def stop_session(spark) -> None:
    """Drop the engine's session-scoped caches, stop Spark, close the
    gateway JVM and wait for every process it started (JVM, Python
    daemon and workers) to end. A later ``get_spark`` launches a new
    JVM."""
    from pyspark import SparkContext

    import layers
    from project_orbit_spark.session import clear_df_caches

    kids = layers.descendants(os.getpid())
    gw = SparkContext._gateway
    try:
        clear_df_caches()
        spark.stop()
    except Exception:  # noqa: BLE001
        pass
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        if gw is not None:
            gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in kids):
        time.sleep(0.2)
    for p in kids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    if proc is not None:
        try:
            proc.wait(timeout=10)
        except Exception:  # noqa: BLE001
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
        return state != "Z"
    except OSError:
        return False


def jvm_live_mib(spark) -> float:
    """Heap in use after full collections. Python's collector runs first
    so that py4j releases JVM objects held only by dead Python wrappers;
    each round then gives the context cleaner a second to drop the
    blocks of collected plans before the next collection. The lowest
    reading is the settled live set (the third reading was settled in
    every run looked at)."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(readings)


def cached_mib(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def measure(w, seconds: float, traced: bool) -> dict:
    """One session over ``w``'s generated inputs: start it with the
    traced or untraced configuration, set up, run the warm iterations,
    then whole measured iterations for at least ``seconds``. The session
    is left running in ``w.spark``; the caller stops it."""
    import layers
    from layers import WARM, Recorder
    from project_orbit_spark.session import get_spark

    os.environ["SPARK_CONF_DIR"] = str(BENCH / "conf" / ("traced" if traced else "untraced"))
    pid = os.getpid()
    cpu0 = layers.tree_cpu_s(pid)
    t0 = time.perf_counter()
    w.spark = get_spark(f"perfbench-{w.name}")
    w.spark.sparkContext.setLogLevel("ERROR")
    w.setup_parts["session.start_s"] = time.perf_counter() - t0
    w.rec = Recorder(w.spark.sparkContext, w.name)
    w.setup()
    setup_cpu_s = layers.tree_cpu_s(pid) - cpu0

    for _ in range(w.warm_iterations):
        w.iteration(WARM)

    jvm_pid = getattr(getattr(type(w.spark.sparkContext)._gateway, "proc", None), "pid", 0)
    py_cpu0 = layers.python_worker_cpu_s(jvm_pid) if jvm_pid else 0.0
    cpu0 = layers.tree_cpu_s(pid)
    walls = []
    start = time.perf_counter()
    while not walls or time.perf_counter() - start < seconds:
        t = time.perf_counter()
        w.iteration(len(walls))
        walls.append(time.perf_counter() - t)
    cpu_s = layers.tree_cpu_s(pid) - cpu0
    w.after_measure(traced)
    py_cpu = (layers.python_worker_cpu_s(jvm_pid) if jvm_pid else 0.0) - py_cpu0
    return {"setup_cpu_s": setup_cpu_s, "walls": walls, "cpu_s": cpu_s,
            "cpu_s_per_op": cpu_s / max(1, len(w.op_latencies)), "py_cpu_s": py_cpu}


def run(args) -> int:
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    run_dir = STATE / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        (run_dir / sub).mkdir(parents=True)
    cpus = min(cls.cpus, len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=str(run_dir / "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.chdir(run_dir)
    sys.path.insert(0, str(ROOT))
    marker_before, steal0 = load_marker(), cpu_steal()

    import layers
    from layers import TRACED_ONLY, WARM

    w = ref = None
    app_ids = []
    try:
        t_gen = time.perf_counter()
        w = cls(str(run_dir / "data"), args.seed)
        w.generate()
        gen_s = time.perf_counter() - t_gen
        m = measure(w, args.seconds, bool(args.trace))
        spark = w.spark
        app_ids.append(spark.sparkContext.applicationId)
        walls = m["walls"]

        for c in w.rec.calls:
            print(f"# call {c.group} plan {c.plan_s:.3f} exec {c.exec_s:.3f}", file=sys.stderr)
        t_check = time.perf_counter()
        problems = w.check()
        extra = w.extra_metrics()
        check_s = time.perf_counter() - t_check
        live = None if args.trace else jvm_live_mib(spark)  # an end-to-end metric only
        failed = w.failed + len(problems)
        attempted = max(1, w.attempted)
        lat = w.op_latencies
        timed = [c for c in w.rec.measured() if c.it not in (WARM, TRACED_ONLY)]
        jobs = sum(v["jobs"] for v in layers.status_counts(spark.sparkContext, timed).values())
        e2e = {
            "setup_s": m["setup_cpu_s"],
            "cpu_s_per_op": m["cpu_s_per_op"],
            "jobs_per_op": jobs / max(1, len(lat)),
            "jvm_live_mib": live,
        }
        report = dict(e2e, makespan_s=statistics.median(walls),
                      latency_p50_s=statistics.median(lat) if lat else None,
                      latency_p90_s=percentile(lat, 0.9), qps=len(lat) / sum(walls),
                      error_rate=failed / attempted, **extra)
        layer = per_layer(spark, w, len(walls), m["py_cpu_s"]) if args.trace else {}
        t_stop = time.perf_counter()
        stop_session(spark)
        w.spark = None
        stop_s = time.perf_counter() - t_stop

        if args.trace:
            spark_tot = layers.reduce_event_log(str(run_dir / "eventlog"), w.rec.measured())
            layer.update({f"spark.{k}": v / len(walls) for k, v in spark_tot.items()})
            # the event log's cost: the same iterations on the same inputs
            # in an untraced session of this run
            ref = cls(str(run_dir / "reference"), args.seed)
            ref.generate()
            ref_m = measure(ref, args.seconds, False)
            app_ids.append(ref.spark.sparkContext.applicationId)
            ref_problems = [f"untraced reference: {p}" for p in ref.check()]
            stop_session(ref.spark)
            ref.spark = None
            problems += ref_problems
            failed += ref.failed + len(ref_problems)
            attempted += ref.attempted
            layer["trace.overhead_frac"] = m["cpu_s_per_op"] / ref_m["cpu_s_per_op"] - 1
            report["error_rate"] = failed / attempted
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        for x in (w, ref):
            if x is not None and x.spark is not None:
                stop_session(x.spark)
        return 1
    finally:
        for app_id in app_ids:
            shutil.rmtree(os.path.join("/tmp/orbit_spark_roundtrip", app_id), ignore_errors=True)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        for d in (STATE / "runs", STATE):
            try:
                d.rmdir()  # only when no other run is using it
            except OSError:
                pass

    steal1 = cpu_steal()
    d_total = max(1, steal1[1] - steal0[1])
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "driver_memory": DRIVER_MEMORY, "iterations": len(walls),
        "iteration_s": [round(x, 4) for x in walls], "samples": len(lat),
        "cpu_s": round(m["cpu_s"], 3),
        "datagen_s": round(gen_s, 3), "check_s": round(check_s, 3), "stop_s": round(stop_s, 3),
        "setup_wall_s": {k: round(v, 4) for k, v in w.setup_parts.items()},
        "cpu_steal_frac": (steal1[0] - steal0[0]) / d_total,
        "load_before": marker_before, "load_after": load_marker(),
    }
    print("# run " + json.dumps(info))
    for p in problems:
        print(f"# WRONG RESULT {p}")
    for k in REPORT:
        v = report.get(k)
        shown = "n/a" if v is None else f"{v:.6g}"
        if k == "latency_p90_s" and v is None:
            shown = f"n/a ({len(lat)} samples; needs 100)"
        if k == "space_amp" and k not in report:
            shown = "n/a (traced curation_daily runs only)"
        print(f"# {k:<14} {shown:>12} {UNITS[k]}")
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not problems and failed == 0 else 1


def per_layer(spark, w, n: int, py_cpu: float) -> dict:
    """Per-layer metrics available while the session is live, per
    measured iteration (``n`` of them; the calls a traced run makes after
    the measured iterations happen once per run)."""
    import layers

    calls = w.rec.measured()
    out = dict.fromkeys(per_layer_names(), 0.0)
    for c in calls:
        out[f"{c.module}.plan_s"] += c.plan_s / n
        out[f"{c.module}.exec_s"] += c.exec_s / n
    for m, cnt in layers.status_counts(spark.sparkContext, calls).items():
        for k, v in cnt.items():
            out[f"{m}.{k}"] = v / n
    out.update(w.setup_parts)
    if w.io:
        for k in ("bytes_written", "files_written", "partitions_rewritten", "compact_files_after"):
            out[f"sources.connectors.{k}"] = w.io[k]
        out["streaming.incremental.rows_per_changed_row"] = (
            w.io["rows_compared"] / max(1, w.io["rows_changed"]))
    out["python.worker_cpu_s"] = py_cpu / n
    out["storage.cached_mib"] = cached_mib(spark)
    return out


def main(argv=None) -> int:
    sys.path.insert(0, str(BENCH))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    missing = [p for p in ("project_orbit_spark/registry.py", "tools/check.py", "bench.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"engine not found next to the benchmark (missing {missing})", file=sys.stderr)
        return 3
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
