"""Benchmark harness and the one per-query measurement protocol.

``python bench.py`` runs the headline (bench-tagged) queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Every query timing and job count in the repo goes through ``measure``
(both bench passes, ``tools/ab.py``, ``tools/scale_probe.py`` and the
job ledger in ``tests/test_job_ledger.py``), and every job count
through ``counts``. Each query is fully executed (collected to the
driver), so a timing covers scan → shuffle → aggregate → result, the
path the driver measures; the reported number is the MEDIAN of the
timed runs, so one GC pause or cold compile cannot pass for a plan
regression.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from perfbench.layers import WARM, Recorder, module_of  # noqa: E402


def counts(sc, group: str) -> dict[str, int]:
    """{jobs, stages, tasks} that job group ``group`` ran. The status
    tracker is fed by the listener bus, so it is read once every job of
    the group has finished and the set has stopped growing. A stage
    counts once, and only if it ran tasks: one whose shuffle output was
    reused cost nothing."""
    st = sc.statusTracker()
    prev = None
    deadline = time.time() + 30
    while True:
        ids = sorted(st.getJobIdsForGroup(group))
        jobs = [st.getJobInfo(j) for j in ids]
        if ids == prev and all(j is not None and j.status != "RUNNING" for j in jobs):
            break
        if time.time() > deadline:
            raise RuntimeError(f"jobs of {group} did not settle: {ids}")
        prev = ids
        time.sleep(0.25)
    stages: set[int] = set()
    tasks = 0
    for job in jobs:
        for sid in job.stageIds:
            info = st.getStageInfo(sid)
            if sid in stages or info is None or info.numCompletedTasks == 0:
                continue
            stages.add(sid)
            tasks += info.numCompletedTasks
    return {"jobs": len(ids), "stages": len(stages), "tasks": tasks}


def measure(spark, sf_dir: str, names, reps: int = 3) -> dict[str, dict]:
    """Measure each query in ``names``, in order, and return
    {name: {samples, median, counts, rows}}.

    Per query, each step one ``Recorder`` call in its own job group:
    - ``session.clear_df_caches()``, so no query reads an artifact an
      earlier one built (a memoized frame with the same plan is served
      by the cache manager);
    - the prepare hook, if any (amortized setup such as persisted
      centroids, billed to no timed run);
    - one untimed serve: whole-stage-codegen compile and JIT of the
      query's generated code are a first-execution cost a long-lived
      cluster never re-pays, and its warm artifacts get built;
    - ``reps`` timed build+collect runs; ``counts`` is the maximum
      {jobs, stages, tasks} over them.
    Queries that deliberately time non-amortized work (e.g.
    ``ann_ivf_topk``'s inline centroid derivation) still pay it in
    every timed run. A query that raises stops the measurement.

    The package is imported here, not at module import, so a caller
    that puts another tree first on ``sys.path`` measures that tree."""
    from project_orbit_spark import registry
    from project_orbit_spark.session import clear_df_caches

    sc = spark.sparkContext
    rec = Recorder(sc, f"measure-{uuid.uuid4().hex[:8]}")
    out: dict[str, dict] = {}
    for name in names:
        q = registry.get_query(name)
        module = module_of(q.fn)
        clear_df_caches()
        if q.prepare is not None:
            rec.run(module, name, "prepare", lambda: q.prepare(spark, sf_dir))
        rec.run(module, name, WARM, lambda: q.fn(spark, sf_dir).collect())
        samples, most = [], {"jobs": 0, "stages": 0, "tasks": 0}
        for i in range(reps):
            rows = rec.run(module, name, i, lambda: q.fn(spark, sf_dir), lambda df: len(df.collect()))
            samples.append(rec.calls[-1].wall)
            for k, v in counts(sc, rec.calls[-1].group).items():
                most[k] = max(most[k], v)
        med = sorted(samples)[len(samples) // 2]
        out[name] = {"samples": samples, "median": med, "counts": most, "rows": rows}
        detail = "/".join(f"{s:.2f}" for s in sorted(samples))
        print(
            f"# {name}: median {med:.2f}s of [{detail}] ({rows} rows, {most['jobs']} jobs)",
            file=sys.stderr,
            flush=True,
        )
    return out


def warm_up(spark, sf_dir: str) -> None:
    """Start the Arrow/Python worker pool and touch each fixture table
    once (footers and OS page cache), so the first measured query pays
    for its plan, not for daemon fork+import or first-touch IO."""
    from project_orbit_spark.catalog import load

    try:
        spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()
    except Exception as exc:  # noqa: BLE001 — warm-up is best-effort
        print(f"# warm-up failed: {type(exc).__name__}: {exc}", file=sys.stderr)
    for t in ("documents", "lineitem", "orders", "customer", "events"):
        try:
            load(spark, sf_dir, t).count()
        except Exception as exc:  # noqa: BLE001 — one bad table must not skip the rest
            print(f"# warm-up of table {t} failed: {type(exc).__name__}: {exc}", file=sys.stderr)


def load_marker() -> dict:
    """Ambient-load snapshot (/proc/loadavg + MemAvailable) recorded
    around each bench pass in BENCH_DETAIL.json, so a timing delta on an
    unchanged query can be put down to box contention from data rather
    than by inference. A run meant as a reference is made in an idle
    window (loadavg well under the core count)."""
    out: dict = {}
    try:
        la = Path("/proc/loadavg").read_text().split()
        out["loadavg_1m"], out["loadavg_5m"], out["loadavg_15m"] = (
            float(la[0]), float(la[1]), float(la[2]),
        )
        out["runnable"] = la[3]
    except (OSError, ValueError, IndexError):
        pass
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemAvailable:"):
                out["mem_available_gib"] = round(int(line.split()[1]) / 1048576, 2)
                break
    except (OSError, ValueError, IndexError):
        pass
    return out


def main() -> None:
    from project_orbit_spark import registry
    from project_orbit_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    names = sorted(registry.bench_queries())

    def run_pass(label: str) -> tuple[dict[str, dict], list[str]]:
        print(f"# [{label}]", file=sys.stderr, flush=True)
        results: dict[str, dict] = {}
        failures: list[str] = []
        for name in names:
            try:
                results.update(measure(spark, sf_dir, [name], reps))
            except Exception as exc:  # noqa: BLE001 — one bad query must not kill the bench line
                failures.append(name)
                print(f"# {name}: FAILED {type(exc).__name__}: {exc}", file=sys.stderr)
        return results, failures

    # Two timed passes: "value"/"queries" are pass 1, and pass 2's total
    # is the cross-check; totals that disagree badly flag an ambient
    # swing, not a plan regression.
    load_before_run1 = load_marker()
    run1, failures = run_pass("run1")
    load_before_run2 = load_marker()
    run2, failures2 = run_pass("run2")
    load_after = load_marker()
    timings = {n: round(r["median"], 3) for n, r in run1.items()}
    timings2 = {n: round(r["median"], 3) for n, r in run2.items()}

    payload = {
        "metric": "headline_query_set_total",
        "value": round(sum(r["median"] for r in run1.values()), 3),
        "unit": "sec",
        # 2dp in the driver-facing line (10 ms resolution); full 3dp
        # lives in BENCH_DETAIL.json
        "queries": {n: round(v, 2) for n, v in timings.items()},
        "value_run2": round(sum(r["median"] for r in run2.values()), 3),
        # best-of-both-passes total: immune to a one-pass ambient
        # excursion, the number to read when run1 and run2 disagree
        "value_best": round(
            sum(min(run1[n]["median"], run2[n]["median"]) for n in set(run1) & set(run2)),
            3,
        ),
        # 1m loadavg at run1 start / run2 start / end, so a contended
        # box documents itself in the driver's record
        "load": [
            load_before_run1.get("loadavg_1m"),
            load_before_run2.get("loadavg_1m"),
            load_after.get("loadavg_1m"),
        ],
        "reps": reps,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if failures or failures2:
        payload["failed"] = sorted(set(failures) | set(failures2))
    # The driver machine-parses only the LAST ~2000 chars of stdout, so
    # the final line carries run1's per-query dict plus run2's total
    # only; the full two-pass detail and the per-query counts go to a
    # committed side file and stderr. build_payload_line() is the single
    # encoder so the tests/test_bench_line.py budget guard measures the
    # real thing.
    detail = dict(payload)
    detail["queries"] = timings
    detail["queries_run2"] = timings2
    detail["counts"] = {n: r["counts"] for n, r in run1.items()}
    detail["load"] = {
        "before_run1": load_before_run1,
        "before_run2": load_before_run2,
        "after_run2": load_after,
    }
    try:
        (REPO / "BENCH_DETAIL.json").write_text(json.dumps(detail, indent=1) + "\n")
    except OSError as exc:
        print(f"# could not write BENCH_DETAIL.json: {exc}", file=sys.stderr)
    print(f"# queries_run2: {json.dumps(timings2)}", file=sys.stderr)
    print(build_payload_line(payload))


def build_payload_line(payload: dict) -> str:
    """Encode the driver-facing final line, enforcing the tail-window
    budget: compact separators always; if the per-query dict grows the
    line past the driver's window, degrade GRADUATED rather than
    all-or-nothing — drop the longest-named entries one at a time
    (deterministic: length desc, then name) with a queries_omitted
    marker and a pointer at BENCH_DETAIL.json, so the official record
    keeps per-query values for almost the whole set instead of losing
    them all the moment one query pushes the set over budget."""
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) <= MAX_LINE_CHARS or "queries" not in payload:
        return line
    qs = dict(payload["queries"])
    slim = dict(payload)
    slim["queries_in"] = "BENCH_DETAIL.json"
    for omitted, name in enumerate(
        sorted(qs, key=lambda n: (-len(n), n)), start=1
    ):
        del qs[name]
        slim["queries"] = qs
        slim["queries_omitted"] = omitted
        line = json.dumps(slim, separators=(",", ":"))
        if len(line) <= MAX_LINE_CHARS:
            return line
    slim = {k: v for k, v in payload.items() if k != "queries"}
    slim["queries_in"] = "BENCH_DETAIL.json"
    return json.dumps(slim, separators=(",", ":"))


# Driver tail window is 2000 chars; 110 chars of headroom. The full
# 57-query dict fits at measured widths (medians < 10 s; the slowest
# sf0.1 query has never exceeded 5 s) and at <100 s widths; the
# graduated fallback shaves at most a couple of longest-named entries
# under the synthetic worst case (999.999 s medians).
MAX_LINE_CHARS = 1890


if __name__ == "__main__":
    main()
