"""Self-tests of the benchmark harness (not of the engine).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = datagen.Scale(documents=500, embeddings=500)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _digests(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*.parquet"))
    }


def _generate(root: Path, seed: int) -> dict[str, str]:
    cat = root / "catalog"
    datagen.write_catalog(str(cat), seed, TINY)
    docs = str(cat / "documents.parquet")
    datagen.write_partitioned_snapshot(docs, str(root / "base"), "lang")
    datagen.write_days(docs, str(root / "days"), seed, 2)
    return _digests(root)


def test_same_seed_same_inputs_other_seed_differs(tmp_path):
    a = _generate(tmp_path / "a", 7)
    b = _generate(tmp_path / "b", 7)
    c = _generate(tmp_path / "c", 8)
    assert a == b
    assert set(a) == set(c)
    differing = {k for k in a if a[k] != c[k]}
    # region and nation are fixed dimension tables; everything else moves
    assert differing >= {k for k in a if not k.startswith(("catalog/region", "catalog/nation"))}


def test_same_seed_same_request_order():
    one = [workloads.request_order(3, i) for i in range(4)]
    two = [workloads.request_order(3, i) for i in range(4)]
    other = [workloads.request_order(4, i) for i in range(4)]
    assert one == two
    assert one != other
    assert all(sorted(o) == sorted(workloads.RAG_MIX) for o in one + other)


def test_metric_names_and_limits():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = [m["name"] for m in spec["end_to_end"]]
    per = [m["name"] for m in spec["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert per == run.per_layer_names()
    assert len(e2e) <= 16 and len(per) <= 128
    assert len(set(e2e + per)) == len(e2e + per)
    for name in e2e + per:
        assert NAME.fullmatch(name), name
    for m in spec["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"])
    for m in spec["end_to_end"]:
        assert m["unit"] == run.UNITS[m["name"]]
        assert 0 < m["bound"] <= 0.25
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_prepare_metrics_name_the_hooked_modules():
    from project_orbit_spark import registry

    hooked = {layers.module_of(q.fn) for q in map(registry.get_query, workloads.RAG_MIX)
              if q.prepare is not None}
    assert hooked == set(workloads.PREPARED)


def test_percentile_needs_ten_samples_beyond():
    assert run.percentile(list(range(99)), 0.9) is None
    assert run.percentile([float(i) for i in range(1, 101)], 0.9) == 90.0
    assert run.percentile([1.0] * 19, 0.5) is None
    assert run.percentile([float(i) for i in range(1, 21)], 0.5) == 10.0


def test_union_length_merges_overlaps():
    assert layers._union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert layers._union_length([(0, 2)], 1, 10) == 1


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    """A session with an uncompressed event log over an sf0.001-sized
    generated catalog."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    root = tmp_path_factory.mktemp("traced")
    datagen.write_catalog(str(root / "catalog"), 1, TINY)
    (root / "eventlog").mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(root / "eventlog"))
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield spark, root
    spark.stop()


def test_reducer_counts_on_a_real_event_log(traced_session):
    spark, root = traced_session
    from project_orbit_spark import registry

    rec = layers.Recorder(spark.sparkContext, "selftest")
    q = registry.get_query("q1_pricing_summary")
    sf = str(root / "catalog")
    rows = rec.run("operators.relational", "q1", 0, lambda: q.fn(spark, sf), lambda df: df.collect())
    assert rows
    df = spark.range(1000).repartition(3)
    rec.run("operators.corpus", "barrier", 0, lambda: df.localCheckpoint(eager=True),
            lambda d: d.count())
    cached = spark.range(500).selectExpr("id * 2 AS x").persist()
    rec.run("operators.dedup", "persist", 0, lambda: cached, lambda d: d.count())
    rec.run("operators.dedup", "reread", 0, lambda: cached, lambda d: d.count())
    counts = layers.status_counts(spark.sparkContext, rec.calls)
    spark.stop()

    events = []
    for path in layers._event_files(str(root / "eventlog")):
        events += [json.loads(line) for line in open(path, encoding="utf-8")]
    jobs_by_group: dict[str, int] = {}
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            g = ev["Properties"].get("spark.jobGroup.id")
            jobs_by_group[g] = jobs_by_group.get(g, 0) + 1
    for c in rec.calls:
        assert jobs_by_group.get(c.group, 0) >= 1
    assert sum(v["jobs"] for v in counts.values()) == sum(
        jobs_by_group.get(c.group, 0) for c in rec.calls
    )
    tot = layers.reduce_event_log(str(root / "eventlog"), rec.calls)
    # the localCheckpoint job and the first computation of the persisted
    # frame; re-reading the cache is not a barrier
    assert tot["barrier_jobs"] == 2
    assert tot["executor_run_s"] > 0 and tot["executor_cpu_s"] > 0
    assert tot["input_bytes"] > 0
    assert tot["shuffle_write_bytes"] > 0 and tot["shuffle_read_bytes"] > 0
    assert 0 <= tot["sched_gap_s"] <= sum(c.wall for c in rec.calls)


def test_engine_missing_exits_nonzero(tmp_path):
    import shutil
    import subprocess

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rag_serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert not out.stdout.strip()
    assert not os.path.exists(tmp_path / ".perfbench")
