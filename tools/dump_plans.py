"""Dump .explain("formatted") for named registered queries to files.

Usage:
    python tools/dump_plans.py <sf_dir> <out_dir> <suffix> <query> [query ...]

Writes <out_dir>/<query>_<suffix>.txt for each query. Used to commit
the before/after plan evidence for optimization rounds (guide §1 /
§7.2): the round judge cannot run Spark and checks plan claims
against these files.

The ids a run allocates (expression ``#N``, ``plan_id=N``, RDD ids,
query-stage and codegen ids) and the call-site label of an RDD scan
are renumbered in order of first appearance, so two dumps of one tree
are byte-identical whatever else the process ran, and a before/after
comparison is a plain ``diff``.
"""
from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

# one pattern per id family, (prefix)(id); each family is renumbered
# on its own
_RUN_IDS = [
    re.compile(r"(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(RDD\[)(\d+)"),
    re.compile(r"((?:Shuffle|Broadcast)QueryStage )(\d+)"),
    re.compile(r"(codegen id : )(\d+)"),
    # ``MapPartitionsRDD[1] at localCheckpoint at <site>``: the JVM
    # reports the py4j caller as ``NativeMethodAccessorImpl.java:0``
    # until it swaps in a generated accessor (``<unknown>:0``) after
    # enough reflective calls, so the label depends on the process's past
    re.compile(r"(RDD\[\d+\] at \w+ at )([^\s,\]]+:\d+)"),
]


def normalize(plan: str) -> str:
    """``plan`` with each family of run-dependent ids replaced by 1, 2,
    ... in order of first appearance."""
    for pat in _RUN_IDS:
        seen: dict[str, int] = {}
        plan = pat.sub(
            lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen) + 1)),
            plan,
        )
    return plan


def main() -> None:
    sf_dir, out_dir, suffix, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    from project_orbit_spark import registry

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]"
        )
        .appName("dump_plans")
        .getOrCreate()
    )
    for name in names:
        q = registry.get_query(name)
        df = q.fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(normalize(buf.getvalue()))
        print(f"wrote {path} ({len(buf.getvalue())} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
