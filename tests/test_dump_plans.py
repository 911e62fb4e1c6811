"""tools/dump_plans.py renumbers the ids a run allocates, so two dumps
of one plan compare equal with a plain diff. No Spark needed."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from dump_plans import normalize  # noqa: E402

_PLAN = """\
(1) Scan ExistingRDD [codegen id : {c1}]
Output [2]: [node#{n}L, label#{l}L]
Arguments: [node#{n}L, label#{l}L], MapPartitionsRDD[{rdd}] at localCheckpoint
(2) Exchange
Input [2]: [node#{n}L, label#{l}L]
Arguments: hashpartitioning(label#{l}L, 200), ENSURE_REQUIREMENTS, [plan_id={p}]
(3) ShuffleQueryStage {s}
(4) BroadcastQueryStage {b}
(5) HashAggregate [codegen id : {c2}]
Results [2]: [label#{l}L, count(1)#{k}L AS cluster_size#{z}L]
"""


def test_two_runs_of_one_plan_normalize_to_the_same_text():
    a = _PLAN.format(c1=3, n=293, l=320, rdd=62, p=872, s=4, b=7, c2=5, k=342, z=339)
    b = _PLAN.format(c1=1, n=12, l=9, rdd=140, p=15, s=0, b=2, c2=8, k=30, z=31)
    assert a != b
    assert normalize(a) == normalize(b)
    # first appearance, per family: node#1 label#2 count#3
    # cluster_size#4; shuffle and broadcast stages share one counter
    assert normalize(a) == _PLAN.format(c1=1, n=1, l=2, rdd=1, p=1, s=1, b=2, c2=2, k=3, z=4)


def test_distinct_ids_stay_distinct():
    # a plan that reads one column twice must not look like one that
    # reads two columns
    one = normalize("Project [doc_id#5L, doc_id#5L]")
    two = normalize("Project [doc_id#5L, doc_id#6L]")
    assert one == "Project [doc_id#1L, doc_id#1L]"
    assert two == "Project [doc_id#1L, doc_id#2L]"


def test_rdd_scan_call_site_is_renumbered():
    # one plan dumped first in a process and after many others: the
    # JVM frame named as the RDD's call site differs, the plan does not
    first = "Arguments: [a#3L], MapPartitionsRDD[7] at localCheckpoint at NativeMethodAccessorImpl.java:0"
    later = "Arguments: [a#9L], MapPartitionsRDD[40] at localCheckpoint at <unknown>:0"
    assert normalize(first) == normalize(later)
    assert normalize(first) == "Arguments: [a#1L], MapPartitionsRDD[1] at localCheckpoint at 1"
