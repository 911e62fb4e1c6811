"""Query registry — the single source of truth for the driver contract.

Every operator the engine implements registers a named query here:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an equivalent ANSI-SQL oracle string
DuckDB runs on the same parquet views. ``__spark_entry__.py`` simply
re-exports this registry.

Conventions (SURVEY.md §7 risk register):
- alias every computed column identically in Spark and SQL;
- round floating aggregates (sum→2dp, avg/score→4-6dp) so IEEE
  summation-order differences between engines can't flip the hash;
- prefer DATE / string / int output columns over raw timestamps
  (testdata mixes ms and ns units);
- deterministic tie-breaks on every rank/top-k/dedup.
"""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    # Expose to the driver's queries()/oracle_sql() surface. False in
    # exactly two cases, each requiring a comment at the register()
    # site: (1) queries whose OUTPUT is legitimately engine-specific
    # (raw HLL++/KLL sketch values) — each MUST have a driver-visible
    # hash-checkable audit twin exercising the same code path (see
    # operators/sketches.py); (2) a new query deferred ONE round so
    # the 50-slot driver sample can finish the staleness rotation —
    # it must be fully verified locally (tools/check at 3 SFs,
    # driver_sim, pytest) and flipped to True next round. Either way
    # the query stays registered for bench and the local parity suite.
    driver: bool = True
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Optional amortized-setup hook: bench.py runs it OUTSIDE the timer
    # (e.g. a warm_* artifact function; its return value is ignored) to
    # measure steady-state cost; correctness runs ignore it, so fn must
    # be self-sufficient.
    prepare: Callable[[SparkSession, str], object] | None = None


_REGISTRY: dict[str, Query] = {}

# Modules that register queries on import.
_QUERY_MODULES = (
    "project_orbit_spark.operators.relational",
    "project_orbit_spark.operators.joins",
    "project_orbit_spark.operators.windows",
    "project_orbit_spark.operators.dedup",
    "project_orbit_spark.operators.skew",
    "project_orbit_spark.operators.sketches",
    "project_orbit_spark.operators.corpus",
    "project_orbit_spark.operators.bloom",
    "project_orbit_spark.operators.profiling",
    "project_orbit_spark.operators.behavior",
    "project_orbit_spark.operators.graph",
    "project_orbit_spark.operators.clustering",
    "project_orbit_spark.operators.subqueries",
    "project_orbit_spark.functions.textbank",
    "project_orbit_spark.functions.textquality",
    "project_orbit_spark.functions.extraction",
    "project_orbit_spark.functions.predicates",
    "project_orbit_spark.functions.inference",
    "project_orbit_spark.functions.html_extract",
    "project_orbit_spark.functions.json_walk",
    "project_orbit_spark.sources.ats",
    "project_orbit_spark.sources.frontier",
    "project_orbit_spark.sources.roundtrip",
    "project_orbit_spark.similarity.cosine",
    "project_orbit_spark.similarity.retrieval",
    "project_orbit_spark.similarity.lsh",
    "project_orbit_spark.streaming.windows",
    "project_orbit_spark.streaming.incremental",
    "project_orbit_spark.streaming.stateful",
    "project_orbit_spark.streaming.joins",
    "project_orbit_spark.streaming.inference",
    "project_orbit_spark.multimodal.binary_ops",
    "project_orbit_spark.gold.payload",
    "project_orbit_spark.gold.pipelines",
)

_loaded = False

# The driver hash-checks the FIRST 50 queries() entries per round. To
# keep every query's latest record fresh (no query older than ~3 rounds),
# the sort key after the per-round priority list is LEAST-RECENTLY-
# VERIFIED: the round each query last had a green CORRECTNESS row,
# computed from the official CORRECTNESS_r*.json records at the repo
# root. Never-verified queries sort first (round 0).


def _last_verified() -> dict[str, int]:
    """query -> latest round with a green driver record (hash pass, or
    the by-design rows-only record for oracle-less queries)."""
    out: dict[str, int] = {}
    root = Path(__file__).resolve().parent.parent
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rec = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rec.items():
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if green:
                out[name] = max(out.get(name, 0), rnd)
    return out


def rotation_period() -> int:
    """Rounds between driver re-verifications of the same query — the
    staleness bar the rotation guards (tests/test_entry.py) enforce.

    The driver hash-checks 50 queries per round, so a surface of N
    driver-visible queries CANNOT be re-verified faster than every
    ceil(N/50) rounds; reserving ~5 slots per round for erred-query
    retries and changed-path re-pins (q17 in r11, q4 in r10 — every
    round has used some) gives ceil(N/45). The original fixed bar
    (VERDICT r8 ask #2: re-verify every 4th round) was set when the
    surface was ~120 queries (period 2.4 achievable); it remains the
    FLOOR, and the bar tightens back toward it automatically if the
    surface shrinks. A fixed 4-round bar at today's size would
    hard-cap the surface at 200 queries with zero retry slack —
    the arithmetic, not a preference: 50 slots × 4 rounds = 200."""
    n = sum(1 for q in all_queries().values() if q.driver)
    return max(4, -(-n // 45))


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    bench: bool = False,
    driver: bool = True,
    tags: tuple[str, ...] = (),
    prepare: Callable[[SparkSession, str], object] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=doc,
            bench=bench,
            driver=driver,
            tags=tags,
            prepare=prepare,
        )
        return fn

    return deco


def _load() -> None:
    global _loaded
    if not _loaded:
        for mod in _QUERY_MODULES:
            importlib.import_module(mod)
        _loaded = True


def all_queries() -> dict[str, Query]:
    _load()
    return dict(_REGISTRY)


def get_query(name: str) -> Query:
    _load()
    return _REGISTRY[name]


# Per-round priority head: queries that erred last round, every query
# whose code path changed this round, and this round's additions —
# these MUST land in the driver's first-50 sample. SELF-EXPIRING:
# _driver_order ignores an entry whose latest record already equals
# the newest round — it has served its purpose the moment the driver
# writes that record, so the head never pins stale slots at a round
# boundary and never needs a same-round hand-trim when rotation
# demand + head size would exceed 50.
_DRIVER_PRIORITY: tuple[str, ...] = ()

# Changed-path pins: query -> the driver round whose record must cover
# its changed plan (the round after the newest record on disk when the
# plan changed). A pin holds a head slot until the query's latest
# record reaches that round, then expires by itself — it is exempt from
# the head's newest-round filter, so a plan that changes again after
# its newest-round record still gets a slot, and it never needs a hand
# edit at a round boundary.
_DRIVER_PRIORITY_CHANGED: dict[str, int] = {
    # one-shuffle connected-components rounds and counted barriers in
    # place of probe jobs (every CC consumer); the bigram LM's total
    # and the band cutoffs' n read off barriers (LM and curation
    # faces); the empty ranking on zero pages (pagerank)
    "curation_training_gold": 19,
    "incremental_curation_gold": 19,
    "corpus_curation_gold": 19,
    "ccnet_perplexity_bands": 19,
    "bigram_logprob_scores": 19,
    "dedup_canonical_corpus": 19,
    "leakage_safe_split": 19,
    "dedup_quality_canonical": 19,
    "dup_cluster_labels": 19,
    "dup_cluster_size_histogram": 19,
    "pagerank_link_graph": 19,
    "semantic_dedup_semdedup": 19,
    # company_verified is 0, not NULL, when nothing is retrieved
    "rag_dashboard_gold": 19,
    # bounded output sorts in one partition (catalog.sort_bounded);
    # the minhash pair stage dedups fixed-width (l, r, score) triples
    "q1_pricing_summary": 19,
    "dashboard_report_table": 19,
    "cosine_topk_exact": 19,
    "ann_ivf_topk": 19,
    "ann_ivf_topk_warm": 19,
    "ann_ivf_pq_topk": 19,
    "ann_ivf_pq_topk_warm": 19,
    "q5_revenue_by_nation": 19,
    "q7_nation_pair_volume": 19,
    "q8_nation_market_share": 19,
    "q9_nation_profit": 19,
    "q12_delay_bucket_priority": 19,
    "q17_small_quantity_revenue": 19,
    "ann_ivf_nprobe2": 19,
    "minhash_lsh_near_dups": 19,
}


def _driver_order(names: list[str]) -> list[str]:
    """This round's erred/changed/new queries first, then everything
    else least-recently-verified-first (ties in registration order) —
    so the driver's first-50 sample re-verifies every change AND
    rotates the stalest records back onto the official record.

    Head entries SELF-EXPIRE: once a priority query's latest record
    equals the newest round on disk (a changed-path pin: reaches its
    round), it stops pinning a head slot and falls back into the LRV
    order (where its fresh record sorts it last anyway). This is what
    keeps the rotation guards green AT the round boundary — the
    moment the driver writes CORRECTNESS_r{N}, the freshly verified
    head frees exactly the slots the next round's rotation needs."""
    last = _last_verified()
    newest = max(last.values(), default=0)
    head = [
        n
        for n in _DRIVER_PRIORITY
        if last.get(n, 0) < newest or newest == 0
    ]
    head.extend(
        n
        for n, rnd in _DRIVER_PRIORITY_CHANGED.items()
        if last.get(n, 0) < rnd and n not in head
    )
    prio = {n: i for i, n in enumerate(head)}
    reg_idx = {n: i for i, n in enumerate(names)}
    return sorted(
        names,
        key=lambda n: (0, prio[n], 0) if n in prio else (1, last.get(n, 0), reg_idx[n]),
    )


def query_map() -> dict[str, QueryFn]:
    """name -> callable, the shape __spark_entry__.queries() returns."""
    qs = all_queries()
    names = [n for n in qs if qs[n].driver]
    return {name: qs[name].fn for name in _driver_order(names)}


def oracle_map() -> dict[str, str]:
    """name -> DuckDB SQL for every oracle-able query."""
    qs = all_queries()
    names = [n for n in qs if qs[n].driver]
    return {
        name: qs[name].oracle
        for name in _driver_order(names)
        if qs[name].oracle is not None
    }


def bench_queries() -> dict[str, Query]:
    return {name: q for name, q in all_queries().items() if q.bench}
