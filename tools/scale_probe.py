"""Measured scaling probe: synthesize a K× corpus from the testdata and
time the headline operator families at 1× vs K×.

The testdata only ships sf0.001/0.01/0.1, so larger scales are
synthesized: each table is unioned K times with id offsets; document
text gets a per-replica suffix on EVERY token — a prefix-only tag
leaves replicas shingle/simhash-identical to their base doc, which
manufactures K synthetic near-dups per doc and turns every dedup
family quadratic by construction (measured: the first probe corpus
did exactly that). Per-token suffixing makes replica vocabularies
disjoint, so the dedup families keep the BASE corpus's candidate
structure replicated K times. Embeddings get a per-replica
deterministic perturbation; events get per-replica user/ts offsets
(so session/window state scales with data, not key collisions).

Usage:
    python tools/scale_probe.py [K=10] [sf_dir=/root/testdata/sf0.1] [query ...]

Prints one JSON line per query: {"query": ..., "t_1x": s, "t_kx": s,
"ratio": r}, then a markdown table ready for docs/SCALE.md. The
synthesized corpus in .scale_probe/ is REUSED across invocations when
present (delete the directory to force re-synthesis), so the probe can
run family-by-family within a CI step's time budget. Each timing is
one ``bench.measure`` of the query (clean session state, prepare hook,
one untimed serve) with SPARK_GRAFT_SCALE_REPS timed runs (default 3,
best-of reported).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from bench import measure  # noqa: E402
from project_orbit_spark.catalog import load  # noqa: E402
from project_orbit_spark.session import get_spark  # noqa: E402

# operator families whose scaling behavior the probe certifies
QUERIES = (
    "exact_dup_groups",       # hash-groupBy dedup
    "minhash_lsh_near_dups",  # banded LSH near-dup
    "incremental_minhash_dedup",  # O(new) batch-vs-index dedup
    "simhash_hamming_dups",   # simhash dedup (32-bit tier)
    "simhash64_hamming_dups", # simhash dedup (64-bit / 4x16 bands tier)
    "ann_ivf_topk",           # IVF ANN (cold: includes centroid derive)
    "cosine_topk_exact",      # brute-force top-k baseline
    "bm25_keyword_topk",      # lexical retrieval
    "hybrid_rrf_topk",        # fused retrieval
    "tumbling_hourly_counts", # event-time window agg
    "session_windows_30m",    # session windows
    "session_windows_30m_salted",  # day-split skew-hardened sessions
    "doc_quality_scores",     # text-quality scoring (map-only)
    "dedup_canonical_corpus", # composed pairs→clusters→canonical
    "rag_dashboard_gold",     # composed retrieve→generate→patch
    "event_funnel_conversion",  # ordered funnel (chained user aggs)
    "user_retention_cohorts",   # cohort retention matrix
    "pagerank_link_graph",      # iterative fixed-point PageRank
    "pack_sequences_budget",    # sharded sequence packing
    "benchmark_contamination",  # broadcast 8-gram contamination scan
    "heavy_hitters_two_pass",   # MG candidates + exact confirm
    "ann_ivf_pq_topk",          # IVF-PQ quantized scoring tier
    "semantic_dedup_semdedup",  # SemDeDup (label+LSH sub-blocked pairs)
    "incremental_span_contamination",  # O(new) span-index probe
    "semantic_decontamination",  # broadcast eval set, map-only corpus scan
    "bigram_logprob_scores",    # interpolated bigram LM quality tier
    "corpus_shuffle_shards",    # deterministic training shuffle
    "kmeans_embedding_clusters",  # 3-round Lloyd: broadcast assign + keyed sums
    # relational star-schema facts (customer/orders/lineitem replicated
    # with consistent keys; dims stay base-size and broadcast)
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "q18_large_order_customers",
    "q17_small_quantity_revenue",  # correlated scalar avg, decorrelated
    "q2_min_cost_supplier",        # correlated min, decorrelated
    "q4_late_shipment_priority",   # cross-table EXISTS -> semi + residual
    "q15_top_supplier",            # scalar max, 1-row broadcast
    "q22_lapsed_customer_balance", # NOT EXISTS + threshold row
    "q7_nation_pair_volume",       # nation-pair volume, dim-pruned facts
    "q8_nation_market_share",      # CASE-ratio share, one agg pass
    "q9_nation_profit",            # profit rollup, two broadcast dims
    "q10_returned_item_customers", # returned-revenue top-20 TakeOrdered
    "q14_promo_revenue_share",     # month-pruned promo ratio
    "q16_supplier_part_counts",    # NOT-IN anti + count-distinct
    "q19_disjunctive_revenue",     # OR-of-ANDs, envelope pushdown
    "q20_dominant_part_suppliers", # agg-over-agg window threshold
    "kmeans_incremental_assign",   # O(new) assign vs warm centroid model
    "payload_assembly_nested",
    "rolling_30d_revenue",
    "order_value_percentiles",
)

REPS = max(1, int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3")))


_SYNTH_TABLES = ("documents", "embeddings", "events", "customer", "orders", "lineitem")
# dims stay at base size (broadcast sides are bounded by business
# reality, not data growth — the realistic 100 TB shape)
_PASSTHROUGH_TABLES = ("region", "nation", "supplier", "part")


def synthesize(spark, sf_dir: str, out_dir: Path, k: int) -> None:
    # Reuse only when the on-disk corpus was built with the SAME (k,
    # sf_dir) — existence alone would silently time a stale corpus
    # while labeling the ratios with the new K.
    manifest = out_dir / "manifest.json"
    # v2: per-(replica, dim) embedding perturbation — the v1 constant
    # shift left replicas 0.999-cosine-near each other, manufacturing
    # K genuine near-dups per base vector (the embedding analog of the
    # prefix-only text tag this docstring already warns about)
    # v3: documents replicate at DOC_STRIDE instead of densely at
    # n_docs — dense replication pushed doc_ids past the dedup
    # queries' +100000/+400000/+500000 injection offsets at K=100
    # over sf0.1 (500k docs), so injected ids COLLIDED with replica
    # ids and corrupted the dedup audits' quality semantics at 100×
    # (ADVICE r16 #2; the r9 knob probe had already worked around
    # the same collision for its own injections). With a 1M stride
    # every replica is a self-contained id universe: base ids in
    # [i·1M, i·1M + n_docs), injected ids in [i·1M + 100000,
    # i·1M + 550000) — disjoint from every other replica's bands for
    # any n_docs <= INJECT_OFFSET.
    # v4: embeddings get the same treatment — the vector faces inject
    # at vec_id/eval_id + 10000, and dense vec_id replication (2000
    # vectors at sf0.1) collided with that band from replica 5 on,
    # corrupting the incremental vector faces' 100× semantics the
    # same way. VEC_STRIDE holds base ids + the +10000 band per
    # replica. (customer is NOT strided: levenshtein_name_dedup's
    # c_custkey+100000 injection would collide at K >= 7 over sf0.1,
    # but that query is not in the probe set and customer ids key the
    # orders FK chain — probe it at sf0.01 if it ever joins the
    # ledger.)
    want = {"k": k, "sf_dir": str(sf_dir), "tables": list(_SYNTH_TABLES), "v": 4}
    if (
        all((out_dir / f"{t}.parquet").exists() for t in _SYNTH_TABLES)
        and manifest.exists()
        and json.loads(manifest.read_text()) == want
    ):
        print(f"# reusing synthesized {k}x corpus in {out_dir}", file=sys.stderr)
        return
    out_dir.mkdir(parents=True, exist_ok=True)

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.agg(F.max("doc_id")).first()[0] + 1
    # Collision-free replica stride (see manifest v3 note above):
    # each replica's id universe must hold the base ids AND the dedup
    # injection bands without touching its neighbors'.
    from project_orbit_spark.operators.dedup import INJECT_OFFSET

    DOC_STRIDE = 1_000_000
    assert n_docs <= INJECT_OFFSET, (
        f"base fixture doc_ids reach {n_docs - 1} >= INJECT_OFFSET "
        f"{INJECT_OFFSET}: the dedup injection oracles are unsound for "
        f"this fixture (tests/test_hygiene.py pins the same bound)"
    )
    doc_reps = [
        docs.select(
            (F.col("doc_id") + i * DOC_STRIDE).alias("doc_id"),
            (
                F.regexp_replace("text", r"(\S+)", rf"$1r{i}") if i else F.col("text")
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(k)
    ]
    u = doc_reps[0]
    for r in doc_reps[1:]:
        u = u.unionByName(r)
    u.write.mode("overwrite").parquet(str(out_dir / "documents.parquet"))

    emb = load(spark, sf_dir, "embeddings")
    n_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    # Per-(replica, dim) hash-derived offset in [-0.12, 0.12]: the
    # offset vector depends only on (i, d), so WITHIN a replica it is
    # a common additive shift that preserves the base corpus's
    # neighborhood structure, while ACROSS replicas the offset vectors
    # are independent — two replicas of the same base vector sit at
    # cosine ~0.985, well below every near-dup threshold. Dedup/ANN
    # families therefore see the 1x candidate topology replicated K
    # times, not K manufactured near-dups per vector (v1's constant
    # shift got this wrong and chained all K replicas at >=0.999).
    def perturbed(i: int):
        if i == 0:
            return F.col("embedding")
        return F.transform(
            "embedding",
            lambda x, d: (
                x
                + ((F.lit(i) * 2654435761 + d.cast("long") * 40503) % 401 - 200)
                .cast("double")
                / F.lit(200.0 / 0.12)
            ).cast("float"),
        )

    VEC_STRIDE = 100_000
    assert n_vec <= 10_000, (
        f"base fixture vec_ids reach {n_vec - 1} >= the +10000 vector "
        "injection band — the incremental vector-face oracles are "
        "unsound for this fixture"
    )
    emb_reps = [
        emb.select(
            (F.col("vec_id") + i * VEC_STRIDE).alias("vec_id"),
            perturbed(i).alias("embedding"),
            "label",
        )
        for i in range(k)
    ]
    u = emb_reps[0]
    for r in emb_reps[1:]:
        u = u.unionByName(r)
    u.write.mode("overwrite").parquet(str(out_dir / "embeddings.parquet"))

    ev = load(spark, sf_dir, "events")
    n_ev = ev.agg(F.max("event_id")).first()[0] + 1
    n_user = ev.agg(F.max("user_id")).first()[0] + 1
    ev_reps = [
        ev.select(
            (F.col("event_id") + i * n_ev).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {i * 40} DAYS")).alias("ts"),
            (F.col("user_id") + i * n_user).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(k)
    ]
    u = ev_reps[0]
    for r in ev_reps[1:]:
        u = u.unionByName(r)
    u.write.mode("overwrite").parquet(str(out_dir / "events.parquet"))

    # Relational star-schema facts: replicate customer/orders/lineitem
    # with CONSISTENT id offsets per replica (each replica's orders
    # point at its own customers, lineitems at its own orders), dim
    # keys (nation/supplier/part) untouched — so the join topology
    # replicates instead of densifying, and broadcast dims stay
    # base-size, the realistic 100 TB shape.
    cust = load(spark, sf_dir, "customer")
    n_cust = cust.agg(F.max("c_custkey")).first()[0] + 1
    u = None
    for i in range(k):
        r = cust.select(
            (F.col("c_custkey") + i * n_cust).alias("c_custkey"),
            "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        )
        u = r if u is None else u.unionByName(r)
    u.write.mode("overwrite").parquet(str(out_dir / "customer.parquet"))

    orders = load(spark, sf_dir, "orders")
    n_ord = orders.agg(F.max("o_orderkey")).first()[0] + 1
    u = None
    for i in range(k):
        r = orders.select(
            (F.col("o_orderkey") + i * n_ord).alias("o_orderkey"),
            (F.col("o_custkey") + i * n_cust).alias("o_custkey"),
            "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
        )
        u = r if u is None else u.unionByName(r)
    u.write.mode("overwrite").parquet(str(out_dir / "orders.parquet"))

    li = load(spark, sf_dir, "lineitem")
    u = None
    for i in range(k):
        r = li.select(
            (F.col("l_orderkey") + i * n_ord).alias("l_orderkey"),
            "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate",
        )
        u = r if u is None else u.unionByName(r)
    u.write.mode("overwrite").parquet(str(out_dir / "lineitem.parquet"))

    for t in _PASSTHROUGH_TABLES:
        load(spark, sf_dir, t).write.mode("overwrite").parquet(
            str(out_dir / f"{t}.parquet")
        )
    manifest.write_text(json.dumps(want))


def time_query(spark, name: str, sf_dir: str) -> float:
    """Best-of-REPS ``bench.measure`` runs: the min is the steady-state
    cost, which a one-off stall would otherwise put into the 1x/Kx
    ratio."""
    return min(measure(spark, sf_dir, [name], REPS)[name]["samples"])


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = tuple(sys.argv[3:]) or QUERIES
    out_dir = REPO / ".scale_probe"
    spark = get_spark("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"# synthesizing {k}x corpus from {sf_dir}", file=sys.stderr)
    synthesize(spark, sf_dir, out_dir, k)

    rows = []
    for name in names:
        # measure() starts each query from a clean session state: warm_*
        # indexes persisted by one probed query would otherwise stay
        # resident for every later one, and at 100× a long batch OOMs on
        # accumulated warms, not its own footprint (the simhash audit
        # died at heap after three index-warming faces ran first)
        t1 = time_query(spark, name, sf_dir)
        tk = time_query(spark, name, str(out_dir))
        ratio = tk / t1 if t1 > 0 else float("nan")
        rec = {
            "query": name,
            "t_1x": round(t1, 3),
            f"t_{k}x": round(tk, 3),
            "ratio": round(ratio, 2),
        }
        rows.append(rec)
        print(json.dumps(rec), flush=True)

    print(f"\n| query | 1x (s) | {k}x (s) | ratio (linear = {k}.0) |")
    print("|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['query']} | {r['t_1x']} | {r[f't_{k}x']} | {r['ratio']} |"
        )


if __name__ == "__main__":
    main()
