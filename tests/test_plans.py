"""Physical-plan regression tests (SURVEY §4): the performance
contract — pushdown, broadcast selection, no accidental sort-merge
joins or cartesian products — asserted from .explain, so a plan
regression fails CI rather than silently costing 10× at scale."""

from __future__ import annotations

import pytest

from project_orbit_spark import registry
from project_orbit_spark.plans.audit import audit
from tests.conftest import SF_DIR


def facts(name, spark):
    return audit(registry.get_query(name).fn(spark, SF_DIR))


def test_q1_scan_is_pushed_and_pruned(spark):
    f = facts("q1_pricing_summary", spark)
    assert f.pushed_filters, "shipdate filter must reach the parquet scan"
    assert f.pruned_scan
    assert f.partial_agg, "aggregation must have a map-side partial phase"
    assert f.n_sortmerge_joins == 0


def test_q3_dims_broadcast(spark):
    f = facts("q3_top_revenue_orders", spark)
    assert f.n_broadcast_joins >= 1, "customer side must broadcast at this scale"
    assert f.n_sortmerge_joins == 0


def test_q5_dim_chain_broadcasts(spark):
    f = facts("q5_revenue_by_nation", spark)
    assert f.n_broadcast_joins >= 2, "region/nation/customer chain must broadcast"
    assert f.n_sortmerge_joins == 0


def test_theta_join_is_broadcast_nested_loop(spark):
    # J1 substring join MUST broadcast its 50-row side: a non-equi
    # condition without broadcast degenerates to a cartesian shuffle
    f = facts("substring_theta_join", spark)
    assert f.n_broadcast_joins >= 1
    assert "CartesianProduct" not in f.text


def test_lsh_join_shuffles_on_buckets_not_cartesian(spark):
    f = facts("minhash_lsh_near_dups", spark)
    assert "CartesianProduct" not in f.text, "LSH must join within buckets only"


def test_cosine_topk_broadcasts_queries(spark):
    f = facts("cosine_topk_exact", spark)
    assert f.n_broadcast_joins >= 1, "query set must broadcast; corpus streams"


def test_rag_topk_is_distributed_take_ordered(spark):
    # The global rank must be a per-partition heap + driver merge
    # (TakeOrderedAndProject), never a single-partition window sort
    f = facts("rag_index_and_search", spark)
    assert "TakeOrderedAndProject" in f.text


def test_simhash_join_is_banded_not_cartesian(spark):
    f = facts("simhash_hamming_dups", spark)
    assert "CartesianProduct" not in f.text
    assert "band_val" in f.text, "pair join must be keyed on pigeonhole bands"


def test_interval_join_keys_on_user_not_cartesian(spark):
    # the range condition must ride an equi-keyed join, never a
    # nested loop over the full event stream. r15: the views side is
    # shuffle_hash-PINNED — the static planner was broadcast-building
    # the fact-scale views slice (the ngram_jaccard_pairs OOM class),
    # so a static BroadcastHashJoin here is now a plan regression.
    f = facts("interval_join_click_view", spark)
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    assert "BroadcastHashJoin" not in f.text, (
        "events-derived views side must never be a static broadcast"
    )
    equi_joins = f.text.count("ShuffledHashJoin") + f.n_sortmerge_joins
    assert equi_joins >= 1


def test_tfidf_vocab_join_is_never_a_static_broadcast(spark):
    # r15 (VERDICT r14 ask #6): the corpus-derived dfreq vocabulary
    # aggregate was static-broadcast on under-estimated stats — GBs
    # at 100 TB. The shuffle_hash pin is the contract; the only
    # broadcast left is the 1-row corpus-size stats frame. This plan
    # test stands in for a same-round driver re-pin: the hint changes
    # strategy only (values identical — r11 record remains accurate;
    # natural LRV rotation re-verifies in r16).
    f = facts("tfidf_top_terms", spark)
    assert "ShuffledHashJoin" in f.text, "vocab join must shuffle"
    # the stats cross-join may broadcast (1 row); the term-keyed join may not
    import re

    for m in re.finditer(r"BroadcastHashJoin \[([^\]]*)\]", f.text):
        assert "term" not in m.group(1), "vocab join static-broadcast regressed"


def _subtree(tree: list[str], i: int) -> list[str]:
    """The lines of the plan-tree header under node line ``i``."""
    depth = len(tree[i]) - len(tree[i].lstrip(" :+-"))
    out = []
    for line in tree[i + 1 :]:
        if len(line) - len(line.lstrip(" :+-")) <= depth:
            break
        out.append(line)
    return out


@pytest.mark.parametrize(
    "name", ["bm25_keyword_topk", "hybrid_rrf_topk", "rerank_crossencoder_topk"]
)
def test_bm25_request_is_map_only_over_the_cached_index(spark, name):
    # a request sums stored impacts: the BM25 top-k reads the
    # persisted impact index and plans no exchange of its own — every
    # Exchange of the BM25 side sits inside the InMemoryRelation
    f = facts(name, spark)
    tree = f.text.split("\n\n", 1)[0].splitlines()
    top = [
        i
        for i, line in enumerate(tree)
        if "TakeOrderedAndProject" in line
        and any("InMemoryTableScan" in sub for sub in _subtree(tree, i))
    ][-1]  # the innermost: the BM25 top-k itself
    above_cache = []
    for line in _subtree(tree, top):
        if "InMemoryRelation" in line:
            break
        above_cache.append(line)
    assert not any("Exchange" in line for line in above_cache), (name, above_cache)


@pytest.mark.parametrize("name", ["bm25_keyword_topk", "hybrid_rrf_topk"])
def test_bm25_scans_the_corpus_once_inside_the_index(spark, name):
    # the corpus text is read by the index build only: the formatted
    # plan has exactly ONE documents scan node, inside the
    # InMemoryRelation (the embeddings scan of hybrid is not counted)
    import re

    f = facts(name, spark)
    tree = f.text.split("\n\n", 1)[0].splitlines()
    doc_scans = [
        b.split(")", 1)[0] + ")"
        for b in re.split(r"^(?=\(\d+\) )", f.text, flags=re.M)
        if b.startswith("(") and "Scan parquet" in b.split("\n", 1)[0]
        and "documents.parquet" in b
    ]
    assert len(doc_scans) == 1, (name, doc_scans)
    rel = next(i for i, line in enumerate(tree) if "InMemoryRelation" in line)
    assert any(line.endswith(doc_scans[0]) for line in _subtree(tree, rel)), name


def test_bm25_index_plan_holds_no_broadcast(spark):
    # A BroadcastHashJoin inside a persisted plan keeps the hashed
    # relation's on-heap page (one spark.buffer.pageSize page, up to
    # 64 MiB) live for as long as the cache lives. The index takes
    # df from a window and n_docs/avgdl as literals, so its plan must
    # hold no broadcast at all.
    from project_orbit_spark.plans.audit import formatted_plan
    from project_orbit_spark.similarity.retrieval import _bm25_index

    text = formatted_plan(_bm25_index(spark, SF_DIR))
    assert "InMemoryRelation" in text
    assert "Broadcast" not in text


def test_bloom_prune_sits_below_the_join(spark):
    # the bitset membership filter must apply to the lineitem scan
    # side before the equi-join (semi-join reduction), and the 8 KB
    # bitset rides a broadcast, never a shuffle
    f = facts("bloom_pruned_join", spark)
    assert "CartesianProduct" not in f.text
    assert f.n_broadcast_joins >= 1
    join_at = f.text.find("Join")
    assert "bitset" in f.text[join_at:], "bloom filter must be on the scan side below the join"


def test_corpus_mixture_joins_all_broadcast(spark):
    # rates are a per-lang handful of rows: both the totals cross join
    # and the rate join back to docs must broadcast — a shuffle join
    # here would re-partition the full corpus for a 5-row dim
    f = facts("corpus_mixture_sample", spark)
    assert f.n_broadcast_joins >= 2
    assert f.n_sortmerge_joins == 0
    assert "CartesianProduct" not in f.text


def test_quantize_is_scan_project_only(spark):
    # pure per-row array math: any join or aggregate exchange in this
    # plan means something re-introduced a shuffle on the corpus
    f = facts("embedding_quantize_int8", spark)
    assert f.n_sortmerge_joins == 0
    assert f.n_broadcast_joins == 0
    assert "CartesianProduct" not in f.text


def test_incremental_dedup_joins_bands_not_cartesian(spark):
    # candidates must come from the (band_idx, band_sig) equi join of
    # the new batch against the index — any cartesian here means the
    # O(new) incremental contract is broken
    f = facts("incremental_minhash_dedup", spark)
    assert "CartesianProduct" not in f.text


def test_probe_frontier_pattern_table_broadcasts(spark):
    # 56-row pattern table must be the broadcast side; the fan-in
    # count is the only shuffle
    f = facts("ats_probe_frontier", spark)
    assert f.n_broadcast_joins >= 1 or "BroadcastNestedLoopJoin" in f.text
    assert "CartesianProduct" not in f.text


def test_silver_quarantine_is_map_only(spark):
    # typed validation is one projection pass over the scan: no joins,
    # no aggregation; the final orderBy is the only exchange
    f = facts("silver_typed_quarantine", spark)
    assert f.n_sortmerge_joins == 0
    assert f.n_broadcast_joins == 0
    assert "Join" not in f.text
    assert not f.partial_agg


def test_funnel_has_no_event_self_join_blowup(spark):
    # three chained per-user aggregates; never events×events without
    # an equi key — no cartesian or nested-loop anywhere
    f = facts("event_funnel_conversion", spark)
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_cohort_retention_shuffles_on_user_only(spark):
    f = facts("user_retention_cohorts", spark)
    assert "CartesianProduct" not in f.text
    assert f.partial_agg, "first-seen/activity aggs must map-side combine"


def test_pagerank_iterations_keep_equi_joins(spark):
    f = facts("pagerank_link_graph", spark)
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_feed_parse_is_single_pass(spark):
    # the dual-dialect parse must normalize both dialects in ONE
    # projection over ONE upstream derivation — the filter-per-dialect
    # + union shape scans/aggregates the corpus twice (regression
    # caught by plan inspection in round 6)
    f = facts("rss_feed_items", spark)
    assert f.text.count("documents.parquet") == 1, "feed derivation must not run twice"
    assert "CartesianProduct" not in f.text


def test_incremental_dedup_broadcasts_the_batch(spark):
    # the O(new) contract: the small new batch is the broadcast side
    # of the band join against the persisted index
    f = facts("incremental_minhash_dedup", spark)
    assert f.n_broadcast_joins >= 1, "new batch must broadcast into the band join"
    assert "CartesianProduct" not in f.text


def test_simhash64_join_is_banded_not_cartesian(spark):
    f = facts("simhash64_hamming_dups", spark)
    assert "CartesianProduct" not in f.text
    assert "band" in f.text, "candidates must come from the band-bucket equi join"


def test_salted_sessions_shuffle_includes_day(spark):
    # the skew hardening is real only if the day column is part of the
    # session grouping key (shards a hot user's state across days)
    f = facts("session_windows_30m_salted", spark)
    assert "day" in f.text
    assert "CartesianProduct" not in f.text


def test_curation_gold_is_gated_before_pairs(spark):
    # the quality filter must sit below the shingle/hash derivation so
    # the expensive pair stage only sees surviving docs; and the
    # cluster join-back must broadcast
    f = facts("corpus_curation_gold", spark)
    assert "CartesianProduct" not in f.text
    assert f.n_broadcast_joins >= 1, "cluster labels must broadcast onto the spine"


def test_quality_canonical_no_cartesian(spark):
    f = facts("dedup_quality_canonical", spark)
    assert "CartesianProduct" not in f.text
    assert f.n_broadcast_joins >= 1


def test_unigram_scores_stats_broadcast(spark):
    # the 1-row total must broadcast; the token->freq join may be
    # broadcast or shuffle (AQE decides by vocab size) but never cartesian
    f = facts("unigram_logprob_scores", spark)
    assert "CartesianProduct" not in f.text.replace("BroadcastNestedLoopJoin", "")
    assert f.partial_agg


def test_image_header_probe_is_map_only(spark):
    # byte sniffing is a scan -> mapInPandas -> sort; no joins at all
    f = facts("image_header_probe", spark)
    assert f.n_broadcast_joins == 0
    assert f.n_sortmerge_joins == 0
    assert "CartesianProduct" not in f.text


def test_feed_autodiscovery_grid_broadcasts(spark):
    # 30-row feed grid must be the broadcast side of the candidate
    # crossJoin; companies (bounded distinct) never shuffle against it
    f = facts("feed_autodiscovery", spark)
    assert f.n_broadcast_joins >= 1 or "BroadcastNestedLoopJoin" in f.text
    assert "CartesianProduct" not in f.text


def test_repeated_span_mining_hash_shuffle_broadcast_exemplar(spark):
    # the agg branch must shuffle hashes with a map-side partial; the
    # exemplar rejoin must broadcast the 100 surviving keys
    f = facts("repeated_span_mining", spark)
    assert f.partial_agg
    assert f.n_broadcast_joins >= 1
    assert "CartesianProduct" not in f.text


def test_incremental_span_probe_broadcasts_batch(spark):
    # the new batch must broadcast into the persisted index probe —
    # new×index only, never a shuffle of the index side
    f = facts("incremental_span_contamination", spark)
    assert f.n_broadcast_joins >= 1
    assert "CartesianProduct" not in f.text


def test_heavy_hitters_candidates_broadcast_no_wide_shuffle(spark):
    # candidate semi join and the total-count scalar must broadcast;
    # the only shuffle is the candidate-partial groupBy. Pass 1 (MG)
    # must be mapInPandas directly over the scan — no exchange below it.
    f = facts("heavy_hitters_two_pass", spark)
    assert f.n_broadcast_joins >= 2, "candidates + total must broadcast"
    assert "CartesianProduct" not in f.text
    assert f.partial_agg


def test_ivf_pq_routing_and_codebook_broadcast(spark):
    # coarse routing, the per-subspace codebook, and the routed query
    # set all broadcast; bucket scoring must not be a cartesian
    f = facts("ann_ivf_pq_topk", spark)
    assert f.n_broadcast_joins >= 3
    assert "CartesianProduct" not in f.text


def test_semantic_decontamination_broadcasts_eval_set(spark):
    # the eval side must broadcast so the training corpus is scanned
    # map-only — a sort-merge or cartesian here means the corpus gets
    # shuffled per decontamination run, which is the failure mode at
    # 100 TB (the corpus is the big side by construction)
    f = facts("semantic_decontamination", spark)
    assert f.n_broadcast_joins >= 1, "eval set must broadcast"
    assert "CartesianProduct" not in f.text
    assert f.n_sortmerge_joins == 0


def test_semdedup_pairs_block_on_label_and_bucket(spark):
    # the pair self-join must key on (label, bucket) — label-only
    # blocking is the measured quadratic (docs/SCALE.md round 8), and
    # a cartesian means no blocking at all. Audited on the exposed
    # pair stage: the registered query feeds it into the eager
    # two-phase CC, so the final plan no longer contains this join.
    from project_orbit_spark.operators.dedup import (
        _semdedup_corpus,
        _semdedup_pairs,
    )
    from project_orbit_spark.plans.audit import audit

    f = audit(_semdedup_pairs(_semdedup_corpus(spark, SF_DIR)))
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text, (
        "vec_id < vec_id must ride an equi join as a filter, not force NLJ"
    )
    assert "bucket" in f.text, "LSH sub-bucket must appear in the join keys"


def test_q17_correlated_avg_broadcasts_bounded_sides(spark):
    # the decorrelated per-part average and the filtered part dim are
    # both bounded by the part dim — they must broadcast at fixture
    # scale (the size gate approves), leaving the fact scan as the
    # only large input (no sort-merge join at all)
    f = facts("q17_small_quantity_revenue", spark)
    assert f.n_broadcast_joins >= 2
    assert f.n_sortmerge_joins == 0
    assert f.pushed_filters, "shipdate/brand filters must reach the scans"


def test_q17_brand_filter_below_the_per_part_aggregate(spark):
    """VERDICT r10 ask #3 'done' criterion: the per-part average must
    aggregate ONLY brand-survivable partkeys — a LeftSemi prune of
    lineitem against the filtered part set BELOW the groupBy. The
    pre-fix plan aggregated the whole fact table (no semi join
    anywhere) and force-broadcast a part-dim-sized aggregate."""
    from project_orbit_spark import registry
    from tests.conftest import SF_DIR

    df = registry.get_query("q17_small_quantity_revenue").fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    agg = next(i for i, ln in enumerate(lines) if "qty_cut" in ln and "Aggregate" in ln)
    semi = next(
        (i for i, ln in enumerate(lines) if "Join LeftSemi" in ln), None
    )
    assert semi is not None, (
        "per-part avg must be semi-join-pruned to the filtered brands"
    )
    # the indented logical tree: a deeper, later line is a descendant.
    # Depth = leading tree-drawing prefix width; handles both '+-'
    # (last child) and ':-' (non-last child) branch renderings.
    depth = lambda ln: len(ln) - len(ln.lstrip(" :+-"))  # noqa: E731
    assert semi > agg and depth(lines[semi]) > depth(lines[agg]), (
        "semi prune must sit below the per-part aggregate"
    )
    # and the brand filter must sit below the semi join's build side
    assert any(
        "p_brand" in ln and "Filter" in ln and depth(ln) > depth(lines[semi])
        for ln in lines[semi:]
    )


def test_maybe_broadcast_hints_only_under_the_bound(spark):
    """The size gate (VERDICT r10 ask #5), both sides of the bound:
    under → the analyzed plan carries the broadcast hint
    (ResolvedHint); over → no hint, leaving the strategy to AQE.
    The pinned contract is hint presence/absence in the LOGICAL
    plan — the physical join choice at fixture scale is Spark's
    business either way."""
    from pyspark.sql import functions as F

    from project_orbit_spark.catalog import maybe_broadcast

    big = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    small = spark.range(0, 50).select(F.col("id").alias("k2"))

    under = maybe_broadcast(small, 100)
    plan = big.join(under, big.k == under.k2)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in plan, "under the bound the hint must be attached"

    over = maybe_broadcast(small, 10)
    plan = big.join(over, big.k == over.k2)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, "over the bound no hint — AQE decides"

    # probe path: the gate must consult the PROBE's cardinality, not
    # the gated df's (here the probe is over-bound, df is tiny)
    gated = maybe_broadcast(small, 10, probe=big)
    plan = big.join(gated, big.k == gated.k2)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan


def test_maybe_broadcast_probe_is_memoized_per_session(spark, monkeypatch):
    """Repeated plan builds over the same static inputs must pay the
    probe job once per session — bench reps and per-batch pipeline
    invocations would otherwise re-count on every call."""
    from pyspark.sql import functions as F

    from project_orbit_spark.catalog import maybe_broadcast

    side = spark.range(0, 37).select(F.col("id").alias("k"))
    # patch the CONCRETE class (pyspark 4 routes through
    # sql.classic.DataFrame; patching the abstract base is a no-op)
    cls = type(side)
    calls = {"n": 0}
    real_count = cls.count

    def counting(self):
        calls["n"] += 1
        return real_count(self)

    monkeypatch.setattr(cls, "count", counting)
    first = maybe_broadcast(side, 1000)
    assert calls["n"] == 1
    # semantically-identical probe plan, same bound -> cache hit
    again = maybe_broadcast(spark.range(0, 37).select(F.col("id").alias("k")), 1000)
    assert calls["n"] == 1, "second identical gate must not re-run the probe"
    for d in (first, again):
        plan = d._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" in plan
    # different bound -> distinct verdict, probe runs again
    maybe_broadcast(side, 10)
    assert calls["n"] == 2


def test_q4_exists_is_semi_join_with_residual(spark):
    # the cross-table EXISTS must plan as ONE semi join (key equality
    # drives the shuffle; the 60-day date comparison rides as a join
    # residual) — not as an inner join + dedup, which would explode
    # multi-line orders before aggregating
    f = facts("q4_late_shipment_priority", spark)
    assert "LeftSemi" in f.text
    assert f.pushed_filters, "the 1996Q3 window must reach the orders scan"


def test_q2_min_equality_joins_broadcast(spark):
    f = facts("q2_min_cost_supplier", spark)
    assert f.n_broadcast_joins >= 3, "pmin/part/supplier/nation sides broadcast"
    assert f.n_sortmerge_joins == 0
    assert f.partial_agg, "supply aggregate needs map-side partials"


def test_q22_anti_join_prunes_recent_orders_scan(spark):
    # NOT EXISTS decorrelates to a left-anti join against the
    # date-pruned orders scan; the threshold is a 1-row broadcast
    f = facts("q22_lapsed_customer_balance", spark)
    assert "LeftAnti" in f.text
    assert f.pushed_filters, "the >=2000-01-01 prune must reach the orders scan"
    assert f.n_sortmerge_joins == 0


def test_kmeans_assignment_is_map_only_broadcast(spark):
    # assignment must be a 1-row broadcast against the corpus scan;
    # the only exchanges are the (cluster, dim) partial-sum shuffles
    # and the seed top-K — never a fact-fact join
    f = facts("kmeans_embedding_clusters", spark)
    assert f.n_sortmerge_joins == 0
    assert "CartesianProduct" not in f.text


def test_q7_nation_dims_broadcast_no_cartesian(spark):
    # both nation-filtered dims must broadcast; the only real shuffle
    # is the orderkey join — never a cartesian pair-up of the nations
    f = facts("q7_nation_pair_volume", spark)
    assert f.n_broadcast_joins >= 2
    assert "CartesianProduct" not in f.text
    assert f.partial_agg


def test_q8_market_share_is_one_agg_pass(spark):
    # the CASE-ratio must be conditional sums in ONE aggregate —
    # a yearly-totals self-join would show >3 shuffles / an extra SMJ
    f = facts("q8_nation_market_share", spark)
    assert f.n_broadcast_joins >= 3, "part/supplier/customer dims must broadcast"
    assert "CartesianProduct" not in f.text
    assert f.partial_agg


def test_q14_month_prunes_at_scan(spark):
    f = facts("q14_promo_revenue_share", spark)
    assert "l_shipdate" in f.text.split("PushedFilters")[1][:400], (
        "shipdate month must reach the lineitem scan"
    )
    assert f.n_broadcast_joins >= 1 and f.n_sortmerge_joins == 0


def test_q16_excluded_suppliers_anti_broadcast(spark):
    f = facts("q16_supplier_part_counts", spark)
    assert f.n_broadcast_joins >= 2, "NOT-IN set and part dim must broadcast"
    assert "CartesianProduct" not in f.text


def test_q19_disjunction_reaches_both_scans(spark):
    """The 100 TB question for OR-of-ANDs: does anything prune at the
    scans? Positive finding (pinned here): with the single-table
    envelopes stated explicitly, the part scan's PushedFilters carries
    the (brand,size) disjunction and the lineitem scan carries the
    quantity bounds — Catalyst even derives the per-disjunct quantity
    OR from the residual on its own."""
    f = facts("q19_disjunctive_revenue", spark)
    pushed = [seg.split("]")[0] for seg in f.text.split("PushedFilters: [")[1:]]
    assert any("p_brand" in s and "p_size" in s and "Or(" in s for s in pushed), (
        "part scan must receive the (brand,size) disjunction"
    )
    assert any("l_quantity" in s for s in pushed), (
        "lineitem scan must receive the quantity envelope"
    )
    assert f.n_broadcast_joins >= 1 and f.n_sortmerge_joins == 0


def test_q18_having_is_window_free_take_ordered(spark):
    """Q18's contract: the per-order HAVING filters the aggregate
    directly — no Window, no IN-subquery second lineitem scan — the
    size gate approves the qualifying-order broadcast at fixture
    scale, and the top-50 is a TakeOrdered heap, never a global
    sort."""
    f = facts("q18_large_order_customers", spark)
    assert "Window" not in f.text
    assert "TakeOrderedAndProject" in f.text
    assert f.n_broadcast_joins >= 1, "qualifying-order set must broadcast"
    assert f.n_sortmerge_joins == 0
    assert f.partial_agg, "per-order quantity sum needs map-side partials"


def test_q9_dims_broadcast_single_shuffle_join(spark):
    f = facts("q9_nation_profit", spark)
    assert f.n_broadcast_joins >= 2, "part and supplier⋈nation dims must broadcast"
    assert "CartesianProduct" not in f.text
    assert f.partial_agg


def test_q10_top20_is_take_ordered(spark):
    # the global top-20 must be a per-partition heap + driver merge,
    # never a full sort of the customer aggregate
    f = facts("q10_returned_item_customers", spark)
    assert "TakeOrderedAndProject" in f.text
    assert f.n_broadcast_joins >= 1
    assert "CartesianProduct" not in f.text


def test_q20_per_part_total_reuses_pair_agg_one_fact_scan(spark):
    """The per-part total must be a WINDOW over the pair aggregate —
    the groupBy + join-back form duplicates the pair subtree and
    re-reads the fact table (two lineitem scans, 2× the IO at
    100 TB; observed before the rewrite)."""
    import re

    f = facts("q20_dominant_part_suppliers", spark)
    li_scans = [
        b
        for b in re.split(r"^(?=\(\d+\) )", f.text, flags=re.M)
        if b.startswith("(") and "Scan parquet" in b.split("\n", 1)[0]
        and "lineitem.parquet" in b
    ]
    assert len(li_scans) == 1, len(li_scans)
    assert f.n_broadcast_joins >= 3
    assert "Window" in f.text
    assert "CartesianProduct" not in f.text


def test_q12_conditional_counts_one_agg_pass(spark):
    f = facts("q12_delay_bucket_priority", spark)
    assert f.pushed_filters, "the 1996 year filter must reach the orders scan"
    assert f.partial_agg
    assert "CartesianProduct" not in f.text


def test_weighted_sample_is_map_only_one_stats_row(spark):
    # the acceptance test must be a map-only corpus scan against the
    # broadcast 1-row max-weight build — zero shuffles of the corpus
    import re

    f = facts("weighted_poisson_sample", spark)
    assert f.n_sortmerge_joins == 0
    assert "CartesianProduct" not in f.text
    # the only shuffle exchanges allowed: the 1-row stats single-
    # partition exchange and the final orderBy range exchange —
    # counted as detail blocks ("(N) Exchange"), since the raw text
    # repeats node names and BroadcastExchange contains "Exchange"
    ex_blocks = [
        b
        for b in re.split(r"^(?=\(\d+\) )", f.text, flags=re.M)
        if b.startswith("(") and b.split("\n", 1)[0].strip().endswith(" Exchange")
    ]
    assert len(ex_blocks) <= 2, len(ex_blocks)


def test_q21_two_distincts_one_pass_no_expand(spark):
    """Q21's contract: BOTH exact distinct counts (all suppliers /
    late suppliers per order) come from collect_set in a single
    aggregation pass — a two-countDistinct agg would insert an
    Expand that doubles the fact rows entering the orderkey
    shuffle. The per-order sets aggregate map-side
    (ObjectHashAggregate partials), the supplier⋈nation⋈region
    chain broadcasts, and the top-100 is a TakeOrdered heap."""
    f = facts("q21_suppliers_kept_waiting", spark)
    assert "Expand" not in f.text, "distinct counts must not Expand the fact"
    assert "ObjectHashAggregate" in f.text
    assert "CartesianProduct" not in f.text
    assert "TakeOrderedAndProject" in f.text
    assert f.n_broadcast_joins >= 1
    assert f.n_sortmerge_joins == 0
    assert f.partial_agg


def test_boilerplate_scrub_shuffles_hashes_not_strings(spark):
    """The segment-frequency aggregate must key on the 60-bit md5
    segment hash (8-byte shuffle keys), never the segment strings;
    no cartesian anywhere; the doc reassembly keeps map-side
    partials."""
    f = facts("boilerplate_segment_scrub", spark)
    assert "CartesianProduct" not in f.text
    assert f.partial_agg
    # the df-count aggregate groups by seg_hash, not seg
    import re

    agg_keys = re.findall(r"Keys \[1\]: \[(\w+)", f.text)
    assert any("seg_hash" in k for k in agg_keys), agg_keys
    # r18 guard convention (pin the frame BEING checkpointed): the
    # segment stream is materialized once behind a localCheckpoint —
    # its derivation must stay a MAP-ONLY projection of the scan
    # (tokenize + posexplode + md5), never grow an exchange the
    # barrier would then hide from this test.
    from project_orbit_spark.catalog import load
    from project_orbit_spark.operators.corpus import doc_segments

    pre = audit(
        doc_segments(load(spark, SF_DIR, "documents").select("doc_id", "text"))
    )
    assert pre.n_shuffles == 0, "doc_segments must be exchange-free"
    assert "md5" in pre.text
    # the frame the scrub checkpoints: one row per document, its
    # segment array built map-only with the md5 inside
    from project_orbit_spark.operators.corpus import doc_segment_arrays

    arrays = audit(
        doc_segment_arrays(load(spark, SF_DIR, "documents").select("doc_id", "text"))
    )
    assert arrays.n_shuffles == 0, "doc_segment_arrays must be exchange-free"
    assert "md5" in arrays.text
    assert "Generate" not in arrays.text


def test_ccnet_bands_cutoffs_are_literals_and_banding_is_map_only(spark):
    """The tercile cutoffs come to the driver from the BOUNDED
    distinct-score table and return as two double literals: the plan
    after the scores barrier holds no single-partition exchange, no
    window, no cartesian and no join — banding is a projection, and
    the only exchange left is the output's doc_id sort."""
    import re

    f = facts("ccnet_perplexity_bands", spark)
    assert "SinglePartition" not in f.text
    assert "Window" not in f.text
    assert "CartesianProduct" not in f.text
    assert "Join" not in f.text
    exchanges = re.findall(r"^\(\d+\) Exchange\n.*\nArguments: (\w+)", f.text, re.M)
    assert exchanges == ["rangepartitioning"], f.text
    assert "rangepartitioning(doc_id" in f.text


def test_leakage_split_is_map_only_after_labels(spark):
    """The split projection must add nothing to the canonical-corpus
    plan but a map: no extra shuffle, no cartesian, no window."""
    f = facts("leakage_safe_split", spark)
    base = facts("dedup_canonical_corpus", spark)
    assert "CartesianProduct" not in f.text
    assert f.n_shuffles <= base.n_shuffles + 1  # the final orderBy only


def test_vocab_oov_topk_is_take_ordered_broadcast(spark):
    """The vocabulary must be a TakeOrdered heap over the bounded
    distinct-token aggregate — never a corpus-wide sort or rank
    window — and the K-row vocab must broadcast back over the token
    stream."""
    f = facts("vocab_coverage_oov", spark)
    assert "TakeOrderedAndProject" in f.text
    assert "Window" not in f.text
    assert f.n_broadcast_joins >= 1
    assert f.partial_agg
    assert "CartesianProduct" not in f.text


def test_next_fit_packer_is_grouped_pandas_one_shuffle(spark):
    """The non-associative per-shard scan must run as ONE grouped
    Arrow stage: a single (lang, shard) exchange feeding
    FlatMapGroupsInPandas — no window, no join, no second shuffle
    before the output ordering."""
    f = facts("pack_sequences_next_fit", spark)
    assert "FlatMapGroupsInPandas" in f.text
    assert "Window" not in f.text
    assert f.n_broadcast_joins == 0 and f.n_sortmerge_joins == 0
    assert "CartesianProduct" not in f.text


def test_incremental_vocab_probes_persisted_index(spark):
    """The O(new) contract: the batch face must probe the PERSISTED
    vocab artifact (InMemoryTableScan after warm_vocab), broadcast
    it, and never re-aggregate the fitted corpus inside the scoring
    plan."""
    from project_orbit_spark.functions.textquality import warm_vocab
    from tests.conftest import SF_DIR

    warm_vocab(spark, SF_DIR)
    f = facts("incremental_vocab_oov", spark)
    assert "InMemoryTableScan" in f.text, "vocab must come from the persisted index"
    assert f.n_broadcast_joins >= 1
    assert "CartesianProduct" not in f.text
    assert f.partial_agg


def test_curation_training_gold_stage_order(spark):
    # the composed curation pipeline: cluster labels must broadcast
    # back onto the gated spine, pair candidates must come from the
    # LSH band equi-join (never cartesian), and the packing stage is
    # the only applyInPandas (ArrowEvalPython/FlatMapGroupsInPandas)
    # node. Stage-order SEMANTICS (scrub before pairs, gate before
    # packing) are pinned functionally in test_properties.py::
    # test_curation_pipeline_stage_order_semantics.
    f = facts("curation_training_gold", spark)
    assert "CartesianProduct" not in f.text
    assert f.n_broadcast_joins >= 1, "cluster labels must broadcast onto the spine"
    # exactly one pandas stage — the next-fit packing walk. The
    # formatted plan prints each node twice (tree + detail section),
    # so compare against the standalone packer, whose plan has
    # exactly one such stage by test_next_fit_packer_is_grouped_pandas.
    base = facts("pack_sequences_next_fit", spark)
    assert (
        f.text.count("FlatMapGroupsInPandas")
        == base.text.count("FlatMapGroupsInPandas")
    ), "the composed pipeline must add no pandas stage beyond the packer"


def test_incremental_curation_is_batch_side_only(spark):
    # the incremental face: no cartesian anywhere, exactly one pandas
    # stage (the packer), and the persisted artifacts appear as
    # in-memory scans (the base corpus is never re-derived in the
    # batch plan — its derivations live inside the cached relations)
    f = facts("incremental_curation_gold", spark)
    assert "CartesianProduct" not in f.text
    base = facts("pack_sequences_next_fit", spark)
    assert (
        f.text.count("FlatMapGroupsInPandas")
        == base.text.count("FlatMapGroupsInPandas")
    )
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text


def test_warm_dup_pairs_is_cached_and_identical(spark):
    """The shared pair-graph face (VERDICT r11 ask #5): the second
    call must return the SAME persisted DataFrame (no re-derive) and
    its rows must equal the raw minhash_lsh_near_dups plan's — the
    consumers swap plans for the artifact with zero semantic drift.
    (The cache node does not survive into dedup_canonical_corpus's
    FINAL plan: connected_components consumes the pairs during its
    eager label-propagation checkpoints, so the output plan reads
    the checkpointed labels RDD instead.)"""
    from project_orbit_spark.operators.dedup import (
        minhash_lsh_near_dups,
        warm_dup_pairs,
    )

    a = warm_dup_pairs(spark, SF_DIR)
    b = warm_dup_pairs(spark, SF_DIR)
    assert a is b, "second call must hit the session cache"
    got = {tuple(r) for r in a.collect()}
    raw = {tuple(r) for r in minhash_lsh_near_dups(spark, SF_DIR).collect()}
    assert got == raw and got, "cached pair graph drifted from the raw plan"


def test_label_broadcast_is_gated_not_forced(spark, monkeypatch):
    """VERDICT r12 #1: near-dup cluster MEMBERSHIP scales with corpus
    redundancy, so its join onto the corpus spine must be size-gated,
    never force-broadcast. Under the bound the analyzed plan carries
    the hint; with the bound patched to 0 the gate declines (no hint —
    the strategy is left to AQE's runtime sizes) and the results are
    IDENTICAL, proving the gate is a hint-only change. Every consumer
    of dedup.join_clusters is held to it, corpus_curation_gold (found
    by the round-13 broadcast audit) included."""
    from project_orbit_spark.gold.pipelines import corpus_curation_gold
    from project_orbit_spark.operators import dedup

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    faces = (dedup.dedup_canonical_corpus, dedup.dedup_quality_canonical, corpus_curation_gold)
    want = {}
    for fn in faces:
        hinted = fn(spark, SF_DIR)
        assert "ResolvedHint" in analyzed(hinted), f"{fn.__name__}: under the bound, a hint"
        want[fn] = [tuple(r) for r in hinted.collect()]
        assert want[fn], "fixture corpus must be non-empty"

    monkeypatch.setattr(dedup, "LABEL_BROADCAST_BOUND", 0)
    for fn in faces:
        declined = fn(spark, SF_DIR)
        assert "ResolvedHint" not in analyzed(declined), f"{fn.__name__}: over it, AQE decides"
        assert [tuple(r) for r in declined.collect()] == want[fn], fn.__name__


def test_curation_gold_label_gate_follows_the_bound(spark, monkeypatch):
    """The composed curation pipeline's canon join goes through the
    same gate (corpus.py): bound=0 must strip every broadcast hint
    from the labels join while leaving the packing output unchanged."""
    from project_orbit_spark.operators import corpus, dedup

    hinted = corpus.curation_training_gold(spark, SF_DIR)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    want = [tuple(r) for r in hinted.collect()]

    monkeypatch.setattr(dedup, "LABEL_BROADCAST_BOUND", 0)
    declined = corpus.curation_training_gold(spark, SF_DIR)
    assert "ResolvedHint" not in (
        declined._jdf.queryExecution().analyzed().toString()
    )
    assert [tuple(r) for r in declined.collect()] == want


def test_first_wins_dedup_aggregates_not_windows(spark):
    # the first-occurrence table MUST be a partial-aggregable
    # min(struct) (hot segments collapse map-side), never a
    # row_number window over seg_hash (one reducer sorts every copy
    # of the hottest segment at 100 TB); the flag join back is
    # hash-keyed, never a nested loop
    f = facts("segment_dedup_first_wins", spark)
    assert f.partial_agg, "first-occurrence derivation must partial-aggregate"
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_incremental_segment_dedup_never_broadcasts_index(spark):
    # the seen-segment index scales with corpus distinct-segment
    # count — it must reach the join as a plain keyed side, and the
    # within-batch firsts must partial-aggregate like the offline face
    from project_orbit_spark.operators.corpus import warm_segment_index

    warm_segment_index(spark, SF_DIR)  # warm outside the audited plan
    f = facts("incremental_segment_dedup", spark)
    assert f.partial_agg
    assert "CartesianProduct" not in f.text


def test_matryoshka_funnel_broadcasts_queries_once(spark):
    # query set broadcasts, corpus streams once at prefix width; no
    # cartesian, and the shortlist rerank must not re-scan the corpus
    f = facts("matryoshka_funnel_topk", spark)
    assert f.n_broadcast_joins >= 1, "query set must broadcast; corpus streams"
    assert "CartesianProduct" not in f.text


def test_context_snippets_embeddings_need_no_join(spark):
    # the stub embeddings of both sides are pure expressions over the
    # documents scan: no join anywhere in the plan
    f = facts("context_snippets_format", spark)
    assert "Join" not in f.text


@pytest.mark.parametrize(
    "name",
    [
        "cosine_topk_exact",
        "matryoshka_funnel_topk",
        "context_snippets_format",
        "rag_dashboard_gold",
        "blog_index_article_links",
    ],
)
def test_topk_ranks_behind_one_key_exchange_with_partial_limit(name, spark):
    # a per-key top-k over a corpus-sized input must not funnel the
    # corpus into |keys| reducers: below each rank window the first
    # exchange is the one hash exchange on the rank key, and right
    # under it a partial WindowGroupLimit keeps <= k rows per key in
    # each map partition; no salt column, no second rank exchange
    import re

    from project_orbit_spark.plans.audit import simple_plan

    text = simple_plan(registry.get_query(name).fn(spark, SF_DIR))
    assert "salt" not in text
    assert "CartesianProduct" not in text
    lines = text.splitlines()
    windows = [
        (i, m.group(1))
        for i, line in enumerate(lines)
        if (m := re.search(r"Window \[row_number\(\) windowspecdefinition\((\w+#\d+L?), ", line))
    ]
    assert windows, "the top-k must rank with a row_number window"
    for i, key in windows:
        below = next(j for j in range(i + 1, len(lines)) if "Exchange" in lines[j])
        assert f"Exchange hashpartitioning({key}, " in lines[below], lines[below]
        assert re.search(
            rf"WindowGroupLimit \[{re.escape(key)}\], .*, Partial$", lines[below + 1]
        ), lines[below + 1]
        assert len(re.findall(rf"Exchange hashpartitioning\({re.escape(key)}, ", text)) == 1


def test_gopher_signals_single_corpus_pass(spark):
    # ONE flatten+explode produces the (n, gram) stream for all n —
    # the plan must contain exactly one Generate (explode) node, and
    # the count aggregate must have a map-side partial phase
    import re

    f = facts("gopher_repetition_signals", spark)
    nodes = set(re.findall(r"Generate \((\d+)\)", f.text))
    assert len(nodes) == 1, f"n-gram stream must be one explode: {nodes}"
    assert f.partial_agg


def test_bpe_tokenize_join_is_broadcast_and_partial_agg(spark):
    # the word->n_subtokens map is vocab-sized (checkpoint-backed) and
    # must broadcast into the exploded-corpus join under the gate; the
    # per-doc count/sum aggregate must map-side combine; and the
    # corpus must never cartesian against anything
    f = facts("bpe_tokenize_corpus", spark)
    assert f.n_broadcast_joins >= 1, "vocab map must broadcast at this scale"
    assert "CartesianProduct" not in f.text
    assert f.partial_agg


def test_incremental_dsir_scores_against_persisted_model(spark):
    """The O(new) contract (the incremental_vocab assertion set): the
    batch face must read the PERSISTED lm + stats (InMemoryTableScan
    after warm_dsir_lm — the cached relations textually embed their
    original fit plans in .explain, so scan-counting would overcount
    non-executing subtrees), broadcast the 1024-row model, and
    partial-aggregate the per-doc regroup."""
    from project_orbit_spark.functions.textquality import warm_dsir_lm

    warm_dsir_lm(spark, SF_DIR)  # warm outside the audited plan
    f = facts("incremental_dsir_weights", spark)
    assert "InMemoryTableScan" in f.text, "lm must come from the persisted model"
    assert f.n_broadcast_joins >= 1
    assert "CartesianProduct" not in f.text
    assert f.partial_agg


def test_lm_vocab_joins_are_never_static_broadcasts(spark):
    # r16 burn-down (VERDICT r15 ask #1): the LM count tables
    # (bigram c2 carrying the context count c1, unigram freq) are
    # corpus-growing, token-string-valued derived builds — the
    # compressible class AQE misjudges from compressed shuffle bytes
    # (the ngram_jaccard_pairs r14 OOM mechanism, docs/SCALE.md).
    # score_with_lm pins shuffle_hash on both vocab joins for full-fit
    # callers. (The formatted plan prints each node twice, so two
    # joins read as four occurrences.)
    # Inherited by the curation golds through bigram_scores — this
    # test is the standing contract for the whole full-fit family.
    # r18 (VERDICT r17 #1): ccnet_perplexity_bands checkpoints its
    # scores, which truncates the consumer plan to Scan ExistingRDD —
    # so the guard audits the frame BEING checkpointed (ccnet_scores,
    # the exact pre-barrier subtree) instead of the consumer. Guard
    # convention for every localCheckpoint site: pin the plan of the
    # checkpointed frame, not the plan downstream of the barrier.
    import re

    from project_orbit_spark.functions.textquality import ccnet_scores

    for name, frame, min_shj in (
        ("unigram_logprob_scores", None, 1),
        ("bigram_logprob_scores", None, 3),
        ("ccnet_perplexity_bands", ccnet_scores(spark, SF_DIR), 3),
    ):
        f = audit(frame) if frame is not None else facts(name, spark)
        assert f.text.count("ShuffledHashJoin") >= min_shj, (
            f"{name}: vocab joins must shuffle, not broadcast"
        )
        for m in re.finditer(r"BroadcastHashJoin \[([^\]]*)\]", f.text):
            keys = m.group(1)
            assert not any(k in keys for k in ("token", "w1", "w2")), (
                f"{name}: vocab join static-broadcast regressed on [{keys}]"
            )


def test_score_with_lm_unpinned_face_keeps_batch_broadcastable(spark):
    # The incremental face (operators/corpus.py stage 2) passes
    # pin_vocab=False: its count tables are PERSISTED artifacts whose
    # InMemoryRelation stats are exact, and the O(new) batch is the
    # right broadcast side at 100 TB. Assert the flag actually
    # controls the plan: pinned → both vocab joins ShuffledHashJoin,
    # unpinned on small frames → the planner stays free to broadcast.
    # Either way the context count rides the bigram table, so no join
    # is keyed on w1 alone.
    import re

    from project_orbit_spark.functions.textquality import (
        doc_bigrams,
        freq_total,
        lm_count_tables,
        score_with_lm,
    )

    d = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a b d")], ["doc_id", "text"]
    )
    big = doc_bigrams(d)
    c2, freq = lm_count_tables(d)
    tables = (c2, freq, freq_total(freq))
    pinned = score_with_lm(big, *tables)
    free = score_with_lm(big, *tables, pin_vocab=False)
    pinned_plan = pinned._jdf.queryExecution().executedPlan().toString()
    free_plan = free._jdf.queryExecution().executedPlan().toString()
    assert pinned_plan.count("ShuffledHashJoin") == 2, pinned_plan
    assert "ShuffledHashJoin" not in free_plan, (
        "pin_vocab=False must leave join strategy to the planner"
    )
    for plan in (pinned_plan, free_plan):
        keys = re.findall(r"Join \[([^\]]*)\]", plan)
        assert keys and not any(re.fullmatch(r"w1#\d+", k.strip()) for k in keys), keys


def test_vocab_oov_broadcasts_only_the_topk(spark):
    # r16 burn-down adjudication: vocab_coverage_oov was classified
    # with the LM vocab joins, but its broadcast build is the
    # TakeOrdered top-K vocabulary — bounded to VOCAB_TOP_K rows BY
    # THE LIMIT OPERATOR, explicitly F.broadcast-ed (no size estimate
    # anywhere, so the AQE compression-blowup mechanism cannot apply).
    # A shuffle_hash pin would pessimize: it would shuffle the
    # corpus-sized exploded token stream to meet a K-row table. The
    # contract: the broadcast subtree contains the TakeOrdered limit;
    # the corpus token stream stays probe-side (no shuffle exchange
    # between the documents scan and the join's streamed side).
    # ADVICE r16 #3: scan EVERY BroadcastExchange subtree (the first
    # one in print order is not guaranteed to be the vocab build —
    # plan reordering or a benign reused exchange printing first made
    # the old next(...) version spuriously brittle), mirroring
    # _fact_derived_broadcasts' full-subtree walk: at least one build
    # must be the TakeOrdered limit-K vocab, and none may be an
    # unbounded frame derived from the corpus token stream.
    f = facts("vocab_coverage_oov", spark)
    assert f.n_broadcast_joins >= 1, "the K-row vocab must broadcast"
    lines = f.text.splitlines()
    subtrees = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        indent = len(ln) - len(ln.lstrip(" :+-"))
        sub = []
        for nxt in lines[i + 1 :]:
            ni = len(nxt) - len(nxt.lstrip(" :+-"))
            if ni <= indent:
                break
            sub.append(nxt)
        subtrees.append("\n".join(sub))
    assert subtrees, "n_broadcast_joins >= 1 but no BroadcastExchange printed"
    assert any("TakeOrderedAndProject" in s for s in subtrees), (
        "no broadcast build is the limit-K vocab — the bounded-build "
        "adjudication no longer holds"
    )
    for s in subtrees:
        assert not (
            "documents.parquet" in s and "TakeOrderedAndProject" not in s
        ), "a corpus-derived UNBOUNDED frame is being broadcast"


def test_winnowing_pair_joins_never_static_broadcast(spark):
    # r15 pins + r16 build-shrink: the fingerprint tables grow with
    # the corpus, so the pair join must ride shuffle joins with the
    # rare-guard-filtered occurrence table as build — a static
    # BroadcastHashJoin keyed on fp is the ngram OOM class.
    import re

    for name in ("winnowing_match_pairs", "winnowing_match_audit"):
        f = facts(name, spark)
        assert "CartesianProduct" not in f.text, name
        for m in re.finditer(r"BroadcastHashJoin \[([^\]]*)\]", f.text):
            keys = m.group(1)
            assert "fp" not in keys and not re.search(r"\bg#\d", keys), (
                f"{name}: pair join static-broadcast regressed on [{keys}]"
            )


def test_simhash_pair_shuffle_carries_packed_words(spark):
    # r17 representation change: the band-explode self-join must
    # carry n_words packed longs, never the 64-element bit array —
    # and hamming must be bit_count(xor), not a zip_with aggregate.
    # The array form paid ~30x the shuffle bytes per exploded band
    # row on BOTH join sides of the heaviest bench tier.
    for name in ("simhash_hamming_dups", "simhash64_hamming_dups"):
        f = facts(name, spark)
        assert "bit_count" in f.text, f"{name}: hamming must be bit_count(xor)"
        assert "zip_with" not in f.text, (
            f"{name}: array-valued hamming aggregate regressed"
        )


def test_simhash_banded_rows_are_packed_before_the_barrier(spark):
    # r18 (ADVICE r17 #2): _simhash_pairs localCheckpoints the banded
    # rows, so the consumer-plan assertions above can no longer see
    # the signature-derivation subtree (Scan ExistingRDD). Audit the
    # frame BEING checkpointed: _packed_banded's output schema must be
    # scalar longs (never an array column crossing the barrier) and
    # its plan must not regress to the zip_with array aggregate.
    from pyspark.sql import types as T

    from project_orbit_spark.catalog import load
    from project_orbit_spark.operators.dedup import _packed_banded

    corpus = load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    for n_words, band_bits in ((1, 8), (2, 16)):
        b = _packed_banded(corpus, n_words=n_words, band_bits=band_bits)
        assert not any(
            isinstance(fld.dataType, T.ArrayType) for fld in b.schema.fields
        ), "banded shuffle rows must carry packed longs, never arrays"
        for w in range(n_words):
            assert isinstance(b.schema[f"w{w}"].dataType, T.LongType)
        f = audit(b)
        assert "zip_with" not in f.text, (
            "array-valued signature derivation regressed upstream of "
            "the checkpoint barrier"
        )


# Registered faces whose output sort is catalog.sort_bounded: a final
# aggregate over a bounded key domain or a rank-filtered top-k.
SORT_BOUNDED_FACES = (
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "q7_nation_pair_volume",
    "q8_nation_market_share",
    "q9_nation_profit",
    "q12_delay_bucket_priority",
    "q17_small_quantity_revenue",
    "dashboard_report_table",
    "cosine_topk_exact",
    "ann_ivf_topk",
    "ann_ivf_topk_warm",
    "ann_ivf_pq_topk",
    "ann_ivf_pq_topk_warm",
    "ann_ivf_nprobe2",
)


def _under_coalesce_one(simple: str) -> list[tuple[str, str]]:
    """(node name, plan line) of each operator below ``Coalesce 1``
    down to the first exchange, Projects skipped."""
    lines = [ln.lstrip(" :+-*()0123456789") for ln in simple.splitlines()]
    start = next(i for i, ln in enumerate(lines) if ln.startswith("Coalesce 1"))
    below = []
    for ln in lines[start + 1 :]:
        name = ln.split(" ")[0].split("(")[0]
        if name == "Exchange":
            break
        if name != "Project":
            below.append((name, ln))
    return below


@pytest.mark.parametrize("name", SORT_BOUNDED_FACES)
def test_bounded_sort_is_one_partition_over_a_bounded_stage(spark, name):
    # sort_bounded plans no range exchange (no sampling job, no range
    # map job), and what coalesce(1) pulls into the one final task is
    # a final aggregate or a rank filter over the last exchange
    from project_orbit_spark.plans.audit import simple_plan

    q = registry.get_query(name)
    if q.prepare is not None:
        q.prepare(spark, SF_DIR)
    simple = simple_plan(q.fn(spark, SF_DIR))
    assert "rangepartitioning" not in simple, name
    below = _under_coalesce_one(simple)
    names = [n for n, _ in below]
    final_agg = names[0] == "HashAggregate" and "partial_" not in below[0][1]
    rank_filter = names[:2] == ["Filter", "Window"]
    assert final_agg or rank_filter, (name, names)


def test_corpus_scaled_sort_keeps_its_range_exchange(spark):
    # risk_lexicon_scan returns one row per matching document: its
    # output grows with the corpus, so it keeps the distributed sort
    f = facts("risk_lexicon_scan", spark)
    assert "rangepartitioning" in f.text
    assert "Coalesce 1" not in f.text


def test_signature_hashes_md5_once_without_barriers(spark):
    # With the barrier repartitions taken out, the optimizer keeps one
    # md5 per shingle (minhash) and one per token and word (2-word
    # simhash): CollapseProject does not merge the hash projection
    # into the lambdas that read it. The barriers in
    # _banded_signatures and simhash_bits are for parallelism on a
    # one-row-group scan, not for this
    from project_orbit_spark.catalog import load
    from project_orbit_spark.operators.dedup import (
        minhash_signature_int,
        shingle_hashes,
        simhash_vote_bits,
        simhash_word_hashes,
        word_shingles,
    )

    from pyspark.sql import functions as F

    d = load(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    sig = d.select(
        "doc_id", shingle_hashes(word_shingles("text", 3)).alias("hs")
    ).select("doc_id", minhash_signature_int(F.col("hs")).alias("sig"))
    bits = d.select("doc_id", "lang", *simhash_word_hashes(2)).select(
        "doc_id", "lang", simhash_vote_bits(2).alias("bits")
    )
    for frame, want in ((sig, 1), (bits, 2)):
        optimized = frame._jdf.queryExecution().optimizedPlan().toString()
        assert optimized.count("md5(") == want, optimized.count("md5(")
