"""Full-registry physical-plan audit for scale hazards.

Builds every registered query's executed plan at sf0.001 (plan shape,
not timing — the physical strategy is identical at any SF thanks to
AQE-free plan inspection on the unexecuted DataFrame) and flags:

- ``CartesianProduct`` anywhere: always a bug at 100 TB. Expected: none.
- ``BroadcastNestedLoopJoin`` outside the known-bounded allowlist:
  a BNLJ is fine iff its build side is a broadcast of a bounded
  relation (a ≤256-row centroid table, a pattern grid, a single
  stats/threshold row, one query vector). Every allowlisted query
  below was hand-audited to have such a build side; a NEW name in the
  BNLJ set means a new unbounded-risk join that needs the same audit.

Usage: python tools/plan_audit.py [sf_dir]
Exit code 0 iff no cartesians, no errors, and no un-allowlisted BNLJ.

Round-9 audit result: CARTESIAN=[], ERRORS=[], BNLJ = exactly the
allowlist below (31 queries, all bounded builds — r9 adds the packed
1-row k-means centroid builds and the Q15/Q22 stats-row builds).
Round-12 audit result (206-query registry): CARTESIAN=[], ERRORS=[],
BNLJ = the allowlist (37 queries — r12 adds ccnet_perplexity_bands
and stream_cluster_assign_batch, registered r11 after the last full
audit, plus the composed curation_training_gold; all three carry
only 1-row broadcast builds, see the inline comment).
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from project_orbit_spark import registry  # noqa: E402
from project_orbit_spark.session import get_spark  # noqa: E402

# Queries whose BNLJ build side is a broadcast of a bounded relation
# (hand-audited round 8; see each query's docstring for the bound).
BNLJ_BOUNDED = {
    # ANN family: ≤256-row centroid / codebook tables
    "ann_ivf_nprobe2", "ann_ivf_pq_topk", "ann_ivf_pq_topk_warm",
    "ann_ivf_topk", "ann_ivf_topk_warm", "nearest_centroid_assign",
    # single query vector / query-term rows
    "bm25_keyword_topk", "cosine_topk_exact", "filtered_topk_with_fallback",
    "hybrid_rrf_topk", "rag_dashboard_gold", "rerank_crossencoder_topk",
    # pattern / probe grids (tens of rows)
    "ats_probe_frontier", "feed_autodiscovery", "fuzzy_translate_join",
    "substring_theta_join", "investor_semi_join", "risk_report_gold",
    # single-row packed k-means centroid table (k=8 structs in one
    # broadcast row; operators/clustering.py::assign_clusters)
    "kmeans_embedding_clusters", "cluster_balanced_sample",
    "kmeans_incremental_assign",
    # single global-stats or threshold rows joined back to the corpus
    "q15_top_supplier", "q22_lapsed_customer_balance",
    "weighted_poisson_sample",
    "benchmark_contamination", "bloom_pruned_join",
    "corpus_mixture_sample", "events_value_histogram", "heavy_hitters_two_pass",
    "key_skew_profile", "tfidf_top_terms", "unigram_logprob_scores",
    # the streaming assign twin broadcasts the single packed-centroid
    # row (k=8 structs in one row, same bound as
    # kmeans_embedding_clusters)
    "stream_cluster_assign_batch",
    # round-13 additions (hand-audited): the Matryoshka funnel
    # broadcasts the 5-row query set (the cosine_topk_exact shape);
    # temperature sampling crossJoins the single (total_docs, z)
    # stats row back onto the BOUNDED per-language table (the
    # corpus_mixture_sample shape — the corpus join itself is an
    # equi hash join on lang)
    "matryoshka_funnel_topk", "temperature_mixture_sample",
    # round-14 additions (hand-audited): the DSIR faces crossJoin
    # 1-row builds — the (ts, tt) totals row into the 1024-row lm,
    # and the (t) / (unseen_q, t) threshold row onto the per-doc /
    # batch table (the q15 global-stats shape); the recall audit
    # inherits cosine_topk_exact's 5-row query broadcast through
    # every tier it wraps; the cluster histogram crossJoins its two
    # 1-row count frames (hand-audited r13, allowlisted now that the
    # audit tool runs it)
    "dsir_importance_weights", "incremental_dsir_weights",
    "ann_recall_audit", "dup_cluster_size_histogram",
    # dedup_pair_audit crossJoins its three 1-row count frames (the
    # same shape as the cluster histogram)
    "dedup_pair_audit",
    # round-16 addition (hand-audited): winnowing_match_audit
    # crossJoins the single 1-row zero-window-count frame onto the
    # 1-row stats aggregate — both bounded at exactly one row
    "winnowing_match_audit",
    # round-17 addition (hand-audited): simhash_match_audit crossJoins
    # its two 1-row verdict aggregates (the Jaccard-ruler stats row ×
    # the cosine-ruler stats row — the dedup_pair_audit shape); both
    # are global aggregates, bounded at exactly one row each
    "simhash_match_audit",
}

# --------------------------------------------------------------------------
# Check 3 (r15): static BroadcastHashJoin builds DERIVED from fact-scale
# tables. Broadcast-risk taxonomy (what this check does and does not flag):
#   1. SCAN-BACKED builds (filter/projection of a parquet scan) are
#      self-correcting: the size estimate is the FILE size, which grows
#      with the data, so the planner stops broadcasting exactly when the
#      table stops fitting. Not flagged (45 such sites exist; all safe by
#      this argument — the r15 interval_join pin among them was a
#      plan-contract alignment, not an OOM fix).
#   2. DERIVED builds (Aggregate/Generate/Window between the scan and the
#      exchange) carry GUESSED stats that do not track data size — the
#      ngram_jaccard_pairs r14 OOM, and r15's tfidf_top_terms + three
#      winnowing sites, were all this shape. AQE re-decides the join at
#      the stage boundary above the build's shuffle, but from COMPRESSED
#      shuffle bytes — and low-entropy text frames (sorted token/shingle
#      vocabularies) compress 5-20x, so a build that reads "40 MB" to AQE
#      can decompress into a GB-plus driver-side HashedRelation during
#      broadcast materialization, which happens BEFORE any further
#      replanning point. That compression blowup is how ngram OOMed with
#      AQE on. The repo's rule: shuffle_hash-pin any derived build that
#      provably grows with the corpus AND is text/array-valued (high
#      compression ratio); numeric 1-row/1024-bucket frames are exempt.
#      THIS is what check 3 flags.
#   3. DERIVED builds with NO exchange underneath would be statically
#      irreversible — the worst case; currently zero such sites exist
#      (derivations always aggregate, which shuffles).
# The detector flags every BroadcastExchange subtree that BOTH scans a
# fact-scale table AND contains an Aggregate/Generate/Window (i.e. is a
# derivation, not a pushed-down dim scan). Every current site below was
# inventoried in the r15 sweep and falls in one of three adjudicated
# tiers (a NEW name means a new derivation riding an unhinted broadcast —
# audit it before allowlisting):
#   GATED   — the build is a maybe_broadcast site whose bound is
#             documented in code (incremental batch faces, scrub gates);
#             at fixture SF the probe passes, so the hint appears here.
#   BOUNDED — the build is bounded by construction: ≤256-row centroid /
#             codebook tables, 1-row global stats / threshold frames,
#             1024-bucket hashed LMs, ≤5-row query sets, pattern grids.
#   SURVIVED-100x — the build grows with the corpus but the query holds a
#             measured 100× decade in docs/SCALE.md under the default
#             heap; these are the r16 burn-down list — each should get a
#             shuffle_hash pin or a measured bound note, most are in the
#             r16 rotation cohort anyway (q2/q17/q18 correlated
#             aggregates, payload_assembly_nested, company_gold_profile,
#             user_retention_cohorts, event_funnel_conversion,
#             salted_skew_join, simhash pair tables, vocab/logprob LM
#             joins, bm25/semantic corpus-derived frames).
FACT_TABLES = ("documents", "embeddings", "events", "lineitem", "orders", "customer")
FACT_BUILD_KNOWN = {
    # GATED (documented bounds at the register/helper sites); the
    # simhash screen's build is its exploded new-batch bands,
    # maybe_broadcast(new_b, INCREMENTAL_BATCH_BOUND, probe=batch_ids)
    "incremental_minhash_dedup", "incremental_simhash_screen",
    "incremental_segment_dedup",
    "incremental_span_contamination", "incremental_vocab_oov",
    "boilerplate_segment_scrub", "segment_dedup_first_wins",
    "repeated_span_mining", "benchmark_contamination",
    "semantic_decontamination", "semantic_dedup_semdedup",
    # BOUNDED by construction
    "ann_ivf_nprobe2", "ann_ivf_pq_topk", "ann_ivf_pq_topk_warm",
    "ann_ivf_topk", "ann_ivf_topk_warm", "ann_recall_audit",
    "lsh_multitable_topk", "bm25_keyword_topk", "hybrid_rrf_topk",
    "rerank_crossencoder_topk", "approx_distinct_audit",
    "approx_percentile_audit", "corpus_report_card",
    "dsir_importance_weights", "incremental_dsir_weights",
    "ccnet_perplexity_bands", "corpus_mixture_sample",
    "temperature_mixture_sample", "quality_ensemble_filter",
    "gopher_repetition_signals", "q15_top_supplier",
    "q22_lapsed_customer_balance", "heavy_hitters_two_pass",
    "bloom_pruned_join", "minhash_lsh_near_dups",
    # r16: the audit's only broadcast build is its 1-row
    # zero-window-count aggregate (pair sets are shuffle_hash-pinned)
    "winnowing_match_audit",
    # SURVIVED-100x (numeric/high-entropy derived builds — AQE's
    # compressed-bytes size reading is honest for these, so demotion
    # is reliable; each holds a measured 100x decade in docs/SCALE.md.
    # Adjudicated DOCUMENT-only in the r16 burn-down.)
    "q2_min_cost_supplier", "q17_small_quantity_revenue",
    "q18_large_order_customers", "payload_assembly_nested",
    "company_gold_profile", "user_retention_cohorts",
    "event_funnel_conversion", "salted_skew_join",
    "simhash_hamming_dups", "simhash64_hamming_dups",
    # PINNED (r16 burn-down executed, VERDICT r15 ask #1): the
    # text-valued corpus-growing LM vocab joins now carry shuffle_hash
    # pins (score_with_lm pin_vocab=True + the unigram freq join);
    # the only derived-fact broadcast left in the unigram scorer's
    # plan is its 1-row total frame — allowlisted for exactly that
    # reason (the bigram scorer reads its total as a scalar subquery
    # and broadcasts nothing). Plan contract: tests/test_plans.py::
    # test_lm_vocab_joins_are_never_static_broadcasts.
    "unigram_logprob_scores",
    # RE-ADJUDICATED BOUNDED (r16): vocab_coverage_oov's broadcast
    # build is the TakeOrdered top-K vocabulary — at most VOCAB_TOP_K
    # rows BY THE LIMIT OPERATOR at any corpus size, and explicitly
    # F.broadcast-ed, so no size ESTIMATE is involved anywhere (the
    # compression-blowup mechanism needs a guessed size; a limit-K
    # materialization cannot blow up). A shuffle_hash pin here would
    # be a pessimization: it would shuffle the corpus-sized exploded
    # token stream to meet a K-row table. Plan contract:
    # tests/test_plans.py::test_vocab_oov_broadcasts_only_the_topk.
    "vocab_coverage_oov",
}


def _fact_derived_broadcasts(plan: str) -> bool:
    # ADVICE r15 #2: scan the FULL subtree (until indentation returns
    # to <= the exchange's level), not a fixed 40-line window — a
    # derivation sitting deeper than 40 lines must not escape the gate.
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        indent = len(line) - len(line.lstrip(" :+-"))
        sub = []
        for nxt in lines[i + 1 :]:
            ni = len(nxt) - len(nxt.lstrip(" :+-"))
            if ni <= indent:
                break
            sub.append(nxt)
        subtxt = "\n".join(sub)
        scans_fact = any(f"{t}.parquet" in subtxt for t in FACT_TABLES)
        derived = (
            "HashAggregate" in subtxt
            or "Generate" in subtxt
            or "Window" in subtxt
        )
        if scans_fact and derived:
            return True
    return False


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    cart, bnlj_new, fact_new, errs = [], [], [], []
    for name, q in sorted(registry.all_queries().items()):
        try:
            df = q.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — audit must cover the rest
            errs.append((name, f"{type(exc).__name__}: {exc}"[:120]))
            continue
        if "CartesianProduct" in plan:
            cart.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_BOUNDED:
            bnlj_new.append(name)
        if (
            "BroadcastHashJoin" in plan
            and name not in FACT_BUILD_KNOWN
            and _fact_derived_broadcasts(plan)
        ):
            fact_new.append(name)
    print("CARTESIAN:", cart)
    print("BNLJ_NEW (not in bounded allowlist):", bnlj_new)
    print("FACT_BUILD_NEW (derived fact-table broadcast, unadjudicated):", fact_new)
    print("ERRORS:", errs)
    return 1 if (cart or bnlj_new or fact_new or errs) else 0


if __name__ == "__main__":
    sys.exit(main())
