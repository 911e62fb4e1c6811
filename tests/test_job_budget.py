"""Job budgets: the Spark jobs a call runs, counted in its own
status-tracker job group. sf0.1 is bound by per-job latency, so these
pin the job counts of the paths that were cut, not their timings.
These are cold calls and engine-level gates; the per-query counts of
warm requests are in tests/test_job_ledger.py."""

import uuid

import pytest
from pyspark.sql import functions as F

import bench
from perfbench.layers import Recorder
from tests.conftest import SF_DIR


def jobs_of(spark, fn) -> int:
    """Run ``fn`` in a job group of its own and return how many jobs it
    ran, counted by ``bench.counts``."""
    rec = Recorder(spark.sparkContext, f"budget-{uuid.uuid4().hex}")
    rec.run("tests", "fn", 0, fn)
    return bench.counts(spark.sparkContext, rec.calls[-1].group)["jobs"]


def test_curation_training_gold_job_budget(spark):
    """The composed curation pipeline, build plus collect, with the
    documents schema resolved: one-shuffle propagation rounds, counted
    barriers instead of probe jobs, the LM total and the band n read
    off the barriers, no cluster-size join, the boilerplate df in one
    exchange, the LM context counts off the bigram table, the tercile
    cutoffs collected to the driver and no gated barrier (48 jobs
    before the first of these cuts, 34 before the last four)."""
    from project_orbit_spark.catalog import load
    from project_orbit_spark.operators.corpus import curation_training_gold

    load(spark, SF_DIR, "documents")
    n = jobs_of(spark, lambda: curation_training_gold(spark, SF_DIR).toPandas())
    assert 0 < n <= 30, n


@pytest.mark.parametrize(
    "name, budget",
    [
        ("ccnet_perplexity_bands", 15),
        ("bigram_logprob_scores", 12),
        ("boilerplate_segment_scrub", 7),
    ],
)
def test_curation_statistic_job_budget(spark, name, budget):
    """Each curation statistic costs the one exchange it needs: the
    boilerplate df is a plain count over each document's distinct
    segment hashes (not a two-exchange countDistinct), the LM context
    counts are a window over the bigram table's w1 exchange (not a
    second aggregate of the bigram stream and a join), and the tercile
    cutoffs are two driver-side numbers (not a single-partition window
    and a cross join). 17, 13 and 8 jobs before."""
    from project_orbit_spark import registry
    from project_orbit_spark.catalog import load

    load(spark, SF_DIR, "documents")
    q = registry.get_query(name)
    n = jobs_of(spark, lambda: q.fn(spark, SF_DIR).toPandas())
    assert 0 < n <= budget, n


def test_propagation_round_job_budget(spark):
    """One propagation round under the broadcast bound is the labels
    broadcast, the grouped-min shuffle and the checkpoint: ≤3 jobs.
    Two chains whose diameters differ by one need exactly one round
    more, so the difference of their job counts is one round's jobs."""
    from project_orbit_spark.operators.graph import connected_components

    def chain(length):
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(length)], "src long, dst long"
        )
        return jobs_of(spark, lambda: connected_components(df))

    short, longer = chain(4), chain(5)
    assert 0 < longer - short <= 3, (short, longer)


def test_counted_frame_gates_broadcast_without_a_job(spark):
    """A stage barrier carries its row count, so the broadcast gate
    answers from it on both sides of the bound and runs no probe job."""
    from project_orbit_spark.catalog import maybe_broadcast, observed, stage

    side = stage(spark.range(0, 40).select(F.col("id").alias("k")), "side")
    assert observed(side)["rows"] == 40
    got = {}
    n = jobs_of(
        spark,
        lambda: got.update(
            under=maybe_broadcast(side, 100, probe=side),
            over=maybe_broadcast(side.select("k"), 10, probe=side),
        ),
    )
    assert n == 0
    assert "ResolvedHint" in got["under"]._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in got["over"]._jdf.queryExecution().analyzed().toString()


def test_cc_fallback_gates_the_label_join_without_a_job(spark):
    """When propagation runs out of rounds on a long chain, the
    large-star/small-star result is a stage barrier too, so the
    size-gated label join reads its observed row count: building it
    runs no job (4 probe jobs when the fallback's result was an
    uncounted union)."""
    from project_orbit_spark.operators.dedup import join_clusters
    from project_orbit_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "left_id long, right_id long"
    )
    cc = connected_components(edges, "left_id", "right_id", max_iter=6)
    docs = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    got = {}
    assert jobs_of(spark, lambda: got.update(j=join_clusters(docs, cc))) == 0
    assert {r.cluster_id for r in got["j"].filter("doc_id <= 16").collect()} == {0}


@pytest.mark.parametrize("name, budget", [("bpe_learn_merges", 27), ("bpe_tokenize_corpus", 31)])
def test_bpe_fit_job_budget(spark, name, budget):
    """The BPE merge loop reads pair exhaustion off each argmax
    barrier's observed row count, and the tokenize face gates its vocab
    broadcast on the fit's last barrier: no ``take(1)`` job per round
    and no probe job (33 and 39 jobs with them, documents' schema
    resolved)."""
    from project_orbit_spark import registry
    from project_orbit_spark.catalog import load

    load(spark, SF_DIR, "documents")
    q = registry.get_query(name)
    n = jobs_of(spark, lambda: q.fn(spark, SF_DIR).toPandas())
    assert 0 < n <= budget, n


def test_second_load_of_a_table_runs_no_job(spark, tmp_path):
    """A table's schema is inferred once per session: the first load of
    a path runs the footer-reading job, every later load runs none."""
    import shutil

    from project_orbit_spark.catalog import load

    shutil.copy(f"{SF_DIR}/documents.parquet", tmp_path / "documents.parquet")
    first = jobs_of(spark, lambda: load(spark, str(tmp_path), "documents"))
    second = jobs_of(spark, lambda: load(spark, str(tmp_path), "documents"))
    assert first >= 1
    assert second == 0


def test_q1_after_a_warm_load_job_budget(spark):
    """With lineitem's schema resolved, q1 (build plus collect) runs
    only its aggregation's map job and the final stage: no inference
    job, and its 6-group sort plans no range-sampling or range-shuffle
    job (4 with them)."""
    from project_orbit_spark.catalog import load
    from project_orbit_spark.operators.relational import q1_pricing_summary

    load(spark, SF_DIR, "lineitem")
    n = jobs_of(spark, lambda: q1_pricing_summary(spark, SF_DIR).toPandas())
    assert 0 < n <= 2, n


@pytest.mark.parametrize("name", ["rollup_order_stats", "cube_order_stats", "grouping_sets_orders_sql"])
def test_grouping_set_face_job_budget(spark, name):
    """A grouping-set face (build plus collect, orders' schema
    resolved) sorts its 19, 32 or 9 rows in one partition: its
    aggregation's jobs and the final stage, no range-sampling or
    range-shuffle job (5 with them)."""
    from project_orbit_spark import registry
    from project_orbit_spark.catalog import load

    load(spark, SF_DIR, "orders")
    q = registry.get_query(name)
    n = jobs_of(spark, lambda: q.fn(spark, SF_DIR).toPandas())
    assert 0 < n <= 3, n


def warm_request_jobs(spark, name) -> int:
    """Jobs of one warm request under the ledger's protocol
    (``bench.measure``: clean session state, prepare hook, one untimed
    serve, then one counted build plus collect)."""
    return bench.measure(spark, SF_DIR, [name], reps=1)[name]["counts"]["jobs"]


# ann_ivf_topk_warm and cosine_topk_exact each sit in two budget families,
# so one ledger row cannot carry both: the looser bounded-sort budget and
# the one-rank-exchange budget keep their cases here. Every other case of
# these families is a row of tests/test_job_ledger.py.
@pytest.mark.parametrize("name, budget", [("ann_ivf_topk_warm", 5), ("cosine_topk_exact", 4)])
def test_bounded_sort_request_job_budget(spark, name, budget):
    """A warm serving request (its prepare hook run and the query
    served once) sorts its bounded result in one partition: two jobs
    fewer than a range-partitioned sort (7 and 6 with it)."""
    n = warm_request_jobs(spark, name)
    assert 0 < n <= budget, n


@pytest.mark.parametrize("name, budget", [("ann_ivf_topk_warm", 4), ("cosine_topk_exact", 3)])
def test_one_rank_exchange_job_budget(spark, name, budget):
    """A per-key top-k ranks behind one key exchange (its rank <= k
    filter plans a partial WindowGroupLimit below it, no salted first
    rank), and the warm IVF request routes off the stored packed route
    table (no single-partition packing of the centroids). Warm, prepare
    hook run: 5 and 4 jobs with the salted ranks and the per-request
    packing."""
    n = warm_request_jobs(spark, name)
    assert 0 < n <= budget, n
