"""Streaming twins of the corpus-curation faces: the full incremental
curation pipeline (stream_curate_docs), first-wins segment dedup
against the persisted index (stream_segment_dedup), the
filter-at-ingest ensemble scorer (stream_quality_filter), and the
DSIR importance filter against the persisted hashed-LM model
(stream_dsir_filter).

The 100 TB pattern this pins: the nightly crawl arrives as an
UNBOUNDED stream of documents; each micro-batch is curated end-to-end
(scrub -> LM gate -> near-dup match -> leakage-safe split -> next-fit
pack) against the SESSION-PERSISTED offline artifacts
(operators/corpus.py::warm_curation_artifacts), by the IDENTICAL plan
builder the driver-checked batch face uses (curate_batch). Because
the stage chain contains per-doc aggregates (segment regroup, score
average, the packing walk), the twin runs through ``foreachBatch`` —
the documented Structured Streaming seam for micro-batch logic that
needs full batch semantics — rather than as a single unbounded plan
(contrast stream_cluster_assign, whose map-only chain streams
directly). State is ZERO: every stage is a pure function of (micro-
batch, persisted artifacts), so restarts replay cleanly from the
source offsets.

Batch-boundary semantics are BY DESIGN per micro-batch: near-dup
matching is new-vs-INDEX (two docs arriving in different micro-
batches are matched against the corpus index, never each other —
exactly the incremental face's contract), packing closes packs at
micro-batch end (fresh packs per trigger, the append-only layout a
nightly job produces), and the remix arm's self-join sees only the
trigger's rows. Parity with the batch face is pinned by
tests/test_streaming.py::test_stream_curation_matches_batch
(AvailableNow over the single-file fixture = one micro-batch = the
batch face's exact rows, packing included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from project_orbit_spark.catalog import read_stream


def stream_curate_docs(spark: SparkSession, sf_dir: str, on_batch):
    """Start the curation stream: per micro-batch, synthesize the
    batch arms, run curate_batch against the warm artifacts, and hand
    the CURATED DataFrame to ``on_batch`` (a production caller writes
    it to a partitioned sink or MERGEs it; the parity test collects).
    Returns the StreamingQuery (callers pick the trigger by
    stopping/awaiting). The curated rows stay distributed end-to-end
    — this module never collects.

    The artifacts are warmed ONCE on the driver before the stream
    starts (persisted DataFrames are session-scoped, so every
    micro-batch reuses them — model refresh is a restart-and-swap,
    the lsh.warm_embedding_index contract)."""
    from project_orbit_spark.operators.corpus import (
        _incremental_batch,
        curate_batch,
        warm_curation_artifacts,
    )

    art = warm_curation_artifacts(spark, sf_dir)
    stream = read_stream(spark, sf_dir, "documents").select("doc_id", "text")

    def run_batch(mb: DataFrame, _batch_id: int) -> None:
        on_batch(curate_batch(_incremental_batch(mb), art))

    return (
        stream.writeStream.foreachBatch(run_batch)
        .trigger(availableNow=True)
        .start()
    )


def stream_segment_dedup(spark: SparkSession, sf_dir: str, on_batch):
    """Streaming twin of incremental_segment_dedup: each micro-batch
    of arriving documents is first-wins line-deduped against the
    SESSION-PERSISTED seen-segment index (operators/corpus.py::
    warm_segment_index) by the IDENTICAL plan builder the
    driver-checked batch face uses (segment_dedup_batch). Zero
    state: every micro-batch is a pure function of (batch, persisted
    index), so restarts replay cleanly from source offsets.
    Batch-boundary semantics are BY DESIGN per micro-batch: two docs
    arriving in different triggers dedup against the INDEX, never
    each other (the incremental contract); within one trigger they
    resolve first-wins among themselves. Index refresh is a
    restart-and-swap, the warm_vocab / lsh.warm_embedding_index
    contract."""
    from project_orbit_spark.operators.corpus import (
        _segment_dedup_arm,
        segment_dedup_batch,
        warm_segment_index,
    )

    idx = warm_segment_index(spark, sf_dir)
    stream = read_stream(spark, sf_dir, "documents").select("doc_id", "text")

    def run_batch(mb: DataFrame, _batch_id: int) -> None:
        on_batch(segment_dedup_batch(_segment_dedup_arm(mb), idx))

    return (
        stream.writeStream.foreachBatch(run_batch)
        .trigger(availableNow=True)
        .start()
    )


def stream_quality_filter(spark: SparkSession, sf_dir: str, on_batch):
    """Streaming twin of quality_ensemble_filter: each micro-batch of
    arriving documents is scored by the IDENTICAL ensemble plan the
    driver-checked batch face uses (ensemble_scores) — the
    filter-at-ingest shape a production pipeline runs so low-quality
    crawl never lands in bronze. ZERO state and zero persisted
    artifacts (the ensemble is a pure per-document function), so this
    is the simplest twin in the module: restarts replay cleanly and
    micro-batch boundaries cannot change any score."""
    from project_orbit_spark.functions.textquality import ensemble_scores

    stream = read_stream(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )

    def run_batch(mb: DataFrame, _batch_id: int) -> None:
        on_batch(ensemble_scores(mb))

    return (
        stream.writeStream.foreachBatch(run_batch)
        .trigger(availableNow=True)
        .start()
    )


def stream_dsir_filter(spark: SparkSession, sf_dir: str, on_batch):
    """Streaming twin of incremental_dsir_weights: each micro-batch
    of arriving documents is importance-scored against the
    SESSION-PERSISTED hashed-LM model + threshold
    (functions/textquality.py::warm_dsir_lm) by the IDENTICAL plan
    builder the driver-checked batch face uses (dsir_score_batch) —
    the filter-at-ingest shape DSIR deploys as: crawl that doesn't
    look like the target domain never lands in bronze. Zero state:
    every micro-batch is a pure function of (batch, persisted
    model); model refresh is a restart-and-swap (the warm_vocab /
    lsh.warm_embedding_index contract)."""
    from project_orbit_spark.functions.textquality import (
        dsir_score_batch,
        warm_dsir_lm,
    )
    from pyspark.sql import functions as F

    lm, stats = warm_dsir_lm(spark, sf_dir)
    stream = read_stream(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("new_id"), "lang", "text"
    )

    def run_batch(mb: DataFrame, _batch_id: int) -> None:
        on_batch(dsir_score_batch(mb, lm, stats))

    return (
        stream.writeStream.foreachBatch(run_batch)
        .trigger(availableNow=True)
        .start()
    )
