"""Structured Streaming smoke: the streaming face of the windowed
aggregations runs end-to-end with Trigger.AvailableNow over the
events parquet (ST3 batch-incremental execution), and its result
matches the batch face on the same data."""

from __future__ import annotations

import pytest

from project_orbit_spark.catalog import load
from project_orbit_spark.streaming.windows import stream_tumbling_counts, tumbling_counts
from tests.conftest import SF_DIR


@pytest.mark.timeout(180)
def test_stream_tumbling_matches_batch(spark, tmp_path):
    stream_df = stream_tumbling_counts(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("tumbling_smoke")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from tumbling_smoke").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_counts(load(spark, SF_DIR, "events")).collect()
    }
    assert got == batch
    assert len(got) > 0


@pytest.mark.timeout(240)
def test_stateful_running_totals_stream_matches_batch(spark):
    from project_orbit_spark.streaming.stateful import (
        stateful_running_user_totals,
        stream_running_user_totals,
    )

    stream_df = stream_running_user_totals(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("stateful_smoke")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode may emit several snapshots per user; the LAST one is
    # the final state — with availableNow over one batch there's one.
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql("select * from stateful_smoke").collect()
    }
    batch = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in stateful_running_user_totals(spark, SF_DIR).collect()
    }
    assert got == batch


@pytest.mark.timeout(240)
def test_stream_upsert_foreachbatch_idempotent(spark, tmp_path):
    """ST1 streaming sink: foreachBatch upsert lands every event once;
    re-running the stream from scratch (same data, fresh checkpoint)
    leaves the state unchanged — the MERGE-idempotence that makes
    incremental reruns safe."""
    from pyspark.sql import functions as F

    from project_orbit_spark.sources.connectors import stream_upsert_foreachbatch

    from project_orbit_spark.catalog import read_events_stream

    state = str(tmp_path / "state")

    def run_once():
        stream = read_events_stream(spark, SF_DIR).select(
            "event_id", "user_id", "event_type"
        )
        q = (
            stream_upsert_foreachbatch(spark, stream, state, "event_id")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(state).count()
    run_once()  # second full pass: upsert, not append
    again = spark.read.parquet(state)
    assert again.count() == first
    expected = (
        spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id").distinct().count()
    )
    assert first == expected
    assert again.select(F.countDistinct("event_id")).collect()[0][0] == expected


@pytest.mark.timeout(240)
def test_stream_interval_join_matches_batch_inner(spark):
    from project_orbit_spark.streaming.joins import (
        _JOIN_COND,
        _click_view_sides,
        stream_click_view_join,
    )
    from pyspark.sql import functions as F

    stream_df = stream_click_view_join(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("interval_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.sql("select click_id, view_id from interval_smoke").collect()
    }
    clicks, views = _click_view_sides(load(spark, SF_DIR, "events"))
    batch = {
        (r["click_id"], r["view_id"])
        for r in clicks.join(views, F.expr(_JOIN_COND)).collect()
    }
    assert got == batch
    assert len(got) > 0


@pytest.mark.timeout(240)
def test_stream_dedup_within_watermark_matches_batch(spark):
    from project_orbit_spark.streaming.incremental import (
        dedup_replayed,
        replay_corpus,
        stream_dedup_replayed,
    )

    stream_df = stream_dedup_replayed(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("dedup_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["ts_s"], r["user_id"], r["event_type"], r["value"])
        for r in spark.sql("select * from dedup_smoke").collect()
    }
    batch = {
        (r["event_id"], r["ts_s"], r["user_id"], r["event_type"], r["value"])
        for r in dedup_replayed(replay_corpus(load(spark, SF_DIR, "events"))).collect()
    }
    assert got == batch
    assert len(got) > 0


@pytest.mark.timeout(240)
def test_stream_static_enrich_matches_batch(spark):
    from project_orbit_spark.streaming.joins import (
        enrich_with_segment,
        stream_enrich_events,
    )

    stream_df = stream_enrich_events(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("enrich_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r) for r in spark.sql("select * from enrich_smoke").collect()
    }
    batch = {
        tuple(r)
        for r in enrich_with_segment(
            load(spark, SF_DIR, "events"), load(spark, SF_DIR, "customer")
        ).collect()
    }
    assert got == batch
    assert len(got) > 0


def test_scd2_unchanged_reemit_does_not_open_version(spark):
    """An unchanged re-emitted snapshot row must be suppressed by the
    lag-fingerprint change detection — no new SCD2 version opens, and
    the surviving version stays current with its original valid_from."""
    from project_orbit_spark.streaming.incremental import scd2_history

    rows = [
        # k=1: re-emitted UNCHANGED on run 2 -> one version only
        (1, "AUTO", 10.0, "2024-01-01"),
        (1, "AUTO", 10.0, "2024-02-01"),
        # k=2: changed on run 2 -> two versions
        (2, "AUTO", 10.0, "2024-01-01"),
        (2, "BIKE", 10.0, "2024-02-01"),
        # k=3: absent from run 2 -> one version
        (3, "AUTO", 10.0, "2024-01-01"),
    ]
    snaps = spark.createDataFrame(rows, "k long, seg string, bal double, run_date string")
    hist = scd2_history(snaps, key="k", attrs=["seg", "bal"]).orderBy("k", "valid_from")
    got = [(r.k, r.valid_from, r.valid_to, r.is_current) for r in hist.collect()]
    assert got == [
        (1, "2024-01-01", None, 1),
        (2, "2024-01-01", "2024-02-01", 0),
        (2, "2024-02-01", None, 1),
        (3, "2024-01-01", None, 1),
    ]


@pytest.mark.timeout(240)
def test_stream_highwater_matches_batch(spark):
    """Per-user high-water-mark filter: the applyInPandasWithState
    streaming face (AvailableNow single pass) emits exactly the rows
    the batch prefix-max window keeps."""
    from project_orbit_spark.streaming.stateful import (
        stream_user_highwater,
        user_highwater_events,
    )

    q = (
        stream_user_highwater(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName("hwm_smoke")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["event_id"], round(r["value"], 2))
        for r in spark.sql("select * from hwm_smoke").collect()
    }
    batch = {
        (r["user_id"], r["event_id"], round(r["value"], 2))
        for r in user_highwater_events(spark, SF_DIR).collect()
    }
    assert got == batch
    assert len(got) > 0


@pytest.mark.timeout(240)
def test_stream_session_windows_matches_batch(spark):
    from project_orbit_spark.streaming.windows import (
        session_windows_30m_salted,
        stream_session_windows,
    )

    stream_df = stream_session_windows(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("sessions_smoke")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("select * from sessions_smoke").collect()
    )
    batch = sorted(
        tuple(r) for r in session_windows_30m_salted(spark, SF_DIR).collect()
    )
    assert got == batch
    assert len(got) > 0


@pytest.mark.timeout(240)
def test_stream_sliding_counts_matches_batch(spark):
    from project_orbit_spark.streaming.windows import (
        sliding_window_counts,
        stream_sliding_counts,
    )

    stream_df = stream_sliding_counts(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("sliding_smoke")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.sql("select * from sliding_smoke").collect())
    batch = sorted(tuple(r) for r in sliding_window_counts(spark, SF_DIR).collect())
    assert got == batch
    assert len(got) > 0


@pytest.mark.timeout(240)
def test_stream_restart_from_checkpoint_processes_only_new_files(spark, tmp_path):
    """Mid-stream crash recovery — the OTHER half of exactly-once that
    the fresh-checkpoint rerun test can't see: stop after batch 1,
    land a new source file, restart with the SAME checkpoint. The
    file-source offset log must skip everything already committed
    (second run sees only the new file's rows) and the upsert sink
    must leave every key exactly once."""
    from pyspark.sql import functions as F

    from project_orbit_spark.sources.connectors import upsert_parquet

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    base = spark.range(0, 100).select(
        F.col("id").alias("event_id"), (F.col("id") % 7).alias("user_id")
    )
    base.write.parquet(src)

    seen_per_run: list[int] = []

    def run_available_now():
        seen = {"rows": 0}

        def apply(batch_df, batch_id):  # noqa: ARG001
            seen["rows"] += batch_df.count()
            upsert_parquet(spark, state, batch_df, "event_id")

        q = (
            spark.readStream.schema("event_id long, user_id long")
            .parquet(src)
            .writeStream.foreachBatch(apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(120)
        if not finished:
            q.stop()
        assert finished, "availableNow run did not finish within 120s"
        seen_per_run.append(seen["rows"])

    run_available_now()
    assert seen_per_run[0] == 100
    # "crash" (stream is stopped), new data lands — including 10
    # UPDATED keys that must overwrite, not duplicate
    more = spark.range(90, 150).select(
        F.col("id").alias("event_id"), F.lit(99).alias("user_id")
    )
    more.write.mode("append").parquet(src)
    run_available_now()
    assert seen_per_run[1] == 60, "restart must process ONLY the new file"
    final = spark.read.parquet(state)
    assert final.count() == 150
    assert final.select(F.countDistinct("event_id")).collect()[0][0] == 150
    # the 10 overlapping keys carry the new run's value (upsert wins)
    assert final.filter((F.col("event_id") >= 90) & (F.col("event_id") < 100))\
        .filter(F.col("user_id") == 99).count() == 10


@pytest.mark.timeout(240)
def test_stream_processing_time_trigger_two_microbatches_matches_batch(spark, tmp_path):
    """The trigger family AvailableNow parity cannot exercise: a
    processingTime='1 second' trigger runs as a LONG-LIVED stream.
    Drive the shared tumbling_counts plan through two real
    micro-batches (batch 0 drains the seed file; a second file lands
    mid-stream and batch >=1 picks it up), then stop and assert the
    memory sink matches the batch face over the union — the
    continuous-trigger face computes the same answer incrementally."""
    import time

    from pyspark.sql import functions as F

    from project_orbit_spark.streaming.windows import tumbling_counts

    src = str(tmp_path / "src")
    schema = "ts timestamp, event_type string, value double"
    seed = spark.createDataFrame(
        [("2024-01-01 10:05:00", "click", 1.5), ("2024-01-01 10:40:00", "view", 2.0)],
        "ts string, event_type string, value double",
    ).select(F.col("ts").cast("timestamp"), "event_type", "value")
    seed.write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        tumbling_counts(stream.withWatermark("ts", "1 hour"))
        .writeStream.format("memory")
        .queryName("ptime_smoke")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120

        def wait_for(pred, what):
            while time.time() < deadline:
                if pred():
                    return
                time.sleep(0.5)
            raise AssertionError(f"timed out waiting for {what}")

        wait_for(
            lambda: (q.lastProgress or {}).get("batchId", -1) >= 0,
            "micro-batch 0",
        )
        late = spark.createDataFrame(
            [("2024-01-01 10:55:00", "click", 3.0), ("2024-01-01 11:10:00", "click", 4.0)],
            "ts string, event_type string, value double",
        ).select(F.col("ts").cast("timestamp"), "event_type", "value")
        late.write.mode("append").parquet(src)
        # a LATER micro-batch (batchId >= 1) must ingest the new file —
        # the incremental path AvailableNow's single drain never takes
        wait_for(
            lambda: (q.lastProgress or {}).get("batchId", -1) >= 1
            and spark.sql("select sum(n_events) n from ptime_smoke").collect()[0]["n"] == 4,
            "micro-batch >= 1 to ingest the second file",
        )
        assert len(q.recentProgress) >= 2
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.sql("select * from ptime_smoke").collect())
    batch = sorted(tuple(r) for r in tumbling_counts(seed.unionByName(late)).collect())
    assert got == batch
    assert len(got) == 3, "10:00 window merges click counts across micro-batches"


def test_stream_cluster_assign_matches_batch(spark):
    """Broadcast-model streaming inference: the embeddings stream
    assigned against the persisted warm k-means centroid model must
    emit exactly the batch face's (vec_id, cluster_id) rows — same
    plan builder (assign_clusters), zero stream-side state. Pins the
    stream-static join of a stream with an AGGREGATED static side
    (the packed 1-row centroid broadcast).

    The parity target is kmeans_assignments — the ORACLE-CHECKED
    full-fit assignment built from quantized_vectors + assign_clusters
    — not merely the batch twin, so a transform bug shared by both
    faces (the ADVICE r10 raw-double regression: unquantized
    embeddings against QSCALE-domain centroids collapse onto the
    smallest-norm centroid) cannot pass. The warm model IS the final
    fit centroids, so the stream over the full table must reproduce
    the full-fit assignment bit-for-bit."""
    from project_orbit_spark.operators.clustering import kmeans_assignments
    from project_orbit_spark.streaming.inference import (
        batch_cluster_assign,
        stream_cluster_assign,
    )

    stream_df = stream_cluster_assign(spark, SF_DIR)
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("memory")
        .queryName("cluster_assign_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.sql("select * from cluster_assign_smoke").collect()
    }
    batch = {tuple(r) for r in batch_cluster_assign(spark, SF_DIR).collect()}
    assert got == batch
    assert len(got) == 500  # every sf0.001 vector assigned exactly once
    # independent target: the oracle-checked full-fit assignment
    fullfit = {tuple(r) for r in kmeans_assignments(spark, SF_DIR).collect()}
    assert got == fullfit, "stream diverges from the fitted model's own assignment"
    # a quantization bug collapses everything onto one centroid —
    # require the real cluster spread
    assert len({cid for _vid, cid in got}) > 1


def test_stream_curation_matches_batch(spark):
    """Streaming twin of the incremental curation face: the documents
    stream curated per micro-batch through foreachBatch must emit
    exactly the rows of the driver-checked batch face — same plan
    builder (curate_batch), same persisted artifacts, packing
    included (AvailableNow over the single-file fixture is one
    micro-batch, so the next-fit walk sees identical shards). Pins
    that the whole stage chain — pandas packing stage included —
    survives the micro-batch execution path with zero state."""
    from project_orbit_spark.registry import get_query
    from project_orbit_spark.streaming.curation import stream_curate_docs

    rows: list = []
    q = stream_curate_docs(spark, SF_DIR, lambda df: rows.extend(df.collect()))
    q.awaitTermination(180)
    got = {tuple(r) for r in rows}
    want = {
        tuple(r)
        for r in get_query("incremental_curation_gold").fn(spark, SF_DIR).collect()
    }
    assert got == want
    assert got, "parity set is empty — the stream produced nothing"


def test_stream_curation_multi_batch_reuses_artifacts(spark, tmp_path):
    """Per-micro-batch semantics under a MULTI-trigger stream: the
    documents table split into 3 files and streamed one file per
    trigger must produce, per micro-batch, exactly the batch face's
    output for that slice (state is ZERO; the persisted artifacts are
    reused across triggers, never re-derived per batch) — and the
    incremental leakage invariant (a re-crawl inherits its base
    cluster's split) holds in EVERY micro-batch independently."""
    from project_orbit_spark.catalog import load
    from project_orbit_spark.operators.corpus import (
        _incremental_batch,
        curate_batch,
        curation_pipeline,
        warm_curation_artifacts,
    )
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(src)

    art = warm_curation_artifacts(spark, SF_DIR)
    per_batch: list = []
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("doc_id", "text")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda mb, _bid: per_batch.append(
                curate_batch(_incremental_batch(mb), art).collect()
            )
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(per_batch) >= 2, "fixture did not split into multiple triggers"

    base = {
        r["doc_id"]: r
        for r in curation_pipeline(docs.select("doc_id", "text")).collect()
    }
    seen = set()
    for rows in per_batch:
        ids = {r["new_id"] for r in rows}
        assert not (ids & seen), "a doc leaked across micro-batches"
        seen |= ids
        for r in rows:
            if 200000 <= r["new_id"] < 300000:  # re-crawl arm
                b = base[r["new_id"] - 200000]
                assert r["canonical_id"] == b["canonical_id"]
                assert r["split"] == b["split"]


@pytest.mark.timeout(240)
def test_stream_merge_partitioned_matches_batch_merge(spark, tmp_path):
    """Streaming twin of the partition-scoped MERGE: the documents
    stream upserted per micro-batch through foreachBatch must leave
    the target in exactly the state the batch-face merge produces —
    and a second AvailableNow run of the same source (a replay) must
    be a no-op on contents (idempotence, the exactly-once argument
    for this sink)."""
    from project_orbit_spark.sources.connectors import (
        merge_upsert_partitioned,
        stream_merge_partitioned_foreachbatch,
    )
    from project_orbit_spark.catalog import read_stream

    cols = ("doc_id", "lang", "n_chars")
    d = load(spark, SF_DIR, "documents").select(*cols)

    batch_target = str(tmp_path / "batch_t")
    merge_upsert_partitioned(spark, batch_target, d, "doc_id", "lang")

    stream_target = str(tmp_path / "stream_t")
    for _ in range(2):  # second pass = replay; contents must not change
        q = stream_merge_partitioned_foreachbatch(
            spark,
            read_stream(spark, SF_DIR, "documents").select(*cols),
            stream_target,
            key="doc_id",
            part_col="lang",
        ).trigger(availableNow=True).start()
        q.awaitTermination(180)
        got = {tuple(r) for r in spark.read.parquet(stream_target).collect()}
        want = {tuple(r) for r in spark.read.parquet(batch_target).collect()}
        assert got == want
        assert got, "parity set is empty — the stream produced nothing"


@pytest.mark.timeout(240)
def test_stream_segment_dedup_matches_batch(spark):
    """Streaming twin of the incremental segment dedup: the documents
    stream deduped per micro-batch through foreachBatch against the
    persisted seen-segment index must emit exactly the rows of the
    driver-checked batch face (AvailableNow over the single-file
    fixture is one micro-batch)."""
    from project_orbit_spark.registry import get_query
    from project_orbit_spark.streaming.curation import stream_segment_dedup

    rows: list = []
    q = stream_segment_dedup(spark, SF_DIR, lambda df: rows.extend(df.collect()))
    q.awaitTermination(180)
    got = {tuple(r) for r in rows}
    want = {
        tuple(r)
        for r in get_query("incremental_segment_dedup").fn(spark, SF_DIR).collect()
    }
    assert got == want
    assert got, "parity set is empty — the stream produced nothing"


@pytest.mark.timeout(240)
def test_stream_quality_filter_matches_batch(spark):
    """Streaming twin of the ensemble quality filter: scoring each
    micro-batch through foreachBatch must emit exactly the batch
    face's rows (pure per-document function — no state, no
    artifacts, so AvailableNow parity is rows-exact by construction
    and this pin guards the plumbing, not the math)."""
    from project_orbit_spark.registry import get_query
    from project_orbit_spark.streaming.curation import stream_quality_filter

    rows: list = []
    q = stream_quality_filter(spark, SF_DIR, lambda df: rows.extend(df.collect()))
    q.awaitTermination(180)
    got = {tuple(r) for r in rows}
    want = {
        tuple(r)
        for r in get_query("quality_ensemble_filter").fn(spark, SF_DIR).collect()
    }
    assert got == want
    assert got, "parity set is empty — the stream produced nothing"


@pytest.mark.timeout(240)
def test_stream_dsir_filter_matches_batch(spark):
    """Streaming twin of the DSIR importance filter: scoring each
    micro-batch against the persisted model through foreachBatch must
    emit exactly what dsir_score_batch produces for the same rows —
    here the whole documents table in one AvailableNow micro-batch,
    so the want-side is the same plan over the batch read. Pins the
    plumbing (schema, warm-model reuse, foreachBatch seam); the
    model math itself is driver-hash-checked via
    incremental_dsir_weights."""
    from pyspark.sql import functions as F

    from project_orbit_spark.catalog import load
    from project_orbit_spark.functions.textquality import (
        dsir_score_batch,
        warm_dsir_lm,
    )
    from project_orbit_spark.streaming.curation import stream_dsir_filter

    rows: list = []
    q = stream_dsir_filter(spark, SF_DIR, lambda df: rows.extend(df.collect()))
    q.awaitTermination(180)
    got = {tuple(r) for r in rows}
    lm, stats = warm_dsir_lm(spark, SF_DIR)
    batch = load(spark, SF_DIR, "documents").select(
        F.col("doc_id").alias("new_id"), "lang", "text"
    )
    want = {tuple(r) for r in dsir_score_batch(batch, lm, stats).collect()}
    assert got == want
    assert got, "parity set is empty — the stream produced nothing"
