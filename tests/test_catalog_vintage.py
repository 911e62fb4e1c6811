"""The events table has shipped in two physical parquet vintages:
TIMESTAMP(NANOS) (readable by Spark only as raw longs under the legacy
nanosAsLong conf) and plain timestamp[us] (read natively as
TIMESTAMP_NTZ). catalog.load / catalog.read_events_stream must
normalize BOTH to the same microsecond TIMESTAMP column — these tests
synthesize each vintage with pyarrow and pin that contract, on a first
load and on a later one served from the session's schema memo."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from project_orbit_spark import catalog
from project_orbit_spark.catalog import load, read_events_stream, table_schema
from project_orbit_spark.functions import textquality
from project_orbit_spark.operators import clustering, corpus, dedup
from project_orbit_spark.similarity import cosine, lsh, retrieval
from tests.conftest import SF_DIR
from tests.test_job_budget import jobs_of

_ROWS = {
    "event_id": [0, 1, 2],
    "ts": [
        datetime.datetime(2024, 1, 1, 0, 0, 7, 179575),
        datetime.datetime(2024, 1, 1, 0, 3, 52, 824425),
        datetime.datetime(2024, 1, 2, 13, 6, 29, 165275),
    ],
    "user_id": [8, 46, 7],
    "event_type": ["error", "click", "view"],
    "value": [6.55, 12.31, 1.63],
    "props": ['{"k": 69}', '{"k": 89}', '{"k": 29}'],
}


def _write_vintage(dirpath, unit: str) -> str:
    table = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": pa.array(_ROWS["ts"], pa.timestamp(unit)),
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    out = dirpath / "events.parquet"
    out.mkdir()
    pq.write_table(table, str(out / "part-0.parquet"), store_schema=False)
    return str(dirpath)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_load_normalizes_both_ts_vintages(spark, tmp_path, unit):
    sf_dir = _write_vintage(tmp_path, unit)
    df = load(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = sorted(
        (r["event_id"], r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"))
        for r in df.select("event_id", "ts").collect()
    )
    want = sorted(
        (i, t.strftime("%Y-%m-%d %H:%M:%S.%f"))
        for i, t in zip(_ROWS["event_id"], _ROWS["ts"])
    )
    assert got == want


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_read_events_stream_schema_both_vintages(spark, tmp_path, unit):
    sf_dir = _write_vintage(tmp_path, unit)
    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
    assert [f.name for f in stream.schema.fields] == [
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "props",
    ]
    # actually START the stream: the fixture's events.parquet is a
    # DIRECTORY of part files, the layout where a basename
    # pathGlobFilter over sf_dir used to list zero files silently
    q = (
        stream.writeStream.format("memory")
        .queryName(f"vintage_{unit}")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    got = sorted(
        (r["event_id"], r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"))
        for r in spark.table(f"vintage_{unit}").select("event_id", "ts").collect()
    )
    want = sorted(
        (i, t.strftime("%Y-%m-%d %H:%M:%S.%f"))
        for i, t in zip(_ROWS["event_id"], _ROWS["ts"])
    )
    assert got == want


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_memo_served_load_normalizes_both_ts_vintages(spark, tmp_path, unit):
    sf_dir = _write_vintage(tmp_path, unit)

    def ts_rows():
        df = load(spark, sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        return sorted(tuple(r) for r in df.select("event_id", "ts").collect())

    first = ts_rows()
    raw = table_schema(spark, sf_dir, "events")
    assert isinstance(raw["ts"].dataType, T.LongType if unit == "ns" else T.TimestampNTZType)
    assert jobs_of(spark, lambda: load(spark, sf_dir, "events")) == 0
    assert ts_rows() == first
    # the stream face takes the memoized schema: starting it runs no job
    got = {}
    assert jobs_of(spark, lambda: got.update(s=read_events_stream(spark, sf_dir))) == 0
    assert table_schema(spark, sf_dir, "events") is raw
    assert got["s"].schema == load(spark, sf_dir, "events").schema


@pytest.fixture(scope="module")
def sf_copy(tmp_path_factory):
    """A private copy of the fixture: artifacts built over it plan other
    relations than the shared fixture's, so releasing them leaves the
    rest of the suite's warm artifacts cached."""
    import shutil

    d = tmp_path_factory.mktemp("sf_copy")
    shutil.copytree(SF_DIR, d, dirs_exist_ok=True)
    return str(d)


@pytest.fixture
def fresh_memo(monkeypatch):
    """An empty session-artifact store, so clearing it leaves the rest
    of the suite's memos in place."""
    from project_orbit_spark import session

    store: dict = {}
    monkeypatch.setattr(session, "_MEMO", store)
    return store


def _cached(spark, df) -> bool:
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    return cache_manager.lookupCachedData(df._jdf).isDefined()


def test_clear_df_caches_empties_the_schema_memo(spark, fresh_memo):
    from project_orbit_spark import session

    raw = table_schema(spark, SF_DIR, "region")
    assert list(fresh_memo.values()) == [raw]
    session.clear_df_caches()
    assert fresh_memo == {}


def test_clear_df_caches_releases_tuple_bundles(spark, fresh_memo, sf_copy):
    """warm_dsir_lm keeps its model as an (lm, stats) tuple; clearing
    the caches must unpersist both tables, not only drop the entry."""
    from project_orbit_spark import session

    lm, stats = textquality.warm_dsir_lm(spark, sf_copy)
    assert _cached(spark, lm) and _cached(spark, stats)
    session.clear_df_caches()
    assert fresh_memo == {}
    assert not _cached(spark, lm) and not _cached(spark, stats)


_MEMOS = {
    "warm_dup_pairs": dedup.warm_dup_pairs,
    "warm_band_index": dedup.warm_band_index,
    "warm_simhash_index": dedup.warm_simhash_index,
    "warm_span_index": dedup.warm_span_index,
    "warm_kmeans_centroids": clustering.warm_kmeans_centroids,
    "warm_segment_index": corpus.warm_segment_index,
    "warm_curation_artifacts": corpus.warm_curation_artifacts,
    "warm_embedding_index": lsh.warm_embedding_index,
    "warm_centroids": cosine.warm_centroids,
    "warm_pq_index": cosine.warm_pq_index,
    "_bm25_index": retrieval._bm25_index,
    "warm_vocab": textquality.warm_vocab,
    "warm_dsir_lm": textquality.warm_dsir_lm,
    "index_planes": lsh.index_planes,
    "_semdedup_planes": dedup._semdedup_planes,
    "table_schema": lambda spark, sf: table_schema(spark, sf, "orders"),
    # the probe memo's value is the verdict, stored under its key
    "maybe_broadcast": lambda spark, sf: catalog.maybe_broadcast(load(spark, sf, "orders"), 10),
}


@pytest.mark.parametrize("name", list(_MEMOS))
def test_session_memo_reuses_then_releases(spark, fresh_memo, sf_copy, name):
    """Every session memo builds once: a second call runs no job and
    serves the stored value. clear_df_caches() then empties the store
    and unpersists every DataFrame the artifact holds."""
    from project_orbit_spark import session

    call = _MEMOS[name]
    first = call(spark, sf_copy)
    stored = dict(fresh_memo)
    assert stored
    got = {}
    assert jobs_of(spark, lambda: got.update(second=call(spark, sf_copy))) == 0
    assert fresh_memo.keys() == stored.keys()
    assert all(fresh_memo[k] is v for k, v in stored.items())
    if name != "maybe_broadcast":
        assert got["second"] is first
    frames = [df for v in stored.values() for df in session._frames(v)]
    assert all(_cached(spark, df) for df in frames)
    session.clear_df_caches()
    assert fresh_memo == {}
    assert not any(_cached(spark, df) for df in frames)


# the benchmark's rag_serve request mix (perfbench/workloads.py RAG_MIX)
_RAG_MIX = (
    "ann_ivf_topk_warm",
    "cosine_topk_exact",
    "hybrid_rrf_topk",
    "rag_index_and_search",
    "dashboard_report_table",
    "risk_lexicon_scan",
    "q1_pricing_summary",
)


def _normalized_plan(df) -> str:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return re.sub(r"(lambda \w+?)_\d+", r"\1", plan)


@pytest.mark.parametrize("name", _RAG_MIX)
def test_memo_served_plan_equals_plain_read_plan(spark, monkeypatch, name):
    """A read over the memoized schema plans the same relation as a
    schema-inferring read: executed plans match, ids normalized."""
    from pyspark.sql.readwriter import DataFrameReader

    from project_orbit_spark import registry

    fn = registry.get_query(name).fn
    memo = _normalized_plan(fn(spark, SF_DIR))
    with monkeypatch.context() as m:
        # drop the schema the loader passes: every read infers again
        m.setattr(DataFrameReader, "schema", lambda self, schema: self)
        plain = _normalized_plan(fn(spark, SF_DIR))
    assert memo == plain
