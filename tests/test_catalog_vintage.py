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


def test_clear_df_caches_empties_the_schema_memo(spark, monkeypatch):
    from project_orbit_spark import session

    table_schema(spark, SF_DIR, "region")
    assert catalog._SCHEMAS
    # clear only the schema memo, so other tests' warm caches survive;
    # it must be one of the registered caches for that to be the same call
    assert any(c is catalog._SCHEMAS for c in session._DF_CACHES)
    monkeypatch.setattr(
        session, "_DF_CACHES", [c for c in session._DF_CACHES if c is catalog._SCHEMAS]
    )
    session.clear_df_caches()
    assert catalog._SCHEMAS == {}


def test_clear_df_caches_releases_tuple_bundles(spark, monkeypatch):
    """warm_dsir_lm keeps its model as an (lm, stats) tuple; clearing
    the caches must unpersist both tables, not only drop the entry."""
    from project_orbit_spark import session
    from project_orbit_spark.functions import textquality

    lm, stats = textquality.warm_dsir_lm(spark, SF_DIR)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def cached(df):
        return cache_manager.lookupCachedData(df._jdf).isDefined()

    assert cached(lm) and cached(stats)
    monkeypatch.setattr(session, "_DF_CACHES", [textquality._DSIR_CACHE])
    session.clear_df_caches()
    assert not cached(lm) and not cached(stats)


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
