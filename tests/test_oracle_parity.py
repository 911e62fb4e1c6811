"""Golden-output tests: every registered query vs its DuckDB oracle
at sf0.001 (the driver repeats this at sf0.01). Mirrors the driver's
compare: row count + dtypes + order-insensitive value equality."""

from __future__ import annotations

import pandas as pd
import pytest

from project_orbit_spark import registry
from tests.conftest import SF_DIR


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(repr)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


QUERIES = sorted(registry.all_queries().items())


@pytest.mark.parametrize("name,q", QUERIES, ids=[n for n, _ in QUERIES])
def test_query_matches_oracle(name, q, spark, duck):
    spark_pdf = q.fn(spark, SF_DIR).toPandas()
    if q.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only contract: must execute
        return
    duck_pdf = duck.execute(q.oracle).fetchdf()
    assert len(spark_pdf) == len(duck_pdf), "row count mismatch"
    assert {c: str(t) for c, t in spark_pdf.dtypes.items()} == {
        c: str(t) for c, t in duck_pdf.dtypes.items()
    }, "schema mismatch"
    a, b = canon(spark_pdf), canon(duck_pdf)
    pd.testing.assert_frame_equal(a, b)


def test_rag_dashboard_gold_on_zero_documents_matches_oracle(spark, tmp_path):
    # with no documents nothing is retrieved: every section is patched
    # and company_verified is 0 (the oracle's CASE), not NULL
    import duckdb
    import pyarrow.parquet as pq

    from tools.check import compare

    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    pq.write_table(docs.slice(0, 0), tmp_path / "documents.parquet")
    q = registry.get_query("rag_dashboard_gold")
    got = q.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    want = con.execute(q.oracle).fetchdf()
    assert len(got) > 0
    assert compare("rag_dashboard_gold", got, want) == []


@pytest.mark.parametrize(
    "rows, name",
    [
        (0, "partitioned_sink_roundtrip"),
        (0, "append_log_sink_roundtrip"),
        (0, "compaction_log_roundtrip"),
        (0, "merge_upsert_documents"),
        (1, "events_value_histogram"),
        (0, "hybrid_rrf_topk"),
        (1, "hybrid_rrf_topk"),
        (0, "refresh_band_index"),
        (0, "refresh_segment_index"),
        (0, "ccnet_perplexity_bands"),
        (1, "ccnet_perplexity_bands"),
        (0, "curation_training_gold"),
        (1, "curation_training_gold"),
        (0, "corpus_scan_path_keys"),
        (0, "rollup_order_stats"),
        (0, "cube_order_stats"),
        (0, "grouping_sets_orders_sql"),
        (0, "cosine_topk_exact"),
        (1, "cosine_topk_exact"),
        (0, "ann_ivf_topk_warm"),
        (1, "ann_ivf_topk_warm"),
        (0, "rag_dashboard_gold"),
        (1, "rag_dashboard_gold"),
        (0, "simhash64_hamming_dups"),
        (1, "simhash64_hamming_dups"),
    ],
)
def test_query_matches_oracle_on_a_sliced_catalog(spark, tmp_path, rows, name):
    # every table cut to its first `rows` rows (schema and ts vintage
    # kept): a written-then-read-back stage of zero rows has no footer
    # to infer a schema from, and one events row has min = max
    import duckdb
    import pyarrow.parquet as pq

    from project_orbit_spark.catalog import TABLES
    from tools.check import compare

    con = duckdb.connect()
    for t in TABLES:
        pq.write_table(
            pq.read_table(f"{SF_DIR}/{t}.parquet").slice(0, rows), tmp_path / f"{t}.parquet"
        )
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    q = registry.get_query(name)
    got = q.fn(spark, str(tmp_path)).toPandas()
    assert compare(name, got, con.execute(q.oracle).fetchdf()) == []
