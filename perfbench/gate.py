"""Correctness gate, run once per run after the timed region.

Registered queries are compared with their DuckDB oracles on the same
generated catalog, using ``canon``/``compare`` from ``tools/check.py``
(row count, dtypes and order-insensitive values). The daily ingest is
compared with DuckDB's own merge of the same day files.
"""

from __future__ import annotations

import glob
import importlib.util
import os
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent


def _check_tool():
    spec = importlib.util.spec_from_file_location("orbit_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duck(sf_dir: str, docs: str | None = None):
    """DuckDB with the catalog's views, as the oracles expect them;
    ``docs`` replaces the documents table."""
    from project_orbit_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = docs if (t == "documents" and docs) else os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_queries(sf_dir: str, results: dict) -> list[str]:
    """One problem line per query whose last result differs from its
    oracle (queries without an oracle are checked for a non-empty
    result only)."""
    from project_orbit_spark import registry

    compare = _check_tool().compare
    con = _duck(sf_dir)
    problems = []
    for name, pdf in sorted(results.items()):
        oracle = registry.get_query(name).oracle
        if oracle is None:
            if len(pdf) == 0:
                problems.append(f"{name}: empty result")
            continue
        bad = compare(name, pdf, con.execute(oracle).fetchdf())
        problems += [f"{name}: {p}" for p in bad]
    con.close()
    return problems


def merge_sql(base_docs: str, days: list[str]) -> str:
    """DuckDB's merge of the base snapshot and the day files: the last
    day that carries a doc_id wins."""
    parts = [f"SELECT *, 0 AS _day FROM read_parquet('{base_docs}')"] + [
        f"SELECT *, {i} AS _day FROM read_parquet('{os.path.join(d, 'documents.parquet')}')"
        for i, d in enumerate(days, start=1)
    ]
    return (
        "SELECT doc_id, text, lang, source, n_chars FROM ("
        + " UNION ALL ".join(parts)
        + ") QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY _day DESC) = 1"
    )


def check_ingest(base_docs: str, days: list[str], target: str, log: str,
                 day_results: list[dict]) -> list[str]:
    """Compare the upsert target, each day's change counts, extracted
    tables and read-back aggregate, and the change log's row count with
    DuckDB's replay of the same day files."""
    from project_orbit_spark import registry

    compare = _check_tool().compare
    html_oracle = registry.get_query("html_table_extract").oracle
    con = duckdb.connect()
    want = con.execute(merge_sql(base_docs, days)).fetchdf()
    got = con.execute(
        f"SELECT doc_id, text, lang, source, n_chars FROM read_parquet('{target}/**/*.parquet', "
        "hive_partitioning = 1)"
    ).fetchdf()
    problems = [f"upsert target: {p}" for p in compare("target", got, want)]
    log_want = 0
    for i, res in enumerate(day_results):
        day = res["day"]
        day_docs = os.path.join(res["dir"], "documents.parquet")
        counts = dict(con.execute(
            f"""SELECT CASE WHEN p.doc_id IS NULL THEN 'new'
                            WHEN c.doc_id IS NULL THEN 'deleted'
                            WHEN md5(c.text) = md5(p.text) THEN 'unchanged'
                            ELSE 'changed' END AS status, count(*)
                FROM read_parquet('{day_docs}') c
                FULL OUTER JOIN ({merge_sql(base_docs, days[:i])}) p USING (doc_id)
                GROUP BY 1"""
        ).fetchall())
        if counts != res["counts"]:
            problems.append(f"day {day} change counts {res['counts']} != {counts}")
        log_want += counts.get("new", 0) + counts.get("changed", 0)
        want_rb = sorted(con.execute(
            f"SELECT lang, count(*), sum(n_chars) FROM ({merge_sql(base_docs, days[: i + 1])}) "
            "GROUP BY lang"
        ).fetchall())
        if [tuple(r) for r in res["readback"]] != want_rb:
            problems.append(f"day {day} read-back {res['readback']} != {want_rb}")
        day_con = _duck(os.path.dirname(base_docs), docs=day_docs)
        bad = compare("html_table_extract", res["tables"], day_con.execute(html_oracle).fetchdf())
        day_con.close()
        problems += [f"day {day} html_table_extract: {p}" for p in bad]
    n_log = con.execute(
        f"SELECT count(*) FROM read_parquet('{log}/**/*.parquet', hive_partitioning = 1)"
    ).fetchone()[0]
    if n_log != log_want:
        problems.append(f"change log rows {n_log} != {log_want}")
    con.close()
    return problems


def space_amp(paths: list[str]) -> float:
    """Bytes on disk under ``paths`` divided by the in-memory (Arrow)
    bytes of the rows they hold."""
    disk = logical = 0
    con = duckdb.connect()
    for p in paths:
        files = glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
        disk += sum(os.path.getsize(f) for f in files)
        if files:
            logical += con.execute(
                f"SELECT * FROM read_parquet('{p}/**/*.parquet', hive_partitioning = 1)"
            ).fetch_arrow_table().nbytes
    con.close()
    return disk / logical if logical else 0.0
