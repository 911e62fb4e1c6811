"""The benchmark's workloads: closed loops with one client that waits
for every reply.

``rag_serve``      a seeded shuffle of a fixed request mix on a warm
                   session; one request is one build plus collect.
``curation_daily`` one daily curation run in a fresh session; traced
                   runs then add the clustering and graph operators and
                   one day of the upsert DAG (change detection, HTML
                   extraction, change log, partition-scoped upsert,
                   compaction, read-back), outside the measured run.

Each workload exposes ``setup`` (untimed, reported as set-up time),
``iteration`` (one timed unit: a pass over the mix, or one daily run) and
``check`` (the correctness gate, run after the timed region).
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

import datagen
import gate
from layers import TRACED_ONLY, WARM, Recorder, dir_files, module_of, written

RAG_MIX = (
    "ann_ivf_topk_warm",
    "cosine_topk_exact",
    "hybrid_rrf_topk",
    "rag_index_and_search",
    "dashboard_report_table",
    "risk_lexicon_scan",
    "q1_pricing_summary",
)
# the modules whose queries in a mix have a ``prepare`` hook, run in
# set-up (``ann_ivf_topk_warm`` persists its centroid table there)
PREPARED = ("similarity.cosine",)
# the measured daily run: the composed 48-job curation pipeline and the
# banded near-duplicate self-join
CURATION = ("curation_training_gold", "simhash64_hamming_dups")
# run after the measured daily run, in traced runs only, for the
# clustering and graph layers
CURATION_TRACED = ("kmeans_embedding_clusters", "pagerank_link_graph")


def request_order(seed: int, pass_index: int) -> list[str]:
    """The seeded shuffle of the request mix for one measured pass."""
    order = list(RAG_MIX)
    random.Random(f"rag_serve:{seed}:{pass_index}").shuffle(order)
    return order


class Workload:
    name = ""
    scale: datagen.Scale
    warm_iterations = 0
    cpus = 2  # local[N], fixed per workload (capped at the CPUs available)
    tables: tuple[str, ...] = ()
    io: dict | None = None

    def __init__(self, work_dir: str, seed: int):
        from project_orbit_spark import registry

        self.dir, self.seed = work_dir, seed
        self.spark = None  # set, with ``rec``, once the session is up
        self.rec: Recorder | None = None
        self.sf = os.path.join(work_dir, "catalog")
        self.registry = registry
        self.results: dict[str, object] = {}  # query -> last result (pandas)
        self.setup_parts: dict[str, float] = {}
        self.failed = 0
        self.attempted = 0
        self.op_latencies: list[float] = []

    def query(self, name: str, it) -> None:
        q = self.registry.get_query(name)
        self.attempted += it != WARM
        try:
            pdf = self.rec.run(
                module_of(q.fn), name, it, lambda: q.fn(self.spark, self.sf), lambda df: df.toPandas()
            )
        except Exception as exc:  # noqa: BLE001 — a failed request counts, the run goes on
            self.failed += it != WARM
            print(f"# {self.name}: {name} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
            return
        if it != WARM:
            self.results[name] = pdf
        if it not in (WARM, TRACED_ONLY):
            self.op_latencies.append(self.rec.calls[-1].wall)

    def warm_catalog(self) -> None:
        from project_orbit_spark.catalog import load

        t0 = time.perf_counter()
        for t in self.tables:
            load(self.spark, self.sf, t).schema  # file listing and footer read, no job
        self.setup_parts["catalog.warm_s"] = time.perf_counter() - t0

    def run_prepare_hooks(self, names) -> None:
        for name in names:
            q = self.registry.get_query(name)
            if q.prepare is None:
                continue
            t0 = time.perf_counter()
            q.prepare(self.spark, self.sf)
            key = f"{module_of(q.fn)}.prepare_s"
            self.setup_parts[key] = self.setup_parts.get(key, 0.0) + time.perf_counter() - t0

    def generate(self) -> None:
        datagen.write_catalog(self.sf, self.seed, self.scale)

    def after_measure(self, traced: bool) -> None:
        """Work that runs after the timed region (none by default)."""

    def extra_metrics(self) -> dict[str, float]:
        return {}


class RagServe(Workload):
    """Interactive requests on a warm session."""

    name = "rag_serve"
    # small tables: short requests, where planning and per-job
    # scheduling dominate
    scale = datagen.Scale()
    warm_iterations = 1
    tables = ("customer", "orders", "lineitem", "documents", "embeddings")

    def setup(self) -> None:
        self.warm_catalog()
        self.run_prepare_hooks(RAG_MIX)

    def iteration(self, it) -> None:
        for name in RAG_MIX if it == WARM else request_order(self.seed, it):
            self.query(name, it)

    def check(self) -> list[str]:
        return gate.check_queries(self.sf, self.results)


class CurationDaily(Workload):
    """One daily curation run in a fresh session, cold as a scheduled
    DAG run is. Traced runs then also run ``CURATION_TRACED`` and one day
    of the upsert DAG (``ingest_day``) after the measured run, for the
    clustering, graph and write-path layers."""

    name = "curation_daily"
    scale = datagen.Scale(documents=500, embeddings=500)
    tables = ("documents", "embeddings")
    cpus = 4

    def generate(self) -> None:
        super().generate()
        docs = os.path.join(self.sf, "documents.parquet")
        self.base = os.path.join(self.dir, "base_target")
        datagen.write_partitioned_snapshot(docs, self.base, "lang")
        self.days = datagen.write_days(docs, os.path.join(self.dir, "days"), self.seed, 1)
        self.target = os.path.join(self.dir, "target")
        self.log = os.path.join(self.dir, "change_log")
        self.io = dict.fromkeys(("bytes_written", "files_written", "partitions_rewritten",
                                 "compact_files_after", "rows_compared", "rows_changed"), 0)
        self.day_results: list[dict] = []

    def setup(self) -> None:
        self.warm_catalog()

    def iteration(self, it) -> None:
        for name in CURATION:
            self.query(name, it)

    def after_measure(self, traced: bool) -> None:
        if traced:
            for name in CURATION_TRACED:
                self.query(name, TRACED_ONLY)
            shutil.copytree(self.base, self.target)
            for day, day_dir in enumerate(self.days, start=1):
                self.ingest_day(day, day_dir, TRACED_ONLY)

    def op(self, module, name, it, build, execute=None):
        self.attempted += 1
        try:
            return self.rec.run(module, name, it, build, execute)
        except Exception:
            self.failed += 1
            raise

    def write_op(self, name, it, fn):
        """A connector call that writes: timed as exec, files counted."""
        before = {**dir_files(self.target), **dir_files(self.log)}
        out = self.op("sources.connectors", name, it, lambda: None, lambda _: fn())
        files, nbytes = written(before, {**dir_files(self.target), **dir_files(self.log)})
        self.io["files_written"] += files
        self.io["bytes_written"] += nbytes
        return out

    def ingest_day(self, day: int, day_dir: str, it) -> None:
        """One day of the upsert DAG: detect changes against the target,
        extract the pages' tables (the mapInPandas boundary), log the
        change records, upsert the changed rows into the lang-partitioned
        target, compact the log, read the target back. The change records
        are logged before the upsert rewrites the target they are
        computed from."""
        from pyspark.sql import functions as F

        from project_orbit_spark.sources import connectors
        from project_orbit_spark.streaming.incremental import detect_changes

        spark, inc = self.spark, "streaming.incremental"
        cur = spark.read.parquet(os.path.join(day_dir, "documents.parquet"))
        prev = spark.read.parquet(self.target).select("doc_id", "text")
        changes = self.op(inc, "detect_changes", it,
                          lambda: detect_changes(cur, prev, "doc_id", "text"))
        counts = self.op(inc, "change_counts", it, lambda: changes.groupBy("status").count(),
                         lambda df: {r["status"]: r["count"] for r in df.collect()})
        self.io["rows_compared"] += sum(counts.values())
        self.io["rows_changed"] += counts.get("new", 0) + counts.get("changed", 0)
        q = self.registry.get_query("html_table_extract")
        tables = self.op(module_of(q.fn), "html_table_extract", it,
                         lambda: q.fn(spark, day_dir), lambda df: df.toPandas())
        changed = changes.filter(F.col("status").isin("new", "changed"))
        log_rows = changed.withColumn("dt", F.lit(f"2024-01-{day:02d}"))
        self.write_op("write_append_log", it, lambda: connectors.write_append_log(log_rows, self.log))
        batch = cur.join(changed.select("doc_id"), "doc_id", "left_semi")
        self.io["partitions_rewritten"] += self.write_op(
            "merge_upsert_partitioned", it,
            lambda: connectors.merge_upsert_partitioned(spark, self.target, batch, "doc_id", "lang"),
        )
        self.io["compact_files_after"] += self.write_op(
            "compact_parquet", it, lambda: connectors.compact_parquet(spark, self.log))[1]
        readback = self.op("sources.connectors", "readback_aggregate", it,
                           lambda: spark.read.parquet(self.target).groupBy("lang").agg(
                               F.count("*").alias("n"), F.sum("n_chars").alias("chars")),
                           lambda df: sorted(tuple(r) for r in df.collect()))
        self.day_results.append({"day": day, "counts": counts, "tables": tables,
                                 "readback": readback, "dir": day_dir})

    def check(self) -> list[str]:
        problems = gate.check_queries(self.sf, self.results)
        if self.day_results:
            problems += gate.check_ingest(
                os.path.join(self.sf, "documents.parquet"), self.days, self.target, self.log,
                self.day_results,
            )
        return problems

    def extra_metrics(self) -> dict[str, float]:
        if not self.day_results:
            return {}
        return {"space_amp": gate.space_amp([self.target, self.log])}


WORKLOADS = {w.name: w for w in (RagServe, CurationDaily)}
