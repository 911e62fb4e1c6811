"""Seeded input generator for the benchmark.

Writes the ten catalog tables (`region nation customer supplier part
orders lineitem events documents embeddings`, one parquet file each,
same schemas as the fixture tables the engine's oracles are written
against) plus the day files of the daily ingest. Everything is a pure
function of the seed: the same seed writes byte-identical files, another
seed writes other values with the same row counts and distributions, so
plans and job counts stay comparable across seeds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
P_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
P_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
FLAGS = np.array([("A", "F"), ("A", "O"), ("N", "F"), ("N", "O"), ("R", "F"), ("R", "O")])
EMB_DIM = 64
EMB_CLUSTERS = 10


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated catalog. The defaults are the
    sf0.001-sized shape both workloads share; they differ only in
    documents and embeddings."""

    customer: int = 150
    supplier: int = 10
    part: int = 200
    orders: int = 1_500
    lineitem: int = 6_000
    events: int = 1_000
    documents: int = 1_000
    embeddings: int = 1_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000).astype("datetime64[ms]")


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Bag-of-vocab texts of 44..577 characters, ~5% of them near
    duplicates (an earlier text's prefix plus ' dup') so the dedup and
    near-dup operators have work."""
    lengths = rng.integers(8, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + ln])[:577])
        pos += ln
    dups = np.flatnonzero(rng.random(n) < 0.05)
    for i in dups[dups > 0]:
        src = out[int(rng.integers(0, i))]
        out[i] = src[: max(40, len(src) - int(rng.integers(0, 30)))] + " dup"
    return [t if len(t) >= 44 else (t + " " + "scan " * 9)[:44] for t in out]


def documents_table(seed: int, n: int, first_id: int = 0, stream: int = 8) -> pa.Table:
    rng = _rng(seed, stream)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    texts = doc_texts(rng, n)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_catalog(out_dir: str, seed: int, scale: Scale) -> None:
    """Write all ten tables of one catalog under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    _write(pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}), p("region"))
    _write(
        pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        p("nation"),
    )

    rng = _rng(seed, 1)
    n = scale.customer
    _write(
        pa.table(
            {
                "c_custkey": np.arange(n, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)],
            }
        ),
        p("customer"),
    )

    rng = _rng(seed, 2)
    n = scale.supplier
    _write(
        pa.table(
            {
                "s_suppkey": np.arange(n, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            }
        ),
        p("supplier"),
    )

    rng = _rng(seed, 3)
    n = scale.part
    adj, noun = rng.integers(0, len(P_ADJ), n), rng.integers(0, len(P_NOUN), n)
    _write(
        pa.table(
            {
                "p_partkey": np.arange(n, dtype=np.int64),
                "p_name": np.char.add(np.char.add(P_ADJ[adj], " "), P_NOUN[noun]),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
                "p_type": P_TYPES[rng.integers(0, len(P_TYPES), n)],
                "p_size": rng.integers(1, 51, n).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
            }
        ),
        p("part"),
    )

    rng = _rng(seed, 4)
    n = scale.orders
    _write(
        pa.table(
            {
                "o_orderkey": np.arange(n, dtype=np.int64),
                "o_custkey": rng.integers(0, scale.customer, n).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
                "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
                "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
            }
        ),
        p("orders"),
    )

    rng = _rng(seed, 5)
    n = scale.lineitem
    flags = FLAGS[rng.integers(0, len(FLAGS), n)]
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, scale.orders, n).astype(np.int64),
                "l_partkey": rng.integers(0, scale.part, n).astype(np.int64),
                "l_suppkey": rng.integers(0, scale.supplier, n).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": flags[:, 0],
                "l_linestatus": flags[:, 1],
                "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
            }
        ),
        p("lineitem"),
    )

    rng = _rng(seed, 6)
    n = scale.events
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 1_000_000, n))
    _write(
        pa.table(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": ts.astype("datetime64[us]"),
                "user_id": rng.integers(0, 1500, n).astype(np.int64),
                "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        ),
        p("events"),
    )

    rng = _rng(seed, 7)
    n = scale.embeddings
    centroids = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(0, EMB_CLUSTERS, n)
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }
        ),
        p("embeddings"),
    )

    _write(documents_table(seed, scale.documents), p("documents"))


RECRAWL = 0.1  # share of the known documents a day re-crawls
MUTATE = 0.5  # share of the re-crawls whose text changed
NEW_PER_DAY = 20  # new doc_ids per day


def write_days(base_docs: str, out_dir: str, seed: int, days: int) -> list[str]:
    """Write one re-crawl file per simulated day and return the day
    directories (each holds ``documents.parquet``). A day re-crawls a
    seeded ``RECRAWL`` share of the known documents, rewrites the text of
    a ``MUTATE`` share of those, and adds ``NEW_PER_DAY`` new doc_ids.
    A re-crawled document keeps its lang, the partition key of the
    upsert target."""
    known = pq.read_table(base_docs).to_pandas()
    next_id = int(known["doc_id"].max()) + 1
    out = []
    for day in range(days):
        rng = _rng(seed, 100 + day)
        pick = np.sort(rng.choice(len(known), int(len(known) * RECRAWL), replace=False))
        crawl = known.iloc[pick].copy()
        changed = rng.random(len(crawl)) < MUTATE
        extra = doc_texts(rng, int(changed.sum()))
        crawl.loc[changed, "text"] = [
            (t + " " + e)[:577] for t, e in zip(crawl.loc[changed, "text"], extra)
        ]
        crawl["n_chars"] = crawl["text"].str.len().astype(np.int64)
        fresh = documents_table(seed, NEW_PER_DAY, first_id=next_id, stream=200 + day).to_pandas()
        next_id += NEW_PER_DAY
        batch = pd.concat([crawl, fresh], ignore_index=True).sort_values("doc_id")
        day_dir = os.path.join(out_dir, f"day{day + 1}")
        os.makedirs(day_dir, exist_ok=True)
        _write(pa.Table.from_pandas(batch, preserve_index=False), os.path.join(day_dir, "documents.parquet"))
        known = pd.concat([known[~known["doc_id"].isin(batch["doc_id"])], batch], ignore_index=True)
        out.append(day_dir)
    return out


def write_partitioned_snapshot(docs: str, out_dir: str, part_col: str) -> None:
    """The upsert target's starting snapshot: ``docs`` as a hive-style
    ``<part_col>=<value>/`` parquet layout, one file per partition."""
    table = pq.read_table(docs)
    for value in sorted(set(table.column(part_col).to_pylist())):
        part = table.filter(pc.equal(table.column(part_col), value)).drop([part_col])
        d = os.path.join(out_dir, f"{part_col}={value}")
        os.makedirs(d, exist_ok=True)
        _write(part, os.path.join(d, "part-00000.parquet"))
