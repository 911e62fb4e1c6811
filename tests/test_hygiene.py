"""Source-hygiene guards: the scale rules the operator surface must
never regress on, pinned as greps so a future operator can't quietly
reintroduce a driver-side loop or a row-at-a-time Python UDF.

- No ``.collect()`` / ``.toPandas()`` in the operator surface. The
  only allowed sites are listed in ``COLLECT_ALLOWED``, each with its
  bound: fixture templating, partition-value lists, one-row probes
  and the bounded distinct-score table behind the tercile cutoffs —
  never a data path.
- No row-at-a-time ``@udf`` / ``F.udf`` anywhere: Python on the hot
  path is only ever Arrow-batched (mapInPandas / applyInPandas /
  applyInPandasWithState / pandas_udf).
- No wall-clock or RNG in operators: results must be pure functions
  of the input tables (rand()/uuid() would break oracle parity and
  re-run determinism; sampling is md5-hash-bucketed instead).
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "project_orbit_spark"

COLLECT_ALLOWED = {
    # nation fixture templating (25-row dim, twice)
    "sources/roundtrip.py": 2,
    # merge_upsert_partitioned's touched-partition list: bounded by
    # the BATCH's partition-value domain (a lang set, a few dt days),
    # never by row counts — the contract is documented at the site
    "sources/connectors.py": 1,
    # exact_near_dup_pairs' fail-fast label-cardinality probe (r15,
    # VERDICT r14 ask #3): groupBy(label).count().filter(> bound)
    # .limit(1).collect() — output bounded at ONE row by the limit,
    # and it runs INSTEAD OF a quadratic join, not on a data path
    "similarity/cosine.py": 1,
    # _gated_span_batch's summed-fan-out probe (r16, VERDICT r15 ask
    # #5): one global agg over the O(new) batch → exactly ONE row
    # out; it gates a broadcast hint, it is not a data path
    "operators/dedup.py": 1,
    # tercile_cutoffs' distinct-score table: 4-dp scores over a
    # few-nats range, ≤10^5 rows at any corpus size (a '# bound:'
    # comment at the site); its output is two numbers, not a data path
    "functions/textquality.py": 1,
}


def _py_sources():
    return [p for p in PKG.rglob("*.py") if "__pycache__" not in p.parts]


def test_no_driver_side_collect():
    hits: dict[str, int] = {}
    for p in _py_sources():
        n = len(re.findall(r"\.collect\(|\.toPandas\(|collectAsList", p.read_text()))
        if n:
            hits[str(p.relative_to(PKG))] = n
    assert hits == COLLECT_ALLOWED, (
        f"collect/toPandas sites changed: {hits} — every operator must "
        "stay distributed; extend the allowlist only for bounded "
        "fixture templating, never a data path"
    )


def test_no_row_at_a_time_udf():
    offenders = []
    for p in _py_sources():
        text = p.read_text()
        if re.search(r"@udf\b|\bF\.udf\(|functions\.udf\(", text):
            offenders.append(str(p.relative_to(PKG)))
    assert not offenders, (
        f"row-at-a-time Python UDFs found in {offenders} — use Arrow-"
        "batched pandas UDFs (10-100x faster) or built-in functions"
    )


def test_no_wall_clock_or_rng_in_operators():
    offenders = []
    pat = re.compile(
        r"F\.rand\(|F\.randn\(|F\.uuid\(|current_timestamp\(|"
        r"current_date\(|datetime\.now\(|time\.time\(|random\."
    )
    for p in _py_sources():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if pat.search(line):
                offenders.append(f"{p.relative_to(PKG)}:{i}")
    assert not offenders, (
        f"nondeterminism found at {offenders} — operators are pure "
        "functions of their input tables (hash-bucket instead)"
    )


def test_fixture_doc_ids_stay_below_inject_offset():
    """The dedup-injection id-space contract (ADVICE r16 #2): every
    oracle that models injected docs by id range (refresh_band_index's
    expiry predicate `doc_id < 100000`, the audits' `doc_id >= 100000`
    ground-truth splits) is sound only while BASE doc_ids stay below
    INJECT_OFFSET. Pin that bound against the actual fixtures at all
    three SFs, so a regenerated/larger fixture fails here instead of
    silently diverging oracle from engine. (tools/scale_probe.py
    enforces the same bound on its synthesized K-times corpora at
    synth time.)"""
    import pyarrow.parquet as pq

    from project_orbit_spark.operators.dedup import INJECT_OFFSET

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = Path("/root/testdata") / sf / "documents.parquet"
        if not path.exists():
            continue
        hi = max(
            pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist()
        )
        assert hi < INJECT_OFFSET, (
            f"{sf}: max doc_id {hi} >= INJECT_OFFSET {INJECT_OFFSET} — "
            "the id-range oracles in operators/dedup.py are no longer "
            "sound for this fixture"
        )


def test_every_bounded_sort_states_its_bound():
    """catalog.sort_bounded moves the last stage into one task, so each
    call site must say why its rows are bounded: a ``# bound:`` comment
    in the comment block right above the call."""
    missing = []
    for p in _py_sources():
        lines = p.read_text().splitlines()
        for i, line in enumerate(lines):
            if "sort_bounded(" not in line or line.lstrip().startswith(("def ", "#")):
                continue
            j = i - 1
            block = []
            while j >= 0 and lines[j].lstrip().startswith("#"):
                block.append(lines[j])
                j -= 1
            if not any("# bound:" in c for c in block):
                missing.append(f"{p.relative_to(PKG)}:{i + 1}")
    assert not missing, (
        f"sort_bounded calls without a '# bound:' comment: {missing}"
    )


def test_single_partition_only_through_sort_bounded():
    """``coalesce(1)`` funnels a stage into one task; the operator
    surface reaches it only through catalog.sort_bounded, whose call
    sites state their bound."""
    hits = []
    for p in _py_sources():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"\.coalesce\(\s*1\s*\)", line):
                hits.append(f"{p.relative_to(PKG)}:{i}")
    assert len(hits) == 1 and hits[0].startswith("catalog.py:"), hits


def test_page_templating_only_through_templated_extract():
    """Each templated HTML face renders its pages through
    html_extract.templated_extract, the one place that states how the
    template→parse closure pickles by value for foreign-cwd workers."""
    import ast

    helper = next(
        n for n in ast.parse((PKG / "functions/html_extract.py").read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "templated_extract"
    )
    hits = []
    for p in _py_sources():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"def paged\(|template_then_", line):
                hits.append((str(p.relative_to(PKG)), i))
    assert hits and all(
        f == "functions/html_extract.py" and helper.lineno <= i <= helper.end_lineno
        for f, i in hits
    ), hits


def test_session_artifacts_only_through_memo():
    """Session artifacts are keyed, materialized and released in one
    place, session.memo: no module keeps its own cache dict (a
    ``register_df_cache`` registration or a lazy ``global _X`` init), and
    the session token appears outside session.py only in the staging
    path helper sources/roundtrip._stage_dir."""
    hits = []
    for p in _py_sources():
        rel = str(p.relative_to(PKG))
        text = p.read_text()
        if "register_df_cache(" in text:
            hits.append(f"{rel}: register_df_cache(")
        for name in re.findall(r"^\s*global\s+(\w+)", text, re.M):
            # registry's import-once flag is the one module global
            if (rel, name) != ("registry.py", "_loaded"):
                hits.append(f"{rel}: global {name}")
        n = text.count("cache_token(")
        if rel not in ("session.py", "sources/roundtrip.py") and n:
            hits.append(f"{rel}: cache_token( x{n}")
    roundtrip = (PKG / "sources/roundtrip.py").read_text()
    assert roundtrip.count("cache_token(") == 1
    assert not hits, hits


def test_topk_ranks_without_salt_windows():
    """A per-key top-k is one row_number window with its rank <= k
    filter: Spark plans a partial WindowGroupLimit below the key
    exchange, so each map partition already ships at most k rows per
    key. A first rank within (key, salt) groups only adds an exchange
    and a job, so no window is partitioned on a salt column and the
    two-phase salted_topk helper stays gone."""
    hits = []
    for p in _py_sources():
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"partitionBy\([^)]*salt|salted_topk", line, re.I):
                hits.append(f"{p.relative_to(PKG)}:{i}")
    assert not hits, hits


def test_near_dup_clusters_through_one_chain():
    """Near-dup pairs become clusters one way: connected_components
    straight off the pair frame (no ``strategy`` knob, no src/dst
    rename first), and the membership broadcast bound is read only by
    dedup.join_clusters and by graph.connected_components' propagation
    rounds. Split buckets are corpus.hash_bucket, never a hand-rolled
    md5 prefix of a salted key."""
    import ast

    gates = {"operators/dedup.py": "join_clusters", "operators/graph.py": "connected_components"}
    hits = []
    for p in _py_sources():
        rel = str(p.relative_to(PKG))
        text = p.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if re.search(r"\bstrategy\s*[=:]|\"(left|right)_id\"\)\.alias\(\"(src|dst)\"\)", line):
                hits.append(f"{rel}:{i}")
        for m in re.finditer(
            r"F\.conv\(\s*F\.substring\(\s*F\.md5\(\s*F\.concat\(\s*F\.lit\("
            r"[^%]*?\.cast\(\"long\"\)\s*%",
            text,
        ):
            hits.append(f"{rel}:{text.count(chr(10), 0, m.start()) + 1}: md5 bucket")
        tree = ast.parse(text)
        allowed = [
            (n.lineno, n.end_lineno)
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and gates.get(rel) == n.name
        ]
        for n in ast.walk(tree):
            name = n.id if isinstance(n, ast.Name) else getattr(n, "attr", None)
            if name != "LABEL_BROADCAST_BOUND" or isinstance(getattr(n, "ctx", None), ast.Store):
                continue
            if not any(a <= n.lineno <= b for a, b in allowed):
                hits.append(f"{rel}:{n.lineno}: LABEL_BROADCAST_BOUND")
    assert not hits, hits


def test_one_stage_barrier():
    """Every materialization goes through catalog.stage: the package
    calls ``localCheckpoint(``, builds an ``Observation(`` or names a
    ``StorageLevel`` only inside that function, and the old counted
    helper is gone."""
    import ast

    tree = ast.parse((PKG / "catalog.py").read_text())
    first, last = next(
        (
            (n.lineno, n.end_lineno)
            for n in tree.body
            if isinstance(n, ast.FunctionDef) and n.name == "stage"
        ),
        (0, -1),
    )
    hits = []
    for p in _py_sources():
        rel = str(p.relative_to(PKG))
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if "checkpoint_counted" in line:
                hits.append(f"{rel}:{i}: checkpoint_counted")
            if re.search(r"localCheckpoint\(|Observation\(|StorageLevel", line) and not (
                rel == "catalog.py" and first <= i <= last
            ):
                hits.append(f"{rel}:{i}")
    assert not hits, hits
