"""Property-based tests (hypothesis) — the test class the reference
lacks entirely (SURVEY §5 'Absent: property-based/randomized tests').

Each property runs a single Spark job over a batch of generated
examples (one DataFrame per test invocation, not per example) to keep
JVM round-trips off the hot path.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from project_orbit_spark.functions.textbank import chunk_text, parse_money, slugify

TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="\\'\""),
    min_size=0,
    max_size=400,
)


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=30), st.integers(min_value=1, max_value=50))
def test_chunker_partitions_text_exactly(spark, texts, size):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    out = df.select(
        "id",
        "text",
        F.concat_ws("", F.transform(chunk_text(F.col("text"), size), lambda c: c["chunk_text"]))
            .alias("reassembled"),
        F.size(chunk_text(F.col("text"), size)).alias("n_chunks"),
        F.array_max(
            F.transform(chunk_text(F.col("text"), size), lambda c: F.length(c["chunk_text"]))
        ).alias("max_len"),
    ).collect()
    for r in out:
        # chunks reassemble to the original text, none exceeds size,
        # count = ceil(len/size) (min 1 — empty text yields one chunk)
        assert r["reassembled"] == r["text"]
        assert r["max_len"] is None or r["max_len"] <= size
        expected = max(1, -(-len(r["text"]) // size))
        assert r["n_chunks"] == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0.01, max_value=999.99).map(lambda x: round(x, 2)),
            st.sampled_from(["K", "M", "B"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_money_parser_roundtrip(spark, amounts):
    mult = {"K": 1e3, "M": 1e6, "B": 1e9}
    rows = [(i, f"${a}{s}", a * mult[s]) for i, (a, s) in enumerate(amounts)]
    df = spark.createDataFrame(rows, ["id", "s", "expected"])
    out = df.select("id", "expected", parse_money(F.col("s")).alias("parsed")).collect()
    for r in out:
        assert abs(r["parsed"] - r["expected"]) <= 1e-6 * max(1.0, abs(r["expected"]))


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_slugify_is_clean_and_bounded(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "t"])
    out = df.select(slugify(F.col("t")).alias("slug")).collect()
    import re

    for r in out:
        assert len(r["slug"]) <= 30
        assert re.fullmatch(r"[a-z0-9_]*", r["slug"])


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=40).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_minhash_estimates_jaccard(spark, texts):
    """MinHash signature agreement approximates true shingle Jaccard:
    estimate within 0.45 absolute (k=24 → σ≈0.10, bound ≈ 4.4σ).
    derandomized: a per-pair statistical bound under fresh random
    examples flakes at the ~1/1000 tail (it did, round 3) without
    any code change — fixed examples keep the property meaningful
    AND reproducible."""
    from project_orbit_spark.operators.dedup import minhash_signature, word_shingles

    k = 24
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "t"])
    sh = df.select(
        "id",
        word_shingles("t", 2).alias("sh"),
        minhash_signature(word_shingles("t", 2), k=k).alias("sig"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
        (
            F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
            / F.size(F.array_union("a.sh", "b.sh"))
        ).alias("true_j"),
        (
            F.aggregate(
                F.zip_with("a.sig", "b.sig", lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda s, v: s + v,
            ).cast("double")
            / k
        ).alias("est_j"),
    ).collect()
    for r in pairs:
        assert abs(r["est_j"] - r["true_j"]) <= 0.45


def test_ivf_nprobe_recall_monotone(spark):
    """Widening the probe set can only help: nprobe=2 recall vs the
    exact brute-force top-k is >= nprobe=1 recall, and nprobe=2
    results are a superset-quality improvement, not a reshuffle."""
    from project_orbit_spark import registry
    from tests.conftest import SF_DIR

    exact = {
        (r.qid, r.cid)
        for r in registry.get_query("cosine_topk_exact").fn(spark, SF_DIR).collect()
    }
    n1 = {
        (r.qid, r.cid)
        for r in registry.get_query("ann_ivf_topk").fn(spark, SF_DIR).collect()
    }
    n2 = {
        (r.qid, r.cid)
        for r in registry.get_query("ann_ivf_nprobe2").fn(spark, SF_DIR).collect()
    }
    assert len(n2 & exact) >= len(n1 & exact)


def test_affine_minhash_matches_string_family_estimates(spark):
    """The fast affine-integer MinHash family estimates the same
    Jaccard as the md5-string reference family within sampling noise
    (both k=12 -> sigma ~0.14; allow 3.5 sigma)."""
    from project_orbit_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_int,
        shingle_hashes,
        word_shingles,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "totally different words here with no overlap at all",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "t"])
    sh = df.select(
        "id",
        minhash_signature(word_shingles("t", 2), k=12).alias("sig_str"),
        minhash_signature_int(shingle_hashes(word_shingles("t", 2)), k=12).alias("sig_int"),
    )
    a, b = sh.alias("a"), sh.alias("b")

    def est(col_a, col_b):
        return (
            F.aggregate(
                F.zip_with(col_a, col_b, lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda s, v: s + v,
            ).cast("double")
            / 12.0
        )

    rows = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            est(F.col("a.sig_str"), F.col("b.sig_str")).alias("e_str"),
            est(F.col("a.sig_int"), F.col("b.sig_int")).alias("e_int"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r["e_str"] - r["e_int"]) <= 0.5


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference implementation: plain union-find, label = min node."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=40), st.integers(min_value=0, max_value=40)),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from project_orbit_spark.operators.graph import (
        connected_components,
        connected_components_two_phase,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _union_find_labels(edges)
    got_lp = {r["node"]: r["label"] for r in connected_components(df).collect()}
    got_2p = {r["node"]: r["label"] for r in connected_components_two_phase(df).collect()}
    assert got_lp == want
    assert got_2p == want
    # past the label broadcast bound the rounds' join is left to AQE:
    # same labels
    from project_orbit_spark.operators import dedup

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "LABEL_BROADCAST_BOUND", 0)
        got_aqe = {r["node"]: r["label"] for r in connected_components(df).collect()}
    assert got_aqe == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-10.0, max_value=10.0, allow_nan=False, width=32),
            min_size=1,
            max_size=16,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_int8_quantization_error_bound(spark, vectors):
    # symmetric round-to-nearest: reconstruction error ≤ scale/2 per
    # element, and every quantized level fits in int8's [-127, 127]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<float>",
    )
    staged = (
        df.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .withColumn(
            "scale",
            F.greatest(F.array_max(F.transform("v", F.abs)), F.lit(1e-12)) / F.lit(127.0),
        )
        .withColumn("q", F.transform("v", lambda x: F.round(x / F.col("scale")).cast("long")))
    )
    out = staged.select(
        "scale",
        F.array_max(F.transform("q", F.abs)).alias("q_max"),
        F.array_max(F.zip_with("q", "v", lambda q, x: F.abs(q * F.col("scale") - x))).alias(
            "err"
        ),
    ).collect()
    for r in out:
        assert r["q_max"] <= 127
        assert r["err"] <= r["scale"] / 2 * (1 + 1e-9)


def test_mixture_sample_realizes_rates(spark):
    # the hash-bucket membership test must realize each stratum's
    # planned rate to within the 10k-grain resolution
    from project_orbit_spark.registry import get_query
    from tests.conftest import SF_DIR

    sampled = get_query("corpus_mixture_sample").fn(spark, SF_DIR).collect()
    rates = {r["lang"]: r["sample_rate"] for r in sampled}
    from collections import Counter

    kept = Counter(r["lang"] for r in sampled)
    total = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").groupBy("lang").count().collect()
    )
    for row in total:
        lang, n = row["lang"], row["count"]
        if lang not in rates:
            continue  # stratum fully filtered out at this fixture size
        # binomial-ish tolerance: expected ± 4·sqrt(expected) + slack
        exp = rates[lang] * n
        assert abs(kept[lang] - exp) <= 4 * (exp**0.5) + 3


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.sets(st.integers(min_value=0, max_value=31), min_size=0, max_size=3),
)
def test_simhash_pigeonhole_banding_is_lossless(fingerprint, flip_bits):
    """Pure-python pigeonhole property behind simhash_hamming_dups:
    any pair at hamming distance ≤ 3 over 32 bits shares at least one
    of the 4 8-bit bands exactly (3 corrupted bits touch ≤ 3 bands),
    so bucket-local candidate generation drops no qualifying pair."""
    other = fingerprint
    for b in flip_bits:
        other ^= 1 << b
    bands_a = [(fingerprint >> (8 * i)) & 0xFF for i in range(4)]
    bands_b = [(other >> (8 * i)) & 0xFF for i in range(4)]
    assert any(x == y for x, y in zip(bands_a, bands_b))


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    st.lists(
        st.text(alphabet="abcdefg ", min_size=5, max_size=60),
        min_size=4,
        max_size=16,
    )
)
def test_simhash_banding_is_lossless_both_tiers(spark, texts):
    # the pigeonhole claim: for hamming <= h with >= h+1 bands, the
    # banded candidate join finds EXACTLY the pairs a brute-force
    # all-pairs comparison of the fingerprints finds — on arbitrary
    # corpora, for the 32-bit and 64-bit tiers AND the round-9
    # 128-bit/h<=6 knob tier (8x16-bit bands, long band accumulator)
    # and the width-only cautionary tier C (4x32-bit bands — the
    # packed-word band extraction's shift-0 / full-word-mask edge)
    from project_orbit_spark.operators.dedup import _simhash_pairs, simhash_bits

    rows = [(i, "xx", t) for i, t in enumerate(texts) if t.strip()]
    if len(rows) < 2:
        return
    corpus = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    for n_words, band_bits, max_hamming in ((1, 8, 3), (2, 16, 3), (4, 16, 6), (4, 32, 3)):
        bits = {
            r["doc_id"]: r["bits"]
            for r in simhash_bits(corpus, n_words=n_words).collect()
        }
        brute = set()
        ids = sorted(bits)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                ham = sum(x != y for x, y in zip(bits[a], bits[b]))
                if ham <= max_hamming:
                    brute.add((a, b, ham))
        banded = {
            (r["left_id"], r["right_id"], r["hamming"])
            for r in _simhash_pairs(
                corpus, n_words=n_words, band_bits=band_bits, max_hamming=max_hamming
            ).collect()
        }
        assert banded == brute


def test_span_contamination_detects_copies(spark):
    """A doc that is a copy of corpus text plus a short tail must show
    a high copied-span fraction; the ratio is in (0, 1]."""
    from tests.conftest import SF_DIR
    from project_orbit_spark.operators.dedup import incremental_span_contamination

    rows = incremental_span_contamination(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["dup_ratio"] <= 1.0
        assert r["n_index_hits"] <= r["n_spans"]
    # on average the copies dominate: most windows predate the tail
    avg = sum(r["dup_ratio"] for r in rows) / len(rows)
    assert avg > 0.5, avg


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=2000),
    st.integers(min_value=8, max_value=64),
    st.integers(min_value=1, max_value=7),
)
def test_mg_summary_never_loses_a_heavy_item(stream, cap, n_batches):
    """The Misra-Gries guarantee heavy_hitters_two_pass rests on,
    adversarially: for ANY stream and ANY batch split, every item with
    count > n/(cap+1) must survive the capacity-cap compression.
    (Pure pandas kernel — no Spark job per example.)"""
    import pandas as pd

    from project_orbit_spark.operators.sketches import make_mg_candidates

    items = [f"k{v}" for v in stream]
    n = len(items)
    step = max(1, n // n_batches)
    batches = [pd.DataFrame({"item": items[i : i + step]}) for i in range(0, n, step)]
    out = list(make_mg_candidates(cap)(iter(batches)))
    cands = set(out[0]["item"]) if out else set()
    assert len(cands) <= cap
    counts = pd.Series(items).value_counts()
    for item, cnt in counts.items():
        if cnt > n / (cap + 1):
            assert item in cands, (item, cnt, n, cap)


def test_soft_dedup_weights_conserve_group_mass(spark):
    # invariant: weights within an exact-dup group sum to exactly 1,
    # so total weight == number of DISTINCT texts (the hard-dedup
    # corpus size) and weighted_tokens sums to the deduped token mass
    from project_orbit_spark.operators.dedup import soft_dedup_weights

    out = soft_dedup_weights(spark, "/root/testdata/sf0.001")
    agg = out.groupBy("content_hash").agg(
        F.round(F.sum("weight"), 4).alias("wsum"),
        F.count(F.lit(1)).alias("n"),
        F.first("n_copies").alias("n_copies"),
    )
    rows = agg.collect()
    assert rows, "dup-injected corpus must produce groups"
    assert all(r.wsum == 1.0 for r in rows)
    assert all(r.n == r.n_copies for r in rows)


def test_semantic_decontamination_catches_every_injected_clone(spark):
    # every injected eval clone (vec_id >= 10000) is an EXACT copy of
    # an eval vector: identical vectors share every LSH sign bit, so
    # none may escape the blocked join — recall 100% on exact leaks,
    # and the matched eval_id must be the clone's own source
    from project_orbit_spark.operators.corpus import semantic_decontamination

    out = semantic_decontamination(spark, "/root/testdata/sf0.001").collect()
    clones = [r for r in out if r.vec_id >= 10000]
    assert clones, "fixture must inject eval clones"
    assert all(r.status == "removed" for r in clones)
    assert all(r.eval_id == r.vec_id - 10000 for r in clones)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),  # doc id
            st.integers(min_value=1, max_value=2**31 - 1),  # weight (documented bound)
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_weighted_accept_matches_exact_rational(spark, rows):
    """weighted_accept's BIGINT predicate must equal the exact
    rational decision u32/2^32 < w/max_w computed in unbounded Python
    integers — for ARBITRARY ids and any weight inside the documented
    w < 2^31 bound (the ADVICE r10 overflow envelope), not just the
    shipped n_chars distribution. Also pins the md5-u32 derivation
    cross-implementation (Spark conv(substring(md5)) vs hashlib)."""
    import hashlib

    from project_orbit_spark.operators.corpus import weighted_accept

    max_w = max(w for _i, w in rows)
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {
        r["doc_id"]: r["keep"]
        for r in df.select(
            "doc_id",
            weighted_accept(F.col("doc_id"), F.col("w"), F.lit(max_w)).alias("keep"),
        ).collect()
    }
    for i, w in rows:
        u32 = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        # exact rational: u32/2^32 < w/max_w  <=>  u32*max_w < 2^32*w
        want = u32 * max_w < (2**32) * w
        assert got[i] == want, (i, w, max_w, u32)
        # and the max-weight row is always kept (p = 1)
        if w == max_w:
            assert got[i]


def test_boilerplate_scrub_excises_repeated_segments(spark):
    """A footer segment pasted into >= bp_df docs must vanish from
    every doc; unique content survives verbatim and in order; a doc
    that is ALL boilerplate rewrites to ''; trailing partial
    segments are kept; n_segments = ceil(tokens / seg_w)."""
    from project_orbit_spark.operators.corpus import scrub_boilerplate

    footer = "subscribe to our newsletter for weekly updates today friend"  # 9 toks
    # prefixes are multiples of seg_w=3 so the pasted footer lands on
    # segment boundaries in every doc (the documented alignment
    # precondition of fixed-width segmentation)
    uniq = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota",  # 9 toks
        2: "one two three four five six seven eight nine ten eleven twelve",
        3: "red orange yellow green blue indigo",  # 6 toks
    }
    rows = [(i, f"{uniq[i]} {footer}") for i in uniq]
    rows.append((4, footer))  # all-boilerplate doc
    # misaligned copy: a 1-token prefix shifts the footer off the
    # segment grid, so NONE of its segments match the aligned ones
    rows.append((5, f"misfit {footer}"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in scrub_boilerplate(d, seg_w=3, bp_df=3).collect()
    }
    assert len(out) == 5
    # footer = 3 segments of width 3, each in 4 aligned docs -> excised
    for i, u in uniq.items():
        assert out[i]["clean_text"] == u.lower()
        assert out[i]["n_dropped"] == 3
        n_toks = len(u.split()) + 9
        assert out[i]["n_segments"] == -(-n_toks // 3)
        assert out[i]["clean_n_chars"] == len(u)
    assert out[4]["clean_text"] == ""
    assert out[4]["n_dropped"] == out[4]["n_segments"] == 3
    assert out[4]["clean_n_chars"] == 0
    # the shifted doc keeps everything: alignment is load-bearing
    assert out[5]["n_dropped"] == 0
    assert out[5]["clean_text"] == f"misfit {footer}"


def test_ccnet_bands_are_value_monotone_terciles(spark):
    """Band assignment must be monotone in score (min(head) >=
    max(middle) >= ... ) and each cutoff must be TIGHT: head holds at
    least ceil(n/3) docs, but removing its lowest-score tie group
    drops it below ceil(n/3) — i.e. the cutoff is the largest value
    whose >=-set reaches the tercile count. Same for head+middle at
    ceil(2n/3)."""
    from project_orbit_spark.registry import get_query
    from tests.conftest import SF_DIR

    rows = get_query("ccnet_perplexity_bands").fn(spark, SF_DIR).collect()
    by_band = {}
    for r in rows:
        by_band.setdefault(r["band"], []).append(r["avg_logprob"])
    n = len(rows)
    k1, k2 = (n + 2) // 3, (2 * n + 2) // 3
    head, mid = by_band.get("head", []), by_band.get("middle", [])
    tail = by_band.get("tail", [])
    assert sorted(head)[0] >= (max(mid) if mid else float("-inf"))
    if mid:
        assert min(mid) >= (max(tail) if tail else float("-inf"))
    assert len(head) >= k1
    assert len(head) - head.count(min(head)) < k1, "head cutoff not tight"
    hm = len(head) + len(mid)
    assert hm >= k2
    boundary = min(mid) if mid else min(head)
    assert hm - (head + mid).count(boundary) < k2, "middle cutoff not tight"


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every near-dup cluster's members must share ONE split — in
    particular each injected near-dup (doc_id+100000) lands in its
    base doc's split. The guard must also be non-vacuous on this
    corpus: at least one cluster's members would straddle splits
    under plain doc_id bucketing (what train_val_test_split does)."""
    from project_orbit_spark.registry import get_query
    from tests.conftest import SF_DIR

    rows = get_query("leakage_safe_split").fn(spark, SF_DIR).collect()
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r["canonical_id"], []).append(r)
    multi = [v for v in by_canon.values() if len(v) > 1]
    assert multi, "corpus must have non-singleton near-dup clusters"
    for members in multi:
        assert len({m["split"] for m in members}) == 1

    # doc_id-hash buckets (train_val_test_split semantics) straddle
    import hashlib

    def doc_bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100

    def band(b):
        return "train" if b < 80 else ("val" if b < 90 else "test")

    straddled = any(
        len({band(doc_bucket(m["doc_id"])) for m in members}) > 1
        for members in multi
    )
    assert straddled, "guard is vacuous: doc_id hashing never straddles here"


@settings(max_examples=3, deadline=None, derandomize=True)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=30).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
def test_boilerplate_scrub_roundtrips_when_threshold_unreachable(spark, texts):
    """With bp_df > n_docs no segment can qualify as boilerplate, so
    the scrub must be the identity on whitespace-normalized text:
    chop-into-segments then reassemble-in-order is lossless, trailing
    partial segment included, and n_segments = ceil(tokens/seg_w)."""
    from project_orbit_spark.operators.corpus import scrub_boilerplate

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = scrub_boilerplate(d, seg_w=3, bp_df=len(texts) + 1).collect()
    assert len(out) == len(texts)
    for r in out:
        orig = " ".join(texts[r["doc_id"]].lower().split())
        assert r["clean_text"] == orig
        assert r["n_dropped"] == 0
        n_toks = len(texts[r["doc_id"]].split())
        assert r["n_segments"] == -(-n_toks // 3)


def test_next_fit_packing_invariants(spark):
    """Next-fit layout laws on the real corpus: within each (lang,
    shard) walk, pack ids start at 0 and step by at most 1; a pack's
    token total never exceeds the budget unless it holds exactly ONE
    (oversized) doc; pack_fill is the exact running total within its
    pack; and every doc appears exactly once (no splitting)."""
    from project_orbit_spark.operators.corpus import PACK_BUDGET
    from project_orbit_spark.registry import get_query
    from tests.conftest import SF_DIR

    rows = get_query("pack_sequences_next_fit").fn(spark, SF_DIR).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    shards = {}
    for r in rows:
        shards.setdefault((r["lang"], r["shard"]), []).append(r)
    for members in shards.values():
        members.sort(key=lambda r: r["doc_id"])
        assert members[0]["pack_id"] == 0
        prev_pack, fill = 0, 0
        pack_docs = {}
        for r in members:
            assert r["pack_id"] - prev_pack in (0, 1)
            fill = r["n_tokens"] if r["pack_id"] != prev_pack or r is members[0] else fill + r["n_tokens"]
            assert r["pack_fill"] == fill
            prev_pack = r["pack_id"]
            pack_docs.setdefault(r["pack_id"], []).append(r["n_tokens"])
        for toks in pack_docs.values():
            assert sum(toks) <= PACK_BUDGET or len(toks) == 1


def test_next_fit_packing_is_repartition_invariant(spark):
    """VERDICT r11 ask #4: the packing walk is the engine's one
    applyInPandas stage whose OUTPUT VALUES depend on row order
    inside each pandas group — pack_next_fit's contract is that the
    per-group doc_id re-sort makes the layout a pure function of the
    input SET. Drive the same rows through three hostile physical
    shapes (round-robin repartition, single-partition coalesce,
    reverse-ordered input) and demand byte-identical layouts."""
    from project_orbit_spark.operators.corpus import pack_next_fit
    from project_orbit_spark.catalog import load
    from tests.conftest import SF_DIR

    toks = (
        load(spark, SF_DIR, "documents")
        .select(
            "doc_id",
            "lang",
            (F.col("doc_id") % 16).alias("shard"),
            F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        )
    )

    def layout(df):
        return sorted(
            (r["doc_id"], r["pack_id"], r["pack_fill"])
            for r in pack_next_fit(df).collect()
        )

    canonical = layout(toks)
    assert canonical  # non-vacuous: the fixture corpus is non-empty
    assert layout(toks.repartition(7)) == canonical
    assert layout(toks.coalesce(1)) == canonical
    assert layout(toks.orderBy(F.col("doc_id").desc())) == canonical


def test_boilerplate_scrub_keeps_all_boilerplate_docs_as_empty(spark):
    """VERDICT r11 ask #4: a document that is 100% boilerplate is
    KEPT, not dropped — the row survives with clean_text = '' (and
    clean_n_chars = 0, n_dropped = n_segments), so downstream stages
    see an explicit empty doc rather than a silently vanished id.
    Pinned on both engines: the Spark side's groupBy(doc_id) retains
    every input doc and the oracle's coalesce(string_agg(...), '')
    does the same."""
    from project_orbit_spark.operators.corpus import scrub_boilerplate

    bp = "nav home about contact us legal"  # 6 tokens = 2 segs @ seg_w=3
    rows = [
        (0, bp),  # 100% boilerplate: every segment repeats in >=3 docs
        (1, bp + " alpha beta gamma unique one"),
        (2, bp + " delta epsilon zeta unique two"),
        (3, "entirely original content nothing shared here"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_boilerplate(d, seg_w=3, bp_df=3).collect()}
    assert set(out) == {0, 1, 2, 3}  # nobody vanishes
    assert out[0]["clean_text"] == ""
    assert out[0]["clean_n_chars"] == 0
    assert out[0]["n_dropped"] == out[0]["n_segments"] == 2
    # the partially-boilerplate docs keep exactly their unique tail
    assert out[1]["clean_text"] == "alpha beta gamma unique one"
    assert out[2]["clean_text"] == "delta epsilon zeta unique two"
    # the untouched doc round-trips
    assert out[3]["n_dropped"] == 0


def test_curation_pipeline_stage_order_semantics(spark):
    """VERDICT r11 ask #3: the composed pipeline's stage ORDER is the
    contract. (a) Scrub before pair generation: two docs whose raw
    texts are near-dups ONLY through shared boilerplate must NOT
    merge into one canonical cluster (their scrubbed tails are
    disjoint). (b) Pairs still run: two docs identical after scrub
    MUST merge and land in the SAME split (leakage safety). (c) Gate
    before packing: the output contains exactly the head+middle docs
    of the scrubbed corpus — tail docs and unscoreable (100%
    boilerplate) docs never reach the packing stage."""
    from project_orbit_spark.functions.textquality import (
        bigram_scores,
        perplexity_bands,
    )
    from project_orbit_spark.operators.corpus import (
        curation_pipeline,
        scrub_boilerplate,
    )

    bp = "nav home about contact careers legal privacy terms"  # 8 tokens = 1 seg
    uniq_a = "alpha beta gamma delta epsilon zeta eta theta"
    uniq_b = "one two three four five six seven eight"
    shared = "identical payload row tokens repeated verbatim across pair"
    rows = [
        # near-dup ONLY via boilerplate (3x bp segment + tiny unique tail)
        (0, f"{bp} {bp} {bp} {uniq_a}"),
        (1, f"{bp} {bp} {bp} {uniq_b}"),
        # near-dup AFTER scrub (same payload, different boilerplate load)
        (2, f"{bp} {shared} {shared} {shared}"),
        (3, f"{shared} {shared} {shared}"),
        # 100% boilerplate -> scrubs to empty -> unscoreable -> dropped
        (4, f"{bp} {bp}"),
        # filler variety so the tercile cut has a real distribution
        (5, "quick brown fox jumps over the lazy dog again and again today"),
        (6, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
        (7, "completely different vocabulary covering astronomy physics chemistry biology"),
        (8, "numbers nine ten eleven twelve thirteen fourteen fifteen sixteen"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation_pipeline(d).collect()}

    # (c) gate before packing: output ids == head+middle of scrubbed corpus
    scrubbed = scrub_boilerplate(d).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    scores = bigram_scores(scrubbed).select("doc_id", "avg_logprob")
    bands = {
        r["doc_id"]: r["band"]
        for r in perplexity_bands(scores, scores.count()).collect()
    }
    expected = {i for i, b in bands.items() if b != "tail"}
    assert set(out) == expected
    assert 4 not in out  # the all-boilerplate doc never reaches packing
    assert any(b == "tail" for b in bands.values())  # the gate is non-vacuous

    # (a) scrub before pairs: boilerplate-only near-dups stay singletons
    for i in (0, 1):
        if i in out:
            assert out[i]["canonical_id"] == i, (
                "boilerplate-induced pair leaked through the scrub stage"
            )
    # (b) true near-dups merge and share a split (leakage safety)
    if 2 in out and 3 in out:
        assert out[2]["canonical_id"] == out[3]["canonical_id"] == 2
        assert out[2]["split"] == out[3]["split"]


def test_perplexity_band_ties_land_in_the_higher_band(spark):
    """ADVICE-style sweep of the round-11 operators: CCNet banding
    cuts on score VALUES, so a tie group that straddles a tercile
    boundary must land WHOLE in the higher band (never split between
    bands), and with distinct scores the ceil arithmetic yields exact
    ceil(n/3) terciles."""
    from project_orbit_spark.functions.textquality import perplexity_bands

    def bands(scores):
        df = spark.createDataFrame(
            [(i, float(s)) for i, s in enumerate(scores)],
            "doc_id long, avg_logprob double",
        )
        return {
            r["doc_id"]: r["band"] for r in perplexity_bands(df, len(scores)).collect()
        }

    # 5-way tie straddles the first boundary: ALL ties go head
    b = bands([5.0] * 5 + [1.0] * 4)
    assert [b[i] for i in range(5)] == ["head"] * 5
    assert [b[i] for i in range(5, 9)] == ["middle"] * 4
    assert "tail" not in b.values()

    # distinct scores: exact ceil-terciles, high scores = head
    b = bands([9.0, 8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0])
    assert [b[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )


def test_tercile_cutoffs_on_degenerate_score_tables(spark):
    """The driver-side cutoffs on the inputs a fixture never produces:
    zero scores give (None, None) without a job that could fail and
    band nothing; one shared score is every tercile's cutoff, so all
    rows land in head."""
    from project_orbit_spark.functions.textquality import (
        band_with_cutoffs,
        perplexity_bands,
        tercile_cutoffs,
    )

    schema = "doc_id long, avg_logprob double"
    empty = spark.createDataFrame([], schema)
    assert tercile_cutoffs(empty, 0) == (None, None)
    assert perplexity_bands(empty, 0).collect() == []
    one = spark.createDataFrame([(1, -2.5)], schema)
    assert {r["band"] for r in band_with_cutoffs(one, None, None).collect()} == {"tail"}

    same = spark.createDataFrame([(i, -2.5) for i in range(7)], schema)
    assert tercile_cutoffs(same, 7) == (-2.5, -2.5)
    assert {r["band"] for r in perplexity_bands(same, 7).collect()} == {"head"}


def test_incremental_curation_recrawls_inherit_split(spark):
    """The incremental face's leakage guard: a re-crawl (verbatim
    copy of a base doc) must match the index, inherit the base
    cluster's EXISTING canonical id, and therefore land in exactly
    the split the offline build assigned that cluster — a re-crawled
    training doc can never drift into val/test. Remix-arm docs below
    the pair threshold must found their own cluster (canonical =
    self), so the coalesce path is non-vacuous."""
    from project_orbit_spark.operators.corpus import (
        curation_pipeline,
        warm_curation_artifacts,
    )
    from project_orbit_spark.catalog import load
    from project_orbit_spark.registry import get_query
    from tests.conftest import SF_DIR

    rows = get_query("incremental_curation_gold").fn(spark, SF_DIR).collect()
    assert rows
    base = {
        r["doc_id"]: r
        for r in curation_pipeline(
            load(spark, SF_DIR, "documents").select("doc_id", "text")
        ).collect()
    }
    recrawls = [r for r in rows if 200000 <= r["new_id"] < 300000]
    remixes = [r for r in rows if r["new_id"] >= 300000]
    assert recrawls and remixes
    for r in recrawls:
        b = base[r["new_id"] - 200000]  # the doc it re-crawls
        assert r["canonical_id"] == b["canonical_id"], r
        assert r["split"] == b["split"], r
        assert r["band"] == b["band"], r  # same text, same artifacts
    assert any(r["canonical_id"] == r["new_id"] for r in remixes), (
        "no remix founded its own cluster — the coalesce path is vacuous"
    )


@settings(max_examples=5, deadline=None)
@given(
    base=st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=99),
        min_size=1,
        max_size=20,
    ),
    batches=st.lists(
        st.dictionaries(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=99),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=3,
    ),
)
def test_merge_upsert_partitioned_matches_dict_merge(
    spark, tmp_path_factory, base, batches
):
    """Partition-scoped MERGE ≡ sequential dict.update for any base
    table and batch sequence, under the helper's documented contract
    that the partition column is a STABLE function of the key (lang of
    a doc, dt of an event) — the standard production constraint for
    partition-scoped upserts, since a key that MOVED partitions would
    leave its old row in a directory the batch never rewrites."""
    from project_orbit_spark.sources.connectors import merge_upsert_partitioned

    part = lambda k: ["a", "b", "c", "d"][k % 4]  # noqa: E731
    target = str(tmp_path_factory.mktemp("merge_prop") / "t")
    mk = lambda d: spark.createDataFrame(  # noqa: E731
        [(k, part(k), v) for k, v in sorted(d.items())],
        "k long, part string, v long",
    )
    merge_upsert_partitioned(spark, target, mk(base), "k", "part")
    state = dict(base)
    for b in batches:
        n = merge_upsert_partitioned(spark, target, mk(b), "k", "part")
        assert n == len({part(k) for k in b})
        state.update(b)
    got = {
        r["k"]: (r["part"], r["v"]) for r in spark.read.parquet(target).collect()
    }
    assert got == {k: (part(k), v) for k, v in state.items()}


def test_repetition_signals_semantics(spark):
    # a 2-gram-dominated doc is flagged; a fully-distinct doc passes
    # with zero dup mass; a doc shorter than every n emits zero
    # fracs (no fabricated descending-sequence windows) and passes
    from project_orbit_spark.functions.textquality import repetition_signals

    rows = [
        (0, "spam ham " * 40),
        (1, " ".join(f"w{i}" for i in range(80))),
        (2, "one"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(d).collect()}
    assert out[0]["keep"] == 0 and out[0]["top2_frac"] > 0.5
    assert out[1]["keep"] == 1 and out[1]["dup3_frac"] == 0.0
    assert out[2]["keep"] == 1
    assert (
        out[2]["top2_frac"]
        == out[2]["top3_frac"]
        == out[2]["dup3_frac"]
        == out[2]["dup4_frac"]
        == 0.0
    )


def test_repetition_signals_zero_chars_is_null_not_inf(spark):
    # ADVICE r13: an empty/whitespace-only doc tokenizes to [""] with
    # total_chars=0; the nullif guard must make every frac (and the
    # keep flag) NULL on BOTH engines — without it Spark's Divide
    # yields NULL while DuckDB's double division yields inf, a latent
    # cross-engine hash divergence on degenerate corpora
    from project_orbit_spark.functions.textquality import repetition_signals

    d = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, " ".join(f"w{i}" for i in range(80)))],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(d).collect()}
    for doc in (0, 1):
        assert out[doc]["top2_frac"] is None
        assert out[doc]["dup4_frac"] is None
        assert out[doc]["keep"] is None
    assert out[2]["keep"] == 1  # a healthy doc is untouched by the guard


def test_repetition_signals_fixture_split_non_vacuous(spark):
    # the keep flag must cut the fixture corpus both ways — a
    # threshold that keeps (or drops) everything tests nothing
    from project_orbit_spark.functions.textquality import (
        gopher_repetition_signals,
    )

    out = gopher_repetition_signals(spark, "/root/testdata/sf0.001")
    agg = out.agg(F.sum("keep").alias("kept"), F.count(F.lit(1)).alias("n")).collect()[0]
    assert 0 < agg["kept"] < agg["n"]


def test_first_wins_dedup_orders_and_differs_from_scrub(spark):
    # first occurrence (lowest doc_id, then seg_idx) is KEPT, later
    # repeats drop — including within-doc repeats; and with DF=2 the
    # boilerplate scrub (DF>=3) keeps everything, pinning that the
    # two operators are genuinely different semantics, not renames
    from project_orbit_spark.operators.corpus import (
        dedup_segments_first_wins,
        scrub_boilerplate,
    )

    seg_a = " ".join(f"a{i}" for i in range(8))
    seg_b = " ".join(f"b{i}" for i in range(8))
    tail = " ".join(f"t{i}" for i in range(8))
    rows = [
        (0, seg_a),
        (1, f"{seg_a} {tail}"),
        (2, f"{seg_b} {seg_b}"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fw = {r["doc_id"]: r for r in dedup_segments_first_wins(d).collect()}
    assert fw[0]["n_dropped"] == 0 and fw[0]["clean_text"] == seg_a
    assert fw[1]["n_dropped"] == 1 and fw[1]["clean_text"] == tail
    assert fw[2]["n_dropped"] == 1 and fw[2]["clean_text"] == seg_b
    sc = {r["doc_id"]: r for r in scrub_boilerplate(d).collect()}
    assert all(sc[i]["n_dropped"] == 0 for i in range(3))


def test_temperature_mixture_upweights_tail_languages(spark):
    # alpha=0.5 flattening: a language with more docs never gets a
    # HIGHER keep rate than a smaller one, head languages sit below
    # the tail, and the realized sample lands near the 50% budget
    from project_orbit_spark.operators.corpus import (
        temperature_mixture_sample,
    )

    out = temperature_mixture_sample(spark, "/root/testdata/sf0.001")
    rates = {
        r["lang"]: (r["lang_docs"], r["sample_rate"])
        for r in out.select("lang", "lang_docs", "sample_rate").distinct().collect()
    }
    by_size = sorted(rates.values())
    for (n1, r1), (n2, r2) in zip(by_size, by_size[1:]):
        assert r2 <= r1, f"rate must be non-increasing in lang size: {by_size}"
    total = out.sparkSession.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    kept = out.count()
    assert 0.3 * total < kept < 0.7 * total


def test_matryoshka_funnel_recall_against_exact(spark):
    # the funnel's full-dim top-5 must substantially agree with the
    # exact scan (the fixture's leading dims carry real signal), and
    # per-query output is exactly 5 rows ranked by the FULL score
    from project_orbit_spark.similarity.cosine import (
        cosine_topk_exact,
        matryoshka_funnel_topk,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["qid"], r["cid"]) for r in cosine_topk_exact(spark, sf).collect()
    }
    funnel = matryoshka_funnel_topk(spark, sf).collect()
    assert len(funnel) == 25
    got = {(r["qid"], r["cid"]) for r in funnel}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.6, f"funnel recall@5 collapsed: {recall}"
    for qid in {r["qid"] for r in funnel}:
        rows = sorted(
            (r for r in funnel if r["qid"] == qid), key=lambda r: r["rank"]
        )
        scores = [r["full_score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_incremental_segment_dedup_is_o_new(spark):
    # re-crawled body segments all drop against the persisted index
    # (every fully-original segment is seen); only the novel appended
    # tail can survive — and it does for at least one batch doc, so
    # neither direction of the flag is vacuous
    from project_orbit_spark.operators.corpus import (
        incremental_segment_dedup,
    )

    out = incremental_segment_dedup(spark, "/root/testdata/sf0.001").collect()
    assert out, "batch must be non-empty"
    for r in out:
        assert r["n_dropped"] >= r["n_segments"] - 2, (
            "a fully-original segment escaped the index",
            r["new_id"],
        )
    kept_texts = [r["clean_text"] for r in out if r["clean_text"]]
    assert kept_texts, "novel tails must survive"
    assert any("nv1" in t for t in kept_texts)
    assert sum(r["n_dropped"] for r in out) > 0


def test_quality_ensemble_filter_composes_and_splits(spark):
    # the ensemble must agree with its parts: a doc flagged by the
    # repetition bank scores lower than its quality alone, the keep
    # flag splits the fixture both ways, and keep is exactly
    # (ensemble_score >= 0.45) — no hidden second rule
    from project_orbit_spark.functions.textquality import (
        quality_ensemble_filter,
    )

    out = quality_ensemble_filter(spark, "/root/testdata/sf0.001").collect()
    kept = sum(r["keep"] for r in out)
    assert 0 < kept < len(out)
    for r in out:
        assert r["keep"] == int(r["ensemble_score"] >= 0.45)


def test_corpus_report_card_internally_consistent(spark):
    # the card's rates must be exactly the ratios of its own counts,
    # languages partition the corpus, and the keep rates sit strictly
    # inside (0, 1) somewhere so the card reports real signal
    import math

    from project_orbit_spark.functions.textquality import corpus_report_card

    sf = "/root/testdata/sf0.001"
    out = corpus_report_card(spark, sf).collect()
    total = spark.read.parquet(sf + "/documents.parquet").count()
    assert sum(r["n_docs"] for r in out) == total
    for r in out:
        assert r["dup_rate"] == math.floor(
            r["exact_dup_docs"] / r["n_docs"] * 10000
        ) / 10000
        assert 0.0 <= r["avg_quality"] <= 1.0
    assert any(0 < r["ensemble_keep_rate"] < 1 for r in out)


def test_dup_cluster_histogram_accounts_for_every_doc(spark):
    # histogram mass (sum of n_docs over sizes) must equal the corpus
    # exactly — every doc is a singleton or in exactly one cluster —
    # and the fixture's injected dups guarantee a size>=2 row exists
    from project_orbit_spark.operators.dedup import (
        dup_cluster_size_histogram,
    )

    sf = "/root/testdata/sf0.001"
    out = dup_cluster_size_histogram(spark, sf).collect()
    total = spark.read.parquet(sf + "/documents.parquet").count()
    assert sum(r["n_docs"] for r in out) == total
    for r in out:
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]
    assert any(r["cluster_size"] >= 2 for r in out)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "aa", "ab", "ba", "spam"]),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_repetition_signals_match_python_reference(spark, docs):
    # exact-arithmetic cross-check on adversarially repetitive texts
    # (tiny vocab => dense n-gram collisions): the Spark plan must
    # reproduce a direct Python evaluation of the definition, floor
    # quantization included — same IEEE ops, so equality is exact
    import math
    from collections import Counter

    from project_orbit_spark.functions.textquality import (
        repetition_signals,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(d).collect()}

    def frac(val, total):
        return math.floor(min(1.0, val / total) * 1000000) / 1000000

    for i, words in enumerate(docs):
        total = len(" ".join(words))
        expect = {}
        for n, kind in ((2, "top2"), (3, "top3"), (3, "dup3"), (4, "dup4")):
            grams = [
                " ".join(words[j : j + n])
                for j in range(len(words) - n + 1)
            ]
            c = Counter(grams)
            if kind.startswith("top"):
                val = max((cnt * len(g) for g, cnt in c.items()), default=0)
            else:
                val = sum(cnt * len(g) for g, cnt in c.items() if cnt > 1)
            expect[kind + "_frac"] = frac(val, total)
        r = got[i]
        for k, v in expect.items():
            assert r[k] == v, (i, k, r[k], v, words)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["x", "y", "z"]),
            min_size=1,
            max_size=30,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_first_wins_dedup_matches_python_reference(spark, docs):
    # direct evaluation of the contract: segments on the fixed
    # 8-token grid, global first occurrence by (doc_id, seg_idx)
    # kept, every later repeat dropped — tiny vocab forces heavy
    # cross- and within-doc segment collisions
    from project_orbit_spark.operators.corpus import (
        _SEG_W,
        dedup_segments_first_wins,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_segments_first_wins(d).collect()}

    seen: set = set()
    for i, words in enumerate(docs):
        segs = [
            " ".join(words[j : j + _SEG_W])
            for j in range(0, len(words), _SEG_W)
        ]
        kept = []
        dropped = 0
        for seg in segs:
            if seg in seen:
                dropped += 1
            else:
                seen.add(seg)
                kept.append(seg)
        r = got[i]
        assert r["n_segments"] == len(segs)
        assert r["n_dropped"] == dropped
        assert r["clean_text"] == " ".join(kept)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["aba bab", "low lower lowest", "aa aa ab", "x", "the cat", ""]
        ),
        min_size=1,
        max_size=10,
    )
)
def test_bpe_learn_merges_match_python_reference(spark, texts):
    # the declarative merge loop (pair histogram -> broadcast argmax
    # -> F.aggregate greedy fold) must reproduce a direct Python BPE
    # (Sennrich-style, freq-weighted, greedy left-to-right apply,
    # (count desc, l, r) tie-break) exactly, merge by merge
    from collections import Counter

    from project_orbit_spark.functions.textbank import (
        BPE_MERGES,
        _bpe_apply_merge,
        _bpe_pair_counts,
        bpe_word_histogram,
    )
    import re

    # python reference ------------------------------------------------
    vocab = Counter()
    for t in texts:
        for w in re.sub(r"[^a-z]+", " ", t.lower()).split():
            vocab[w] += 1
    seg = {w: list(w) for w in vocab}
    expected = []
    for rank in range(1, BPE_MERGES + 1):
        pairs = Counter()
        for w, syms in seg.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += vocab[w]
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rank, l, r, l + r, cnt))
        for w, syms in seg.items():
            out = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            seg[w] = out

    # spark pipeline over the same texts -------------------------------
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sdf = bpe_word_histogram(d).select("freq", F.split("word", "").alias("s"))
    got = []
    for rank in range(1, BPE_MERGES + 1):
        best_rows = (
            _bpe_pair_counts(sdf)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best_rows:
            break
        b = best_rows[0]
        got.append((rank, b["l"], b["r"], b["l"] + b["r"], b["cnt"]))
        best = spark.createDataFrame(
            [(b["l"], b["r"], b["l"] + b["r"])],
            "left_sym string, right_sym string, merged string",
        )
        sdf = _bpe_apply_merge(sdf, best)
    assert got == expected


def test_ann_recall_audit_covers_every_tier_and_query(spark):
    # the observability query must emit one row per (tier, qid) of
    # each tier's query universe, hits bounded by k, recall = hits/5
    # exactly, and the fixture's known floors hold (matryoshka >= 0.6
    # mirrors test_matryoshka_funnel_recall_against_exact; LSH tiers
    # are allowed to miss — that's the tradeoff the audit exists to
    # make visible)
    from project_orbit_spark.similarity.lsh import (
        _RECALL_TIERS,
        ann_recall_audit,
    )
    from tests.conftest import SF_DIR

    rows = ann_recall_audit(spark, SF_DIR).collect()
    by_tier: dict[str, list] = {}
    for r in rows:
        by_tier.setdefault(r["tier"], []).append(r)
        assert 0 <= r["hits"] <= 5
        assert r["recall_at_5"] == round(r["hits"] / 5.0, 4)
    assert set(by_tier) == {t for t, _, _ in _RECALL_TIERS}
    for tier, _, qmax in _RECALL_TIERS:
        assert sorted(r["qid"] for r in by_tier[tier]) == list(range(qmax))
    mrl = sum(r["hits"] for r in by_tier["matryoshka"]) / (5.0 * 5)
    assert mrl >= 0.6, f"matryoshka recall floor broke: {mrl}"


def test_dsir_weights_favor_the_target_domain(spark):
    # the importance signal must be directional on the fixture: target
    # (en) docs keep at a strictly higher rate than non-target docs,
    # the flag is non-vacuous in both directions, and the threshold
    # split is consistent with the emitted quantized score
    from collections import Counter

    from project_orbit_spark.functions.textquality import (
        dsir_importance_weights,
    )
    from tests.conftest import SF_DIR

    rows = dsir_importance_weights(spark, SF_DIR).collect()
    c = Counter((r["lang"] == "en", r["keep"]) for r in rows)
    assert c[(True, 1)] and c[(True, 0)] and c[(False, 1)] and c[(False, 0)]
    en_rate = c[(True, 1)] / (c[(True, 1)] + c[(True, 0)])
    other_rate = c[(False, 1)] / (c[(False, 1)] + c[(False, 0)])
    assert en_rate > other_rate, (en_rate, other_rate)
    # keep is a pure threshold on the quantized score: every kept doc
    # scores strictly above every dropped doc's minimum kept score
    kept_min = min(r["avg_log_ratio"] for r in rows if r["keep"])
    dropped_max = max(r["avg_log_ratio"] for r in rows if not r["keep"])
    assert kept_min > dropped_max


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=30).map(
            " ".join
        ),
        min_size=1,
        max_size=8,
    )
)
def test_winnowing_matches_python_reference(spark, texts):
    # exact cross-check on an adversarial 2-letter vocabulary (dense
    # hash ties force the rightmost-tie rule to matter): the lead()
    # window formulation must reproduce a direct Python robust
    # winnowing (Schleimer et al.: per window of W k-gram hashes,
    # select the min, rightmost on ties, dedup selected (pos, hash))
    import hashlib

    from project_orbit_spark.functions.textquality import (
        WINNOW_K,
        WINNOW_MIX,
        WINNOW_W,
        _WINNOW_PACK,
        winnowing_fingerprints,
    )
    import pathlib
    import tempfile

    def token_hash(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

    def kgram_hash(words):
        # the r15 hash-once family: per-token md5 int, two-lane
        # polynomial mix packed to 62 bits (mirrors WINNOW_MIX)
        hs = [token_hash(w) for w in words]
        lanes = []
        for bmul, p in WINNOW_MIX:
            acc = hs[0] % p
            for h in hs[1:]:
                acc = (acc * bmul + h) % p
            lanes.append(acc)
        return lanes[0] * _WINNOW_PACK + lanes[1]

    expected = {}
    for i, raw in enumerate(texts):
        toks = raw.strip().lower().split()
        if raw.strip() == "":
            toks = [""]
        g = [
            kgram_hash(toks[j : j + WINNOW_K])
            for j in range(len(toks) - WINNOW_K + 1)
        ] if len(toks) >= WINNOW_K else []
        sel = set()
        for j in range(len(g) - WINNOW_W + 1):
            win = g[j : j + WINNOW_W]
            m = min(win)
            # rightmost min
            off = max(k for k, v in enumerate(win) if v == m)
            sel.add((j + 1 + off, m))
        expected[i] = {
            "n_windows": max(len(g) - WINNOW_W + 1, 0),
            "n_fingerprints": len(sel),
            "fp_min": min((fp for _, fp in sel), default=None),
            "fp_max": max((fp for _, fp in sel), default=None),
            "fp_checksum": sum(fp % 1000000007 for _, fp in sel),
        }

    # write a documents-shaped parquet fixture so the registered query
    # runs unmodified (it reads the 'documents' table by name)
    import pandas as pd

    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["t"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ).to_parquet(pathlib.Path(td) / "documents.parquet")
        got = {
            r["doc_id"]: r
            for r in winnowing_fingerprints(spark, td).collect()
        }
    for i, want in expected.items():
        r = got[i]
        for k, v in want.items():
            assert r[k] == v, (i, k, r[k], v)


def test_winnowing_match_pairs_finds_shared_passages(spark):
    # the MOSS guarantee: two docs sharing a passage of >= K+W-1 words
    # share at least one selected fingerprint; a long shared passage
    # yields many. Unrelated docs with disjoint vocabularies share
    # none. The common-fp guard must not drop a passage shared by
    # only two docs.
    import pathlib
    import tempfile

    import pandas as pd

    from project_orbit_spark.functions.textquality import (
        winnowing_match_pairs,
    )

    passage = " ".join(f"tok{i}" for i in range(40))
    texts = [
        "alpha beta " + passage + " gamma delta",
        "unrelated prefix words here " + passage,
        " ".join(f"other{i}" for i in range(50)),
        " ".join(f"more{i}" for i in range(50)),
    ]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["t"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ).to_parquet(pathlib.Path(td) / "documents.parquet")
        pairs = {
            (r["doc_a"], r["doc_b"]): r["n_shared_fps"]
            for r in winnowing_match_pairs(spark, td).collect()
        }
    assert (0, 1) in pairs, pairs
    assert pairs[(0, 1)] >= 5  # a 40-word shared passage -> many fps
    assert all(p == (0, 1) for p in pairs), pairs  # no chance pairs


_TIE_VECS = [(1.0, 0.0, 0.0), (2.0, 0.0, 0.0), (1.0, 1.0, 0.0), (0.0, 1.0, 1.0), (3.0, 3.0, 0.0)]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.sampled_from(range(len(_TIE_VECS))), min_size=1, max_size=80),
    st.integers(min_value=1, max_value=6),
)
def test_brute_force_topk_is_rank_identical_on_tied_scores(spark, picks, k):
    # vectors drawn from five directions (two pairs are parallel), so
    # most scores tie exactly: the one-window top-k must return, per
    # query, the first k ids of the (score desc, cid asc) order with
    # ranks 1..k, groups smaller than k included. The reference scores
    # accumulate in the same sequential float64 order as cosine().
    import math

    from project_orbit_spark.similarity.cosine import brute_force_topk

    vecs = [(i, list(_TIE_VECS[p])) for i, p in enumerate(picks)]
    df = spark.createDataFrame(vecs, "id long, v array<double>")
    queries = df.filter(F.col("id") < 3).select(F.col("id").alias("qid"), F.col("v").alias("qe"))
    corpus = df.select(F.col("id").alias("cid"), F.col("v").alias("ce"))
    got = sorted(
        (r["qid"], r["rank"], r["cid"]) for r in brute_force_topk(queries, corpus, k).collect()
    )

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    want = []
    for qid, qv in vecs[:3]:
        order = sorted((-cos(qv, cv), cid) for cid, cv in vecs if cid != qid)
        want += [(qid, rank, cid) for rank, (_, cid) in enumerate(order[:k], start=1)]
    assert got == sorted(want)


def test_bucketed_near_dup_keeps_exact_clone_ground_truth(spark):
    # the LSH-bucketed E4 face may drop BORDERLINE cross-bucket pairs
    # (the documented ~1.4%/plane miss rate) but must keep every
    # injected EXACT clone pair — identical vectors agree on every
    # plane by construction — and must emit no pair the exact face
    # doesn't (blocking only ever removes candidates)
    from project_orbit_spark.similarity.cosine import (
        embedding_near_dup_pairs,
    )
    from project_orbit_spark.similarity.lsh import (
        embedding_near_dup_bucketed,
    )
    from tests.conftest import SF_DIR

    exact = {
        (r["left_id"], r["right_id"])
        for r in embedding_near_dup_pairs(spark, SF_DIR).collect()
    }
    bucketed = {
        (r["left_id"], r["right_id"])
        for r in embedding_near_dup_bucketed(spark, SF_DIR).collect()
    }
    assert bucketed <= exact
    clones = {(l, r) for (l, r) in exact if r == l + 10000}
    assert clones, "fixture must contain injected clone pairs"
    assert clones <= bucketed


def test_bpe_fit_breaks_on_exhausted_pairs_keeping_partial_fit(spark):
    # ADVICE r14 #1: a corpus that exhausts mergeable pairs before
    # BPE_MERGES rounds must keep the merges learned so far and the
    # current segmentation, not silently empty every downstream face
    from project_orbit_spark.functions.textbank import (
        BPE_MERGES,
        _bpe_fit_words,
    )

    # 'ab' merges once (a+b), then no adjacent pairs remain
    words = spark.createDataFrame([("ab", 3)], "word string, freq long")
    merges, seg = _bpe_fit_words(words, final_seg=True)
    assert 1 <= len(merges) < BPE_MERGES
    m = merges[0].collect()[0]
    assert (m["left_sym"], m["right_sym"], m["merged"]) == ("a", "b", "ab")
    seg_rows = seg.collect()
    assert [r["s"] for r in seg_rows] == [["ab"]]  # partial fit kept

    # fully degenerate: single-symbol words only -> zero merges, seg intact
    words1 = spark.createDataFrame(
        [("a", 5), ("b", 2)], "word string, freq long"
    )
    merges1, seg1 = _bpe_fit_words(words1, final_seg=True)
    assert merges1 == []
    assert sorted(r["s"][0] for r in seg1.collect()) == ["a", "b"]


def test_exact_near_dup_face_refuses_oversized_labels(spark):
    # VERDICT r14 ask #3: the exact face's label-cardinality contract
    # is ENFORCED, not just documented — a label past
    # EXACT_FACE_MAX_LABEL_ROWS must fail fast with a pointer to the
    # bucketed face instead of submitting the quadratic join
    import pytest

    from project_orbit_spark.similarity.cosine import (
        EXACT_FACE_MAX_LABEL_ROWS,
        exact_near_dup_pairs,
    )

    big = spark.range(EXACT_FACE_MAX_LABEL_ROWS + 1).select(
        F.col("id").alias("vec_id"),
        F.lit(0).alias("label"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("emb"),
    )
    with pytest.raises(ValueError, match="embedding_near_dup_bucketed"):
        exact_near_dup_pairs(big)

    # under the bound the face still finds the clone pair
    small = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0]),
            (1, 0, [1.0, 0.0]),
            (2, 0, [0.0, 1.0]),
            (3, 1, [1.0, 0.0]),  # same vector, different label: blocked
        ],
        "vec_id long, label int, emb array<double>",
    )
    got = {
        (r["left_id"], r["right_id"])
        for r in exact_near_dup_pairs(small).collect()
    }
    assert got == {(0, 1)}


def test_minhash_retune_preserves_fixture_pair_sets(spark, monkeypatch):
    # r15 geometry retune (12=4x3 -> 24=6x4): the cluster/curation
    # family's r13 driver records stay valid WITHOUT a same-round
    # re-pin because their outputs are pure functions of the pair SET
    # (no est_jaccard column), and the pair set is IDENTICAL under
    # both geometries on the fixture corpora those queries scan —
    # asserted here for the dup-injected corpus (warm_dup_pairs
    # consumers: dup_cluster_labels, dedup_canonical_corpus,
    # dedup_quality_canonical, leakage_safe_split,
    # dup_cluster_size_histogram) and the quality-kept corpus
    # (corpus_curation_gold). If a fixture regeneration ever breaks
    # this identity, the affected queries need _DRIVER_PRIORITY pins
    # in that round — that is what this failing would mean.
    # DELIBERATELY at RECORD_SF_DIR, not conftest's sf0.001: the
    # claim is about the DRIVER's official records (at sf0.001 the
    # sets genuinely differ — a borderline pair flips with the
    # estimator, which is exactly why the claim must be proven at the
    # record SF rather than assumed).
    from project_orbit_spark.catalog import load
    from project_orbit_spark.functions.textquality import quality_score
    from project_orbit_spark.operators import dedup
    from tests.conftest import RECORD_SF_DIR

    SF_DIR = RECORD_SF_DIR

    def pairset(corpus, **geo):
        # the pair stage reads its geometry off the module constants
        with monkeypatch.context() as m:
            for name, value in geo.items():
                m.setattr(dedup, f"MINHASH_{name}", value)
            return {
                (r["left_id"], r["right_id"])
                for r in dedup.minhash_pairs(corpus)
                .select("left_id", "right_id")
                .collect()
            }

    d = load(spark, SF_DIR, "documents").select("doc_id", "text")
    near = d.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" near duplicate suffix tail")).alias("text"),
    )
    injected = d.unionByName(near)
    assert pairset(injected, SIG_K=12, BANDS=4, ROWS=3) == pairset(injected)

    docs = load(spark, SF_DIR, "documents")
    kept = (
        docs.select(
            "doc_id",
            "text",
            quality_score(F.col("text"), F.col("n_chars")).alias("q"),
        )
        .filter(F.col("q") >= 0.5)
        .select("doc_id", "text")
    )
    assert pairset(kept, SIG_K=12, BANDS=4, ROWS=3) == pairset(kept)


def test_span_batch_broadcast_gate_demotes_past_bound(spark):
    # VERDICT r15 ask #5: the last ungated batch-scale broadcast
    # (incremental_span_contamination's new_spans) is now an
    # executable length-aware gate — the probe sums the exact span
    # fan-out (no explode), and past SPAN_BROADCAST_MAX_ROWS the hint
    # is DROPPED (demotion, not refusal: values identical, the
    # planner takes the index shuffle that is correct at that size).
    from project_orbit_spark.operators import dedup

    near = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "k l m n o p q r s t")],
        ["doc_id", "text"],
    )
    spans = dedup._span_hashes(near).select("doc_id", "span_hash")
    idx = spans.select("span_hash").limit(1)

    def join_plan(build):
        df = build.join(idx, "span_hash")
        return df._jdf.queryExecution().executedPlan().toString()

    # default bound: the 6-span batch fits -> broadcast hint applied
    hinted = join_plan(dedup._gated_span_batch(near, spans))
    assert "BroadcastHashJoin" in hinted

    # shrink the bound below the batch's 6 spans -> hint dropped
    orig = dedup.SPAN_BROADCAST_MAX_ROWS
    dedup.SPAN_BROADCAST_MAX_ROWS = 3
    try:
        free = dedup._gated_span_batch(near, spans)
    finally:
        dedup.SPAN_BROADCAST_MAX_ROWS = orig
    assert free is spans, "past the bound the frame must come back unhinted"

    # the probe itself is exact: 2 docs x (10 tokens - 7) = 6 spans,
    # so a bound of exactly 6 still broadcasts
    dedup.SPAN_BROADCAST_MAX_ROWS = 6
    try:
        exact = join_plan(dedup._gated_span_batch(near, spans))
    finally:
        dedup.SPAN_BROADCAST_MAX_ROWS = orig
    assert "BroadcastHashJoin" in exact


def test_winnowing_audit_pins_the_zero_window_edge(spark):
    # VERDICT r15 ask #6: docs shorter than K+W-1 = 7 tokens emit no
    # windows, hence no fingerprints — they must be COUNTED by the
    # audit (n_zero_window_docs) and structurally excluded from both
    # pair sets. Fixture: two clones sharing a long passage (found),
    # one 5-token doc (zero windows), one unrelated doc.
    import pathlib
    import tempfile

    import pandas as pd

    from project_orbit_spark.functions.textquality import (
        winnowing_match_audit,
    )

    passage = " ".join(f"w{i}" for i in range(30))
    texts = [
        "alpha beta " + passage,
        "gamma delta " + passage,
        "tiny doc of five words",  # 5 tokens: grams but no windows
        " ".join(f"z{i}" for i in range(40)),
    ]
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["t"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ).to_parquet(pathlib.Path(td) / "documents.parquet")
        row = winnowing_match_audit(spark, td).collect()[0]
    # injected corpus = 4 base docs + doc 0 re-appended (0 % 9 == 0);
    # the 5-token doc appears once and is the only zero-window doc
    assert row["n_zero_window_docs"] == 1
    # clone pair (0,1) + injection pair (0, 100000) + (1, 100000):
    # all three share the 30-word passage in both metrics
    assert row["n_exact"] == 3
    assert row["n_winnow"] == 3
    assert row["n_hits"] == 3
    assert row["precision_at_t"] == 1.0 and row["recall_at_t"] == 1.0


def test_band_index_expiry_only_removes_matches(spark):
    # refresh_band_index (r16, VERDICT r15 ask #7): dropping an
    # ingest day can only REMOVE index docs, so the expired stage's
    # match set must be a subset of the merged stage's — the dual of
    # the segment face's retention-can-only-REVIVE pin — and
    # compaction must change nothing at all.
    from project_orbit_spark.operators.dedup import refresh_band_index
    from tests.conftest import SF_DIR

    rows = refresh_band_index(spark, SF_DIR).collect()
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r["stage"], set()).add(
            (r["new_id"], r["match_id"], r["est_jaccard"])
        )
    assert by_stage["compacted"] == by_stage["merged"]
    assert by_stage["expired"] <= by_stage["merged"]
    # the fixture must actually exercise the edge: some base doc with
    # doc_id % 3 == 0 matched the probe and was expired away
    assert by_stage["expired"] != by_stage["merged"], (
        "fixture should lose at least one match to retention"
    )


@settings(max_examples=3, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta eps zeta eta theta".split()),
            min_size=3,
            max_size=12,
        ),
        min_size=4,
        max_size=14,
    ),
    st.integers(min_value=0, max_value=10_000),
)
def test_exact_token_cosine_pairs_matches_brute_force(spark, docs, seed):
    """exact_token_cosine_pairs (the simhash own-axis ground truth,
    r17) must equal the O(n²) definition on every corpus: binary
    token-set cosine |A∩B|/sqrt(|A||B|) >= t, pairs left_id <
    right_id, lang-blocked. The PPJoin prefix filter (rarest-first,
    length sz - ceil(t²·sz) + 1) and the t²-size prune are the parts
    a bug would silently DROP pairs from — brute force is the
    soundness oracle. Run at a mid threshold (0.6) so generated docs
    actually produce boundary pairs, and once at the production
    SIMHASH_COS_T default."""
    import math

    from project_orbit_spark.operators.dedup import (
        SIMHASH_COS_T,
        exact_token_cosine_pairs,
    )

    rows = [
        (i, "l" + str((seed + i) % 2), " ".join(toks))
        for i, toks in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])

    def brute(t):
        sets = {
            i: (lang, set(text.strip().lower().split()))
            for i, lang, text in rows
        }
        out = set()
        for i in sets:
            for j in sets:
                if i >= j or sets[i][0] != sets[j][0]:
                    continue
                a, b = sets[i][1], sets[j][1]
                if a and b and len(a & b) / math.sqrt(len(a) * len(b)) >= t:
                    out.add((i, j))
        return out

    for t in (0.6, SIMHASH_COS_T):
        got = {
            (r["left_id"], r["right_id"])
            for r in exact_token_cosine_pairs(df, t).collect()
        }
        assert got == brute(t), f"t={t}: {got ^ brute(t)}"
