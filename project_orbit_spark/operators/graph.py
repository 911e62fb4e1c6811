"""Connected components — collapsing near-dup PAIRS into CLUSTERS.

A dedup pipeline does not stop at candidate pairs: to keep one
canonical document per duplicate group it needs the transitive
closure of the pair relation (A~B, B~C => {A,B,C} is one group even
when A and C never collide directly). The reference's dedup is
exact-hash only (dags/orbit_daily_update_dag.py:188-200), where
groups fall out of a single GROUP BY; the near-dup operators this
engine adds (MinHash-LSH, SimHash) emit *edges*, so cluster collapse
is a graph-connectivity step.

Spark-first shape: iterative min-label propagation over a
symmetric edge list, the superstep shape of Pregelix (VLDB'14): each
round is ONE message exchange joined against vertex state —
``labels ∪ (edges ⋈ labels on dst)`` then ``min(label)`` per node —
so the only shuffle of a round is the grouped min. While the label
table fits ``dedup.LABEL_BROADCAST_BOUND`` it is broadcast into the
edge join and the edge list is never moved after its first
materialization; past the bound the join is left to AQE. Rounds
needed = graph diameter, and duplicate clusters are near-cliques, so
2-4 rounds in practice. Every round ends in an eager stage barrier
(``catalog.stage``) that truncates lineage — without it the plan
doubles per iteration and the job dies on plan size long before data
size.

At 100 TB: the same loop holds (state per round = one (node,label)
table, shuffled on node). A component whose diameter outruns the
round budget (a pathological chain-shaped dup graph) is finished on
the large-star/small-star path instead (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), which converges in
O(log n) rounds with the same join+min-aggregate primitive. Label
choice (min id) makes the fixpoint unique, so results are independent
of round count, partitioning or which path finished them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_orbit_spark.catalog import maybe_broadcast, observed, stage
from project_orbit_spark.registry import register


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    ``edges`` is an undirected pair list with endpoint columns ``src``
    and ``dst`` (each pair listed once is enough — it is symmetrized
    here). Returns (node, label) with one row per distinct endpoint;
    nodes in the same component share a label (the component's
    minimum id).

    Min-label propagation, one shuffle per round, rounds = component
    diameter: 2-4 for the near-clique graphs duplicate clusters form.
    When ``max_iter`` rounds do not reach the fixpoint it restarts on
    ``connected_components_two_phase`` (O(log n) rounds on any
    diameter); both reach the same fixpoint, so the fallback changes
    round complexity, never results.

    The returned frame is a stage barrier on either path, so a
    size-gated join of the labels (``maybe_broadcast(...,
    probe=<result>)``) costs no probe job.
    """
    from project_orbit_spark.operators import dedup

    half = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    # materialized once: every round joins against it, and without the
    # checkpoint each round would re-execute the upstream lineage that
    # produced the pairs (e.g. the MinHash pipeline). One explode emits
    # both directions, so that lineage is read once, not once per side.
    both = F.explode(
        F.array(
            F.struct("src", "dst"),
            F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
        )
    ).alias("e")
    sym = stage(half.select(both).select("e.src", "e.dst").distinct(), "cc.edges")
    # Convergence: min-label propagation only ever DECREASES a label,
    # so sum(label) is strictly monotone until the fixpoint, and equal
    # sums ⟺ no label changed. decimal(38,0) keeps the sum exact far
    # past long overflow. The sums ride each round's checkpoint job.
    def exact_sum(c: str):
        return F.sum(F.col(c).cast("decimal(38,0)"))

    # Round 1 is fused with label init: labels₀(node) = node, so round
    # 1 is min(node, min neighbor) straight off sym (every node of sym
    # appears as src). Round 1 changed nothing ⟺ sum(label) equals
    # sum(node): no edges at all (both None), or self-loops only.
    labels = stage(
        sym.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(F.col("src").alias("node"), F.least("src", "nmin").alias("label")),
        "cc.round",
        label_sum=exact_sum("label"),
        node_sum=exact_sum("node"),
    )
    seen = observed(labels)
    prev_sum = seen["label_sum"]
    if prev_sum == seen["node_sum"]:
        return labels
    for _ in range(max_iter - 1):
        # labels₍ᵢ₊₁₎(v) = min(labels(v), min over neighbors u of
        # labels(u)): one grouped min over the union of the current
        # labels and the labels each edge carries to its src. Every
        # round's label table has the same node set, so its counted
        # size decides the broadcast at zero jobs; the bound is read
        # at call time so a patched bound governs.
        nbr = maybe_broadcast(
            labels.select(F.col("node").alias("dst"), F.col("label").alias("nbr")),
            dedup.LABEL_BROADCAST_BOUND,
            probe=labels,
        )
        msgs = sym.join(nbr, "dst").select(
            F.col("src").alias("node"), F.col("nbr").alias("label")
        )
        labels = stage(
            labels.unionByName(msgs).groupBy("node").agg(F.min("label").alias("label")),
            "cc.round",
            label_sum=exact_sum("label"),
        )
        seen = observed(labels)
        if seen["label_sum"] == prev_sum:
            return labels
        prev_sum = seen["label_sum"]
    # diameter outran the budget — restart on the O(log n) path
    return connected_components_two_phase(edges, src, dst, max_iter)


def _star_rounds(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al.,
    SoCC'14) until the edge set is stable. Returns the final star
    edges (node → component minimum). Each round is two grouped
    aggregates + joins — same primitives as label propagation but
    O(log n) rounds on ANY diameter, which is why it is the scale
    path for long-chain graphs."""

    def neighborhood_min(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        g = neighborhood_min(sym)
        return (
            sym.join(g, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        g = neighborhood_min(oriented)
        out = oriented.join(g, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).union(g.select(F.col("u"), F.col("m").alias("v")))
        return out.filter(F.col("u") != F.col("v")).distinct()

    # the stable-edge-set test rides each round's checkpoint job:
    # (row count, xor of edge hashes) is unchanged ⟺ the set is
    # (up to a 64-bit hash collision)
    h = F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0))
    e = stage(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "cc.star_edges",
        h=h,
    )
    prev = observed(e)
    for _ in range(max_iter):
        e = stage(small_star(large_star(e)), "cc.star_round", h=h)
        seen = observed(e)
        if (seen["rows"], seen["h"]) == (prev["rows"], prev["h"]):
            return e
        prev = seen
    raise RuntimeError(f"two-phase CC: no fixpoint after {max_iter} rounds")


def connected_components_two_phase(edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25) -> DataFrame:
    """Large-star/small-star connected components — same (node, label)
    contract as ``connected_components``, O(log n) rounds instead of
    O(diameter). ``connected_components`` finishes here when its
    propagation rounds run out; raises after ``max_iter`` rounds. The
    result is a stage barrier, so the label join after it probes no
    size."""
    half = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )
    star = _star_rounds(half, max_iter)
    members = star.select(F.col("u").alias("node"), F.col("v").alias("label"))
    roots = star.select(F.col("v").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    return stage(members.union(roots).distinct(), "cc.two_phase")


def cluster_representatives(labels: DataFrame) -> DataFrame:
    """(node, label) -> (doc_id, cluster_id, cluster_size), the shape a
    curation pipeline joins back to keep one doc per cluster."""
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


# ---------------------------------------------------------------------------
# PageRank — the weighted-fixpoint companion to min-label propagation.

PR_SCALE = 1_000_000_000  # fixed-point unit: 1.0 == 1e9
PR_ITERS = 5
PR_EDGE_FANOUT = 3  # deterministic synthetic out-links per page


def _pr_oracle_sql() -> str:
    """Unrolled fixed-point power iteration (no recursive CTE: the
    aggregate-in-recursive-term shape is not portable). Every quantity
    is BIGINT with floor division, so the oracle and the Spark loop
    agree bit-for-bit — no float summation order anywhere."""
    fan = ", ".join(str(j + 1) for j in range(PR_EDGE_FANOUT))
    cte = [
        "cnt AS (SELECT count(*) AS n FROM documents)",
        "nodes AS (SELECT doc_id AS node FROM documents)",
        f"""edges AS (
          SELECT DISTINCT d.doc_id AS src,
                 (d.doc_id * 31 + j * 17) % c.n AS dst
          FROM documents d CROSS JOIN cnt c, UNNEST([{fan}]) AS t(j)
          WHERE (d.doc_id * 31 + j * 17) % c.n != d.doc_id
        )""",
        "outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, {PR_SCALE}::BIGINT // c.n AS rank FROM nodes CROSS JOIN cnt c)",
    ]
    for i in range(PR_ITERS):
        cte.append(f"""c{i + 1} AS (
          SELECT e.dst AS node, sum(r.rank // o.od) AS contrib
          FROM edges e
          JOIN r{i} r ON r.node = e.src
          JOIN outdeg o ON o.src = e.src
          GROUP BY e.dst
        )""")
        cte.append(f"""r{i + 1} AS (
          SELECT n.node,
                 ({PR_SCALE}::BIGINT * 15) // (100 * c.n)
                 + (85 * coalesce(x.contrib, 0)) // 100 AS rank
          FROM nodes n CROSS JOIN cnt c
          LEFT JOIN c{i + 1} x ON x.node = n.node
        )""")
    return (
        "WITH " + ",\n        ".join(cte)
        + f"\n        SELECT node, CAST(rank AS BIGINT) AS rank_fp "
        f"FROM r{PR_ITERS} ORDER BY node"
    )


@register(
    "pagerank_link_graph",
    bench=True,
    tags=("graph", "iterative"),
    doc="Fixed-point PageRank (d=0.85, 5 power iterations) over a "
    "deterministic synthetic link graph (each page links to 3 "
    "modulus-derived targets — the link-discovery graph the "
    "reference's crawler walks imperatively, scraper_v2.py:1247+, "
    "re-expressed as dataflow). All arithmetic is BIGINT fixed-point "
    "(1.0 = 1e9) with floor division, so ranks are bit-identical "
    "across engines and partitionings — the same determinism "
    "discipline as the md5 hash families, and the honest way to "
    "oracle-check iterative numerics. Per iteration: one join "
    "edges⋈ranks, one sum per dst, one left join back onto the node "
    "spine; every iteration ends in an eager stage barrier that "
    "truncates lineage (the CC lesson — plan growth kills iterative "
    "jobs before data does).",
    oracle=_pr_oracle_sql(),
)
def pagerank_link_graph(spark, sf_dir: str):
    from project_orbit_spark.catalog import load

    d = load(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    if n == 0:  # no pages: the ranking is empty (1/n is undefined)
        return d.select(
            F.col("doc_id").alias("node"), F.lit(0).cast("long").alias("rank_fp")
        )
    nodes = d.select(F.col("doc_id").alias("node"))
    fan = F.explode(F.array(*[F.lit(j + 1) for j in range(PR_EDGE_FANOUT)])).alias("j")
    edges = stage(
        d.select(F.col("doc_id").alias("src"), fan)
        .select("src", ((F.col("src") * 31 + F.col("j") * 17) % n).alias("dst"))
        .filter(F.col("dst") != F.col("src"))
        .distinct(),
        "pagerank.edges",
    )
    # out-degree is a static per-src property of the static graph:
    # joined onto the edge barrier once, never per iteration
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    edges_od = stage(edges.join(outdeg, "src"), "pagerank.edges_od")
    teleport = (PR_SCALE * 15) // (100 * n)
    ranks = nodes.select("node", F.lit(PR_SCALE // n).cast("long").alias("rank"))
    for _ in range(PR_ITERS):
        contrib = (
            edges_od.join(ranks, edges_od.src == ranks.node)
            .select("dst", F.expr("rank DIV od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = stage(
            nodes.join(contrib, nodes.node == contrib.dst, "left").select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr("(85 * coalesce(contrib, 0)) DIV 100")
                ).cast("long").alias("rank"),
            ),
            "pagerank.round",
        )
    return ranks.select("node", F.col("rank").alias("rank_fp")).orderBy("node")
