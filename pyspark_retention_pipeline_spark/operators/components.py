"""Connected components over candidate-pair edges — the clustering step that
turns near-duplicate PAIRS (minhash/LSH output) into duplicate GROUPS with a
canonical representative (what a dedup pipeline actually deletes against).

Algorithm: minimum-label propagation accelerated with pointer jumping — each
round every vertex adopts the smallest id among itself and its neighbors
(one hop), then labels are compressed through the label graph
(``component ← label(component)``), the path-halving trick from the
map-reduce connected-components family (public literature, e.g. Kiveris et
al.'s large-star/small-star analysis). One-hop propagation alone needs
O(diameter) rounds and silently returns split clusters when the round budget
runs out on a long chain (round-1 advisor finding); with jumping, label
distance doubles per round, so convergence is O(log diameter) and the
default budget covers diameters in the thousands. Non-convergence raises
instead of returning wrong labels. Each round materializes via
``localCheckpoint`` to cut the growing lineage — the scale-critical detail
for iterative DataFrame algorithms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pins import pin
from ..registry import query
from ..tables import load_table

# curation is imported BEFORE components in operators/__init__, so this
# module-level import neither cycles nor reorders query registration.
from .curation import GROUP_AWARE_SPLIT_ORACLE


def connected_components(edges: DataFrame, max_iter: int = 15) -> DataFrame:
    """(src, dst) undirected edges → (vertex, component) with component = min
    vertex id in each connected component.

    Pure DataFrame iteration: no driver-side graph, no RDDs; per round one
    shuffle for the neighbor-min aggregate plus one label-compression join.
    Stops early when a round changes no labels (a 1-row count per round —
    bounded driver traffic); raises if ``max_iter`` rounds exhaust while
    labels are still moving (returning partially-converged labels would
    silently report split clusters as distinct groups).
    """
    # The symmetric edge frame is consumed by EVERY round's neighbor-min
    # join, and each round is its own action — unpinned, the entire edge
    # derivation (LSH candidate join, verify filter, distinct, this union)
    # re-executed per round (round-8 review finding; the multi-branch
    # recompute trap, iterated). One lazy pin materializes it at round 1.
    sym = pin(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    labels = pin(
        sym.select(F.col("a").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex")),
        eager=True,
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.vertex)
            .groupBy(F.col("a").alias("vertex"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # Carry the pre-round label ("old") through the hop so the change
        # test at the end is a column comparison, not another full join back
        # to `labels` (one join per round saved — round-4 audit).
        hopped = labels.join(neighbor_min, "vertex", "left").select(
            "vertex",
            F.col("component").alias("old"),
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )
        # Pointer jumping: compress component → label(component). Every
        # component id is itself a vertex id, so the lookup always resolves;
        # label distance to the root doubles per round.
        lbl = hopped.select(
            F.col("vertex").alias("c_vertex"), F.col("component").alias("c_component")
        )
        updated = pin(
            hopped.join(lbl, hopped.component == lbl.c_vertex, "left")
            .select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce("c_component", F.col("component"))
                ).alias("component"),
                "old",
            )
            .select(
                "vertex", "component", (F.col("component") < F.col("old")).alias("_changed")
            ),
            eager=True,
        )
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"(graph diameter > 2^{max_iter}); raise max_iter"
    )


def cluster_assignment_frame(edges: DataFrame) -> DataFrame:
    """(src, dst) candidate edges → (doc_id, canonical_id, cluster_size):
    connected components plus the per-component size join — the single
    definition of the clustering output contract shared by
    :func:`dedup_clusters` (xxhash64 edges) and
    ``curation.dedup_clusters_portable`` (portable md5 edges, oracle-
    checked); round-10 review: the tail was duplicated in both."""
    comp = connected_components(edges)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        "cluster_size",
    )


@query("dedup_clusters", tags=("dedup-neardup", "connected-components"))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup clustering: minhash-LSH candidate pairs →
    connected components → one row per clustered doc with its canonical
    (minimum) doc id and cluster size. Rows-only (iterative algorithm,
    SURVEY §7)."""
    from .text import minhash_candidate_pairs

    pairs = minhash_candidate_pairs(load_table(spark, sf_dir, "documents")).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    return cluster_assignment_frame(pairs)


def group_assignment_frame(
    docs: DataFrame, edges: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *extra_cols, canonical_id, split): near-dup components over
    ``edges`` (src/dst) → canonical id = component minimum (singletons are
    their own canonical via left join + coalesce, no densification) → the
    md5 90/5/5 bucket keyed on the CANONICAL id, so every member of a
    cluster lands on the same split side. The one implementation behind
    :func:`group_aware_split` (simhash edges), ``curate_corpus_neardup``
    (minhash edges, lang threaded through), and the leakage audit — the
    composition previously lived copy-pasted in each (round-8 review
    finding)."""
    from .sampling import split_assignment_frame

    comp = connected_components(edges)
    base = (
        docs.select("doc_id", *extra_cols)
        .join(
            comp.select(F.col("vertex").alias("doc_id"), "component"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            *extra_cols,
            F.coalesce("component", "doc_id").alias("canonical_id"),
        )
    )
    return split_assignment_frame(base, "canonical_id").select(
        "doc_id", *extra_cols, "canonical_id", "split"
    )


@query(
    "group_aware_split",
    oracle=GROUP_AWARE_SPLIT_ORACLE,
    tags=("curation", "split", "leakage", "dedup-neardup"),
)
def group_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remedy :func:`~.curation.split_leakage_check` prescribes, shipped
    as an operator: assign train/val/test by the md5 bucket of each
    document's near-dup CLUSTER canonical id, not its own doc_id, so every
    member of a near-duplicate group lands on the same side of every split
    boundary by construction.

    Pipeline: SimHash banded-LSH pairs (hamming ≤ 3, the same edge set the
    leakage audit flags) → connected components → canonical id = component
    minimum; singleton docs are their own canonical (left join + coalesce,
    no densification). The split hash then keys on the canonical id via the
    same :func:`~.sampling.split_assignment_frame` the i.i.d. split uses.
    Oracle-checked since round 10 (was rows-only): the portable simhash
    pairs and the leakage audit's unrolled hook+jump fixpoint re-derive
    every (doc_id, canonical_id, split) row in DuckDB — a pure check
    upgrade, the plan is unchanged. The zero-leakage guarantee — NO
    hamming-≤3 pair straddles a split — remains pinned by
    ``tests/test_curation.py::test_group_aware_split_eliminates_leakage``.
    """
    from .text import simhash_candidate_frame

    d = load_table(spark, sf_dir, "documents")
    edges = simhash_candidate_frame(d).select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    )
    return group_assignment_frame(d, edges)


# --- PageRank over the part co-occurrence graph ---------------------------
# Fixed-point scale for ranks: every node starts at PR_SCALE and the
# update is pure BIGINT arithmetic (integer div truncation is identical
# for positive operands on both engines), so every iteration's ranks are
# exact integers — no float reduction anywhere. Overflow envelope: the
# per-edge product rank·w needs rank·max_w < 2^63; total rank mass stays
# ~n·PR_SCALE, so at 10⁹ graph nodes with edge weights up to ~10³ the
# product tops out near 10²¹ > 2^63 — past that, shrink PR_SCALE (the
# curve is scale-invariant) the same way _LLOYD_SCALE's envelope note
# bounds the inertia sum.
PR_SCALE = 1_000_000_000
PR_DAMP_NUM = 85  # damping d = 0.85 as the integer pair (85, 100)
PR_ITERS = 3


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    """Unrolled power iteration: r0 is uniform PR_SCALE over the nodes of
    the symmetrized co-occurrence graph; each round distributes every
    node's rank along its out-edges proportionally to edge weight
    (integer-truncated per edge), then damps: rank' = (15·S + 85·inc)//100.
    DuckDB SUM(BIGINT) widens to HUGEINT — every sum is cast back so the
    comparison stays BIGINT-vs-BIGINT."""
    teleport = 100 - PR_DAMP_NUM
    parts = [
        f"""op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS w
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ), edges AS (
      SELECT p1 AS src, p2 AS dst, w FROM pairs
      UNION ALL SELECT p2, p1, w FROM pairs
    ), outw AS (
      SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src
    ), en AS MATERIALIZED (
      SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o USING (src)
    ), r0 AS MATERIALIZED (
      SELECT src AS part, CAST({PR_SCALE} AS BIGINT) AS pr FROM outw
    )"""
    ]
    stats = []
    for t in range(1, iters + 1):
        parts.append(
            f"""r{t} AS MATERIALIZED (
      SELECT n.part,
             ({teleport} * CAST({PR_SCALE} AS BIGINT)
              + {PR_DAMP_NUM} * COALESCE(i.inc, 0)) // 100 AS pr
      FROM r{t - 1} n LEFT JOIN (
        SELECT en.dst AS part,
               CAST(SUM((r.pr * en.w) // en.ow) AS BIGINT) AS inc
        FROM en JOIN r{t - 1} r ON en.src = r.part
        GROUP BY en.dst) i USING (part)
    )"""
        )
        stats.append(
            f"""SELECT {t} AS iteration,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(pr) AS BIGINT) AS total_rank,
           (SELECT part FROM r{t} ORDER BY pr DESC, part LIMIT 1)
             AS top_part,
           (SELECT pr FROM r{t} ORDER BY pr DESC, part LIMIT 1)
             AS top_rank
    FROM r{t}"""
        )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL\n    ".join(stats)
    )


@query(
    "part_pagerank_rounds",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def part_pagerank_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the part co-occurrence graph — the graph
    CENTRALITY tier alongside :func:`connected_components`' reachability
    tier, and the engine-level form of the domain/page ranking step public
    web-corpus pipelines run before curation (Common Crawl publishes
    harmonic/PageRank centrality per domain; the power-iteration recipe is
    Page et al. 1999). Nodes are parts, edges the symmetrized
    :func:`~.analytics_extra.part_pair_counts_frame` co-occurrence pairs
    (one shared pair convention with the market-basket report), edge
    weight = number of co-ordering orders. Output: the per-iteration
    convergence curve (node count, exact total rank mass, argmax part and
    its rank) for {PR_ITERS} damped rounds — the Lloyd-curve convention
    for iterative algorithms, oracle-checked by unrolled MATERIALIZED CTE
    rounds.

    EXACT integer fixed-point end to end: ranks start at PR_SCALE, each
    edge carries ``(pr·w) div out_w`` (BIGINT truncating division —
    identical for positive operands on both engines), damping is
    ``(15·S + 85·inc) div 100``, and the curve's reductions are BIGINT
    sums — no float enters at any point, so partial-aggregation order is
    irrelevant and the hash match is unconditional (stronger than the
    round-before-compare family: there is nothing to round).

    Scale shape: per iteration ONE edge-grain shuffle (ranks join edges
    on src — at 100 TB pre-partition both by src so every round reuses
    the partitioning) and one dst-grain aggregate with map-side partial
    sums; the rank frame is node-grain, pinned per round (lazy
    localCheckpoint, the :func:`connected_components` rule). The argmax
    is a 1-row struct-MAX — no sort, no window, no collect in the loop.
    Dangling nodes cannot exist (the graph is symmetrized, so every node
    has out-edges); rank mass lost to per-edge truncation stays in the
    curve on both engines identically."""
    from .analytics_extra import part_pair_counts_frame

    li = load_table(spark, sf_dir, "lineitem")
    pairs = part_pair_counts_frame(li).select(
        "p1", "p2", F.col("n_orders").alias("w")
    )
    edges = pairs.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst"), "w"
    ).unionByName(
        pairs.select(F.col("p2").alias("src"), F.col("p1").alias("dst"), "w")
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    en = pin(edges.join(outw, "src"))
    nodes = pin(outw.select(F.col("src").alias("part")))
    teleport = 100 - PR_DAMP_NUM
    ranks = pin(nodes.select("part", F.lit(PR_SCALE).cast("long").alias("pr")))
    out = None
    for t in range(1, PR_ITERS + 1):
        contrib = en.join(
            ranks.select(F.col("part").alias("src"), "pr"), "src"
        ).select("dst", F.expr("(pr * w) div ow").alias("c"))
        inc = contrib.groupBy(F.col("dst").alias("part")).agg(
            F.sum("c").alias("inc")
        )
        ranks = pin(
            nodes.join(inc, "part", "left")
            .select(
                "part",
                F.expr(
                    f"({teleport} * CAST({PR_SCALE} AS BIGINT)"
                    f" + {PR_DAMP_NUM} * COALESCE(inc, CAST(0 AS BIGINT)))"
                    " div 100"
                ).alias("pr"),
            )
        )
        stats = ranks.agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("pr").alias("total_rank"),
            F.max(F.struct(F.col("pr"), (-F.col("part")).alias("np"))).alias(
                "m"
            ),
        ).select(
            F.lit(t).cast("int").alias("iteration"),
            "n_nodes",
            "total_rank",
            (-F.col("m.np")).alias("top_part"),
            F.col("m.pr").alias("top_rank"),
        )
        out = stats if out is None else out.unionByName(stats)
    return out

# --- Triangle counting / clustering coefficient ----------------------------
TRI_TOP = 20
# Minimum co-occurrence support for an edge to enter the triangle graph:
# a pair ordered together ONCE is noise at TPC-H's uniform basket draw —
# the unthresholded co-occurrence graph is dense (sf0.1: 1.2M edges over
# 20k parts, avg degree ~120) and its wedge volume is intrinsically
# O(E^1.5)-huge (measured: the 100x probe exhausted single-host memory
# even degree-oriented). Support >= 2 is the standard frequent-itemset
# prune: it keeps exactly the edges with repeat evidence (sf0.1: 3.6k of
# 1.2M edges) and makes the triangle metric a SIGNAL metric.
TRI_MIN_SUPPORT = 2

_TRI_ORACLE = f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    ), deg AS MATERIALIZED (
      SELECT part, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT p1 AS part FROM pairs
            UNION ALL SELECT p2 FROM pairs)
      GROUP BY part
    ), orient AS MATERIALIZED (
      -- compact-forward orientation: every edge points from the lower
      -- (degree, id) endpoint to the higher, carrying the head's order key
      SELECT CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2)
                  THEN p1 ELSE p2 END AS u,
             CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2)
                  THEN p2 ELSE p1 END AS v,
             CASE WHEN d1 < d2 OR (d1 = d2 AND p1 < p2)
                  THEN d2 ELSE d1 END AS dv
      FROM (SELECT p.p1, p.p2, da.degree AS d1, db.degree AS d2
            FROM pairs p
            JOIN deg da ON da.part = p.p1
            JOIN deg db ON db.part = p.p2)
    ), tri AS MATERIALIZED (
      SELECT o1.u AS a, o1.v AS b, o2.v AS c
      FROM orient o1
      JOIN orient o2
        ON o2.u = o1.u
       AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
      JOIN orient o3 ON o3.u = o1.v AND o3.v = o2.v
    ), verts AS (
      SELECT a AS part FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), tcnt AS (
      SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM verts GROUP BY part
    )
    SELECT part, degree, n_triangles,
           CASE WHEN degree >= 2
                THEN (2 * n_triangles) / (degree * (degree - 1))
                ELSE 0.0 END AS clustering_coeff
    FROM (SELECT d.part, d.degree, COALESCE(t.n_triangles, 0) AS n_triangles
          FROM deg d LEFT JOIN tcnt t USING (part))
    ORDER BY n_triangles DESC, part LIMIT {TRI_TOP}
"""


@query(
    "part_triangle_counts",
    oracle=_TRI_ORACLE,
    tags=("graph", "triangles", "clustering-coefficient"),
)
def part_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the part
    co-occurrence graph — the cohesion metric next to
    :func:`part_pagerank_rounds`' centrality and
    :func:`connected_components`' reachability (triangle density is the
    standard spam/community signal in web-graph curation). Output: the
    {TRI_TOP} most triangle-dense parts with degree and local clustering
    coefficient ``2T/(d(d−1))``.

    Shape — COMPACT-FORWARD with (degree, id) orientation, not the naive
    id-orientation: every edge points from its lower-(degree, id)
    endpoint to the higher, so each triangle materializes exactly once
    at its orientation-minimal vertex, and a node's oriented out-degree
    is O(√E) — total wedge volume is O(E^1.5) REGARDLESS of hub skew
    (Σ out² under degree-orientation; the id-oriented first cut OOM'd at
    the 100× probe because one hub's wedge list is Σ deg² — unbounded —
    exactly the cliff this orientation removes; this is the Latapy /
    Schank-Wagner compact-forward recipe, public literature). The
    oriented edge carries its head's order key so the wedge join's
    v < w condition and the closing-edge join both compare the SAME
    total order on both engines (BIGINT pairs, no float anywhere).
    Edges come from the shared
    :func:`~.analytics_extra.part_pair_counts_frame` (pinned); degrees
    are one rollup over the pinned pair frame; wedges and closings are
    two hash joins on 8-byte keys; the per-node rollup is a 3-way vertex
    explode; output is a TakeOrdered top-{TRI_TOP}. Counts are BIGINTs;
    the coefficient divides identical integers."""
    from .analytics_extra import part_pair_counts_frame

    li = load_table(spark, sf_dir, "lineitem")
    pairs = pin(
        part_pair_counts_frame(li)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select("p1", "p2")
    )  # degree rollup + orientation reads
    deg = pin(
        pairs.select(F.col("p1").alias("part"))
        .unionByName(pairs.select(F.col("p2").alias("part")))
        .groupBy("part")
        .agg(F.count("*").cast("long").alias("degree"))
    )  # orientation (×2) + output reads
    with_deg = (
        pairs.join(deg.select(F.col("part").alias("p1"), F.col("degree").alias("d1")), "p1")
        .join(deg.select(F.col("part").alias("p2"), F.col("degree").alias("d2")), "p2")
    )
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    orient = pin(
        with_deg.select(
            F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("u"),
            F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("v"),
            F.when(fwd, F.col("d2")).otherwise(F.col("d1")).alias("dv"),
        )
    )  # wedge ×2 + closing reads
    o1 = orient.select("u", F.col("v").alias("b"), F.col("dv").alias("db"))
    o2 = orient.select("u", F.col("v").alias("c"), F.col("dv").alias("dc"))
    wedges = o1.join(o2, "u").filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = orient.select(
        F.col("u").alias("b"), F.col("v").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).select(
        F.col("u").alias("a"), "b", "c"
    )
    verts = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("part")
    )
    tcnt = verts.groupBy("part").agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    joined = deg.join(tcnt, "part", "left").select(
        "part",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
    )
    coeff = F.when(
        F.col("degree") >= 2,
        (2 * F.col("n_triangles"))
        / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return (
        joined.select(
            "part", "degree", "n_triangles", coeff.alias("clustering_coeff")
        )
        .orderBy(F.desc("n_triangles"), "part")
        .limit(TRI_TOP)
    )


# --- k-core peeling curve ---------------------------------------------------
KCORE_K = 2
KCORE_ITERS = 4


def _kcore_oracle(k: int = KCORE_K, iters: int = KCORE_ITERS) -> str:
    """Unrolled peeling: per round, degrees over the surviving edge set,
    keep nodes with degree >= k, keep edges with both ends kept. Every
    statistic is a BIGINT count — nothing to round."""
    parts = [
        f"""op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e0 AS MATERIALIZED (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_MIN_SUPPORT}
    )"""
    ]
    stats = []
    for t in range(1, iters + 1):
        parts.append(
            f"""k{t} AS MATERIALIZED (
      SELECT part FROM (
        SELECT part, COUNT(*) AS d
        FROM (SELECT p1 AS part FROM e{t - 1}
              UNION ALL SELECT p2 FROM e{t - 1})
        GROUP BY part) WHERE d >= {k}
    ), e{t} AS MATERIALIZED (
      SELECT p1, p2 FROM e{t - 1}
      WHERE p1 IN (SELECT part FROM k{t})
        AND p2 IN (SELECT part FROM k{t})
    )"""
        )
        stats.append(
            f"""SELECT {t} AS iteration,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM k{t}) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e{t}) AS n_edges"""
        )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL\n    ".join(stats)
    )


@query(
    "kcore_rounds",
    oracle=_kcore_oracle(),
    tags=("graph", "kcore", "iterative"),
)
def kcore_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling curve over the support-thresholded part
    co-occurrence graph — the CORENESS tier completing the graph family
    (:func:`connected_components` reachability,
    :func:`part_pagerank_rounds` centrality, :func:`part_triangle_counts`
    cohesion): per round, drop every node with degree < {KCORE_K} in the
    SURVIVING subgraph and the edges it carried, and emit
    (iteration, n_nodes, n_edges). Where the curve stabilizes is the
    {KCORE_K}-core — the standard graph-cleaning step (fringe removal)
    web-graph pipelines run before centrality. {KCORE_ITERS} unrolled
    rounds, the Lloyd/PageRank oracle convention.

    Exactness is UNCONDITIONAL: every statistic is a BIGINT count over
    set-membership operations — no float exists anywhere in the plan.
    Scale shape: per round one degree rollup (edge grain, map-side
    combinable) and two semi-joins on 8-byte keys to drop dead edges;
    the edge frame only ever SHRINKS, each round pinned with a lazy
    localCheckpoint (the :func:`connected_components` rule). No window,
    no sort, no collect in the loop; the same peeling at a 100 TB edge
    list is the textbook distributed k-core (rounds bounded by the
    peeling depth, each a pair of shuffles)."""
    from .analytics_extra import part_pair_counts_frame

    li = load_table(spark, sf_dir, "lineitem")
    edges = pin(
        part_pair_counts_frame(li)
        .filter(F.col("n_orders") >= TRI_MIN_SUPPORT)
        .select("p1", "p2")
    )
    out = None
    for t in range(1, KCORE_ITERS + 1):
        keep = pin(
            edges.select(F.col("p1").alias("part"))
            .unionByName(edges.select(F.col("p2").alias("part")))
            .groupBy("part")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select("part")
        )  # two semi-joins + the count read it
        edges = pin(
            edges.join(
                keep.select(F.col("part").alias("p1")), "p1", "left_semi"
            )
            .join(keep.select(F.col("part").alias("p2")), "p2", "left_semi")
        )
        stats = (
            keep.agg(F.count("*").cast("long").alias("n_nodes"))
            .crossJoin(
                edges.agg(F.count("*").cast("long").alias("n_edges"))
            )
            .select(
                F.lit(t).cast("int").alias("iteration"),
                "n_nodes",
                "n_edges",
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out
