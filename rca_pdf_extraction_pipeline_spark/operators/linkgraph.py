"""Link-graph analytics over a (src, dst) edge table.

Web-curation pipelines score pages by their position in the link graph
(in-degree and PageRank-style centrality are standard crawl-seed quality
signals, cf. Page et al. 1999, "The PageRank citation ranking").  This
module gives that family the same engine treatment as the rest of the
repo: pure DataFrame expressions, deterministic integer arithmetic, a
DuckDB oracle twin per query.

Integer-lattice PageRank
------------------------
Classic PageRank is float-valued, and float sums are addition-order-
dependent — two engines (or two partitionings) can disagree in the last
ulp and break bit-equality.  Same cure as ``similarity.KMEANS_SCALE``:
work on an integer lattice.  Ranks start at ``scale`` = ``PR_SCALE`` (10^6);
one iteration is

    pr'(v) = (3 * scale) // 20  +  (17 * inflow(v)) // 20
    inflow(v) = SUM over edges (u, v) of  pr(u) // out_degree(u)

i.e. damping 0.85 = 17/20 as exact rational arithmetic with floor
division.  Every operation is integer add / floor-div, so the result is
bit-identical in any engine at any parallelism.  By default dangling
nodes (no out-links) simply leak their mass — the standard simplified
variant; ranking quality is unaffected for curation purposes and the
semantics stay one-line explainable.  With
``redistribute_dangling=True`` the leaked mass is returned uniformly
per iteration (Page et al.'s teleport treatment of dangling nodes):

    pr'(v) = (3 * scale) // 20
             + (17 * (inflow(v) + dangling_sum // n_nodes)) // 20

where ``dangling_sum`` is the total rank of out-linkless nodes — ONE
broadcast scalar per iteration (a one-row anti-join aggregate), so the
exact-integer property is preserved; only the floor-division remainder
``dangling_sum mod n_nodes`` (< n_nodes lattice units, i.e. < n/scale
of one unit of mass) still leaks, which keeps every engine
bit-identical where a rational share would reintroduce float drift.

Scale (10^12 edges): each iteration is one (src) join to carry ranks
onto edges plus one (dst) partial-aggregate shuffle — the canonical
distributed PR shape.  Partition (bucket) the edge table by ``src`` and
the rank carry join needs no exchange; the inflow aggregate shuffles
k <= n_nodes rows per partition after map-side combine.  Iterations are
unrolled lazily into one plan (no driver-side loop state beyond the
DataFrame reference); checkpoint every few iterations at cluster scale
via ``plans.checkpoint`` exactly like the CC dedup loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point grid for rank mass — integer arithmetic end-to-end.
PR_SCALE = 1_000_000


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: distinct (a, b) with a < b,
    self-loops dropped — the shared preprocessing of every undirected
    graph statistic (triangles, components).  One hash-distinct shuffle
    on the canonical pair."""
    return (edges.where(F.col("src") != F.col("dst"))
            .select(F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"))
            .distinct())


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over the undirected link graph —
    (node_id, n_triangles) for every node in at least one triangle.

    Triangle density separates organic neighborhoods from link farms
    (a mirror ring is triangle-free; a spam clique is all triangles),
    the classic web-graph curation signal alongside PageRank.

    Algorithm — degree orientation (Schank & Wagner 2005; the standard
    MapReduce form is Suri & Vassilvitskii WWW'11): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher,
    enumerate wedges u -> {v, w} from each node's ORIENTED out-
    neighborhood, and close them against the oriented edge set.  Each
    triangle is produced exactly once, at its lowest-rank vertex.

    Scale (10^12 edges): orientation caps oriented out-degree at
    O(sqrt(m)) regardless of hub in-degree, so the wedge table is
    O(m^1.5) worst-case and near-linear on power-law graphs — hubs
    never self-join on their full neighborhood.  Every step is a keyed
    equi-join or hash aggregate (no cartesian anywhere); the closing
    join shuffles on the wedge pair, which AQE can skew-split.

    The canonical edge set, the degree table, and the oriented-edge
    layer each feed MULTIPLE downstream branches, so all three are
    ``.persist()``-pinned for the lifetime of the returned plan —
    without the barriers the static plan re-derives them per consumer
    (measured: 152 parquet scans vs 4 on the entry fixture; no
    cross-branch exchange reuse fires for these shapes).  Same
    never-explicitly-released note as ``profiling.histogram_quantiles``:
    callers looping in one long session should
    ``spark.catalog.clearCache()`` between sweeps."""
    und, deg = _canonical_graph(edges)
    return _triangles_from(und, deg)


def _canonical_graph(edges: DataFrame):
    """(und, deg) — persisted canonical undirected edge set and its
    degree table, the shared base layer of the triangle family."""
    und = undirected_edges(edges).persist()
    deg = (und.select(F.col("a").alias("n"))
           .unionByName(und.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d"))).persist()
    return und, deg


def _triangles_from(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-oriented wedge closing over a prepared (und, deg) pair —
    see :func:`triangle_counts` for semantics and the barrier rationale."""
    j = (und.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
         .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b"))
    a_lower = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = j.select(
        F.when(a_lower, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_lower, F.col("b")).otherwise(F.col("a")).alias("v"))
    # carry rank(v) so each wedge {v, w} is emitted once, ordered; this
    # layer doubles as the edge-existence side of the closing join, so
    # `oriented` itself has exactly one consumer
    ov = (oriented.join(deg.select(F.col("n").alias("v"),
                                   F.col("d").alias("dv")), "v")
          .select("u", "v", "dv")).persist()
    lo = ov.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    hi = ov.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = (lo.join(hi, "u")
              .where((F.col("dx") < F.col("dy"))
                     | ((F.col("dx") == F.col("dy"))
                        & (F.col("x") < F.col("y"))))
              .select("u", "x", "y"))
    closed = wedges.join(
        ov.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"])
    return (closed.select(F.explode(F.array("u", "x", "y")).alias("node_id"))
            .groupBy("node_id")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998):
    ``cc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1))`` over the
    undirected graph — returned on the integer lattice
    (``cc_micro = (2 * T * PR_SCALE) div (d * (d-1))``, exact floor
    division, bit-identical across engines) for every node with
    degree >= 2 (the coefficient is undefined below that).

    The web-curation read: high coefficient + low degree = organic
    community; high degree + near-zero coefficient = hub or link farm
    whose neighbors ignore each other.  Cost: :func:`triangle_counts`
    plus a keyed join — the edge set and degree table are the same
    persisted layers the triangle pass uses (one derivation total)."""
    und, deg0 = _canonical_graph(edges)
    deg = deg0.select(F.col("n").alias("node_id"), F.col("d").alias("degree"))
    tri = _triangles_from(und, deg0)
    return (deg.where(F.col("degree") >= 2)
            .join(tri, "node_id", "left")
            .select("node_id", "degree",
                    F.coalesce("n_triangles", F.lit(0).cast("long"))
                    .alias("n_triangles"))
            .withColumn("cc_micro", F.expr(
                f"(2 * n_triangles * {PR_SCALE}) div (degree * (degree - 1))")
                .cast("long")))


def cocitation_pairs(edges: DataFrame,
                     max_fanout: int | None = 64) -> DataFrame:
    """Co-citation pair mining (Small 1973; the web-curation use is
    "pages repeatedly linked together are topically related"):
    (a, b, n_common) — distinct destination pairs a < b with the count
    of sources linking to BOTH.

    Scale: the per-source pair expansion is Σ C(out_deg, 2), quadratic
    in hub fan-out — so sources with more than ``max_fanout`` out-links
    are dropped first (a directory page co-citing 10^4 targets asserts
    nothing pairwise; capping is the standard guard, and it bounds the
    expansion at C(max_fanout, 2) per source).  ``max_fanout=None``
    disables the cap explicitly.  One keyed self-join on src + one hash
    aggregate on the pair; never a cartesian.  The distinct edge set
    feeds the fan-out census and both self-join sides, so it is
    ``.persist()``-pinned for the lifetime of the returned plan (same
    multi-consumer rationale as :func:`triangle_counts`)."""
    e = (edges.where(F.col("src") != F.col("dst"))
         .select("src", "dst")
         .distinct()).persist()
    if max_fanout is not None:
        if max_fanout < 2:
            raise ValueError(f"max_fanout must be >= 2; got {max_fanout}")
        keep = (e.groupBy("src").agg(F.count(F.lit(1)).alias("_fan"))
                .where(F.col("_fan") <= max_fanout).select("src"))
        e = e.join(keep, "src", "left_semi")
    lo = e.select("src", F.col("dst").alias("a"))
    hi = e.select("src", F.col("dst").alias("b"))
    return (lo.join(hi, "src")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_common")))


def hits_scores(nodes: DataFrame, edges: DataFrame,
                iters: int = 2) -> DataFrame:
    """Unnormalized HITS (Kleinberg JACM'99): per iteration the
    authority score is the sum of in-linking hub scores, then the hub
    score is the sum of out-linked authority scores:

        a_i(v) = SUM over (u, v) of h_{i-1}(u)
        h_i(v) = SUM over (v, w) of a_i(w)

    starting from h_0 = 1 everywhere.  Kleinberg normalizes per
    iteration to converge toward the dominant eigenvector; this variant
    drops the normalization so every value stays an EXACT integer
    (bit-identical across engines) — after ``iters`` rounds the scores
    are the (A^T A)^i walk counts, which rank identically to one
    normalized power-iteration step of the same depth.  Magnitudes grow
    as O(d_max^(2*iters)) so keep ``iters`` small (<= 3 on web-scale
    graphs keeps sums far inside int64; the curation use — "separate
    directory hubs from destination authorities" — needs one or two).

    Returns (node_id, hub, auth), every node present — a node with no
    out-links scores hub 0, a node with no in-links scores auth 0.

    Scale: each iteration is two keyed join + partial-agg shuffles (the
    canonical shape shared with :func:`pagerank`); bucket the edge
    table by src/dst for the exchange-free variant."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1; got {iters}")
    e = edges.select("src", "dst")
    base = nodes.select("node_id")
    h = base.withColumn("h", F.lit(1).cast("long"))
    a = None
    for _ in range(iters):
        a_in = (e.join(h.withColumnRenamed("node_id", "src"), "src")
                .groupBy(F.col("dst").alias("node_id"))
                .agg(F.sum("h").alias("a")))
        a = (base.join(a_in, "node_id", "left")
             .select("node_id", F.coalesce("a", F.lit(0).cast("long"))
                     .alias("a")))
        h_out = (e.join(a.withColumnRenamed("node_id", "dst"), "dst")
                 .groupBy(F.col("src").alias("node_id"))
                 .agg(F.sum("a").alias("h")))
        h = (base.join(h_out, "node_id", "left")
             .select("node_id", F.coalesce("h", F.lit(0).cast("long"))
                     .alias("h")))
    return (h.join(a, "node_id")
            .select("node_id", F.col("h").alias("hub"),
                    F.col("a").alias("auth")))


def personalized_pagerank(nodes: DataFrame, edges: DataFrame,
                          seeds: DataFrame, iters: int = 2) -> DataFrame:
    """Personalized PageRank on the integer lattice (Page et al. 1999
    §6; Haveliwala WWW'02 topic-sensitive variant): the teleport mass
    lands only on ``seeds`` — rank becomes proximity-to-the-seed-set,
    the standard crawl-frontier prioritizer ("score pages by closeness
    to a trusted seed list", cf. TrustRank, Gyöngyi et al. VLDB'04).

        ppr0(v)  = PR_SCALE if v in seeds else 0
        ppr'(v)  = [v in seeds] * (3 * PR_SCALE) // 20
                   + (17 * inflow(v)) // 20

    Same exact-integer recurrence as :func:`pagerank` (damping 17/20,
    floor division; dangling mass leaks as documented there), so any
    engine reproduces the ranks bit-for-bit.  ``seeds`` is one column
    of node ids; it is broadcast (seed lists are small by definition)
    and each iteration stays one rank-carry join + one partial-agg
    shuffle."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1; got {iters}")
    e = edges.select("src", "dst")
    deg = out_degrees(e)
    seed = F.broadcast(seeds.select(
        F.col(seeds.columns[0]).alias("node_id"))
        .withColumn("_seed", F.lit(1)))
    base = (3 * PR_SCALE) // 20
    pr = (nodes.select("node_id")
          .join(seed, "node_id", "left")
          .select("node_id",
                  F.when(F.col("_seed") == 1, F.lit(PR_SCALE))
                  .otherwise(F.lit(0)).cast("long").alias("pr")))
    for _ in range(iters):
        contrib = (e.join(pr.withColumnRenamed("node_id", "src"), "src")
                   .join(deg, "src")
                   .select(F.col("dst").alias("node_id"),
                           F.expr("pr div out_deg").cast("long").alias("c")))
        inflow = contrib.groupBy("node_id").agg(F.sum("c").alias("inflow"))
        pr = (nodes.select("node_id")
              .join(inflow, "node_id", "left")
              .join(seed, "node_id", "left")
              .select("node_id", F.expr(
                  f"(CASE WHEN _seed = 1 THEN {base}L ELSE 0L END)"
                  f" + ((17 * coalesce(inflow, 0L)) div 20)")
                  .cast("long").alias("pr")))
    return pr


def connected_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = "node_id",
                         checkpoint_dir: str | None = None) -> DataFrame:
    """(id_col, label) — every node labelled with the MINIMUM id
    reachable in its undirected component (isolated nodes label
    themselves).  The Pregel-style min-label propagation loop shared
    with the near-dup CC dedup family (``dedup._cc_labels`` delegates
    here): per round, one join carries labels across edges and one
    min-aggregate folds them; each round's frontier is materialized
    (``dedup._Materializer``: ``localCheckpoint`` or durable parquet
    under ``checkpoint_dir``) so plan depth stays O(1), and the loop
    stops at fixpoint or after 50 rounds.  Rounds needed = component
    diameter, so label-prop suits the short-diameter components of
    dedup/link graphs; at 10^12 edges checkpoint durably and bucket the
    edge table by src exactly like :func:`pagerank`.

    Edge endpoints outside ``nodes`` still relay labels (they merge the
    components they bridge) but are dropped from the output — only the
    requested nodes come back labelled."""
    from .dedup import _Materializer  # local import: dedup imports us

    mat = _Materializer(checkpoint_dir)
    e = edges.select("src", "dst")
    sym = mat(e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst")).distinct(), "cc_edges")
    # seed with nodes AND edge endpoints: a relay endpoint outside
    # ``nodes`` must hold a label row from round 0, or its first
    # appearance would not register in the fixpoint test (the change
    # detector inner-joins consecutive label tables) and the loop could
    # stop before its label reaches the nodes it bridges
    labels = mat(nodes.select(F.col(id_col).alias("node"))
                 .unionByName(sym.select(F.col("src").alias("node")))
                 .distinct()
                 .withColumn("label", F.col("node")), "cc_labels")
    for _ in range(50):
        incoming = (sym.join(labels, sym["src"] == labels["node"])
                    .select(F.col("dst").alias("node"), F.col("label")))
        new_labels = mat(
            labels.unionByName(incoming)
            .groupBy("node").agg(F.min("label").alias("label")), "cc_labels")
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
                   .filter(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    return (labels.join(nodes.select(F.col(id_col).alias("node")),
                        "node", "left_semi")
            .select(F.col("node").alias(id_col), "label"))


def out_degrees(edges: DataFrame) -> DataFrame:
    """(src, out_deg) for every node with at least one out-link."""
    return (edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("out_deg")))


def degree_census(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """In-degree histogram over ALL nodes — (in_degree, n_nodes) with a
    row for in_degree 0 when isolated/source-only nodes exist.

    The link-graph shape diagnostic: a healthy crawl frontier has a
    long-tailed in-degree histogram; a scraped mirror farm shows up as a
    spike.  One (dst) aggregate + one left join + one tiny histogram
    aggregate — no row ever carries more than two integers."""
    indeg = (edges.groupBy(F.col("dst").alias("node_id"))
             .agg(F.count(F.lit(1)).alias("in_degree")))
    return (nodes.select("node_id")
            .join(indeg, "node_id", "left")
            .select(F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
            .groupBy("in_degree")
            .agg(F.count(F.lit(1)).alias("n_nodes")))


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 2,
             redistribute_dangling: bool = False) -> DataFrame:
    """Integer-lattice PageRank — (node_id, pr) after ``iters`` unrolled
    iterations; see the module docstring for the exact recurrence and
    why it is bit-identical across engines.

    Deterministic by construction: integer sums commute, floor division
    is exact, and the iteration count is fixed — no convergence test, no
    float epsilon.  ``redistribute_dangling=True`` returns out-linkless
    nodes' rank mass uniformly each iteration (module docstring: the
    per-iteration cost is one anti-join one-row aggregate, broadcast
    back as a scalar) — use it when ranks must approximate a
    distribution; the default leaky variant is cheaper and ranks
    identically for curation."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1; got {iters}")
    e = edges.select("src", "dst")
    deg = out_degrees(e)
    pr = nodes.select("node_id", F.lit(PR_SCALE).cast("long").alias("pr"))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    base = (3 * PR_SCALE) // 20  # (1 - d) * scale with d = 17/20
    for _ in range(iters):
        # `div` is exact integer division on longs (no double quotient
        # whose rounding could cross an integer boundary) — the oracle's
        # BIGINT `//` matches it bit-for-bit on the positive lattice
        contrib = (e.join(pr.withColumnRenamed("node_id", "src"), "src")
                   .join(deg, "src")
                   .select(F.col("dst").alias("node_id"),
                           F.expr("pr div out_deg").cast("long").alias("c")))
        inflow = contrib.groupBy("node_id").agg(F.sum("c").alias("inflow"))
        carried = (nodes.select("node_id")
                   .join(inflow, "node_id", "left"))
        if redistribute_dangling:
            # total rank sitting on out-linkless nodes: one-row
            # aggregate (anti-join against the degree table), crossed
            # back in as a broadcast scalar — exact integers throughout
            dang = (pr.join(deg, pr["node_id"] == deg["src"], "left_anti")
                    .agg(F.coalesce(F.sum("pr"), F.lit(0).cast("long"))
                         .alias("dang_sum")))
            share = (dang.crossJoin(n_nodes)
                     .select(F.expr("dang_sum div n_nodes").cast("long")
                             .alias("dang_share")))
            carried = carried.crossJoin(F.broadcast(share))
            inflow_expr = "coalesce(inflow, 0L) + dang_share"
        else:
            inflow_expr = "coalesce(inflow, 0L)"
        pr = carried.select(
            "node_id",
            F.expr(f"{base}L + ((17 * ({inflow_expr})) div 20)")
            .cast("long").alias("pr"))
    return pr
