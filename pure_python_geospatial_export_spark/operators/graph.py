"""Distributed graph analytics over an edge relation: multi-source
shortest paths, PageRank, exact triangle counting, label-propagation
communities, and k-core decomposition — the web-graph layer over
crawl link data ("distance to the nearest facility over the road
network", "which hosts carry authority", "how clustered is this link
neighborhood", "which hosts form a community", "how deep does this
host sit in the link core"), siblings of the union-find connected
components (operators/dedup.duplicate_clusters). operators/web.py
feeds these from the pages table's html column.

Frontier-optimized relaxation (the delta-stepping family's
data-parallel core): each round joins only the FRONTIER (nodes whose
distance improved last round) against the edge relation, folds the
candidates into the distance table with one groupBy min, and the new
frontier is the improved rows — per-round work is proportional to
the wavefront, not the graph. Rounds are bounded by the hop diameter
(min-relaxation with non-negative weights converges in <= V rounds);
non-convergence within ``max_rounds`` raises ``NonConvergenceError``
(bound the domain deliberately). Every iterative operator here runs
its rounds through ``operators.fixpoint``, which localCheckpoints each
round's relations — iterative lineage otherwise re-executes every
prior round per action (the CC pointer-jumping lesson).

Cross-engine exactness: with INTEGER weights every distance is an
integer and min-folds are order-free, so a DuckDB twin running FIXED
R >= diameter chained relax CTEs reaches the same fixpoint
bit-for-bit (extra rounds are no-ops — min is idempotent), the
hilbert chained-CTE discipline.

The reference has no graph surface; engine extension.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import checkpoint, fixpoint, frontier_empty, unchanged

__all__ = [
    "core_numbers",
    "hits",
    "label_propagation",
    "pagerank",
    "shortest_paths",
    "strongly_connected_components",
    "triangle_counts",
]


def shortest_paths(
    edges: DataFrame,
    sources: Iterable[int],
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    directed: bool = False,
    max_rounds: int = 64,
) -> DataFrame:
    """-> (node, dist): the minimum path weight from the NEAREST
    source to every reachable node (multi-source seed at 0).
    Unreachable nodes are absent. Weights must be non-negative;
    negative weights break the frontier argument and raise at the
    first negative-looking fixpoint miss (non-convergence)."""
    e = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        F.col(weight_col).alias("_w"),
    )
    if not directed:
        e = e.unionByName(
            e.select(
                F.col("_d").alias("_s"),
                F.col("_s").alias("_d"),
                "_w",
            )
        )
    spark = edges.sparkSession
    # materialise once: a one-shot iterable would be drained by the
    # emptiness check below
    sources = set(sources)
    if not sources:
        raise ValueError("sources must be non-empty")
    from ..session import local_df

    seed = checkpoint(local_df(
        spark, [(int(s), 0) for s in sources], ["node", "dist"]
    ))
    return _relax_min(
        seed, e, "dist", max_rounds, "shortest_paths",
        "raise it (hop diameter bound) or check for negative weights",
        add="_w",
    )


def _relax_min(seed, e, col, max_rounds, op, hint, add=None):
    """Frontier-relaxed min propagation of ``col`` along the edges
    ``e`` (``_s`` -> ``_d``) from the checkpointed ``(node, col)``
    seed to its fixpoint: ``shortest_paths`` (``add`` = the weight
    column) and the SCC forward coloring (labels, no addend). Each
    round joins only the frontier against the edges, folds the
    candidates in with one groupBy min, and the improved rows are the
    next frontier."""
    val = F.col(col) + F.col(add) if add else F.col(col)

    def step(state):
        best, frontier = state
        cand = frontier.join(e, frontier["node"] == e["_s"]).select(
            F.col("_d").alias("node"), val.alias(col)
        )
        new = checkpoint(
            best.unionByName(cand).groupBy("node").agg(F.min(col).alias(col))
        )
        # improved rows: new nodes, or strictly smaller values
        improved = new.join(
            best.withColumnRenamed(col, "_old"), "node", "left"
        ).where(
            F.col("_old").isNull() | (F.col(col) < F.col("_old"))
        ).select("node", col)
        return new, checkpoint(improved)

    return fixpoint(
        step, (seed, seed), max_rounds, frontier_empty, op, hint=hint
    )[0]


def _weighted_edges(edges, src_col, dst_col, weight_col):
    """Checkpointed ``(_s, _d, _w)`` edges repartitioned on ``_s``
    (``_w`` = the BIGINT weight, 1 without ``weight_col``) and their
    distinct endpoint set ``(node)`` — the shared front end of
    pagerank and hits. Keys keep their input type: integer page ids
    and string hosts (operators/web.host_rank) both work — only
    equality is used."""
    w = F.col(weight_col) if weight_col is not None else F.lit(1)
    e = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        w.cast("long").alias("_w"),
    ).repartition("_s").localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    return e, nodes


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: tuple = (85, 100),
    iterations: int = 20,
    scale: int | None = None,
    weight_col: str | None = None,
    seeds: Sequence | None = None,
) -> DataFrame:
    """PageRank by power iteration over a directed edge relation ->
    ``(node, rank)``. Multi-edges count (a page linking twice votes
    twice); dangling nodes (out-degree 0) redistribute their mass
    uniformly, the standard treatment. ``weight_col`` (non-negative
    INTEGER weights) is exactly equivalent to repeating each edge
    weight times — outdeg becomes the weight sum and each vote is
    multiplied by the weight — which is what lets an aggregated
    ``(src, dst, n)`` relation (streaming/web.LinkGraphState)
    reproduce raw multi-edge PageRank bit-for-bit in exact mode.
    ``seeds`` switches to PERSONALIZED PageRank: teleport mass and
    dangling mass both concentrate uniformly on the seed set instead
    of all nodes (topic-sensitive authority / related-host scores);
    rank r0 also starts on the seeds. Seeds absent from the edge
    relation raise (a silent drop would renormalize the teleport).

    Two arithmetic modes sharing one plan:

    * ``scale=None`` (float): ranks are doubles summing to ~1.0 —
      the mode for real use. Float sums are addition-order
      sensitive, so this mode is NOT bit-oracleable (tested vs a
      numpy power iteration with tolerance instead).
    * ``scale=K`` (exact integers): ranks are BIGINTs in units of
      1/K with every division a truncating integer DIV::

          c_u  = r_u DIV outdeg_u                 (per out-edge vote)
          s_v  = SUM of c_u over in-edges of v    (order-free)
          dgl  = (SUM of r_u over dangling u) DIV n
          r'_v = ((den-num)*K) DIV (den*n) + (num*(s_v+dgl)) DIV den

      Every step is integer multiply/sum/DIV — order-free and
      identical in DuckDB (``//``; all values non-negative so trunc
      == floor), which makes the whole output bit-oracleable: the
      same semantics in chained SQL CTEs reach the same integers
      (the ``page_rank`` driver query). Truncation loses < 1 unit
      per op, so ranks approximate true PageRank to ~iterations/K.
      Keep ``num * scale`` < 2**62: total mass <= K, so the largest
      product is bounded by num * K.

    Plan shape: node set + out-degrees computed once and
    localCheckpointed; per iteration one join (ranks x edges on
    src), one groupBy(dst) sum — both partial-agg-friendly — a
    1-row dangling aggregate (bounded collect, same class as the
    frontier isEmpty), and a left join back onto the node relation
    so zero-in-link nodes keep their teleport share. Ranks are
    localCheckpointed per round (iterative-lineage rule). At 100 TB
    scale the edge relation dominates: it is repartitioned on src
    ONCE up front and reused by every iteration's shuffle-free-side
    join.
    """
    num, den = int(damping[0]), int(damping[1])
    if not (0 < num < den):
        raise ValueError("damping must satisfy 0 < num < den")
    exact = scale is not None
    e, nodes = _weighted_edges(edges, src_col, dst_col, weight_col)
    outdeg = e.groupBy(F.col("_s").alias("node")).agg(
        F.sum("_w").alias("_deg")
    )
    nodes = (
        nodes.join(outdeg, "node", "left")
        .withColumn("_deg", F.coalesce("_deg", F.lit(0).cast("long")))
        .repartition("node")
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("edge relation is empty")

    seed_list = None
    if seeds is not None:
        seed_list = sorted(set(seeds))
        if not seed_list:
            raise ValueError("seeds must be non-empty when given")
        n_base = len(seed_list)
        is_seed = F.col("node").isin(seed_list)
        found = nodes.where(is_seed).count()
        if found != n_base:
            raise ValueError(
                "%d seed(s) absent from the edge relation"
                % (n_base - found)
            )
    else:
        n_base = n
        is_seed = F.lit(True)

    if exact:
        k = int(scale)
        tp = ((den - num) * k) // (den * n_base)
        teleport = F.when(is_seed, F.lit(tp)).otherwise(
            F.lit(0)
        ).cast("long")
        r0 = F.when(is_seed, F.lit(k // n_base)).otherwise(
            F.lit(0)
        ).cast("long")
        vote = F.expr("rank DIV _deg") * F.col("_w")
        newrank = (
            teleport
            + F.expr("(%d * _sv2) DIV %d" % (num, den))
        ).cast("long")
    else:
        d = float(num) / float(den)
        teleport = F.when(
            is_seed, F.lit((1.0 - d) / n_base)
        ).otherwise(F.lit(0.0))
        r0 = F.when(is_seed, F.lit(1.0 / n_base)).otherwise(F.lit(0.0))
        vote = F.col("rank") / F.col("_deg") * F.col("_w")
        newrank = teleport + F.lit(d) * F.col("_sv2")
    ranks = checkpoint(nodes.select(
        "node", "_deg", is_seed.alias("_seed"), r0.alias("rank")
    ))

    def step(ranks):
        dangling = ranks.where(F.col("_deg") == 0).agg(
            F.sum("rank").alias("_m")
        ).collect()[0]["_m"]
        dangling = dangling or (0 if exact else 0.0)
        contrib = (
            ranks.where(F.col("_deg") > 0)
            .join(e, ranks["node"] == e["_s"])
            .select(F.col("_d").alias("node"), vote.alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_sv"))
        )
        # dangling mass lands on the teleport support only (for
        # plain PageRank that is every node — dgl_col == dgl)
        if exact:
            dgl_col = F.when(
                F.col("_seed"), F.lit(dangling // n_base)
            ).otherwise(F.lit(0)).cast("long")
        else:
            dgl_col = F.when(
                F.col("_seed"), F.lit(dangling / n_base)
            ).otherwise(F.lit(0.0))
        return checkpoint(
            nodes.withColumn("_seed", is_seed)
            .join(contrib, "node", "left")
            .withColumn(
                "_sv",
                F.coalesce(
                    "_sv",
                    F.lit(0).cast("long" if exact else "double"),
                ),
            )
            .withColumn("_sv2", F.col("_sv") + dgl_col)
            .select(
                "node", "_deg", "_seed", newrank.alias("rank")
            )
        )

    return fixpoint(step, ranks, iterations).select("node", "rank")


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 20,
    scale: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) by power iteration over a
    directed edge relation -> ``(node, hub, auth)``. A good AUTHORITY
    is pointed at by good hubs; a good HUB points at good
    authorities — the complementary signal to PageRank on a crawl
    link graph (directories/portals score as hubs, canonical content
    hosts as authorities). ``weight_col`` (non-negative INTEGER
    weights) is exactly equivalent to repeating each edge, so an
    aggregated ``(src, dst, n)`` relation (streaming/web.
    LinkGraphState) reproduces raw multi-edge HITS bit-for-bit in
    exact mode — the pagerank rule.

    Normalization is L1 (scores sum to ~1) rather than the textbook
    L2: power iteration converges to the same principal eigenvector
    direction under any positive rescaling, and L1 keeps every step
    in multiply/sum/divide (no sqrt), which is what makes the exact
    mode possible. Per round::

        a_raw(v) = SUM over in-edges  u->v of hub(u)  * w
        h_raw(u) = SUM over out-edges u->v of auth(v) * w

    each followed by the L1 renormalization a = K*a_raw/SUM(a_raw).

    Two arithmetic modes sharing one plan (the pagerank scheme):

    * ``scale=None`` (float): doubles summing to ~1.0, for real use;
      NOT bit-oracleable (float sums are addition-order sensitive) —
      tested vs a numpy power iteration with tolerance.
    * ``scale=K`` (exact integers): scores are BIGINTs in units of
      1/K; the renormalization is ``(K * a_raw(v)) DIV SUM(a_raw)``
      — integer multiply/sum/DIV only, order-free, identical in
      DuckDB (``//``; values non-negative so trunc == floor), so the
      output is bit-oracleable by fixed-round chained CTEs (the
      ``hits_scores`` extra query). Overflow bound: after
      renormalizing, total mass <= K, so SUM(a_raw) <= K * W (W =
      total edge weight) and the product K * a_raw needs
      ``scale**2 * W < 2**63`` — use K ~ 2**20 with millions of
      edges, not the 2**40 of pagerank (document per call site).
      Truncation loses < 1 unit per node per round.

    Plan shape: two checkpointed copies of the edge relation, one
    repartitioned on src (the hub->auth join) and one on dst (the
    auth->hub join), so both per-round joins are shuffle-free on the
    edge side at any scale; per round two groupBy sums
    (partial-agg-friendly) and two 1-row L1-mass aggregates (bounded
    collects, the dangling-mass class). Scores localCheckpoint per
    round (iterative-lineage rule).
    """
    if int(iterations) < 1:
        raise ValueError("iterations must be >= 1")
    exact = scale is not None
    e_src, nodes = _weighted_edges(edges, src_col, dst_col, weight_col)
    e_dst = e_src.repartition("_d").localCheckpoint(eager=True)
    nodes = nodes.repartition("node").localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        raise ValueError("edge relation is empty")

    if exact:
        k = int(scale)
        if k < n:
            raise ValueError(
                "scale=%d < n=%d: the uniform start K DIV n would "
                "be 0 everywhere" % (k, n)
            )
        h0 = F.lit(k // n).cast("long")
        zero = F.lit(0).cast("long")
    else:
        h0 = F.lit(1.0 / n)
        zero = F.lit(0.0)
    hubs = checkpoint(nodes.select("node", h0.alias("hub")))

    def _step(score_df, score_col, e, join_key, out_key, out_col):
        """One half-round: push score along edges, renormalize L1."""
        raw = (
            score_df.join(e, score_df["node"] == e[join_key])
            .select(
                F.col(out_key).alias("node"),
                (F.col(score_col) * F.col("_w")).alias("_r"),
            )
            .groupBy("node")
            .agg(F.sum("_r").alias("_raw"))
        )
        total = raw.agg(F.sum("_raw").alias("_m")).collect()[0]["_m"]
        if not total:
            raise ValueError(
                "HITS mass vanished (all %s scores fed 0-weight "
                "edges)" % score_col
            )
        if exact:
            norm = F.expr(
                "(%d * _raw) DIV %d" % (int(scale), int(total))
            ).cast("long")
        else:
            norm = F.col("_raw") / F.lit(float(total))
        return checkpoint(
            nodes.join(raw, "node", "left")
            .select(
                "node",
                F.when(F.col("_raw").isNull(), zero)
                .otherwise(norm)
                .alias(out_col),
            )
        )

    def round_(state):
        auths = _step(state[0], "hub", e_src, "_s", "_d", "auth")
        return _step(auths, "auth", e_dst, "_d", "_s", "hub"), auths

    hubs, auths = fixpoint(round_, (hubs, None), iterations)
    return hubs.join(auths, "node").select("node", "hub", "auth")


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient
    over an undirected simple graph -> ``(node, degree, triangles,
    clustering)``. Input direction/duplication is ignored: edges are
    canonicalized to distinct ``(least, greatest)`` pairs and
    self-loops drop. Isolated nodes (no edges) are absent.

    Algorithm (the standard distributed exact method): orient every
    canonical edge from the lexicographically smaller ``(degree,
    node)`` endpoint to the larger — a TOTAL order, so the oriented
    graph is acyclic and every triangle has exactly one vertex with
    two out-edges; enumerating wedges at that vertex and closing
    them against the canonical edge set counts each triangle exactly
    once. Degree orientation bounds per-node out-degree by
    ~sqrt(2m), so total wedge count is O(m^1.5) regardless of skew —
    a hub with 10M in-links generates NO wedges at itself unless its
    neighbors are bigger hubs. Per-triangle corners then scatter to
    all three nodes for the per-node counts.

    ``clustering`` = 2*triangles / (degree*(degree-1)), 0.0 when
    degree < 2 — one division of exact integers, deterministic IEEE,
    so the whole output is bit-oracleable against the same joins in
    SQL (the ``triangles`` driver query).
    """
    # keys keep their input type (string hosts work — least/greatest
    # and the wedge order only need a total order, the pagerank rule)
    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(
        F.col("node").alias("a"), F.col("degree").alias("_dega")
    )
    db = deg.select(
        F.col("node").alias("b"), F.col("degree").alias("_degb")
    )
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        canon.join(da, "a").join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    o1 = oriented.select("u", F.col("v").alias("_v1"))
    o2 = oriented.select("u", F.col("v").alias("_v2"))
    # wedge pair ordered by node id => the closing edge IS the
    # canonical form (_v1, _v2), no re-least/greatest needed
    tri = (
        o1.join(o2, "u")
        .where(F.col("_v1") < F.col("_v2"))
        .join(
            canon,
            (F.col("_v1") == F.col("a")) & (F.col("_v2") == F.col("b")),
        )
        .select("u", "_v1", "_v2")
    )
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("_v1").alias("node")))
        .unionByName(tri.select(F.col("_v2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    degd = F.col("degree").cast("double")
    return (
        deg.join(corners, "node", "left")
        .withColumn(
            "triangles", F.coalesce("triangles", F.lit(0).cast("long"))
        )
        .select(
            "node",
            "degree",
            "triangles",
            F.when(
                F.col("degree") >= 2,
                F.lit(2.0) * F.col("triangles").cast("double")
                / (degd * (degd - F.lit(1.0))),
            ).otherwise(F.lit(0.0)).alias("clustering"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_peels: int = 16,
    max_rounds: int = 64,
) -> DataFrame:
    """Exact SCCs of a directed graph -> ``(node, scc)`` where the
    label is the MINIMUM member of the component (a pure function of
    the graph — any correct algorithm lands on the same labels,
    which is what makes the output bit-oracleable). The web-graph
    bowtie decomposition: mutually-linking host cliques collapse to
    one unit, the condensation is a DAG. Self-loops are irrelevant;
    isolated nodes are absent (no edges to see them by).

    Algorithm — the coloring/peeling method (Orzan's FB-coloring,
    the standard data-parallel SCC):

    1. COLOR: propagate ``color(v) = min(color(u) over in-edges,
       color(v))`` to fixpoint — each node learns the minimum node
       that REACHES it. Frontier-relaxed like shortest_paths (only
       improved rows join next round).
    2. COLLECT: a color root r (``color(r) = r``) reaches every node
       of its color class; the members that can reach r BACK —
       found by propagating a flag backward along edges WITHIN the
       color class — are exactly SCC(r). Labeled ``r`` and peeled.
    3. Repeat on the remainder. Every peel removes at least every
       current color root's SCC (the source SCCs of the remaining
       condensation), so ``max_peels`` bounds the condensation-DAG
       depth, not the component count; real link graphs peel in a
       handful of rounds. Non-convergence raises
       ``NonConvergenceError`` (the shortest_paths contract).

    Per round everything is equi joins + groupBy min + frontier
    checks; labels only need a total order, so integer ids and
    string hosts both work. Edges are re-projected (and
    localCheckpointed, the iterative-lineage rule) onto the
    remainder after each peel — later peels run on shrinking
    relations.
    """
    e_all = (
        edges.select(
            F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
        )
        .where(F.col("_s") != F.col("_d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes_all = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    empty = nodes_all.select(
        "node", F.col("node").alias("scc")
    ).where(F.lit(False))

    def peel(state):
        out, remaining, e = state
        # -- 1. forward min-color propagation (frontier-relaxed; every
        # edge of e joins two remaining nodes, so no candidate is new)
        colors = _relax_min(
            checkpoint(remaining.select("node", F.col("node").alias("c"))),
            e, "c", max_rounds, "SCC color propagation",
            "raise it (graph diameter bound)",
        )
        # -- 2. backward flag propagation within color classes
        ec = checkpoint(
            e.join(colors.toDF("_s", "_cs"), "_s")
            .join(colors.toDF("_d", "_cd"), "_d")
            .where(F.col("_cs") == F.col("_cd"))
            .select("_s", "_d")
        )

        def sweep(state):
            hit, frontier = state
            if frontier is not hit:  # absorb last round's new members
                hit = checkpoint(hit.unionByName(frontier))
            cand = (
                frontier.join(ec, frontier["node"] == ec["_d"])
                .select(F.col("_s").alias("node"))
                .distinct()
                .join(colors, "node")
            )
            return hit, checkpoint(
                cand.join(hit.select("node"), "node", "left_anti")
            )

        roots = checkpoint(colors.where(F.col("node") == F.col("c")))
        hit = fixpoint(
            sweep, (roots, roots), max_rounds, frontier_empty,
            "SCC backward sweep",
        )[0]
        labeled = hit.toDF("node", "scc")
        # -- 3. peel
        gone = hit.select("node")
        return (
            checkpoint(out.unionByName(labeled)),
            checkpoint(remaining.join(gone, "node", "left_anti")),
            checkpoint(
                e.join(gone.toDF("_s"), "_s", "left_anti")
                .join(gone.toDF("_d"), "_d", "left_anti")
            ),
        )

    if nodes_all.isEmpty():
        return empty
    return fixpoint(
        peel, (empty, nodes_all, e_all), max_peels, frontier_empty,
        "SCC peeling", bound="max_peels",
        hint="the condensation DAG is deeper than expected; raise "
        "max_peels",
    )[0]


def _undirected_adj(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Distinct undirected ``(node, nbr)`` adjacency (both directions
    of each canonical pair; self-loops drop) — the shared front end
    of label_propagation and core_numbers."""
    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    return (
        canon.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(
            canon.select(
                F.col("b").alias("node"), F.col("a").alias("nbr")
            )
        )
        .repartition("nbr")
        .localCheckpoint(eager=True)
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation with a
    deterministic tie-break -> ``(node, label)``. Input is treated as
    an undirected simple graph (duplicates/direction/self-loops
    absorbed like triangle_counts).

    Update rule, all integers: label(v) starts as v; each round every
    node adopts the most frequent label among its neighbors, ties
    broken by the SMALLEST label; isolated-in-round nodes (none here,
    every node has an edge) would keep their label. Synchronous +
    deterministic tie-break means the result is a pure function of
    (graph, iterations) — reproducible across partitionings and
    engines, so the whole output is bit-oracleable (the
    ``communities`` driver query mirrors each round as a chained SQL
    CTE: GROUP BY counts + ROW_NUMBER ORDER BY cnt DESC, label).
    Classic caveat: sync LPA can oscillate 2-cycles on bipartite-ish
    structure — pick ``iterations`` accordingly; determinism holds
    regardless.

    Per round: one join (labels x adjacency on nbr), one
    groupBy(node, label) count, one struct-min argmax groupBy — all
    partial-agg-friendly; labels are localCheckpointed per round
    (iterative-lineage rule). The argmax is ``min(struct(-cnt,
    label))`` — no window, so no single-partition risk on hub nodes.
    """
    adj = _undirected_adj(edges, src_col, dst_col)
    labels = checkpoint(
        adj.select("node")
        .distinct()
        .select("node", F.col("node").alias("label"))
    )

    def step(labels):
        # rename the label side's key: labels derives from adj, so the
        # shared exprId would make a bare "node" ambiguous
        counts = (
            adj.join(
                labels.select(
                    F.col("node").alias("_ln"), "label"
                ),
                F.col("nbr") == F.col("_ln"),
            )
            .select("node", "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = counts.groupBy("node").agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("negc"),
                    F.col("label").alias("label"),
                )
            ).alias("m")
        ).select("node", F.col("m.label").alias("_new"))
        return checkpoint(
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("_new", "label").alias("label"),
            )
        )

    return fixpoint(step, labels, iterations)


def core_numbers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 100,
) -> DataFrame:
    """k-core decomposition -> ``(node, core)``: the coreness of each
    node of the undirected simple graph (duplicates/direction/
    self-loops absorbed). Distributed via the h-index iteration
    (Lu et al. 2016, "The H-index of a network node"): start at
    core = degree; each round replace it with the h-index of the
    neighbors' current values (the largest h such that >= h neighbors
    hold values >= h). The sequence is monotone non-increasing and
    converges exactly to the coreness — no global peeling order
    needed, which is what makes the classic sequential algorithm
    distributable.

    All arithmetic is integer and the h-index is tie-order invariant
    (max over rank r of min(value_r, r) under ANY descending order),
    so the fixpoint is bit-oracleable: a fixed-round chained-CTE SQL
    twin reaches the same integers (the ``kcore`` driver query), and
    extra rounds at the fixpoint are no-ops (h(coreness) = coreness,
    the grid_paths idempotence discipline).

    Per round: one join (values x adjacency on nbr), one per-node
    rank window (keyed by the join's grouping column), one max
    aggregate; per-round localCheckpoint + driver convergence check
    (bounded 1-row collect). Raises ``NonConvergenceError`` after
    ``max_rounds`` without a fixpoint (cannot happen on a finite
    graph with max_rounds >= rounds-to-converge; the guard catches
    caller misuse).

    Scale contract: the rank window concentrates each node's
    neighbor rows in one task, so per-task work is O(max degree) —
    a 10M-in-link hub pays a 10M-row local sort in its task each
    round (no cross-node amplification; AQE cannot split a window
    partition). For degree-bounded road/lattice graphs this is
    irrelevant; for hub-heavy web graphs cap degrees upstream or
    accept the straggler.
    """
    from pyspark.sql import Window

    adj = _undirected_adj(edges, src_col, dst_col)
    core = checkpoint(
        adj.groupBy("node").agg(F.count(F.lit(1)).alias("core"))
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("val"), F.col("nbr")
    )

    def step(core):
        nv = adj.join(
            core.select(F.col("node").alias("_cn"), "core"),
            F.col("nbr") == F.col("_cn"),
        ).select("node", "nbr", F.col("core").alias("val"))
        h = (
            nv.select(
                "node",
                "val",
                F.row_number().over(w).alias("rn"),
            )
            .groupBy("node")
            .agg(
                F.max(
                    F.least(F.col("val"), F.col("rn").cast("long"))
                ).alias("h")
            )
        )
        return checkpoint(
            core.join(h, "node")
            .select("node", F.least("core", "h").alias("core"))
        )

    return fixpoint(
        step, core, max_rounds, unchanged("core"), "core_numbers",
        hint="raise it (bounded by the graph's degeneracy ordering "
        "depth)",
    )
