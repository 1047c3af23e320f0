"""Graph construction and analytics over co-occurrence data — the
tier beyond ``connected_components`` (operators/dedup.py): build an
entity graph FROM tabular events, then compute structure (triangles /
local clustering) on it. Standard distributed-graph shapes on
DataFrames; no driver-side graph object ever exists.

Reference parity note: the reference has no graph surface; these are
north-star extensions (the co-engagement / co-citation graphs behind
recommendation and influence features, and the triangle statistics
that separate genuine communities from hub-and-spoke noise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_edges(
    df: DataFrame,
    id_col: str,
    group_cols: list[str],
    max_group: int | None = None,
    keep_frac: float | None = None,
) -> DataFrame:
    """Entity co-occurrence graph: an edge (a, b), a < b, for every
    pair of distinct entities appearing in the same group (same
    session, same time-window × event-type, same document...), with
    ``n_groups`` = how many groups they share (the edge weight).

    Scale shape: within-group pairing is quadratic IN THE GROUP, so
    group size is the whole cost story — the hot-group gate drops the
    largest groups before pairing (the co-occurrence twin of the text
    ladder's ``max_shingle_df``: a mega-group — a viral document, a
    bot burst — contributes O(n²) near-meaningless edges and is
    exactly what you don't want in the graph). Two gate forms:

    - ``max_group``: a FIXED size cap — explicit control, but a
      constant tuned at one data density silently empties (or stops
      gating) the graph at another;
    - ``keep_frac`` (the SF-stable default, 0.95 when neither is
      given): keep the bottom ``keep_frac`` of groups by size via
      exact ``cume_dist`` over the SIZES frame — the threshold tracks
      the size distribution at any scale. The sizes frame is one row
      per group (windows × types, nowhere near table cardinality), so
      its single-partition window is bounded by construction.

    Everything shuffles on group keys, then on the 2-entity edge key;
    never O(N²) in the table.
    """
    from pyspark.sql import Window

    if max_group is not None and keep_frac is not None:
        raise ValueError("pass max_group OR keep_frac, not both")
    g = df.select(*group_cols, F.col(id_col).alias("__id")).distinct()
    sizes = g.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__n"))
    if max_group is not None:
        ok = sizes.filter(F.col("__n") <= max_group)
    else:
        frac = 0.95 if keep_frac is None else keep_frac
        # The min-size tier is ALWAYS kept: cume_dist assigns every
        # member of a tied size the tier's upper rank, so under heavy
        # ties (all groups the same size → cume_dist 1.0 everywhere)
        # a bare `cd <= frac` drops 100% of groups and silently empties
        # the graph. In the non-degenerate case the smallest tier's
        # cume_dist is <= frac anyway, so this clause changes nothing.
        ok = (
            sizes.withColumn(
                "__cd", F.cume_dist().over(Window.partitionBy().orderBy("__n"))
            )
            .withColumn("__mn", F.min("__n").over(Window.partitionBy()))
            .filter((F.col("__cd") <= frac) | (F.col("__n") == F.col("__mn")))
        )
    capped = g.join(ok.select(*group_cols), group_cols)
    a = capped.select(*group_cols, F.col("__id").alias("id_a"))
    b = capped.select(*group_cols, F.col("__id").alias("id_b"))
    return (
        a.join(b, group_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


def top_m_edges(edges: DataFrame, m: int = 10, weight_col: str = "n_groups") -> DataFrame:
    """Degree-bounded sparsification: keep each node's ``m`` strongest
    incident edges (by ``weight_col``, ties on the neighbor id), then
    re-deduplicate to an undirected (id_a < id_b) list. The standard
    co-occurrence-graph treatment, and the SCALE GUARD for everything
    downstream: wedge/triangle work is sum-of-degree², and a dense
    graph (a closed population where everyone co-occurs with everyone
    — measured: the same 11k edges cost 34 s as a complete 150-node
    graph and 4 s spread over 1500 nodes) makes it quadratic in the
    population. After top-m, max degree <= 2m and downstream cost is
    linear in nodes. An edge survives if EITHER endpoint ranks it."""
    from pyspark.sql import Window

    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), F.col(weight_col).alias("w")
    ).unionByName(
        edges.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"), F.col(weight_col).alias("w")
        )
    )
    win = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    kept = sym.withColumn("__rn", F.row_number().over(win)).filter(F.col("__rn") <= m)
    return kept.select(
        F.least("src", "dst").alias("id_a"),
        F.greatest("src", "dst").alias("id_b"),
    ).distinct()


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an ordered edge list
    (id_a < id_b, distinct): the local-clustering numerator. A node in
    many triangles sits inside a dense community; a hub with zero
    triangles is a star center.

    The enumeration is the classical ordered three-way join — wedges
    (a<b<c) from edges (a,b)⋈(b,c), closed by (a,c) — so each triangle
    is produced exactly once and every shuffle key is a node id (or an
    id pair). Cost is sum of per-node degree² for wedge generation,
    bounded upstream by the edge builder's group cap. Returns
    (id, n_triangles) for nodes in at least one triangle.
    """
    from cdc_makanmana_spark.operators.dedup import materialize

    # the edge list feeds THREE branches of the wedge join — without a
    # lineage cut the entire upstream edge-construction pipeline runs
    # three times (measured: the declared q75 planned 31 exchanges
    # before the cut, 3x the edge builder's own plan)
    e = materialize(edges.select("id_a", "id_b").distinct())
    ab = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    bc = e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    ac = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    weight_col: str | None = None,
    fixed_iter: int | None = None,
    seeds: DataFrame | None = None,
    cut_every: int = 4,
) -> DataFrame:
    """PageRank over an undirected edge list (id_a, id_b) — the
    influence/centrality score for the graphs this module builds
    (co-activity, kNN, near-dup). Returns (id, rank), ranks summing to
    ~1 over the nodes.

    The standard iterative formulation as pure DataFrame ops: each
    iteration propagates rank/degree along edges (one shuffle on the
    node id), applies the damping mix, and MATERIALIZES (lineage cut —
    the CC loop's discipline, plan depth O(1) per iteration).
    Convergence is the L1 delta between iterations, one bounded scalar
    per iteration (the same driver-probe class as CC's label sum);
    raises if ``max_iter`` passes without reaching ``tol`` — silent
    non-convergence would hand downstream consumers wrong ranks.

    ``weight_col`` names an edge-weight column (e.g. the co-occurrence
    graph's ``n_groups``): contributions then split proportionally to
    weight instead of equally — the weighted PageRank a co-engagement
    graph wants (a pair co-active every day should carry more
    influence than a one-off). Unweighted is weight 1 everywhere.

    Dangling nodes cannot exist here by construction (an edge list's
    nodes all have degree >= 1), so the dangling-mass correction is
    deliberately absent; feed isolated nodes separately if the graph
    has them (their rank is the bare teleport term).

    ``fixed_iter`` runs EXACTLY that many iterations with no
    convergence probe at all — zero driver-side collects in the loop,
    and a deterministic iteration count an external replica (the
    DuckDB oracle's recursive CTE) can replay bit-for-bit in
    structure. The convergence-checked mode stays the default for
    consumers that need a quality guarantee rather than a fixed
    budget.

    ``seeds`` (a 1-column ``id`` frame) switches to PERSONALIZED
    PageRank: all teleport mass lands uniformly on the seed set
    instead of every node — ranks become proximity-to-the-seeds, the
    'related items' primitive (seed = one merchant → ranks = its
    co-activity neighborhood, weighted by multi-hop structure).
    Non-seed nodes start at 0 and earn rank only through inflow; the
    seed frame joins in as a dim (seed-cardinality, broadcastable),
    never collected. Seeds absent from the edge list are IGNORED
    (teleport mass splits over in-graph seeds only, so ranks keep
    summing to ~1); raises if no seed intersects the graph.
    """
    from cdc_makanmana_spark.operators.dedup import materialize

    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    und = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), w.alias("w")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), w.alias("w"))
    ).groupBy("src", "dst").agg(F.sum("w").alias("w"))
    und = materialize(und)
    deg = und.groupBy("src").agg(F.sum("w").alias("deg"))
    n = deg.count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], "id long, rank double")

    nodes = deg.select(F.col("src").alias("id"))
    if seeds is None:
        base_col = F.lit(float((1.0 - damping) / n))
        ranks = materialize(nodes.withColumn("rank", F.lit(1.0 / n)))
    else:
        # cut the seed frame's lineage BEFORE counting: seeds often
        # derive from the same edge pipeline being ranked (q87), and an
        # uncut frame re-runs that whole pipeline once for the count
        # and once per consumer (measured: 24 s vs 7 s for the declared
        # q87 at sf0.1). Intersect with the graph's nodes FIRST: a
        # seed absent from the edge list would otherwise inflate
        # n_seeds while receiving no mass, silently shrinking total
        # teleport below (1-d) and deflating every rank.
        s = materialize(seeds.select(F.col("id")).distinct().join(nodes, "id"))
        n_seeds = s.count()
        if n_seeds == 0:
            raise ValueError(
                "personalized pagerank requires a non-empty seed set "
                "intersecting the graph's nodes"
            )
        with_seed = nodes.join(
            s.withColumn("__s", F.lit(1.0 / n_seeds)), "id", "left"
        ).withColumn("__s", F.coalesce("__s", F.lit(0.0)))
        base_col = F.lit(1.0 - damping) * F.col("__s")
        ranks = materialize(with_seed.withColumn("rank", F.col("__s")))
    links = materialize(und.join(deg, "src"))

    def step(r: DataFrame, cut: bool = True) -> DataFrame:
        contrib = (
            links.join(r, links.src == r.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("w") / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        carry = ["id"] if seeds is None else ["id", "__s"]
        out = r.select(*carry).join(contrib, "id", "left").select(
            *carry,
            (base_col + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                "rank"
            ),
        )
        return materialize(out) if cut else out

    def finish(r: DataFrame) -> DataFrame:
        return r.select("id", "rank") if seeds is not None else r

    if fixed_iter is not None:
        if fixed_iter < 1:
            raise ValueError(f"fixed_iter must be >= 1, got {fixed_iter}")
        # lineage-cut every ``cut_every``-th step: each materialize is
        # an eager job, and on small/medium graphs the per-job fixed
        # cost — not the shuffles — dominates the loop (interleaved
        # min-of-3 on the declared q77 graph at sf0.1: cadence 2 →
        # 8.4 s, cadence 4 → 4.9 s, cadence 8 → 5.4 s; plan depth
        # stays O(1) at ``cut_every`` chained propagation steps, and
        # past ~4 the deeper codegen/optimizer pass starts costing
        # more than the saved jobs). The convergence mode can't batch
        # — it needs the delta between CONSECUTIVE iterations.
        if cut_every < 1:
            raise ValueError(f"cut_every must be >= 1, got {cut_every}")
        for i in range(fixed_iter):
            last = i == fixed_iter - 1
            ranks = step(ranks, cut=(i % cut_every == cut_every - 1) or last)
        return finish(ranks)

    for _ in range(max_iter):
        new_ranks = step(ranks)
        delta = (
            ranks.select("id", "rank")
            .join(new_ranks.select("id", F.col("rank").alias("r2")), "id")
            .agg(F.sum(F.abs(F.col("rank") - F.col("r2"))))
            .collect()[0][0]
        )
        ranks = new_ranks
        if delta is not None and delta < tol:
            return finish(ranks)
    raise RuntimeError(
        f"pagerank did not converge within {max_iter} iterations (delta {delta:.2e})"
    )
