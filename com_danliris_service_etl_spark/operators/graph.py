"""Iterative graph operators (PageRank) as pure DataFrame programs.

The reference has no graph engine, but its dedup-cluster pass
(operators/dedup.py `dedup_clusters`) already established the pattern a
100 TB deployment needs for iterative graph work on Spark: joins +
map-side-combinable aggregations per superstep, `localCheckpoint` to cut
lineage between supersteps, and never a driver-side collect of row data.
PageRank completes that family — the standard data-curation centrality
pass (pick representative documents from a similarity graph, weight
sources by link authority) expressed without GraphX/GraphFrames, which
keeps the whole plan inside Catalyst/Tungsten.

Scale notes (100 TB):
- Each superstep is one equi-join of the rank vector onto the edge list
  plus one groupBy(dst) with partial aggregation — the same shuffle keys
  every iteration, so bucketing the edge list on src (or AQE exchange
  reuse) amortizes the edge shuffle; no all-pairs stage anywhere.
- The rank vector is |V| rows — usually orders of magnitude smaller than
  |E|. ``broadcast_ranks=True`` hints it (and the out-degree table) into
  broadcast joins, making every superstep's join map-side; leave it
  False when |V| itself is beyond broadcast range and Spark's own size
  estimate decides.
- Hot destination nodes (celebrity pages) are safe: groupBy(dst) partial
  aggregation combines map-side, unlike a window-over-dst form.
- `localCheckpoint(eager=False)` per superstep stops the plan doubling
  per iteration (the dedup_clusters lesson); only the final action runs
  the chain. Measured on the registry graph (sf0.1): checkpoint-each +
  broadcast beats both no-checkpoint variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_degrees: bool = False,
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph;
    returns ``(node, triangles)`` for every node in ≥ 1 triangle.

    Input edges may be directed/duplicated; they are canonicalized to the
    distinct undirected edge set first. Algorithm: compact-forward with
    ADJACENCY-LIST INTERSECTION. Every edge is oriented from its
    lower-(degree, id) endpoint to the higher one; each node's oriented
    out-neighbors collapse to ONE array (bounded at O(√m) elements by the
    degree orientation — hub nodes keep only their higher-ranked
    neighbors); then for each oriented edge (u, v) the triangles through
    it are |N⁺(u) ∩ N⁺(v)|, a ROW-LOCAL `array_intersect` inside codegen.
    Each triangle has exactly one base edge under the orientation (its
    out-degree-2 corner), so nothing double-counts.

    Why not the join formulation (explode two-paths u→v, u→w and
    semi-join the closure): the two-path relation is Σ C(out-deg, 2)
    rows — 49M for the sf0.1 co-purchase graph's 1.2M edges — and
    shuffling it dominated end-to-end cost 10× (21.7s vs ~2s measured).
    The intersection form does the same Σ C(out-deg, 2) element
    comparisons STREAMING inside whole-stage codegen: nothing wider than
    one adjacency array per row is ever materialized or shuffled. The
    per-triangle explode that remains emits exactly 1 row per triangle
    (the w-corner attribution), orders of magnitude below the two-path
    relation.

    ``broadcast_degrees``: hint the |V|-row degree table (and the
    |V|-row adjacency-array table) into map-side joins when |V| is
    dimension-scale; leave False to let size estimates decide."""
    maybe_b = F.broadcast if broadcast_degrees else (lambda df: df)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # referenced by the degree aggregate AND both orientation joins —
        # checkpoint the fork or the upstream pipeline runs per reference
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)  # joined twice below
    )
    da = maybe_b(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")))
    db = maybe_b(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")))
    # orient by the (deg, id) total order — struct comparison is
    # lexicographic, so ties in degree break on the node id
    lo_first = F.struct(F.col("da"), F.col("a")) < F.struct(F.col("db"), F.col("b"))
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint(eager=False)  # referenced by adj build + edge probe
    )
    # collect_list state is bounded by the oriented out-degree — O(√m) —
    # so no task ever buffers a hub's full neighborhood
    adj = (
        oriented.groupBy("u")
        .agg(F.sort_array(F.collect_list("v")).alias("nbrs"))
        .localCheckpoint(eager=False)  # edge probe re-derives from it + nv join
    )
    # Re-derive each oriented edge WITH its tail's adjacency array by
    # exploding the adjacency table itself — one join fewer than probing
    # oriented×adj; the duplicated nu array streams inside codegen, it is
    # never shuffled (the join below keys on v alone).
    #
    # The intersection scan is CPU-bound, and adj sits at
    # spark.sql.shuffle.partitions post-aggregate — on a local/bench
    # session that under-uses the cores (8 tasks on 32 cores measured
    # 3.1× slower than spread). Spread ONLY when the configured shuffle
    # width is below the cluster parallelism; a real deployment sizes
    # shuffle partitions >= cores and the repartition vanishes.
    sc = edges.sparkSession.sparkContext
    try:
        shuffle_n = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_n = sc.defaultParallelism
    probe = adj.repartition(sc.defaultParallelism) if shuffle_n < sc.defaultParallelism else adj
    with_nu = probe.select("u", F.col("nbrs").alias("nu"), F.explode("nbrs").alias("v"))
    # inner join: an edge whose head has no out-neighbors closes nothing
    both = with_nu.join(
        maybe_b(adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))), "v"
    )
    tri_edges = both.select(
        "u", "v", F.array_intersect("nu", "nv").alias("ws")
    ).filter(F.size("ws") > 0)
    # Corner attribution in ONE pass (r15): the old form referenced
    # tri_edges three times (u-corner, v-corner, w-corner unions), which
    # forced a checkpoint of the (u, v, ws) relation — Σ|ws| array cells
    # materialized — plus three scans of it and a 3-branch union feeding
    # the aggregate. posexplode over concat(array(u, v), ws) emits the
    # identical contribution multiset from a single scan: positions 0/1
    # are the u/v corners (each worth |ws| triangles), positions ≥ 2 are
    # the w corners (worth 1 each) — all inside one codegen span, no
    # checkpoint, no union.
    per_corner = tri_edges.select(
        F.size("ws").cast("long").alias("__s"),
        F.posexplode(F.concat(F.array("u", "v"), "ws")).alias("__p", "node"),
    ).select(
        "node",
        F.when(F.col("__p") < 2, F.col("__s")).otherwise(F.lit(1).cast("long")).alias("c"),
    )
    return per_corner.groupBy("node").agg(F.sum("c").alias("triangles"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any source node,
    explored to ``max_hops``; returns ``(node, hops)`` for every reached
    node (sources at 0). Edges are followed src→dst as given — pass a
    bidirected list for undirected reachability.

    FRONTIER form, not path enumeration: each level expands only the
    previous frontier (one equi-join onto the edge list), dedups it
    (groupBy — map-side combinable), and anti-joins the visited set; a
    recursive path-union (the naive SQL) enumerates every distinct PATH
    and explodes combinatorially on dense graphs. Only each LEVEL frame
    is lazily checkpointed — the visited set is a plain union of those
    already-checkpointed levels, so giving it its own checkpoint would
    add one wasted job per level (~0.15 s each at bench scale) for
    lineage the union never grows. The visited set is only ever joined
    on its key — never collected."""
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    # no checkpoint on level 0: the source set is a tiny scan/projection
    # whose recompute is cheaper than a dedicated checkpoint job
    level0 = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("hops"))
    )
    levels = [level0]
    frontier = level0.select("node")
    for hop in range(1, max_hops + 1):
        visited_nodes = levels[0].select("node")
        for lv in levels[1:]:
            visited_nodes = visited_nodes.unionByName(lv.select("node"))
        nxt = (
            e.join(frontier.withColumnRenamed("node", "__s"), "__s")
            .select(F.col("__d").alias("node"))
            .distinct()
            .withColumn("hops", F.lit(hop))
            .join(visited_nodes, "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        levels.append(nxt)
        frontier = nxt.select("node")
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    sources_cover_nodes: bool = False,
    broadcast_ranks: bool = False,
    tol: float | None = None,
) -> DataFrame:
    """Weighted PageRank over an edge list; returns ``(node, rank)``.

    ``tol``: convergence-based early stop — ``iterations`` becomes the
    MAXIMUM, and the loop exits once ``max |r_{t+1} − r_t| < tol``. The
    probe is the dedup_clusters pattern: the driver touches a single
    1-row scalar per superstep (never row data), and it rides the
    superstep's own lazy checkpoint so each rank table materializes
    exactly once. Default ``None`` keeps the fixed-iteration plan with
    zero driver round-trips (the oracle-parity form).

    ``r_{t+1}(v) = (1-d)/N + d * Σ_u r_t(u) · w(u→v)`` with per-source
    weight normalization (``w(u→v) = weight / Σ weight over u's
    out-edges``). Every node that appears as a source or destination is a
    node; callers wanting no dangling mass loss should pass a bidirected
    edge list (every node then has out-degree ≥ 1), and may then also set
    ``sources_cover_nodes=True``: the node set is read off the out-degree
    aggregate for free instead of a distinct over the full edge list.

    ``broadcast_ranks=True`` additionally hints the |V|-row rank vector
    and out-degree table into broadcast joins (the superstep join becomes
    map-side; one shuffle per superstep remains — the groupBy(dst)). Use
    it when |V| is dimension-scale. Each superstep is ONE join + ONE
    aggregate: zero contributions are unioned into the groupBy rather
    than re-attached with a |V|-side left join (r15 — one broadcast
    build and one join fewer per superstep, same IEEE values).
    """
    maybe_b = F.broadcast if broadcast_ranks else (lambda df: df)
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst"), w_col.alias("__w")
    )
    # Normalize out-weights via groupBy+join, not a window over __src — a
    # hub node's window partition would buffer its whole out-edge set in
    # one task (the hot-key hazard pinned in the verify gotchas).
    out = e.groupBy("__src").agg(F.sum("__w").alias("__tot"))
    if sources_cover_nodes:
        out = out.localCheckpoint(eager=False)  # reused: norm join + node set
        nodes = out.select(F.col("__src").alias("node"))
    else:
        nodes = (
            e.select(F.col("__src").alias("node"))
            .unionByName(e.select(F.col("__dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=False)  # reused every superstep
        )
    norm = (
        e.join(maybe_b(out), "__src")
        .select("__src", "__dst", (F.col("__w") / F.col("__tot")).alias("__nw"))
        .localCheckpoint(eager=False)  # reused every superstep
    )
    # |V| as a 1-row frame cross-joined in (broadcast of a scalar), so the
    # driver never collects anything and the plan stays lazy end-to-end.
    n = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    ranks = nodes.join(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    reset = F.lit(1.0 - damping) / F.col("__n")
    for i in range(iterations):
        prev = ranks
        rk = maybe_b(ranks)
        # ONE aggregate per superstep (r15): the old shape aggregated
        # contributions, then LEFT-joined the |V| node set onto the
        # broadcast of that aggregate to re-attach zero-in-degree nodes —
        # one extra broadcast build plus one join per superstep. Unioning
        # an explicit 0.0 contribution per node into the SAME groupBy
        # yields the identical rank vector (x + 0.0 is exact in IEEE for
        # the non-negative contribution sums here; an isolated node's
        # group is exactly its zero row → rank = reset, the coalesce
        # semantics) with one broadcast and one exchange per superstep.
        contrib_rows = norm.join(rk, norm["__src"] == rk["node"]).select(
            "__dst", (F.col("__nw") * F.col("rank")).alias("__c")
        )
        zero_rows = nodes.select(
            F.col("node").alias("__dst"), F.lit(0.0).alias("__c")
        )
        ranks = (
            contrib_rows.unionByName(zero_rows)
            .groupBy("__dst")
            .agg(F.sum("__c").alias("__c"))
            .join(F.broadcast(n))
            .select(
                F.col("__dst").alias("node"),
                (reset + F.lit(damping) * F.col("__c")).alias("rank"),
            )
        )
        if i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=False)
            if tol is not None:
                # The agg below materializes the checkpoint just taken, so
                # the probe costs no extra pass over the superstep.
                delta = (
                    ranks.join(
                        prev.select("node", F.col("rank").alias("__prev")), "node"
                    )
                    .agg(F.max(F.abs(F.col("rank") - F.col("__prev"))).alias("d"))
                    .collect()[0]["d"]
                )
                if delta is not None and delta < tol:
                    break
    return ranks


def group_items(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """``(group_col, items)``: each group's sorted distinct items, the one
    input of the co-occurrence operators below (items are nodes, a group
    — order, basket, document — links every pair of its items). One
    groupBy whose state is bounded by group size; groups of one item are
    kept, since they still count toward an item's group-degree.
    `operators/bucketing.ensure_group_items` stores this frame once per
    source version, so registry queries read it instead of re-running
    the aggregate every pass."""
    return df.groupBy(group_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("items")
    )


def _item_pairs(groups: DataFrame, **extra) -> DataFrame:
    """``(src, dst, *extra)`` for every pair of items sharing a group,
    ``src < dst``, once per group: ``Σ C(|group|, 2)`` rows, never a
    fact×fact self-join. ``extra`` maps names to per-group columns
    carried onto each of the group's pairs.

    Two chained explodes + the ``src < dst`` filter, not a nested
    ``transform(slice(...))`` higher-order expression: the HOF form
    allocates a struct array per element (O(n) slice copies per row) and
    measured ~40% slower end-to-end at sf1 (2.46 s vs 1.48 s on 6M fact
    rows) for identical output. The double explode emits n² rows
    narrowed at once by the filter inside one whole-stage-codegen span,
    with no materialized intermediate. Groups of one item are dropped
    first, before ``extra`` is evaluated."""
    cols = [c.alias(n) for n, c in extra.items()]
    return (
        groups.filter(F.size("items") >= 2)
        .select(F.explode("items").alias("src"), "items", *cols)
        .select("src", F.explode("items").alias("dst"), *extra)
        .filter(F.col("src") < F.col("dst"))
    )


def cooccurrence_adamic_adar(groups: DataFrame, min_common: int = 2) -> DataFrame:
    """Adamic-Adar link-prediction scores over a co-occurrence bipartite
    graph: items are nodes, each group (order/basket/document) is a
    common neighbor, and a pair of items co-occurring in a group of size
    n gains ``1/ln(n)`` — frequent co-occurrence inside SMALL groups is
    evidence, membership in huge groups is near-noise.

    Shape: ``groups`` is :func:`group_items`' per-group arrays; in-array
    pair generation (:func:`_item_pairs`) carries each group's weight onto
    its pairs, and the per-pair aggregation is map-side combinable (over
    the stored layout it is the plan's only shuffle). ``min_common``
    bounds the output to pairs with that many shared groups.

    Returns (src, dst, n_common, aa_score) with src < dst and the score
    rounded to 6dp (sums of a handful of ``1/ln`` terms — rounding makes
    the cross-engine comparison order-insensitive)."""
    pairs = _item_pairs(groups, __w=1.0 / F.log(F.size("items").cast("double")))
    return (
        pairs.groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum("__w"), 6).alias("aa_score"),
        )
        .filter(F.col("n_common") >= min_common)
    )


def cooccurrence_jaccard(groups: DataFrame, min_common: int = 2) -> DataFrame:
    """Jaccard neighborhood similarity over the same co-occurrence
    bipartite as :func:`cooccurrence_adamic_adar`: two items' similarity
    is |shared groups| / |union of their groups| — the set-overlap
    companion to Adamic-Adar's rarity weighting (AA ranks by how
    *selective* the shared groups are; Jaccard by how much of each
    item's life is shared).

    Same scale shape over :func:`group_items`' arrays: in-array pair
    generation, pair counts map-side combinable. Per-item group-degrees
    come from the SAME arrays (an explode of the already-deduped
    relation, size-1 groups included — no second fact scan) and attach to
    pairs by two joins on the item key; the union size is then
    inclusion-exclusion dx + dy − n_common, all exact integers, one
    division rounded 6dp."""
    per_group = groups.localCheckpoint(eager=False)  # feeds pair-gen AND
    # degrees: two different exchanges would re-run its upstream per reference
    deg = (
        per_group.select(F.explode("items").alias("__item"))
        .groupBy("__item")
        .agg(F.count(F.lit(1)).alias("__d"))
        # deg forks into the src- and dst-side broadcast builds; their
        # differing aliases defeat ReuseExchange, so without this the
        # explode+degree aggregate runs twice (measured: the bucketed
        # layout showed 3 runtime exchanges instead of 2).
        .localCheckpoint(eager=False)
    )
    pairs = (
        _item_pairs(per_group)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    dsrc = deg.select(F.col("__item").alias("src"), F.col("__d").alias("__dsrc"))
    ddst = deg.select(F.col("__item").alias("dst"), F.col("__d").alias("__ddst"))
    return (
        pairs.join(F.broadcast(dsrc), "src")
        .join(F.broadcast(ddst), "dst")
        .select(
            "src",
            "dst",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("__dsrc") + F.col("__ddst") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def kcore_peel(groups: DataFrame, k: int, rounds: int = 4) -> DataFrame:
    """Bounded k-core peeling over the co-occurrence graph (items are
    nodes, an edge joins items sharing a group): each round removes every
    node whose degree in the CURRENT induced subgraph is < k, and the
    query emits the peeling trajectory — (round, n_nodes, n_edges) for
    the EDGE-BEARING subgraph (n_nodes counts edge endpoints; a survivor
    isolated by its neighbors' removal is invisible here and is peeled
    next round regardless, deg 0 < k), from round 0 (the full graph)
    through ``rounds`` — the standard
    community-density / spam-filtering primitive (a k-core survivor has
    k neighbors who THEMSELVES survived, which one-shot degree filters
    cannot express; the cascade is the point: on the fixture one round
    drops 40% of nodes and the second drops 94% of the remainder).

    Bounded rounds, not fixpoint, so the oracle is expressible as an
    unrolled CTE chain and the result is engine-deterministic (the txt19
    bounded-iterations discipline); production callers raise ``rounds``
    or loop to fixpoint on the survivor count (1 scalar per round — the
    pagerank/bpe driver-loop class).

    Scale shape: edges are built ONCE from :func:`group_items`' arrays
    (:func:`_item_pairs`, never a fact×fact self-join) and lazily
    checkpointed; each round is one map-side-combinable degree aggregate
    plus two semi-joins of the edge list against the (node-grain,
    broadcastable) survivor set, re-checkpointed to cut superstep
    lineage. Per-round counts are lazy 1-row aggregates unioned into the
    result — the driver never collects anything (r15: the old
    one-collect-per-round form paid rounds+1 sequential driver
    barriers)."""
    edges = _item_pairs(groups).distinct().localCheckpoint(eager=False)
    # COLLECT-FREE trajectory (r15): the loop used to run one blocking
    # `.collect()` per round — rounds+1 sequential driver round-trips,
    # each a scheduling barrier — and assembled the result with
    # createDataFrame on the driver. The per-round scalar is now a lazy
    # 1-row aggregate frame and the trajectory is their UNION, evaluated
    # by the caller's single action; the per-round lazy checkpoints
    # still cut superstep lineage exactly as before. The old early-exit
    # on an emptied graph only skipped no-op supersteps (empty
    # checkpointed inputs), and an empty round's aggregate yields
    # count=0 / sum NULL→0 — the identical (r, 0, 0) padding rows.
    traj_frames = []
    for rnd in range(rounds + 1):
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("__deg"))
            # node-grain; referenced by the scalar row AND the survivor
            # filter — checkpoint so the degree aggregate runs once
            .localCheckpoint(eager=False)
        )
        # n_edges = Σdeg / 2 exactly (each edge contributes two degree
        # increments), so no separate edge count; DIV keeps it integer.
        traj_frames.append(
            nodes.agg(
                F.count(F.lit(1)).alias("n"), F.sum("__deg").alias("sd")
            ).select(
                F.lit(rnd).cast("int").alias("round"),
                F.col("n").cast("long").alias("n_nodes"),
                F.expr("coalesce(sd, 0) DIV 2").cast("long").alias("n_edges"),
            )
        )
        if rnd == rounds:
            break
        survivors = nodes.filter(F.col("__deg") >= k).select("node")
        edges = (
            edges.join(
                F.broadcast(survivors.withColumnRenamed("node", "src")), "src"
            )
            .join(F.broadcast(survivors.withColumnRenamed("node", "dst")), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    out = traj_frames[0]
    for fr in traj_frames[1:]:
        out = out.unionByName(fr)
    return out


def label_propagation(
    groups: DataFrame, rounds: int = 3, broadcast_labels: bool = True
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, arXiv:0709.2938) over the co-occurrence graph, bounded to
    ``rounds`` supersteps: every node starts labeled with itself; each
    round it adopts the label MOST FREQUENT among its neighbors' labels
    from the PREVIOUS round (ties broken by the smallest label — the
    asynchronous random-order variant is not engine-reproducible, the
    synchronous min-tiebreak one is exactly deterministic). Communities
    differ from connected components (ops/dedup.py::dedup_clusters'
    min-label propagation): CC merges everything reachable; LPA's
    frequency vote finds DENSER-than-connectivity groups and is the
    standard cheap community detector for co-purchase / co-occurrence
    structure. Emits (node, label) after the final round.

    Bounded rounds, not fixpoint, so the oracle unrolls as CTEs (the
    g16/txt19 discipline) and synchronous LPA's known label-oscillation
    pathology is irrelevant (a bounded trajectory is deterministic
    whether or not it oscillates); production callers loop on a
    label-change count scalar instead.

    Scale shape: edges are built once from :func:`group_items`' arrays
    (:func:`_item_pairs`, never fact×fact) and checkpointed;
    each superstep is one join of the node-grain label relation into
    the adjacency (the measured pagerank ladder: with
    ``broadcast_labels=True``, the default, the |V|-row side rides a
    broadcast — right while |V| fits an executor; pass
    ``broadcast_labels=False`` when it stops fitting, degrading to a
    plain equi-join that Catalyst plans as a shuffle join instead of
    forcing a driver/executor-OOM-risk broadcast hint) followed by two
    map-side-combinable hash aggregates — (node, label) vote counts,
    then the per-node argmax as min(struct(-cnt, label)), no window
    over the edge relation. Labels are re-checkpointed per round to cut
    superstep lineage."""
    edges = (
        _item_pairs(groups)
        .distinct()
        .localCheckpoint(eager=False)  # feeds both adjacency directions
    )
    adj = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ).unionByName(
        edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    labels = (
        adj.select("node")
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        lbl_rel = labels.withColumnRenamed("node", "nbr")
        if broadcast_labels:
            lbl_rel = F.broadcast(lbl_rel)
        joined = adj.join(lbl_rel, "nbr")
        if broadcast_labels:
            # r14: ONE exchange per superstep instead of two. hash(node)
            # satisfies the clustering of BOTH downstream aggregates
            # (groupBy(node,label) — superset key — and groupBy(node)), so
            # an explicit repartition on node lets them share it (g17
            # interleaved A/B: 3.03/3.31 → 2.65/2.79 s min-of-3). The
            # trade is exchanging raw join output without map-side
            # combine — right in the broadcast-labels regime this branch
            # serves; in the big-|V| shuffle-join regime label clusters
            # make partial aggregation compress votes heavily, so that
            # path keeps the two-exchange partial-agg form.
            joined = joined.repartition("node")
        votes = (
            joined
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label").alias("lb")
                    )
                )["lb"].alias("label")
            )
            .localCheckpoint(eager=False)  # cut superstep lineage
        )
    return labels.select("node", "label")
