"""Distributed graph operators: fixed-iteration PageRank.

Complements the connected-components family (operators/dedup.py — min-label
propagation and pointer jumping for dedup clusters) with the other classic
iterative graph computation. PageRank here is the *showcase shape* for any
fixed-point linear iteration on Spark:

- the edge list is the only big table; it shuffles ONCE onto the source key
  and is persisted, so every iteration's contribution join reuses the same
  partitioning (Catalyst reuses the exchange; no per-round re-shuffle of
  the edges),
- the rank vector is nodes-sized (orders of magnitude smaller than edges);
  each iteration is one shuffle-on-key hash join + one groupBy with
  map-side partial aggregation,
- iteration count is FIXED (power iteration with known convergence rate),
  so the plan is a finite unrolled chain — no driver-side convergence test
  collecting data per round. For deep iteration counts, cut lineage with
  localCheckpoint the same way dedup's label propagation does
  (operators/dedup.py).

A 100 TB edge list distributes on the src key; skewed hubs are the
documented salting case (operators/skew.py) — the contribution of a hub is
a sum, so it salts cleanly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import tracked_local_checkpoint, tracked_persist
from .local import local_frame


def _reduce_width(df: DataFrame) -> int:
    """Session-derived exchange width for explicit keyed repartitions:
    max(defaultParallelism, configured shuffle partitions) — the
    cluster's reduce width, never a literal. Used where byte-based AQE
    coalescing must not shrink an exchange whose downstream cost is
    compute, not bytes (quadratic pair fan-outs, per-round LPA
    aggregations)."""
    spark = df.sparkSession
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # e.g. "auto" on vendor runtimes
        conf_parts = 0
    return max(spark.sparkContext.defaultParallelism, conf_parts)


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 2,
    local_finish_edges: int | None = 200_000,
) -> DataFrame:
    """Power-iteration PageRank over a directed (src, dst) edge list.

    Handles the full standard semantics on ANY edge list, not just
    symmetric co-occurrence graphs: the rank vector is keyed on the
    complete node set (sources ∪ sinks, so a node with no in-edges never
    drops out of the vector), and the mass held by dangling nodes (no
    out-edges) is redistributed uniformly each round — total rank mass
    stays 1 instead of leaking. Returns (node, rank) with rank rounded
    to 6 dp (engine-portable — the rounding absorbs float-sum ordering
    differences across engines).

    Plan shape: ONE bounded driver probe over the persisted nodes frame
    classifies the graph up front (node count for the literal teleport
    term, dangling count, source-only count, edge count). On a *closed*
    graph — every node has both in- and out-edges, which every symmetric
    co-occurrence graph is — each round is exactly one hash join of the
    persisted edges x ranks plus one partial-agg groupBy: the per-round
    node-set rebuild join and the dangling-mass broadcast subtree are
    dropped from the plan entirely, not just short-circuited at run
    time. Lineage is cut every ``checkpoint_every`` rounds (default 2,
    so it actually fires at the common 3-iteration depth) via
    localCheckpoint, keeping the unrolled plan shallow.

    ``local_finish_edges``: when the probe shows the WHOLE graph is
    driver-bounded (edges and nodes both under the bound), the power
    iteration runs locally on the collected edge list instead of
    unrolling ~8 exchanges per round for a toy graph — the same
    stats-gated local-finish discipline as connected-components
    (operators/dedup.py::_finish_components_locally), re-checked per
    call from the probe the distributed route needs anyway. Identical
    semantics (teleport, dangling redistribution, per-edge-row
    contributions); rounding happens Spark-side on the returned frame
    so both routes share F.round's HALF_UP. At corpus scale the probe
    sends the distributed route — nothing edge-sized ever reaches the
    driver there. Pass ``local_finish_edges=None`` to force the
    distributed plan.
    """
    # edge list is the one big table → persist it; everything else (node
    # stats, rank vector) is nodes-sized. RDD-cache block locks make the
    # multiple first-job consumers below compute the upstream edge build
    # once, not once per subtree. Tracked: release via
    # operators.cache.release_operator_caches after consumption.
    # re-aliased, not a bare select: the pinned frame gets its own
    # attribute ids and keeps its projection over the caller's plan
    e = tracked_persist(edges.select(F.col("src").alias("src"), F.col("dst").alias("dst")))
    # the complete node set with out-degree AND in-degree in ONE pass /
    # ONE shuffle (explode both endpoints, partial-agg the counters) —
    # replaces the old deg-aggregate + dst-distinct + full-outer-join
    # trio (two edge passes, three exchanges). deg=0 ⇔ dangling,
    # __nin=0 ⇔ source-only. Nodes-sized and reused every round → persist.
    nodes = tracked_persist(
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.lit(1).alias("__o"),
                        F.lit(0).alias("__i"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.lit(0).alias("__o"),
                        F.lit(1).alias("__i"),
                    ),
                )
            ).alias("__x")
        )
        .select("__x.node", "__x.__o", "__x.__i")
        .groupBy("node")
        .agg(F.sum("__o").alias("deg"), F.sum("__i").alias("__nin"))
    )
    # the one driver-side probe (bounded: a 3-counter aggregate over the
    # nodes-sized frame). n becomes a LITERAL in the rank expression —
    # replaces the old per-round crossJoin of a 1-row count frame
    probe = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("deg") == 0, 1)).alias("n_dangling"),
        F.count(F.when(F.col("__nin") == 0, 1)).alias("n_no_in"),
        F.coalesce(F.sum("deg"), F.lit(0)).alias("n_edges"),
    ).first()
    n = int(probe["n"])
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    if (
        local_finish_edges
        and int(probe["n_edges"]) <= int(local_finish_edges)
        and n <= int(local_finish_edges)
    ):
        return _pagerank_locally(
            e, nodes, n=n, damping=float(damping), iterations=int(iterations)
        )
    has_dangling = int(probe["n_dangling"]) > 0
    # closed graph: in-mass aggregation already covers the full node set
    closed = not has_dangling and int(probe["n_no_in"]) == 0
    # nodes-sized state broadcastable → each round is exactly ONE
    # broadcast join of the cached (never-shuffled) edges against the
    # (rank/deg)-weighted source vector plus one partial-agg groupBy.
    # Past the threshold, re-partition the edges on src ONCE and persist
    # (dropping the unpartitioned copy); the cached partitioning then
    # feeds every round's sort-merge join without re-shuffling edges.
    small_state = n <= 4_000_000
    if small_state:
        es = e
    else:
        es = tracked_persist(e.repartition("src"))
        es.count()
        e.unpersist()
    contributors = nodes.filter(F.col("deg") > 0).select("node", "deg")
    inv_n = 1.0 / n
    teleport = (1.0 - damping) * inv_n
    ranks = nodes.select("node", F.lit(inv_n).alias("rank"))
    for i in range(int(iterations)):
        w = ranks.join(contributors, "node").select(
            F.col("node").alias("src"), (F.col("rank") / F.col("deg")).alias("__w")
        )
        inmass = (
            es.join(F.broadcast(w) if small_state else w, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("__w").alias("__in"))
        )
        if closed:
            ranks = inmass.select(
                "node",
                (F.lit(teleport) + F.lit(damping) * F.col("__in")).alias("rank"),
            )
        else:
            stepped = nodes.join(inmass, "node", "left")
            in_term = F.coalesce(F.col("__in"), F.lit(0.0))
            if has_dangling:
                # dangling nodes hold rank but emit no contributions:
                # spread their mass uniformly (standard PageRank), as a
                # 1-row broadcast — no driver-side action inside the
                # loop, the plan stays a finite unrolled chain
                dmass = ranks.join(
                    nodes.filter(F.col("deg") == 0).select("node"), "node"
                ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
                stepped = stepped.crossJoin(F.broadcast(dmass))
                in_term = in_term + F.col("__dm") * F.lit(inv_n)
            ranks = stepped.select(
                "node",
                (F.lit(teleport) + F.lit(damping) * in_term).alias("rank"),
            )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < int(iterations):
            # deep iteration chains blow up the lineage/plan; cut it the
            # same way dedup's label propagation does (tracked: the
            # checkpoint blocks release with the operator caches)
            ranks = tracked_local_checkpoint(ranks)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_locally(
    e: DataFrame, nodes: DataFrame, *, n: int, damping: float, iterations: int
) -> DataFrame:
    """Driver-side power iteration for a probe-verified toy graph — both
    frames are cached and bounded by ``local_finish_edges`` when this is
    reached. Vectorized numpy (bincount gather/scatter per round), exact
    same update rule as the distributed plan: w = rank/deg on
    contributors, in-mass by destination, dangling mass spread
    uniformly, teleport last. The unrounded doubles go back into a
    nodes-sized DataFrame and rounding happens Spark-side (F.round,
    HALF_UP) so rounding semantics stay identical across routes."""
    import numpy as np
    from pyspark.sql import types as T

    node_rows = nodes.select("node", "deg").collect()
    ids = [r["node"] for r in node_rows]
    idx = {v: i for i, v in enumerate(ids)}
    deg = np.array([r["deg"] for r in node_rows], dtype=np.float64)
    edge_rows = e.collect()
    m = len(edge_rows)
    src = np.fromiter((idx[r["src"]] for r in edge_rows), dtype=np.int64, count=m)
    dst = np.fromiter((idx[r["dst"]] for r in edge_rows), dtype=np.int64, count=m)
    dangling = deg == 0
    safe_deg = np.where(dangling, 1.0, deg)
    teleport = (1.0 - damping) / n
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        w = np.where(dangling, 0.0, rank / safe_deg)
        inmass = np.bincount(dst, weights=w[src], minlength=n)
        dm = float(rank[dangling].sum()) if dangling.any() else 0.0
        rank = teleport + damping * (inmass + dm / n)
    spark = e.sparkSession
    schema = T.StructType(
        [nodes.schema["node"], T.StructField("rank", T.DoubleType(), False)]
    )
    out = local_frame(
        spark, [(ids[i], float(rank[i])) for i in range(n)], schema
    )
    return out.select("node", F.round("rank", 6).alias("rank"))


def co_occurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    symmetric: bool = True,
) -> DataFrame:
    """Distinct directed co-occurrence edges: (a, b) whenever items a != b
    share a group (symmetric — both directions emitted; pass
    ``symmetric=False`` for consumers like triangle counting that
    canonicalize to one direction anyway and would pay the mirror twice).
    The standard
    market-basket graph builder, as ONE group shuffle: collect the
    (small, deduped) per-group item set and explode it against itself —
    same quadratic per-group fan-out as the equivalent self-join on the
    group key, but without the join's second shuffle, and the explosion
    streams (only the per-group item array is held in memory). A viral
    group (thousands of items) is the quadratic hazard either way — the
    LSH bucket-guard cap discipline applies upstream when group sizes
    are unbounded.
    """
    # NULL group keys never matched in the old self-join formulation
    # (null-unsafe equality) and must not form a clique here either —
    # groupBy would otherwise keep NULL as a real group and co-occur
    # every item that ever appeared with a missing key
    #
    # The groups exchange feeds the quadratic per-group pair fan-out
    # below, and byte-based AQE coalescing cannot see an ~80x compute
    # fan-out: at sf0.1 it collapsed the sub-MB exchange to 3 partitions
    # and the explode+hash stage ran 0.6s on 3 of 32 cores (profiled in
    # every consumer: q25/q41/q42/q50). An EXPLICIT keyed repartition
    # pins the count — REPARTITION_BY_NUM shuffles are exempt from AQE
    # coalescing — and the groupBy reuses the same exchange (hash(group)
    # satisfies the aggregate's distribution), so the exchange COUNT is
    # unchanged at any scale. The count is session-derived, never a
    # literal: max(defaultParallelism, shuffle.partitions) = the
    # cluster's configured reduce width; the only at-scale delta vs a
    # plain groupBy is that byte-based coalescing no longer shrinks
    # exactly the one exchange whose downstream cost is compute, not
    # bytes.
    n_part = _reduce_width(df)
    g = (
        df.filter(F.col(group_col).isNotNull())
        .repartition(n_part, F.col(group_col))
        .groupBy(F.col(group_col).alias("__g"))
        .agg(F.collect_set(F.col(item_col)).alias("__items"))
    )
    # emit each unordered pair ONCE (positional j > i slice: n(n-1)/2
    # generated rows, not n²), canonicalize, dedup, then mirror the
    # surviving half map-side — the distinct shuffles half the rows the
    # src != dst double-explode pushed through it, and the mirror union
    # costs no exchange
    und = (
        g.select(F.posexplode("__items").alias("__i", "src"), "__items")
        .select(
            "src",
            F.explode(
                F.slice("__items", F.col("__i") + F.lit(2), F.size("__items"))
            ).alias("dst"),
        )
        .select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .distinct()
    )
    if not symmetric:
        return und
    # Mirror from ONE materialized copy of the undirected half. The old
    # form embedded the distinct subtree twice in the logical plan and
    # leaned on runtime exchange reuse — which dedups only the exchange
    # WRITE: the reduce-side distinct HashAggregate still executed once
    # per branch (profiled at sf0.1: the 64-task distinct stage carried
    # 2x the CPU of a single pass, the dominant stage of every consumer).
    # tracked_local_checkpoint at the RDD layer skips the columnar-cache
    # encode (cache.py::tracked_local_checkpoint rationale); eager=False folds
    # materialization into the consumer's first full-scan action — every
    # consumer (LPA/PageRank node-stats probe, triangle build, a plain
    # sink) scans all partitions first. Measured on q42 (LPA end-to-end,
    # warm min-of-3): 3.35s -> 2.86s; first-touch 9.1s -> 3.9s. A plain
    # persist() here had measured SLOWER in earlier rounds — the columnar
    # encode, not the idea of materializing, was the cost.
    und = tracked_local_checkpoint(und, eager=False)
    return und.union(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def triangle_stats(
    edges: DataFrame,
    *,
    assume_canonical: bool = False,
) -> DataFrame:
    """Exact triangle count + global clustering coefficient of a (src, dst)
    edge list, by degree-ordered edge orientation with adjacency-array intersection
    (the "compact-forward" algorithm — Latapy, TCS 2008; orientation as
    in Suri & Vassilvitskii's MR version / GraphX's formulation).

    Every undirected edge is oriented from its (degree, id)-smaller
    endpoint to the larger; triangles = Σ over oriented edges (a,b) of
    ``|N+(a) ∩ N+(b)|`` where N+ is the oriented out-neighborhood. The
    orientation is what makes this scale: out-degree is bounded by
    O(sqrt(m)) (arboricity), so a hub of degree d ships one bounded
    sorted array instead of O(d^2) wedge rows. Versus the wedge-join
    formulation (o1 ⋈ o2 on the low endpoint, then a wedge-count-sized
    shuffle against the closing edges), the intersection happens inside
    codegen on array columns and nothing wedge-sized is ever
    materialized or shuffled — measured 35% faster on the dense sf0.1
    co-purchase graph (wedges ~80x edges), identical single-row output.

    Returns ONE row: ``n_nodes, n_edges, n_wedges, n_triangles,
    clustering`` (= 3·triangles / wedges, null on a wedgeless graph).
    Accepts directed/symmetric/duplicated edge lists — normalized via
    least/greatest + distinct.
    """
    # und feeds the degree aggregate AND the annotation join; o feeds
    # THREE consumers (both wedge sides + the closing probe). Persist
    # both: without it each consumer replays the whole upstream edge
    # build, and whether Catalyst's exchange reuse saves the day depends
    # on upstream subtree shape (measured at sf1: 106s vs 50s for the
    # SAME graph under two equivalent edge builders). Tracked: released
    # via operators.cache.release_operator_caches.
    #
    # ``assume_canonical``: the caller guarantees the input is already
    # (u < v, distinct, no self-loops) — true for co_occurrence_edges
    # (symmetric=False), whose output is exactly that shape. Skips the
    # redundant second canonicalize+distinct pass (one full shuffle +
    # hash-aggregate of the edge list) that profiling showed re-doing
    # upstream work on the q41 composition.
    if assume_canonical:
        und = tracked_local_checkpoint(
            edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            eager=False,
        )
    else:
        u, v = F.least(F.col("src"), F.col("dst")), F.greatest(F.col("src"), F.col("dst"))
        und = tracked_persist(
            edges.select(u.alias("u"), v.alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e2 = (
        und.join(deg.withColumnsRenamed({"node": "u", "d": "du"}), "u")
        .join(deg.withColumnsRenamed({"node": "v", "d": "dv"}), "v")
    )
    lower_first = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    # o feeds THREE consumers (the adjacency build + both endpoint joins)
    o = tracked_persist(
        e2.select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    # per-node oriented out-neighborhood, sorted so array_intersect's
    # probe behaves; size bounded by O(sqrt(m)) via the orientation.
    # Materialized at the RDD layer: adj feeds BOTH endpoint joins, and
    # runtime exchange reuse dedups only the exchange write — the
    # collect_list reduce ran once per branch (profiled at sf0.1: two
    # back-to-back 8.4MB aggregate stages on identical input). RDD
    # blocks, NOT the columnar cache: nbrs is array-typed and the
    # columnar array encoder costs a multiple of the aggregate itself
    # (cache.py::tracked_local_checkpoint rationale; a tracked_persist here
    # measured 2x SLOWER end-to-end than no persist at all).
    adj = tracked_local_checkpoint(
        o.groupBy("a").agg(F.sort_array(F.collect_list("b")).alias("nbrs")),
        eager=False,
    )
    tri = (
        o.join(adj, "a")
        .join(adj.withColumnsRenamed({"a": "b", "nbrs": "nbrs_b"}), "b", "left")
        .select(
            F.size(
                F.array_intersect(
                    F.col("nbrs"),
                    # b may have no out-edges (orientation sink): 0 closings.
                    # slice(nbrs,1,0) = empty array of the SAME element type,
                    # whatever the caller's id type is
                    F.coalesce(F.col("nbrs_b"), F.slice(F.col("nbrs"), 1, 0)),
                )
            ).alias("c")
        )
        .agg(F.sum("c").cast("long").alias("n_triangles"))
    )
    # n_edges = sum(d)/2 exactly (every undirected edge contributes two
    # degree counts — integer arithmetic, value-identical), so the stats
    # row needs no third full scan of the materialized edge set
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("n_wedges"),
        # coalesce: the old count(*) scan reported 0 on an empty graph
        F.coalesce((F.sum("d") / 2).cast("long"), F.lit(0)).alias("n_edges"),
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6)
        )
        .alias("clustering"),
    )


def label_propagation(edges: DataFrame, *, iterations: int = 2) -> DataFrame:
    """Synchronous label propagation (community detection) over a directed
    (src, dst) edge list, with a fully deterministic tie-break.

    Standard LPA is notoriously non-deterministic (random visit order,
    random tie-breaks); this is the *reproducible* formulation suitable
    for an oracle-checked pipeline: every node starts with its own id as
    its label, and each round simultaneously adopts the most frequent
    label among its in-neighbors, ties broken by the SMALLEST label.
    Nodes with no in-neighbors keep their current label (the node set is
    sources ∪ sinks, so asymmetric edge lists don't silently drop the
    rank of no-in-edge nodes — same contract as :func:`pagerank`).

    Plan shape per round — the same fixed-point skeleton as pagerank,
    with the same up-front graph classification: one driver probe over
    a single-pass node-stats frame decides (a) whether the rank/label
    state is broadcastable (nodes-sized ≤ 4M ⇒ the per-round join
    never shuffles the cached edge list) and (b) whether the graph is
    in-closed (every node has in-neighbors — true for every symmetric
    co-occurrence graph), in which case the per-round left-join rebuild
    of the label vector is dropped from the plan entirely. The argmax
    is a ``min_by`` over (count desc, label asc) — a partial aggregate,
    not a node-keyed sort window. Iteration count is fixed (the plan is
    a finite unrolled chain); deep runs cut lineage with a tracked
    localCheckpoint every 4 rounds. A 100 TB edge
    list distributes on dst; hub skew salts cleanly because the
    per-label count is a sum (operators/skew.py).

    Returns (node, label). Reference analogue: community grouping of the
    co-occurrence graphs the reference builds pairwise in pandas.
    """
    # re-aliased for the same reason as pagerank's pin
    e = tracked_persist(edges.select(F.col("src").alias("src"), F.col("dst").alias("dst")))
    nodes = tracked_persist(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("node"), F.lit(0).alias("__i")),
                    F.struct(F.col("dst").alias("node"), F.lit(1).alias("__i")),
                )
            ).alias("__x")
        )
        .select("__x.node", "__x.__i")
        .groupBy("node")
        .agg(F.sum("__i").alias("__nin"))
    )
    probe = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("__nin") == 0, 1)).alias("n_no_in"),
    ).first()
    closed = int(probe["n_no_in"]) == 0
    small_state = int(probe["n"]) <= 4_000_000
    labels = nodes.select("node", F.col("node").alias("label"))
    # Per-round exchange discipline: the (dst,label) count and the
    # per-node argmax used to be two keyed exchanges (hash(dst,label)
    # with partial counts, then hash(node) with the count triples) —
    # three stages per round. An explicit hash(dst) repartition
    # satisfies BOTH aggregations (HashPartitioning(dst) ⊆ both
    # clusterings), so count + argmax fuse into the same post-exchange
    # stage: two stages per round, one exchange. Trade, measured: the
    # exchange ships raw (dst,label) pairs instead of partial counts
    # (38MB vs 24MB at sf0.1) but drops the second exchange (10MB) and
    # a whole stage round-trip. Delta-propagation (send only changed
    # labels) was evaluated and REJECTED with data: on this corpus's
    # co-occurrence graph labels keep churning (20000/20000, then
    # 15005/20000, then 14588/20000 changed per round at sf0.1) — the
    # delta is ~75% of the full vector while incremental count-state
    # maintenance would add a persisted (node,label,n) frame plus
    # two-sided correction joins per round.
    n_part = _reduce_width(e)
    for i in range(int(iterations)):
        lsrc = labels.select(F.col("node").alias("src"), "label")
        nbr = e.join(F.broadcast(lsrc) if small_state else lsrc, "src")
        counts = (
            nbr.select("dst", "label")
            .repartition(n_part, F.col("dst"))
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        # deterministic argmax without a sort window: min over the
        # (count desc, label asc) order key, unique per group
        picked = counts.groupBy("node").agg(
            F.min_by(
                "label", F.struct((-F.col("__n")).alias("a"), F.col("label").alias("b"))
            ).alias("__new")
        )
        if closed:
            labels = picked.select("node", F.col("__new").alias("label"))
        else:
            labels = labels.join(picked, "node", "left").select(
                "node", F.coalesce(F.col("__new"), F.col("label")).alias("label")
            )
        if (i + 1) % 4 == 0 and (i + 1) < int(iterations):
            labels = tracked_local_checkpoint(labels)
    return labels


def also_bought_topk(
    df: DataFrame,
    group_col: str,
    item_col: str,
    *,
    k: int = 3,
) -> DataFrame:
    """Weighted co-visitation recommender: for every item, the top-k
    other items most often sharing a group (order/basket/session),
    ranked by shared-group count with a deterministic (count desc, item
    asc) tie-break — "customers who bought X also bought Y", the
    workhorse item-item candidate generator.

    The co-occurrence self-join is keyed on the group (fan-out bounded
    by per-group item count squared, like :func:`co_occurrence_edges`
    but keeping the weight); the pair aggregate shuffles on the pair
    key; the final top-k is one item-keyed window. A viral basket
    (thousands of items in one group) is the quadratic hazard — the same
    per-group cap discipline as the LSH bucket guard applies upstream
    when baskets are unbounded.

    Returns (item, rec, n_shared, rank), rank 1..k.
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(group_col).alias("__g"), F.col(item_col).alias("item")
    ).distinct()
    other = base.select("__g", F.col("item").alias("rec"))
    pairs = (
        base.join(other, "__g")
        .filter(F.col("item") != F.col("rec"))
        .groupBy("item", "rec")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    w = W.partitionBy("item").orderBy(F.col("n_shared").desc(), F.col("rec").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("item", "rec", "n_shared", "rank")
    )
