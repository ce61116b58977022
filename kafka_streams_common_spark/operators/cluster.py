"""Connected components over a pair graph — the dedup collapse step.

After fuzzy dedup emits near-duplicate PAIRS, a training pipeline needs
GROUPS: transitively connected docs collapse to one canonical representative.
That is connected components with min-id labels.

Implementation: iterative label propagation — every node starts labeled with
its own id; each round every node takes the min label in its neighborhood;
stop when no label changes. Each round is two distributed hash joins + an
aggregate (no driver-side graph), and the round count is bounded by the
graph diameter — small for dedup graphs, whose components are near-cliques.
The driver-side loop only checks a convergence count per round, which is the
legitimate pattern for iterative algorithms (c.f. GraphX/Pregel supersteps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "doc_id",
    edge_cols: tuple[str, str] = ("doc_a", "doc_b"),
    max_iterations: int = 20,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    ``nodes``: one column ``node_col`` (all ids, including singletons).
    ``edges``: undirected pairs in columns ``edge_cols``.
    Returns ``(node_col, cluster_id)``.

    Labels travel one hop per round, so a component of diameter d needs
    d rounds plus one that changes nothing. Raises ``ValueError`` when
    labels still change in round ``max_iterations``: the labels at that
    point are not the component minima.
    """
    a, b = edge_cols
    bi = (
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(edges.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        # materialize ONCE: the edge set is consumed every round (join +
        # convergence count), and it is typically the output of an
        # expensive near-dup pipeline — without this the whole upstream
        # candidate/verify plan re-executes per iteration
        .localCheckpoint(eager=True)
    )
    all_nodes = nodes.select(F.col(node_col).alias("node"))
    # r16 (guide §2.3 — shuffle fewer bytes): the label loop runs over
    # EDGE-TOUCHED nodes only. A singleton's label can never change (no
    # neighbors), yet the old loop shuffled, checkpointed and counted the
    # FULL node set every round — at corpus scale the near-dup graph is a
    # vanishing fraction of the corpus, so per-round volume drops from
    # O(|nodes|) to O(|dup mass|). The semi-join keeps the output contract
    # exactly: edge endpoints outside ``nodes`` still never gain a row
    # (they had no label row before either), and singletons re-attach with
    # label = own id in the final projection — identical results.
    touched = all_nodes.join(
        bi.select(F.col("src").alias("node")).distinct(), "node", "left_semi"
    ).localCheckpoint(eager=True)
    labels = touched.select("node", F.col("node").alias("label"))

    for _ in range(max_iterations):
        neighbor_min = (
            bi.join(labels, bi.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        # checkpoint the ROUND RESULT (one blocking job running the round's
        # joins exactly once); the convergence count and the next round both
        # read the materialized rows — checkpointing `labels` instead would
        # re-execute the round's joins for the count AND for the next
        # round's checkpoint
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.filter(F.col("new_label") != F.col("label")).count()
        labels = updated.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        raise ValueError(
            f"connected_components did not converge in max_iterations="
            f"{max_iterations} rounds: a component's diameter exceeds the cap"
        )

    return (
        all_nodes.join(labels, "node", "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, "Connected Components
    in MapReduce and Beyond"): every node connects its LARGER neighbors
    to the minimum of its closed neighborhood. Input/output edges are
    canonically oriented (u > v); output is deduplicated."""
    bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = bi.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least(F.col("mn"), F.col("u")).alias("m"))
    return (
        bi.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: every node links its SMALLER neighbors (and
    itself) to the minimum of that closed neighborhood."""
    di = (
        e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    withm = di.join(
        di.groupBy("u").agg(F.min("v").alias("m")), "u"
    )
    links = withm.filter(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    centers = withm.select("u", F.col("m").alias("v"))
    return links.union(centers).distinct()


def connected_components_two_phase(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "doc_id",
    edge_cols: tuple[str, str] = ("doc_a", "doc_b"),
    max_iterations: int = 30,
    _stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds — O(log n) rounds on ANY graph shape, where plain min-label
    propagation needs O(diameter) rounds (degenerate on chain-shaped
    components: a million-hop chain is a million rounds; dedup graphs
    are usually near-cliques, but the engine must not rely on it).

    Each round is two grouped aggregations + two joins over the EDGE set
    only (node payloads never enter the loop); the edge set shrinks
    toward one star per component. Convergence is detected with a
    constant-size aggregate — (count, xxhash64 sum) of the canonical
    edge set — so the driver holds one row per round, never the graph.

    Returns ``(node_col, cluster_id)`` with ``cluster_id`` = minimum
    reachable node id — identical output contract (and oracle) as
    :func:`connected_components`. Raises ``ValueError`` when the edge
    set still changes in round ``max_iterations``.
    """
    a, b = edge_cols
    e = (
        edges.select(
            F.greatest(F.col(a), F.col(b)).alias("u"),
            F.least(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = sig(e)
    rounds = 0
    if prev[0] > 0:
        for _ in range(max_iterations):
            rounds += 1
            e = _small_star(_large_star(e)).localCheckpoint(eager=True)
            cur = sig(e)
            if cur == prev:
                break
            prev = cur
        else:
            raise ValueError(
                f"connected_components_two_phase did not converge in "
                f"max_iterations={max_iterations} rounds"
            )
    if _stats is not None:
        _stats["rounds"] = rounds

    # fixed point = disjoint stars: every non-min node points at its
    # component min
    stars = e.groupBy("u").agg(F.min("v").alias("label"))
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(stars.withColumnRenamed("u", "node"), "node", "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )


def pagerank(
    edges: DataFrame,
    n_iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the
    importance-propagation twin of connected components (both: iterative
    relational algebra, no graph library). Returns ``(node, rank)`` with
    ``rank`` an exact DECIMAL (see below), one row per node appearing as
    a source (callers wanting dangling nodes union them in with
    out-degree edges first; an undirected graph — both directions in
    ``edges`` — has none by construction). Reads ``(src, dst)`` edges.

    Determinism contract (the repo-wide md5/DECIMAL convention): each
    contribution ``rank/out_degree`` is computed in double, rounded to
    12 dp and cast to DECIMAL(28,12), so the per-node SUM is
    order-free-exact on any partitioning and any engine; the damping
    update is pure decimal arithmetic. Ranks are therefore bit-equal
    across engines — the DuckDB oracle unrolls the same iterations.

    Scale shape: per iteration, one hash join of the edge list against
    the |nodes|-sized rank table (broadcast when nodes fit, shuffled
    hash join keyed on the node otherwise — AQE's call) plus one
    aggregation whose map-side partials are (node, partial-sum) pairs.
    The fixed-depth loop composes lazily — no checkpoint, no driver
    collect, no accumulation of state; plan depth is 3·iterations.
    """
    if n_iterations < 1:
        raise ValueError("n_iterations must be >= 1")
    e = (
        edges.select("src", "dst")
        .distinct()
        # consumed every iteration (plus the degree build) — materialize
        # once, same posture as connected_components' edge checkpoint
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    d = F.lit(damping).cast("decimal(4,3)")

    ranks = deg.crossJoin(F.broadcast(n_nodes)).select(
        F.col("src").alias("node"),
        F.round(F.lit(1.0) / F.col("n"), 12).cast("decimal(28,12)").alias("rank"),
        "n",
    )
    for _ in range(n_iterations):
        contrib = (
            e.join(deg, "src")
            .join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .select(
                "dst",
                F.round(
                    F.col("rank").cast("double") / F.col("deg"), 12
                ).cast("decimal(28,12)").alias("c"),
            )
        )
        sums = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("s")
        )
        ranks = (
            ranks.join(sums, "node", "left")
            .select(
                "node",
                # s capped to DECIMAL(20,12) (ranks sum to ~1) so the
                # damping product keeps scale 15 EXACTLY on any engine —
                # at wider precisions Spark's allowPrecisionLoss would
                # round the product engine-specifically
                (
                    F.round(F.lit(1.0 - damping) / F.col("n"), 12).cast(
                        "decimal(28,12)"
                    )
                    + d * F.coalesce(F.col("s"), F.lit(0)).cast("decimal(20,12)")
                ).alias("rank"),
                "n",
            )
        )
    return ranks.select("node", "rank")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected simple graph of ``(a, b)``
    edges — the
    classic cohesion/clustering metric (and the canonical skew-bounded
    graph-join exemplar). Returns a single row ``(n_triangles)``.

    The naive closing-edge join explodes on hubs (a degree-d node
    contributes O(d²) wedges). The standard fix (Suri & Vassilvitskii
    2011, "Counting Triangles and the Curse of the Last Reducer"):
    orient every edge from its (degree, id)-SMALLER endpoint to the
    larger; every triangle then has exactly one source node with two
    outgoing oriented edges, and each node's out-degree is O(√|E|)
    regardless of its raw degree — hub wedge-explosion is structurally
    capped.

    r16 (guide §2.3 — shuffle fewer bytes): closing was a wedge
    MATERIALIZATION — the oriented self-join emitted every wedge as a row
    (measured 41M rows at sf0.1 for 1.2M edges, an ~11 s shuffle into the
    closing join that dominated the query). Now the count runs
    edge-iterator style: per-node sorted out-adjacency arrays (bounded by
    the same O(√|E|) orientation cap, so ``collect_list`` state is safe at
    any scale), then per oriented edge (u→v) the triangle count is
    ``|out(u) ∩ out(v)|`` via native ``array_intersect`` — wedges are
    counted inside the intersection, never shuffled as rows. Each
    triangle x<y<z (in (degree, id) order) is counted exactly once, at
    its edge (x→y) with witness z — the same one-source-per-triangle
    argument as the wedge form, so the count is identical (oracle-gated
    against the naive triple self-join).
    """
    e = (
        edges.select(
            F.least(F.col("a"), F.col("b")).alias("x"),
            F.greatest(F.col("a"), F.col("b")).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("x").alias("n"))
        .unionAll(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = (
        e.join(deg.withColumnRenamed("n", "x").withColumnRenamed("d", "dx"), "x")
        .join(deg.withColumnRenamed("n", "y").withColumnRenamed("d", "dy"), "y")
    )
    lt = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    oriented = withdeg.select(
        F.when(lt, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(lt, F.col("y")).otherwise(F.col("x")).alias("w"),
    ).localCheckpoint(eager=True)
    adj = oriented.groupBy("u").agg(F.collect_list("w").alias("nb"))
    au = adj.select(F.col("u").alias("__au"), F.col("nb").alias("nb_u"))
    aw = adj.select(F.col("u").alias("__aw"), F.col("nb").alias("nb_w"))
    per_edge = (
        oriented.join(au, oriented.u == au.__au)
        .join(aw, oriented.w == aw.__aw)
        .select(F.size(F.array_intersect("nb_u", "nb_w")).alias("t"))
    )
    return per_edge.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_triangles")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Bounded breadth-first search: minimum hop count from any seed to
    every node reachable within ``max_hops``, over a DIRECTED edge list
    (pass both directions for an undirected graph).
    Edges are ``(a, b)`` pairs and seeds a ``node`` column.

    The Pregel-shaped iteration: hop h's frontier joins the edge list
    (one shuffle on the node key, id-only rows), unions into the
    distance table, and a min-hop aggregate dedups — ``max_hops``
    bounded rounds, each linear in frontier × degree. The edge list
    should be localCheckpointed by the CALLER if it is the result of a
    non-trivial plan (it is scanned once per round). Returns
    ``(node, hops)`` with ``hops`` = 0 for seeds.
    """
    dist = seeds.select("node", F.lit(0).alias("hop"))
    for h in range(1, max_hops + 1):
        frontier = (
            dist.filter(F.col("hop") == h - 1)
            .join(edges, F.col("node") == F.col("a"))
            .select(F.col("b").alias("node"), F.lit(h).alias("hop"))
        )
        dist = (
            dist.unionAll(frontier)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )
    return dist.select("node", F.col("hop").alias("hops"))
