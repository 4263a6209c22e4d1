"""Graph network operators (the GNM subsystem, gnm/gnmgraph.cpp):
DijkstraShortestPath (:185,242), KShortestPaths (:247) and
ConnectedComponents (:427) re-expressed as iterative DataFrame
fixpoints (the GraphFrames/Pregel shape).

Every round is a pure distributed join + groupBy, checkpointed with
`.localCheckpoint()` to cut lineage; the driver only checks a
convergence count. All shortest-path operators share one Bellman-Ford
loop (`shortest_path_trees_batch`) whose round count the graph bounds:
without a negative cycle no distance improves after |V| - 1 rounds, so
the loop runs at most |V| + 1 rounds and raises RuntimeError naming a
negative cycle if a distance still improves in the last one. Edges are
(src, dst, weight) rows; graphs are treated as DIRECTED (pass both
directions for undirected semantics, matching GNMGraph's explicit
direction handling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view: every edge in both directions."""
    cols = edges.columns
    rev = edges.select(
        F.col(dst).alias(src), F.col(src).alias(dst),
        *[c for c in cols if c not in (src, dst)],
    )
    return edges.select(*cols).unionByName(rev.select(*cols))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """(node, component) with component = min node id reachable
    (GNMGraph::ConnectedComponents, gnm/gnmgraph.cpp:427). Classic
    min-label propagation: labels converge in O(diameter) rounds; each
    round is one join + one groupBy (all shuffles on the node key).
    Raises RuntimeError if labels still change in round max_iterations,
    rather than return unconverged components."""
    e = symmetrize(edges.select(src, dst), src, dst)
    nodes = (
        e.select(F.col(src).alias("node"))
        .unionByName(e.select(F.col(dst).alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("component", F.col("node"))
    for it in range(max_iterations):
        # neighbor labels: for each dst, the min label among its srcs
        nbr = (
            e.join(labels, e[src] == labels["node"])
            .select(F.col(dst).alias("node"), "component")
            .groupBy("node")
            .agg(F.min("component").alias("nbr_min"))
        )
        new = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        new = new.localCheckpoint(eager=True)  # cut lineage per round
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge within max_iterations={max_iterations} rounds")


# above this many edges Yen's spur trees stay distributed; at or below
# it the edge table is collected once and every spur relaxes in memory
LOCAL_EDGE_GUARD = 100_000


def _negative_cycle(rounds: int) -> RuntimeError:
    return RuntimeError(
        f"a distance still improved in round {rounds} = |V| + 1: "
        "the graph has a negative cycle reachable from the source"
    )


def shortest_path_trees_batch(
    edges: DataFrame,
    spurs: list,
    banned_nodes: list,
    banned_edges: list,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Shortest-path trees from several spurs in ONE Bellman-Ford loop,
    keyed (sid, node), so one Yen iteration costs O(diameter) jobs
    instead of one loop per spur.

    spurs: [(sid, start_node)]; banned_nodes: [(sid, node)];
    banned_edges: [(sid, u, v)]. The per-spur edge view is the edge
    table replicated per sid (broadcast of the tiny sid list) minus
    the broadcast ban lists — per-spur filters never touch the driver
    loop. Each round relaxes every edge once and keeps the argmin
    predecessor (struct-min of (dist, parent) per node); a node only
    changes on a strict improvement. Returns (sid, node, dist,
    parent), parent NULL at the spur. Runs at most |V| + 1 rounds
    (|V| counted once over the edge table) and raises RuntimeError
    naming a negative cycle if a distance still improves in the last."""
    spark = edges.sparkSession
    e = edges.select(src, dst, weight)
    node_t = e.schema[src].dataType.simpleString()
    rounds = e.select(F.col(src).alias("n")).union(e.select(F.col(dst).alias("n"))).distinct().count() + 1
    sids = spark.createDataFrame([(int(s),) for s, _ in spurs], "sid int")
    ev = e.crossJoin(F.broadcast(sids))
    if banned_nodes:
        bn = spark.createDataFrame(banned_nodes, f"bsid int, bnode {node_t}")
        ev = ev.join(
            F.broadcast(bn),
            (ev["sid"] == bn["bsid"])
            & ((ev[src] == bn["bnode"]) | (ev[dst] == bn["bnode"])),
            "left_anti",
        )
    if banned_edges:
        be = spark.createDataFrame(banned_edges, f"bsid int, bu {node_t}, bv {node_t}")
        ev = ev.join(
            F.broadcast(be),
            (ev["sid"] == be["bsid"]) & (ev[src] == be["bu"]) & (ev[dst] == be["bv"]),
            "left_anti",
        )
    dist = spark.createDataFrame(
        [(int(s), n, 0.0, None) for s, n in spurs],
        f"sid int, node {node_t}, dist double, parent {node_t}",
    )
    for _ in range(rounds):
        relax = (
            ev.join(dist, (ev["sid"] == dist["sid"]) & (ev[src] == dist["node"]))
            .select(
                ev["sid"].alias("sid"),
                F.col(dst).alias("node"),
                F.struct(
                    (F.col("dist") + F.col(weight).cast("double")).alias("d"),
                    F.col(src).alias("p"),
                ).alias("cand"),
            )
            .groupBy("sid", "node")
            .agg(F.min("cand").alias("cand"))
        )
        better = F.col("cand").isNotNull() & (F.col("dist").isNull() | (F.col("cand.d") < F.col("dist")))
        new = (
            dist.join(relax, ["sid", "node"], "full")
            .select(
                "sid",
                "node",
                F.when(better, F.col("cand.d")).otherwise(F.col("dist")).alias("dist"),
                F.when(better, F.col("cand.p")).otherwise(F.col("parent")).alias("parent"),
            )
        )
        new = new.localCheckpoint(eager=True)
        improved = (
            new.alias("n")
            .join(dist.alias("o"), ["sid", "node"], "left")
            .filter(F.col("o.dist").isNull() | (F.col("n.dist") < F.col("o.dist")))
            .count()
        )
        dist = new
        if improved == 0:
            return dist
    raise _negative_cycle(rounds)


def shortest_path_tree(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """(node, dist, parent) single-source shortest-path tree: the batch
    loop with one spur and no bans. parent is NULL at the source."""
    return shortest_path_trees_batch(edges, [(0, source)], [], [], src, dst, weight).drop("sid")


def shortest_paths(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """(node, dist) single-source shortest path costs
    (GNMGraph::DijkstraShortestPath, gnm/gnmgraph.cpp:185): the
    shortest-path tree without its parents. Unreachable nodes are
    absent from the result (the reference returns an empty path for
    them)."""
    return shortest_path_tree(edges, source, src, dst, weight).select("node", "dist")


def _spt_local(elist: list, start, rounds: int) -> dict:
    """{node: (dist, parent)} from `start` over a driver-side edge list:
    the batch loop's rounds, with the same strict-improvement rule and
    min-(dist, parent) tie-break, so both return the same tree."""
    tree: dict = {start: (0.0, None)}
    for _ in range(rounds):
        best: dict = {}
        for u, v, w in elist:
            if u in tree:
                cand = (tree[u][0] + w, u)
                if v not in best or cand < best[v]:
                    best[v] = cand
        improved = False
        for v, cand in best.items():
            if v not in tree or cand[0] < tree[v][0]:
                tree[v] = cand
                improved = True
        if not improved:
            return tree
    raise _negative_cycle(rounds)


def _path(tree: dict, start, target) -> tuple[float, list, list] | None:
    """(cost, path, cumulative dist per path node) from `start` to
    `target` along the tree's parents; None if target is unreachable."""
    if target not in tree:
        return None
    path = [target]
    while path[-1] != start:
        path.append(tree[path[-1]][1])
    path.reverse()
    return tree[target][0], path, [float(tree[n][0]) for n in path]


def k_shortest_paths(
    edges: DataFrame,
    source,
    target,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> list[tuple[float, list]]:
    """K loopless shortest paths (GNMGraph::KShortestPaths,
    gnm/gnmgraph.cpp:247) via Yen's algorithm, as [(cost, path)].

    Each Yen iteration asks for the shortest-path trees of all its
    spurs at once, as {sid: {node: (dist, parent)}}; the first path is
    the iteration with spur `source` and no bans. Root costs come from
    the cumulative distances kept with each path, so the loop runs no
    per-root-edge jobs.

    One `limit(LOCAL_EDGE_GUARD + 1).collect()` decides where the trees
    come from. At or below the guard the edge table is already on the
    driver — the reference's own contract (GNMGraph is an in-memory
    structure) — and every spur relaxes in memory (`_spt_local`).
    Above it the trees are one `shortest_path_trees_batch` collect per
    iteration, and the edge table never reaches the driver. Both sides
    run the same rounds under the same |V| + 1 bound, so they return
    the same paths and raise the same RuntimeError on a negative
    cycle."""
    rows = edges.select(src, dst, weight).limit(LOCAL_EDGE_GUARD + 1).collect()
    local = [(r[0], r[1], float(r[2])) for r in rows] if len(rows) <= LOCAL_EDGE_GUARD else None
    if local is not None:
        rounds = len({u for u, _, _ in local} | {v for _, v, _ in local}) + 1

    def trees(spurs: list, banned_nodes: list, banned_edges: list) -> dict:
        if local is None:
            out: dict = {}
            for r in shortest_path_trees_batch(
                edges, spurs, banned_nodes, banned_edges, src, dst, weight
            ).collect():
                out.setdefault(int(r["sid"]), {})[r["node"]] = (r["dist"], r["parent"])
            return out
        bn, be = set(banned_nodes), set(banned_edges)
        return {
            sid: _spt_local(
                [(u, v, w) for u, v, w in local
                 if (sid, u) not in bn and (sid, v) not in bn and (sid, u, v) not in be],
                start,
                rounds,
            )
            for sid, start in spurs
        }

    first = _path(trees([(0, source)], [], [])[0], source, target)
    if first is None:
        return []
    A: list[tuple[float, list, list]] = [first]
    B: list[tuple[float, list, list]] = []
    for _ in range(1, k):
        _, prev_path, prev_cum = A[-1]
        # spur i starts at prev_path[i]; its root's nodes before it are
        # banned (loopless), and so is the next edge of every accepted
        # path sharing that root
        spurs = [(i, prev_path[i]) for i in range(len(prev_path) - 1)]
        banned_nodes = [(i, n) for i, _ in spurs for n in prev_path[:i]]
        banned_edges = [
            (i, p[i], p[i + 1]) for i, _ in spurs for _, p, _ in A
            if len(p) > i + 1 and p[: i + 1] == prev_path[: i + 1]
        ]
        got = trees(spurs, banned_nodes, banned_edges)
        for i, spur in spurs:
            sp = _path(got.get(i, {}), spur, target)
            if sp is None:
                continue
            # root cost = distance from source to the spur node along
            # the previous path (its stored cumulative distances)
            root_cost = prev_cum[i]
            cand_path = prev_path[:i] + sp[1]
            if cand_path not in [p for _, p, _ in A + B]:
                B.append((root_cost + sp[0], cand_path, prev_cum[:i] + [root_cost + c for c in sp[2]]))
        if not B:
            break
        B.sort(key=lambda t: (t[0], t[1]))
        A.append(B.pop(0))
    return [(c, p) for c, p, _ in A]
