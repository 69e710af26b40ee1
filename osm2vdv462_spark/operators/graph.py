"""Distributed graph analytics beyond connected components
(operators/cluster.py) and PageRank (operators/sketches.py):
triangle counting with degree-ordered orientation.

The naive triangle join (edges x edges on the shared endpoint, then
verify the closing edge) explodes on skew: a hub of degree d generates
C(d,2) candidate wedges, and web-scale graphs have d ~ millions.
Degree-ordered orientation (Suri & Vassilvitskii 2011, the canonical
MapReduce formulation) fixes this: orient every undirected edge from
its lower-(degree, id) endpoint to the higher one. The resulting DAG
has max out-degree O(sqrt(m)) REGARDLESS of the original degree
distribution, every triangle has exactly one node with two out-edges
into it (so each is counted once, no /3 or /6 correction), and the
wedge fan-out is bounded at sum C(outdeg, 2) = O(m^1.5) total — the
skew is structurally gone, not salted around.

Plan shape: two shuffles (degree count, wedge-closing equi-join on the
composite (v, w) key) — no inequality joins, no cartesian products.
Pure integer column ops; deterministic for any input edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def canonical_edges(df: DataFrame, a: str, b: str) -> DataFrame:
    """Directed/noisy pairs -> simple undirected edge list (a < b),
    self-loops dropped, duplicates collapsed."""
    return (
        df.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Undirected simple edges (a < b) -> (node, tri_cnt): the number
    of triangles each node participates in. Nodes in no triangle are
    absent (inner semantics — matches the SQL oracle's 3-way join)."""
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from the lower (deg, node) endpoint to the higher
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    e = edges.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("deg_dst"),
    )
    # wedges: two out-edges of the same src, ordered by the SAME total
    # order ((deg, node) ascending) so each wedge is generated once
    lo = oriented.select(
        F.col("src"), F.col("dst").alias("v"), F.col("deg_dst").alias("deg_v")
    )
    hi = oriented.select(
        F.col("src"), F.col("dst").alias("w"), F.col("deg_dst").alias("deg_w")
    )
    wedges = lo.join(hi, "src").filter(
        (F.col("deg_v") < F.col("deg_w"))
        | ((F.col("deg_v") == F.col("deg_w")) & (F.col("v") < F.col("w")))
    )
    # close the wedge: the oriented edge v -> w must exist
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"]).select("src", "v", "w")
    nodes = (
        tris.select(F.col("src").alias("node"))
        .unionByName(tris.select(F.col("v").alias("node")))
        .unionByName(tris.select(F.col("w").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("tri_cnt"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int,
    node: str = "node",
) -> DataFrame:
    """Multi-source BFS over an undirected simple edge list (a, b):
    minimum hop count from any seed, bounded by ``max_hops``
    (unreached nodes are absent — inner semantics).

    The Pregel shape: per level, one equi-join of the CURRENT FRONTIER
    against the edge list plus one anti-join against the visited set —
    the frontier (not the graph) is the iterated datum, so each round
    shuffles O(frontier boundary) rows however large the graph is.
    `localCheckpoint` cuts the lineage per level (CLAUDE.md janino/1g
    discipline, same as connected_components); the early-exit count is
    one scalar read per level, bounded by ``max_hops``.

    On web-scale graphs BFS levels saturate quickly (small-world:
    ~6 levels covers the giant component), which is why the hop bound
    is a first-class argument rather than run-to-frontier-empty."""
    sym = (
        edges.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionAll(edges.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .localCheckpoint(eager=True)
    )
    visited = (
        seeds.select(F.col(node).alias("n"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("n")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["n"] == sym["s"])
            .select(F.col("d").alias("n"))
            .distinct()
            .join(visited.select("n"), "n", "left_anti")
            .withColumn("hops", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("n")
    return visited.select(F.col("n").alias(node), "hops")


def sssp_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    rounds: int,
    node: str = "node",
) -> DataFrame:
    """Bounded Bellman-Ford over an undirected weighted edge list
    (a, b, w): minimum path weight from any seed using at most
    ``rounds`` edges (nodes unreached within the bound are absent).

    Each round is one relax step: current distances join the symmetric
    edge list, candidate = dist + w, then a min-agg merges candidates
    with the standing distances. Unlike BFS the frontier cannot be
    trimmed to "new" nodes only (a longer-hop path may be CHEAPER), so
    the iterated datum is the full tentative-distance table — still
    O(nodes) thin rows, never the corpus, and both the join and the
    min-agg hash on the same node key so the exchanges line up.
    Integer weights keep every round exact in both engines (the
    pagerank e12 discipline, without the fixed point)."""
    sym = (
        edges.select(
            F.col("a").alias("s"), F.col("b").alias("d"), F.col("w")
        )
        .unionAll(
            edges.select(
                F.col("b").alias("s"), F.col("a").alias("d"), F.col("w")
            )
        )
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select(F.col(node).alias("n"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        cand = (
            dist.join(sym, dist["n"] == sym["s"])
            .select(F.col("d").alias("n"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionAll(cand)
            .groupBy("n")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.select(F.col("n").alias(node), "dist")


def lpa_rounds(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous label propagation (community detection): labels
    start as node ids; each round every node adopts the most frequent
    label among its neighbors, ties to the SMALLEST label — the pinned
    tie-break that makes synchronous LPA fully deterministic (async
    LPA's arrival-order sensitivity would be nondeterministic under
    Spark retries, so it is the wrong variant for a distributed engine).

    Scale shape per round: one edge-sized join (labels are a node-sized
    table that a 10^12-edge deployment would broadcast or co-bucket),
    one (node, label) count, one node-sized window pick. K rounds = K
    passes; no driver-side graph state. Returns (node, lbl)."""
    from pyspark.sql import Window

    both = edges.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).unionAll(edges.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    lab = both.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("lbl").asc()
    )
    for _ in range(rounds):
        votes = (
            both.join(
                lab.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count("*").alias("c"))
        )
        lab = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    return lab


def kcore_nodes(edges: DataFrame, k: int = 3, rounds: int = 8) -> DataFrame:
    """Fixed-round k-core peeling over an undirected canonical edge
    list (a < b): repeatedly drop every node with degree < k (and its
    edges) until stable, here unrolled to ``rounds`` synchronous
    passes so the computation is deterministic and has an exact
    SQL twin (the convergence bound for the gated graphs is
    pytest-asserted: round R == round R+1). Returns the surviving
    nodes with their degree inside the core subgraph.

    Scale shape per round: one partial-agg degree count on the node
    key + two semi-joins that only ever SHRINK the edge table — the
    peeling monotonicity means round r's input is a subset of round
    r-1's, so the worst case is rounds x O(|E|) with no growth
    anywhere. An eager localCheckpoint per round cuts the 3-join
    lineage stack (the janino-under-1g discipline from CLAUDE.md);
    a production run would stop early when a round removes nothing
    (edge count is already materialized by the checkpoint)."""
    e = edges.select("a", "b").localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        e = (
            e.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("core_deg"))
    )


def ancestor_closure(
    parents: DataFrame, *, vid: str = "v", par: str = "par", max_doubling: int = 10
) -> DataFrame:
    """Reflexive-transitive ancestor closure of a forest by POINTER
    DOUBLING: (v, a) for every ancestor a of v, including a = v.

    parents: one row per node — (vid, par), par NULL for roots. The
    relation must be acyclic (a forest/DAG of parent pointers); cycles
    would keep the fixpoint loop running until max_doubling and raise.

    Scale shape: each round self-joins the closure-so-far on the
    midpoint (anc(v, m) JOIN anc(m, a)), DOUBLING the covered path
    length — depth-d hierarchies close in ceil(log2 d) shuffles, not d
    (the classic parallel transitive-closure trick; a sequential
    per-level loop would be d rounds of tiny joins). Closure size is
    sum-of-depths rows; each round localCheckpoints to cut lineage and
    the loop stops at the exact fixpoint (row count stable)."""
    base = (
        parents.select(F.col(vid).alias("v"), F.col(vid).alias("a"))
        .unionByName(
            parents.filter(F.col(par).isNotNull()).select(
                F.col(vid).alias("v"), F.col(par).alias("a")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    anc = base
    n = anc.count()
    for _ in range(max_doubling):
        nxt = (
            anc.join(
                anc.select(F.col("v").alias("m"), F.col("a").alias("a2")),
                anc["a"] == F.col("m"),
            )
            .select("v", F.col("a2").alias("a"))
            .unionByName(anc)
            .distinct()
            .localCheckpoint(eager=True)
        )
        n2 = nxt.count()
        anc = nxt
        if n2 == n:
            return anc
        n = n2
    raise ValueError(
        f"ancestor_closure did not converge in {max_doubling} doubling "
        "rounds — cyclic parent relation or depth > 2^rounds"
    )


def strongly_connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    vid: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 40,
    max_inner: int = 80,
) -> DataFrame:
    """Distributed strongly connected components via forward-min
    coloring + backward confinement (Orzan's coloring algorithm, the
    standard dataflow SCC — cf. FW-BW-Trim / Slota et al.):

    repeat until no vertex is unassigned:
      1. color: propagate MIN vertex id along edge direction to a
         fixpoint, so c(v) = min id that reaches v (v included). Every
         color class is closed under "reached by root"; its root r
         (c(r) = r) is the class minimum.
      2. confine: within one color class, SCC(r) = the nodes that reach
         r back THROUGH the class — grow marked = {r} along reversed
         same-color edges to a fixpoint. (Any u->..->r path is entirely
         inside class r: a node x on it reaches r, so whoever reaches x
         also reaches r, forcing c(x) = r.)
      3. emit marked as SCC(scc_id = r), remove them, repeat on the
         remainder.

    Every step is a join + partial-agg over (node, label) pairs — no
    driver-side graph, fixed-width shuffle keys, O(E) per round. The
    minimum active id is always a root, so each outer round removes
    >= 1 SCC; with hash-random ids the expected outer depth is
    O(log n). Deterministic for a given input. Returns (vid, scc_id)
    with scc_id = min member id."""
    e_all = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    active = (
        vertices.select(F.col(vid).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    done = None
    for _ in range(max_outer):
        if active.limit(1).count() == 0:
            if done is None:  # no vertices at all
                spark = active.sparkSession
                return spark.createDataFrame(
                    [], f"{vid} long, scc_id long"
                )
            return done.select(F.col("node").alias(vid), "scc_id")
        au = active.select(F.col("node").alias("u"))
        av = active.select(F.col("node").alias("v"))
        e = e_all.join(au, "u").join(av, "v").localCheckpoint(eager=True)
        # ---- 1. forward min-coloring to fixpoint
        c = active.select("node", F.col("node").alias("c")).localCheckpoint(
            eager=True
        )
        for _ in range(max_inner):
            push = (
                e.join(
                    c.select(F.col("node").alias("u"), F.col("c").alias("cu")),
                    "u",
                )
                .groupBy("v")
                .agg(F.min("cu").alias("cin"))
            )
            newc = (
                c.join(push.withColumnRenamed("v", "node"), "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("c"), F.coalesce("cin", F.col("c"))
                    ).alias("c"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                newc.join(
                    c.select("node", F.col("c").alias("oc")), "node"
                )
                .filter(F.col("c") != F.col("oc"))
                .limit(1)
                .count()
            )
            c = newc
            if changed == 0:
                break
        else:
            raise ValueError(
                f"SCC coloring did not converge in {max_inner} rounds"
            )
        # ---- 2. backward confinement within each color class
        marked = c.filter(F.col("node") == F.col("c")).select(
            "node", F.col("c").alias("scc_id")
        )
        ec = (
            e.join(
                c.select(F.col("node").alias("u"), F.col("c").alias("cu")),
                "u",
            )
            .join(
                c.select(F.col("node").alias("v"), F.col("c").alias("cv")),
                "v",
            )
            .filter(F.col("cu") == F.col("cv"))
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        marked = marked.localCheckpoint(eager=True)
        n_marked = marked.count()
        for _ in range(max_inner):
            grown = (
                ec.join(marked.withColumnRenamed("node", "v"), "v")
                .select(F.col("u").alias("node"), "scc_id")
                .unionByName(marked)
                .distinct()
                .localCheckpoint(eager=True)
            )
            n2 = grown.count()
            marked = grown
            if n2 == n_marked:
                break
            n_marked = n2
        else:
            raise ValueError(
                f"SCC confinement did not converge in {max_inner} rounds"
            )
        # ---- 3. emit and peel
        done = marked if done is None else done.unionByName(marked)
        active = active.join(
            marked.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=True)
    raise ValueError(f"SCC peeling did not finish in {max_outer} rounds")


def longest_path_dag(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    vid: str = "node",
    src: str = "a",
    dst: str = "b",
    weight: str = "w",
    max_iter: int = 120,
) -> DataFrame:
    """Longest-path (critical-path) lengths in a DAG by monotone
    label-raising relaxation: lp(v) = max(0, max over (u,v,w) of
    lp(u)+w). Converges in <= longest-chain-hops rounds; each round is
    one join + partial max — the PERT forward pass as dataflow.
    Raises if the relaxation is still moving after max_iter rounds
    (i.e. the input has a cycle). Returns (vid, lp)."""
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"),
        F.col(weight).alias("w"),
    ).localCheckpoint(eager=True)
    lab = vertices.select(
        F.col(vid).alias("node"), F.lit(0).cast("long").alias("l")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        push = (
            e.join(
                lab.select(F.col("node").alias("u"), F.col("l").alias("lu")),
                "u",
            )
            .groupBy("v")
            .agg(F.max(F.col("lu") + F.col("w")).alias("cand"))
        )
        new = (
            lab.join(push.withColumnRenamed("v", "node"), "node", "left")
            .select(
                "node",
                F.greatest(
                    F.col("l"), F.coalesce("cand", F.col("l"))
                ).alias("l"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(lab.select("node", F.col("l").alias("ol")), "node")
            .filter(F.col("l") != F.col("ol"))
            .limit(1)
            .count()
        )
        lab = new
        if changed == 0:
            return lab.select(F.col("node").alias(vid), F.col("l").alias("lp"))
    raise ValueError(
        f"longest_path_dag still relaxing after {max_iter} rounds — "
        "cyclic input or pathological chain"
    )


def temporal_earliest_arrival(
    sources: DataFrame,
    edges: DataFrame,
    *,
    vid: str = "node",
    src: str = "u",
    dst: str = "v",
    time_col: str = "t",
    max_iter: int = 120,
) -> DataFrame:
    """Earliest-arrival time-respecting reachability in a temporal
    graph (contact network): an edge (u, v, t) is traversable only if
    you are at u no later than t; arrival via it is t itself. Label-
    correcting relaxation downward from arr(source) = 0 — every label
    is witnessed by a real time-respecting path, and every such path
    is eventually explored, so the fixpoint is the true minimum.
    Returns (vid, earliest) for reached nodes (sources at 0)."""
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"),
        F.col(time_col).alias("t"),
    ).localCheckpoint(eager=True)
    lab = sources.select(
        F.col(vid).alias("node"), F.lit(0).cast("long").alias("arr")
    ).distinct().localCheckpoint(eager=True)
    for _ in range(max_iter):
        push = (
            e.join(
                lab.select(
                    F.col("node").alias("u"), F.col("arr").alias("au")
                ),
                "u",
            )
            .filter(F.col("t") >= F.col("au"))
            .groupBy("v")
            .agg(F.min("t").alias("cand"))
            .withColumnRenamed("v", "node")
        )
        new = (
            lab.join(push, "node", "full")
            .select(
                "node",
                F.least(
                    F.coalesce("arr", F.col("cand")),
                    F.coalesce("cand", F.col("arr")),
                ).alias("arr"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(
                lab.select("node", F.col("arr").alias("oa")), "node", "left"
            )
            .filter(
                F.col("oa").isNull() | (F.col("arr") != F.col("oa"))
            )
            .limit(1)
            .count()
        )
        lab = new
        if changed == 0:
            return lab.select(
                F.col("node").alias(vid), F.col("arr").alias("earliest")
            )
    raise ValueError(
        f"temporal_earliest_arrival still relaxing after {max_iter} rounds"
    )


def all_pairs_hops(edges: DataFrame, *, max_hops: int) -> DataFrame:
    """Batched all-pairs BFS over an undirected simple edge list
    (a, b): one BFS wave carrying (src, node) composite labels instead
    of |V| separate traversals — the MS-BFS batching that makes
    closeness/eccentricity computable as dataflow. Per level: frontier
    equi-join on the destination node + anti-join against visited,
    exactly the bfs_hops shape with a wider key; the iterated datum is
    the pair frontier, so a level shuffles O(reached boundary pairs)
    however large the graph. Distances are truncated at ``max_hops``
    (bounded-hop semantics — callers must pick the bound above the
    diameter they care about). Returns (src, node, hops), inner
    semantics for unreached pairs. Only sane for batches where
    |reachable pairs| fits the cluster — for planet-scale graphs batch
    the src side (this is how HyperANF-free exact sweeps are run)."""
    sym = (
        edges.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionAll(edges.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .localCheckpoint(eager=True)
    )
    verts = sym.select(F.col("s").alias("src")).distinct()
    visited = (
        verts.select("src", F.col("src").alias("n"))
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("src", "n")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["n"] == sym["s"])
            .select("src", F.col("d").alias("n"))
            .distinct()
            .join(visited.select("src", "n"), ["src", "n"], "left_anti")
            .withColumn("hops", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("src", "n")
    return visited.select("src", F.col("n").alias("node"), "hops")


def all_pairs_hops_sigma(edges: DataFrame, *, max_hops: int) -> DataFrame:
    """`all_pairs_hops` carrying shortest-path COUNTS: the batched BFS
    wave additionally propagates sigma(src, node) = number of distinct
    shortest src->node paths via the standard BFS DP (sigma of a node
    first reached at level h = sum of its level-(h-1) predecessors'
    sigmas — one groupBy on the (src, node) pair key per level, fused
    into the frontier expansion join). Returns (src, node, hops,
    sigma). Same bounded-hop semantics and batching caveats as
    all_pairs_hops; sigma is exact (bigint) — the ingredient for
    betweenness centrality via the pair-counting identity
    sigma_sv * sigma_vt / sigma_st."""
    sym = (
        edges.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionAll(edges.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .localCheckpoint(eager=True)
    )
    verts = sym.select(F.col("s").alias("src")).distinct()
    visited = (
        verts.select("src", F.col("src").alias("n"))
        .withColumn("hops", F.lit(0))
        .withColumn("sigma", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("src", "n", "sigma")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["n"] == sym["s"])
            .select("src", F.col("d").alias("n"), "sigma")
            .groupBy("src", "n")
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited.select("src", "n"), ["src", "n"], "left_anti")
            .withColumn("hops", F.lit(h))
            .select("src", "n", "hops", "sigma")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("src", "n", "sigma")
    return visited.select(F.col("src"), F.col("n").alias("node"), "hops", "sigma")


def jp_coloring(
    edges: DataFrame,
    priorities: DataFrame,
    *,
    vid: str = "node",
    pri: str = "pri",
    max_rounds: int = 64,
) -> DataFrame:
    """Jones-Plassmann greedy graph coloring: in each round, every
    uncolored node whose uncolored neighbors all have LOWER priority
    takes the smallest color its (already-colored) higher-priority
    neighbors don't use. With distinct priorities this terminates and
    produces EXACTLY the sequential greedy coloring in decreasing
    priority order (a lower-priority neighbor can never be colored
    before v, so v's colored neighborhood at assignment time is
    precisely its higher-priority neighbors) — which is what makes an
    independent sequential oracle possible. Rounds = longest
    increasing-priority path, O(log n) expected under hash priorities.
    Each round: one neighbor-join + two partial aggs, all JVM-side
    (mex via array higher-order functions); state is one (node, color)
    row per vertex. Ties broken by (pri, node) so hash collisions
    cannot de-determinize. Returns (vid, color)."""
    sym = (
        edges.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionAll(edges.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .join(
            priorities.select(
                F.col(vid).alias("d"), F.col(pri).alias("dp")
            ),
            "d",
        )
        .localCheckpoint(eager=True)
    )
    todo = priorities.select(
        F.col(vid).alias("node"), F.col(pri).alias("p")
    ).localCheckpoint(eager=True)
    empty = F.array().cast("array<int>")
    colored = None  # (node, color)
    for _ in range(max_rounds):
        if todo.isEmpty():
            break
        # neighbors of each todo node, split by colored/uncolored
        nb = todo.join(sym, todo["node"] == sym["s"]).select(
            "node", "p", F.col("d").alias("nbr"), "dp"
        )
        if colored is not None:
            nb = nb.join(
                colored.select(
                    F.col("node").alias("nbr"), F.col("color").alias("nc")
                ),
                "nbr",
                "left",
            )
        else:
            nb = nb.withColumn("nc", F.lit(None).cast("int"))
        todo_set = todo.select(
            F.col("node").alias("nbr"), F.lit(1).alias("is_todo")
        )
        nb = nb.join(todo_set, "nbr", "left")
        per = nb.groupBy("node").agg(
            F.max(
                F.when(
                    (F.col("is_todo") == 1)
                    & (
                        (F.col("dp") > F.col("p"))
                        | (
                            (F.col("dp") == F.col("p"))
                            & (F.col("nbr") > F.col("node"))
                        )
                    ),
                    1,
                ).otherwise(0)
            ).alias("blocked"),
            F.collect_set("nc").alias("used"),
        )
        ready = (
            todo.join(per, "node", "left")
            .filter(F.coalesce("blocked", F.lit(0)) == 0)
            .select(
                "node",
                F.element_at(
                    F.filter(
                        F.sequence(
                            F.lit(0),
                            F.size(F.coalesce(F.col("used"), empty)),
                        ),
                        lambda c: ~F.array_contains(
                            F.coalesce(F.col("used"), empty), c
                        ),
                    ),
                    1,
                )
                .cast("int")
                .alias("color"),
            )
            .localCheckpoint(eager=True)
        )
        colored = (
            ready if colored is None
            else colored.unionByName(ready).localCheckpoint(eager=True)
        )
        todo = todo.join(
            ready.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=True)
    else:
        raise ValueError(f"jp_coloring did not finish in {max_rounds} rounds")
    if colored is None:
        return priorities.select(
            F.col(vid), F.lit(0).alias("color")
        ).limit(0)
    return colored.select(F.col("node").alias(vid), "color")


def gale_shapley_rounds(
    prefs_m: DataFrame,
    prefs_w: DataFrame,
    *,
    max_rounds: int = 400,
) -> DataFrame:
    """Stable matching by PARALLEL Gale-Shapley proposal rounds: every
    free proposer simultaneously proposes to their best not-yet-
    rejecting counterparty; each counterparty keeps the best of
    {incumbent, new proposals} and rejects the rest. Because the
    deferred-acceptance outcome is proposal-order independent (the
    man-optimal stable matching is unique — Gale & Shapley 1962,
    McVitie-Wilson 1971), these synchronous batched rounds converge to
    EXACTLY the matching the textbook one-proposal-at-a-time loop
    produces, which is what makes an independent sequential oracle
    possible. Inputs: prefs_m(m, w, mr) / prefs_w(w, m, wr), complete
    lists, lower rank = preferred (ties broken by counterparty id).
    Returns (w, m) for matched pairs. Per round: one anti-join against
    the rejection set (the only growing state, bounded by |prefs|),
    one top-1 window per proposer, one min-agg per counterparty — all
    keyed shuffles, no driver state; rounds ~ longest rejection chain
    (typically O(log) for random preferences)."""
    pm = prefs_m.select("m", "w", "mr").localCheckpoint(eager=True)
    pw = prefs_w.select("w", "m", "wr").localCheckpoint(eager=True)
    rejected = pm.select("m", "w").limit(0).localCheckpoint(eager=True)
    matches = pw.select("w", "m").limit(0).localCheckpoint(eager=True)
    from pyspark.sql import Window

    for _ in range(max_rounds):
        cand = (
            pm.join(rejected, ["m", "w"], "left_anti")
            .join(matches.select("m"), "m", "left_anti")
        )
        top = Window.partitionBy("m").orderBy("mr", "w")
        proposals = (
            cand.withColumn("rn", F.row_number().over(top))
            .filter(F.col("rn") == 1)
            .select("m", "w")
            .localCheckpoint(eager=True)
        )
        if proposals.isEmpty():
            return matches.select("w", "m")
        contenders = proposals.unionByName(matches.select("w", "m")).join(
            pw, ["w", "m"]
        )
        keep = Window.partitionBy("w").orderBy("wr", "m")
        ranked = contenders.withColumn("rn", F.row_number().over(keep))
        matches = (
            ranked.filter(F.col("rn") == 1)
            .select("w", "m")
            .localCheckpoint(eager=True)
        )
        rejected = rejected.unionByName(
            ranked.filter(F.col("rn") > 1).select("m", "w")
        ).localCheckpoint(eager=True)
    raise ValueError(f"gale_shapley_rounds did not settle in {max_rounds}")


def ktruss_edges(edges: DataFrame, *, k: int, max_rounds: int = 60) -> DataFrame:
    """k-truss decomposition (the GraphChallenge benchmark op): peel
    edges whose triangle SUPPORT within the surviving subgraph is
    < k-2, iterating until fixpoint — the cohesive-subgraph extractor
    that is robust where k-core is not (every surviving edge sits in
    k-2 surviving triangles). Per round: common-neighbor counts via
    the symmetric-adjacency wedge join keyed on the shared endpoint,
    one filter, one lineage cut; the iterated datum is the shrinking
    edge list. Rounds are bounded by the peel depth (small in
    practice); at web scale each round is the same two-shuffle plan as
    triangle counting, so the cost is O(peel_rounds x triangle-join).
    Input: undirected simple (a, b) with a < b; returns the surviving
    (a, b) edges."""
    e = edges.select("a", "b").localCheckpoint(eager=True)
    n = e.count()
    for _ in range(max_rounds):
        if n == 0:
            return e
        sym = e.select(F.col("a").alias("s"), F.col("b").alias("d")).unionAll(
            e.select(F.col("b").alias("s"), F.col("a").alias("d"))
        )
        s1 = sym.select(F.col("s").alias("a"), F.col("d").alias("c"))
        s2 = sym.select(F.col("s").alias("b"), F.col("d").alias("c"))
        support = (
            e.join(s1, "a")
            .join(s2, ["b", "c"])
            .groupBy("a", "b")
            .agg(F.count("*").alias("sup"))
        )
        kept = (
            e.join(support, ["a", "b"], "left")
            .filter(F.coalesce("sup", F.lit(0)) >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        m = kept.count()
        if m == n:
            return kept
        e, n = kept, m
    raise ValueError(f"ktruss did not stabilize in {max_rounds} rounds")


def hypothesis_bfs(
    sym: DataFrame,
    seeds: DataFrame,
    cond,
    *,
    max_rounds: int = 40,
) -> DataFrame:
    """Batched what-if BFS: run |hypotheses| reachability probes as ONE
    wave of (x, node) composite frontiers, where hypothesis x disables
    some edges — the primitive behind bridge/articulation detection
    ('is the graph still connected without this element?') and any
    failure-mode sweep. ``sym`` is the symmetric edge list (s, d, +
    metadata columns); ``seeds`` is (x, node); ``cond(frontier, sym)``
    returns the boolean Column deciding whether an edge is usable
    under hypothesis x. Per round one equi-join + anti-join, the pair
    frontier is the only state — the all_pairs_hops shape with an
    edge predicate pushed INTO the join, so disabled edges never
    materialize. Returns (x, node) reached pairs."""
    visited = seeds.select("x", "node").distinct().localCheckpoint(
        eager=True
    )
    frontier = visited
    for _ in range(max_rounds):
        j = frontier.join(sym, frontier["node"] == sym["s"])
        nxt = (
            j.filter(cond(frontier, sym))
            .select("x", F.col("d").alias("node"))
            .distinct()
            .join(visited, ["x", "node"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            return visited
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    raise ValueError(f"hypothesis_bfs still expanding after {max_rounds}")


def luby_mis(
    edges: DataFrame,
    *,
    key_prefix: str,
    max_rounds: int = 60,
) -> DataFrame:
    """Luby's maximal-independent-set — THE textbook parallel-graph
    primitive (symmetry breaking for scheduling / frequency assignment /
    parallel coloring seeds). Per round every active node draws a
    deterministic priority key ``(md5(prefix || round || node) % 1e6)
    * 1000 + node`` (the ``+ node`` pack makes keys a strict total
    order, so at least the global-minimum node wins every round and
    termination is guaranteed); a node joins the MIS iff its key beats
    every ACTIVE neighbor's key, then winners and their neighborhoods
    leave the active set. Expected O(log n) rounds; per round the plan
    is one both-endpoints-active equi-join + a map-side partial MIN
    per node + one anti-join — the frontier-sized-state Pregel shape
    of bfs_hops, nothing proportional to |V| ever sits on the driver.
    ``edges`` is the canonical (a, b) simple edge list. Returns
    (node, mis_round) for the MIS members.

    Mirrors the independence/maximality semantics of the reference's
    cluster-merge stage (stop_places.sql DBSCAN seeding) without the
    sequential scan: the oracle replays the identical rounds as a
    single-row list machine."""
    sym = (
        edges.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionAll(
            edges.select(F.col("b").alias("s"), F.col("a").alias("d"))
        )
        .localCheckpoint(eager=True)
    )
    act = sym.select(F.col("s").alias("n")).distinct().localCheckpoint(
        eager=True
    )
    mis = None
    for r in range(max_rounds):
        if act.isEmpty():
            break

        def _key(col):
            h = F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{key_prefix}{r}:"),
                            col.cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    5,
                ),
                16,
                10,
            ).cast("long")
            return (h % 1000000) * 1000 + col

        ak = act.select("n", _key(F.col("n")).alias("k")).localCheckpoint(
            eager=True
        )
        nb = sym.join(
            ak.select(F.col("n").alias("s"), F.col("k").alias("sk")), "s"
        ).join(ak.select(F.col("n").alias("d"), F.col("k").alias("dk")), "d")
        nbmin = nb.groupBy("s").agg(F.min("dk").alias("mk"))
        winners = (
            ak.join(nbmin, ak["n"] == nbmin["s"], "left")
            .filter(F.col("mk").isNull() | (F.col("k") < F.col("mk")))
            .select("n")
            .withColumn("mis_round", F.lit(r))
            .localCheckpoint(eager=True)
        )
        mis = winners if mis is None else mis.unionAll(winners)
        nbrs = (
            sym.join(winners.select(F.col("n").alias("s")), "s")
            .select(F.col("d").alias("n"))
            .distinct()
        )
        removed = winners.select("n").unionAll(nbrs).distinct()
        act = act.join(removed, "n", "left_anti").localCheckpoint(eager=True)
    else:
        raise ValueError(f"luby_mis still active after {max_rounds} rounds")
    return mis
