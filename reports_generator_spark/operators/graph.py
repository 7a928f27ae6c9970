"""Iterative graph operators — the dedup-clustering step that turns
near-dup *pairs* (operators/dedup.py) into *clusters* with one
canonical survivor per cluster, which is what a corpus pipeline
actually deletes against.

Connected components by min-label propagation (Pregel-style):
every node starts labeled with its own id; each round, every node
takes the min of its label and its neighbors' labels; converged when
no label changes. The driver controls only the iteration count and a
scalar convergence check — all data stays distributed, and
``localCheckpoint`` truncates the lineage each round so plans don't
grow with iterations.

Scale posture: rounds = component diameter; near-dup clusters are
small and dense, so 2–4 rounds in practice. Each round is one
equi-join + one groupBy-min — shuffle-bounded on the node id. For
web-scale graphs with giant/long components use
:func:`connected_components_star` (large-star/small-star, Kiveris et
al.) below — O(log n) rounds on any topology, same output contract
(equivalence pinned in tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fast-path gate: when the DIRECTED edge list is at most one
#: partition's worth (the same ~50k-endpoints constant the iterative
#: sizing below uses), the whole component structure fits one task —
#: ship the edges to a single executor task and run union-find there
#: (guide §1.2: fix the distributed algorithm; §4.2: hand the batch to
#: native code). Value-identical to the iterative loop (pinned in
#: tests/test_dedup.py); a big graph never takes this branch, so the
#: 100 TB path is unchanged.
_CC_LOCAL_EDGE_CAP = 25000


def _cc_union_find_local(base: DataFrame) -> DataFrame:
    """Single-task connected components over a small checkpointed edge
    list: one mapInPandas job running union-find, emitting the same
    (node, cluster_id = min node id in component) contract as the
    iterative path."""
    from pyspark.sql.types import StructField, StructType

    t_src = base.schema["src"].dataType
    out_schema = StructType(
        [StructField("node", t_src), StructField("cluster_id", t_src)]
    )

    def kernel(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
        if not parent:
            return
        root_min: dict = {}
        nodes = list(parent)
        for x in nodes:
            r = find(x)
            m = root_min.get(r)
            if m is None or x < m:
                root_min[r] = x
        yield pd.DataFrame(
            {
                "node": nodes,
                "cluster_id": [root_min[find(x)] for x in nodes],
            }
        )

    return base.coalesce(1).mapInPandas(kernel, out_schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """(node, cluster_id) for every node in `edges`, where cluster_id
    is the minimum node id in the node's connected component. Edges
    with a null endpoint are dropped first, so a null is never a node.

    A small graph (≤ ``_CC_LOCAL_EDGE_CAP`` directed edges) runs as one
    single-task union-find that always converges fully; ``max_iter``
    bounds only the iterative min-label path taken above the cap."""
    # materialize the (possibly expensive) upstream pair generation
    # exactly once — the symmetric union below references it twice, and
    # every round joins against the edge set
    base = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropna()
        .localCheckpoint()
    )
    # graph-sized iteration parallelism (see pagerank_undirected): an
    # inherited wide layout turns every min-label round over a small
    # graph into dozens of near-empty tasks; ~50k endpoints/partition
    # keeps tasks meaningful while a big graph still fans out fully.
    # Directed-edge count bounds the symmetric relation (n ≤ und ≤ 2n),
    # which is all the sizing heuristic needs — counting the cheap
    # checkpointed base instead of the deduped union lets the union,
    # dedup and layout materialize as ONE job below (was three).
    n_edges = base.count()
    if n_edges <= _CC_LOCAL_EDGE_CAP:
        # small graph: one union-find job replaces the union+dedup
        # materialization plus one convergence-aggregation job per
        # min-label round (2–6 jobs of pure fixed cost at this size)
        return _cc_union_find_local(base)
    n_parts = max(1, min(
        base.sparkSession.sparkContext.defaultParallelism,
        2 * n_edges // 50_000 + 1,
    ))
    # single exchange: hash-partition by src FIRST, then dedup —
    # HashPartitioning(src) already clusters (src, dst), so the
    # dropDuplicates aggregates partition-locally with no second
    # shuffle, and the round-loop groupBy("src") reuses the layout
    und = (
        base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(n_parts, "src")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint()
    )
    # fused first round: every node's label starts at
    # min(node, min(neighbors)) — one groupBy instead of a join round
    labels = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("m"))
        .select("node", F.least(F.col("node"), F.col("m")).alias("label"))
        .localCheckpoint(eager=False)
    )
    # labels are monotonically non-increasing (a node's old label is in
    # the min), so convergence == the label sum stops decreasing — one
    # aggregation per round instead of a self-join change count.  The
    # checkpoints are LAZY: the convergence aggregation is the action
    # that materializes each round's frame, so a round costs one job,
    # not two, while lineage still truncates.
    prev_sum = None
    for _ in range(max_iter):
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
        nbr = und.join(labels, und.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        labels = (
            labels.select("node", "label")
            .union(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the web-scale path: O(log n) rounds on any topology, where
    min-label propagation needs O(diameter) rounds and struggles on
    long chains / giant components.

    Same output contract as :func:`connected_components`:
    (node, cluster_id = min node id in the component).

    Each half-round is ONE window-min over a hash partition of the
    edge list + a distinct — no adjacency lists are ever collected,
    so a skewed high-degree node costs a partition sort, not a
    driver-side materialization.  Edges stay in canonical big→small
    orientation, which is what the small-star step requires and makes
    the converged state (every node points at its component min) the
    label map itself.
    """
    from pyspark.sql import Window

    # canonical orientation u > v; self-loops AND null-endpoint edges
    # are dropped here, first (a != b is never true on a null)
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col(src) != F.col(dst)
    )
    cur = (
        e0.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    all_nodes = (
        cur.select(F.col("u").alias("node"))
        .union(cur.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    prev_sig = None
    for _ in range(max_iter):
        # -- large-star: over the SYMMETRIC adjacency, hook every
        #    larger neighbor v > u onto m = min(N(u) ∪ {u})
        und = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        w = Window.partitionBy("u")
        m_l = F.least(F.min("v").over(w), F.col("u"))
        cur = (
            und.withColumn("m", m_l)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # -- small-star: edges already point big→small; hook every
        #    smaller neighbor (and u itself) onto m = min(N⁻(u))
        m_s = F.min("v").over(w)
        with_m = cur.withColumn("m", m_s)
        cur = (
            with_m.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(with_m.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        sig = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        ).collect()[0]
        if prev_sig == (sig.n, sig.su, sig.sv):
            break
        prev_sig = (sig.n, sig.su, sig.sv)

    # converged: every non-center node carries exactly one edge to its
    # component min (groupBy-min is belt and braces for the last round)
    point = cur.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("node"), "cluster_id"
    )
    return (
        all_nodes.join(point, "node", "left")
        .select("node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id"))
    )


def pagerank_undirected(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 12,
) -> DataFrame:
    """(node, rank) PageRank over the undirected graph of `edges`
    (each edge contributes both directions), teleport formulation
    rank = (1-d) + d·Σ rank(in)/deg(in).

    Fixed iteration count, NO per-round driver action: unlike the CC
    loop (whose early exit saves whole rounds), PageRank's cost per
    round is constant and the driver-side convergence check would add
    a scheduler barrier per round for nothing — 12 damped rounds give
    |Δ| < 1e-3 on any graph whose diameter the dedup use case
    produces, and the registered key ATTESTS the stationarity
    invariants instead of trusting the round count. Each round is one
    equi-join + one groupBy-sum (shuffle on node id); ``localCheckpoint
    (eager=False)`` truncates lineage so the plan stays O(1) in
    rounds. Undirected ⇒ no dangling nodes ⇒ Σ rank = |V| is
    preserved exactly (the attested invariant)."""
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    # Size the iteration parallelism by the GRAPH, not the session
    # default: each round is a join + groupBy over |2E| rows, and an
    # inherited 32-partition layout turns a small graph's 8 rounds
    # into hundreds of near-empty tasks whose scheduling dominates
    # runtime. ~50k edge-endpoints per partition keeps tasks
    # meaningful at any scale (a 10^10-edge graph still gets the full
    # cluster). The count is one cheap job over checkpointed blocks.
    n_parts = max(1, min(
        und.sparkSession.sparkContext.defaultParallelism,
        und.count() // 50_000 + 1,
    ))
    und = und.repartition(n_parts, "u").localCheckpoint()
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    adj = und.join(deg, "u").localCheckpoint()  # (u, v, deg(u))
    ranks = deg.select(F.col("u").alias("node"), F.lit(1.0).alias("rank"))
    for _ in range(n_iter):
        contrib = (
            adj.join(ranks, adj.u == ranks.node)
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = contrib.select(
            "node", (F.lit(1.0 - damping) + F.lit(damping) * F.col("inflow")).alias("rank")
        ).localCheckpoint(eager=False)
    return ranks


def triangle_stats(edges: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Global triangle statistics of an undirected simple graph given
    as id-oriented edges (``src`` < ``dst``, no duplicates): one row
    ``(n_nodes, n_edges, n_wedges, n_triangles)``.

    The standard oriented wedge-close algorithm: with every edge
    stored low→high, each triangle {a<b<c} appears exactly once as
    the wedge (a,b)+(b,c) closed by (a,c). Two shuffle hash-joins on
    node ids — never an all-pairs stage; a vertex of degree d
    contributes only wedges through its higher-id neighbors. Wedge
    total Σ d(d−1)/2 is integer-exact. The orientation here is by id;
    the classical refinement orients by (degree, id) to bound the
    per-vertex fan-out on skewed graphs — same joins, different
    comparator — which matters when hub vertices exist (the dedup
    pair graphs this serves are hub-free by the shingle-df cap).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint()
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = e.join(
        e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
    ).select("a", "c")
    closed = wedges.join(e.select(F.col("a"), F.col("b").alias("c")), ["a", "c"])
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # handshake lemma: Σd = 2|E| — no separate edge-count action
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("bigint").alias("n_wedges"),
    )
    n_tri = closed.count()
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.lit(n_tri).cast("bigint").alias("n_triangles"),
    )
