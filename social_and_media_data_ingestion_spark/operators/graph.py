"""Iterative graph analytics on edge DataFrames.

Connected components lives in operators/dedup.py (it grew out of the
near-dup clustering path); this module holds the general-purpose
algorithms. Everything is expressed as joins + partial-combinable
aggregates per iteration — the plan shape that scales: one shuffle per
iteration keyed on the node id, lineage kept flat by periodic
localCheckpoint truncation (the same trade documented for connected
components in operators/dedup.py) so long runs don't grow an unbounded
Catalyst tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, out_degree) from a directed edge list."""
    return edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("out_degree")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    round_dp: int = 10,
    checkpoint_every: int = 1,
    redistribute_dangling: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, pr) after `iters` synchronous PageRank rounds from a
    uniform start: pr = (1-d)/N + d * (sum_in(pr_src / outdeg_src) + D)
    where D is the redistributed dangling mass (see below).

    `edges` is a directed (src, dst) list; callers wanting undirected
    semantics pass both directions. Nodes are the UNION of sources and
    destinations, so destination-only (dangling) nodes hold rank too.
    Dangling handling is selectable:

    - redistribute_dangling=False (default): contributions from dangling
      nodes are simply dropped — the classic simplification; exact for
      bidirectional edge lists, where no node is dangling.
    - redistribute_dangling=True: textbook PageRank — each round the
      total rank sitting on dangling nodes is spread uniformly over all
      N nodes (D = dangling_mass / N). Costs one extra scalar aggregate
      per round (a 1-row frame crossJoined back in — no driver collect,
      no extra pass over the edges).

    Per-iteration ranks are rounded to `round_dp` decimals so the
    result is reproducible across engines (float summation order
    differs; 1e-10 rounding absorbs it — the lloyd_centroids trick).
    Each iteration costs ONE shuffle of the contribution aggregate keyed
    on dst; the degree/rank joins re-use that partitioning. N and the
    iteration count are plan literals — no driver-side data collect.

    Lineage: every `checkpoint_every` rounds the rank frame (N rows —
    small next to the edges) is localCheckpoint-ed, truncating the plan
    so 20+-iteration runs keep a bounded Catalyst tree instead of an
    iters-deep unrolled join stack (0 disables truncation). The default
    is EVERY round — the GraphX-Pregel cadence: the rank frame must
    shuffle each round anyway, the pin costs one comparable write, and
    the materialized stats let AQE broadcast the rank side of the
    contribution join (measured 2x: 16.6 s -> 8.7 s for 12 rounds at
    sf0.1 vs checkpointing every 5).

    Checkpointing medium (same contract as connected_components):
    by default pins use localCheckpoint — executor-stored blocks with
    NO lineage, so on a cluster one executor loss mid-run fails the job
    unrecoverably. Pass checkpoint_dir (an HDFS/object-store path) to
    use reliable `DataFrame.checkpoint` for every pin instead, which
    survives executor death at the cost of a FS round-trip per pin.
    Two operational caveats with reliable checkpoints (they apply to
    every Spark job, not just this operator): `setCheckpointDir` is
    SESSION-GLOBAL, so passing `checkpoint_dir` redirects any ambient
    configuration for the rest of the session (explicit caller intent
    wins); and Spark does NOT delete checkpoint files when the frame is
    dereferenced unless
    `spark.cleaner.referenceTracking.cleanCheckpoints=true` — a
    20-iteration run otherwise leaves ~20 rank-frame snapshots (N-row
    scale, small) in the store for the caller/cluster GC to reap.
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _pin(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # e / deg / nodes are joined EVERY round: pin them eagerly once.
    # A lazy plan re-derives a shared subtree per consumer path (RDDs
    # recompute diamond parents unless persisted), so an unpinned edge
    # frame re-executes the caller's edge builder (e.g. the co-purchase
    # window over lineitem) ~3x per iteration — measured 28 s for 12
    # iterations at sf0.1, ~3 s pinned. Same fix as triangle_count /
    # connected_components; the pinned frames are edge- and node-scale,
    # small next to the corpus that built them.
    e = _pin(edges.select(F.col("src").alias("s"), F.col("dst").alias("t")))
    nodes = _pin(
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("t").alias("node")))
        .distinct()
    )
    deg = _pin(
        e.groupBy(F.col("s").alias("d_node")).agg(F.count("*").alias("deg"))
    )
    n_nodes = nodes.count()  # scalar: one number to the driver, like a codebook
    if n_nodes == 0:
        # empty edge list -> no nodes, no rank: a typed empty frame
        # (node keeps the src column's type) instead of a 1/0 teleport
        # (r7 empty-tables probe)
        return e.select(F.col("s").alias("node"), F.lit(0.0).alias("pr"))
    pr = nodes.select(F.col("node").alias("p_node"), F.lit(1.0 / n_nodes).alias("pr"))
    teleport = (1.0 - damping) / n_nodes
    for i in range(iters):
        if redistribute_dangling:
            # rank sitting on nodes with no out-edges, as a 1-row frame:
            # broadcast back in so the whole round stays one lazy plan
            dang = (
                pr.join(deg, pr.p_node == deg.d_node, "left_anti")
                .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang_mass"))
            )
            extra = F.col("dang_mass") / F.lit(float(n_nodes))
        contrib = (
            e.join(pr, e.s == F.col("p_node"))
            .join(deg, F.col("d_node") == e.s)
            .select(F.col("t").alias("node"), (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c_sum"))
        )
        base = nodes.join(contrib, "node", "left")
        if redistribute_dangling:
            base = base.crossJoin(F.broadcast(dang))
            gain = F.coalesce("c_sum", F.lit(0.0)) + extra
        else:
            gain = F.coalesce("c_sum", F.lit(0.0))
        pr = base.select(
            F.col("node").alias("p_node"),
            F.round(F.lit(teleport) + F.lit(damping) * gain, round_dp).alias("pr"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            pr = _pin(pr)
    return pr.select(F.col("p_node").alias("node"), "pr")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count + wedge count + clustering coefficient of an
    UNDIRECTED simple graph given as (src, dst) pairs (any orientation,
    self-loops and duplicates tolerated — canonicalized here).

    Scale spelling: the degree-ordered edge iterator. Every edge is
    oriented from the lower-(degree, id)-ranked endpoint to the higher,
    which bounds any node's out-neighborhood by O(sqrt(m)); wedges are
    generated per out-neighborhood self-join and closed against the
    oriented edge set. Three hash-partitioned equi-joins total — the
    standard distributed formulation (cf. Suri & Vassilvitskii, WWW'11,
    "Counting Triangles and the Curse of the Last Reducer") — with no
    quadratic hub blowup, unlike the naive undirected wedge join.

    Returns ONE lazy one-row plan: the triangle count crossJoined with
    the wedge sum, clustering computed in the plan — no driver action,
    no driver-side math. On an empty graph the wedge sum and the 3t/w
    ratio are NULL, not 0 (SQL engines agree on SUM over no rows; r7
    empty-tables probe).
    """
    # the canonical edge set feeds THREE consumers (degrees, wedge join,
    # closing probe) — pin the caller's edges so their (possibly
    # expensive) derivation runs once. eager=False is NOT lazy under
    # AQE: building the checkpoint RDD runs every shuffle-map stage of
    # the caller's lineage at build time (four build jobs for
    # graph_triangle_suppliers' lineitem edges at sf0.01); only its last
    # stage waits for the action. The pin sits BELOW the distinct, so
    # an edge frame with no exchange (e.g. an empty one) runs no job at
    # build time, and the three consumers' identical distinct exchanges
    # are reused inside the one plan. Unpinned, the plan re-optimizes a
    # copy of the caller's lineage per consumer after every adaptive
    # stage (measured ~1.5 s vs ~1.0 s per call at sf0.01, 4 cores).
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .localCheckpoint(eager=False)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orient: lower (degree, id) -> higher (degree, id)
    ed = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("o")
        )
        .select("o.u", "o.v")
    )
    w1 = ed.select(F.col("u"), F.col("v").alias("x"))
    w2 = ed.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    closing = e.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"]).agg(F.count("*").alias("n_triangles"))
    n_wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    ratio = F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")
    return tri.crossJoin(n_wedges).select(
        "n_triangles",
        "n_wedges",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(F.floor(ratio * 1_000_000 + 0.5) / 1_000_000)
        .alias("clustering"),
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Per-round (round, n_nodes, n_edges) survivor stats of iterative
    k-core peeling on an UNDIRECTED simple graph: each round drops every
    node whose CURRENT degree is < k, plus its incident edges. `rounds`
    fixed rounds here (the registry setting); a cluster run loops to a
    fixpoint with the identical per-round cost.

    Scale spelling: one degree hash-agg + two semi-joins per round on an
    edge set that only SHRINKS; each round's survivor frame is
    localCheckpoint-materialized so round r+1 reads pinned blocks
    instead of replaying rounds 1..r (the same lineage-truncation trade
    as connected components in operators/dedup.py). The per-round
    (n_nodes, n_edges) counts are bounded driver scalars.
    """
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    stats: list[tuple[int, int, int]] = []
    for r in range(1, rounds + 1):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        e = (
            e.join(keep.select(F.col("n").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("n").alias("b")), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        stats.append((r, keep.count(), e.count()))
    spark = edges.sparkSession
    return spark.createDataFrame(
        stats, "round bigint, n_nodes bigint, n_edges bigint"
    )
