"""Connected components over near-duplicate pair edges — the cluster
resolution step of corpus deduplication.

Pair generators (operators/dedup.py: MinHash-LSH, SimHash, n-gram
Jaccard, embedding cosine) emit EDGES (doc_i ~ doc_j). Deduplicating a
corpus needs the transitive closure of those edges: if a~b and b~c,
then {a,b,c} is ONE cluster and exactly one representative survives.
The reference has no analogue (its dedup is exact full-row distinct,
cds-transformation_v1.3.py:148-152); this is the scale path for the
LLM-pipeline extension.

Algorithm: iterative min-label propagation ("hash-to-min" family).
Every node starts labeled with itself; each round every node takes the
minimum label among itself and its neighbors; converged when no label
changes. Rounds = O(graph diameter) — near-dup clusters from blocking
are dense and shallow (diameter ≲ 3-4 in practice), so this beats the
O(log² n) star-contraction algorithms on constant factors while
staying fully shuffle-parallel: each round is one join edges⋈labels
(shuffle on node id, or broadcast when the frontier is small) + one
min-aggregation. Lineage is cut every round (operators/pin.cut_lineage
— reliable checkpoint() when a checkpoint dir is configured,
localCheckpoint otherwise) — without it the plan doubles per iteration
and the driver, not the data, becomes the bottleneck at scale. The
fixed, reused-every-round edge/node tables are corpus-scale, so they
are pinned once as "corpus" (operators/pin.pin_stage): the same
cut_lineage, which lands on durable storage whenever a checkpoint dir
is set.

At 100 TB: edges from LSH blocking are ≪ corpus size (bands bound the
candidate set); labels is one row per node *that appears in an edge*,
also ≪ corpus. The final keep-canonical filter is a broadcast or
shuffle anti-join of the corpus against the non-canonical member set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.operators.pin import cut_lineage, pin_stage


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
) -> DataFrame:
    """Resolve undirected ``edges`` into components.

    Returns ``(node, component)`` for every node incident to an edge;
    ``component`` is the minimum node id reachable from ``node``.
    Raises if not converged within ``max_iter`` rounds (pathological
    chain graphs — raise ``max_iter`` or pre-contract such inputs).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.filter(F.col("a") != F.col("b")).distinct()
    # corpus-scale, reused every round: a corpus pin (cut_lineage)
    sym = pin_stage(sym, "corpus")

    labels = cut_lineage(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    for _ in range(max_iter):
        # min label among each node's neighbors this round
        neigh = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = cut_lineage(
            labels.join(neigh, labels["node"] == neigh["node2"], "left")
            .select(
                "node",
                "label",
                F.least("label", F.coalesce("nlabel", "label")).alias("new_label"),
            )
        )
        changed = stepped.filter(F.col("new_label") != F.col("label")).limit(1).count()
        labels = stepped.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
        labels = cut_lineage(labels)
    raise RuntimeError(f"connected_components: not converged in {max_iter} rounds")


def dedup_keep_canonical(
    df: DataFrame,
    id_col: str,
    components: DataFrame,
) -> DataFrame:
    """Drop every clustered row except its component's canonical
    (minimum-id) member. Rows in no component pass through untouched —
    an anti-join against the non-canonical member set, so the corpus
    is scanned once and nothing is collected to the driver."""
    losers = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def triangle_count(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Count triangles per node over an undirected graph; returns
    ``(node, triangles)`` for nodes in ≥1 triangle.

    Uses the degree-ordered (compact-forward) formulation: orient every
    edge from its lower-degree endpoint to its higher-degree one (ties
    by id), so each triangle is enumerated exactly once and — the scale
    property — per-node work is bounded by its ORIENTED out-degree,
    which is O(sqrt(m)) even for power-law hubs. A naive
    edge⋈edge⋈edge self-join explodes on hub nodes; orientation is what
    makes triangle listing feasible on skewed graphs at 100 TB.

    r15 (guide §2.3): the wedge build (oriented ⋈ oriented on the
    middle node) + closure probe materialized every WEDGE — on dense
    co-occurrence graphs wedge rows dwarf both edges and triangles
    (qs108's sf0.1 graph: 215k edges, 29M oriented wedges, 13.4M
    triangles). Instead each
    oriented edge (u,v) intersects the two out-neighbor LISTS:
    w ∈ Nout(u) ∩ Nout(v) ⟺ triangle {u,v,w} with w orientation-max,
    so one native array_intersect per edge enumerates each triangle
    once and the only generated rows are 2E size-counts + one row per
    triangle for the apex attribution. Out-lists stay O(sqrt(m)) by
    the orientation bound, so no hub-row hazard; measured at sf0.1
    (qs108) warm 2.4 s → 1.5 s.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # r15: `sym` is referenced by the degree aggregate AND the oriented
    # join, and each union arm re-evaluates the caller's whole edge
    # pipeline — pure-plan diamonds re-ran it up to 4x (guide §2.4).
    # Materialize it once, spread across a defaultParallelism-derived
    # partition count so the wedge/closure stages never inherit an
    # AQE-coalesced single partition (guide §2.5). r16: the edge set
    # is corpus-scale, so the pins are "corpus" (operators/pin.py:
    # cut_lineage, a reliable checkpoint that survives executor loss
    # when a checkpoint dir is set) instead of bounded localCheckpoints.
    npart = edges.sparkSession.sparkContext.defaultParallelism * 4
    sym = pin_stage(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(npart, "a"),
        "corpus",
    )
    deg = sym.groupBy(F.col("a").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    # total orientation order: key(n) = (deg(n), n); orient a->b iff
    # key(a) < key(b). The wedge endpoints must be compared in the SAME
    # order (not raw id) or the closing edge's direction is missed.
    da = deg.select(F.col("n").alias("a"), F.struct("d", "n").alias("ka"))
    db = deg.select(F.col("n").alias("b"), F.struct("d", "n").alias("kb"))
    oriented = pin_stage(
        sym.join(da, "a")
        .join(db, "b")
        .filter(F.col("ka") < F.col("kb"))
        .select("a", "b"),
        "corpus",  # reused: out-lists AND intersect
    )
    # Oriented out-neighbor lists — bounded by oriented out-degree.
    outn = pin_stage(
        oriented.groupBy(F.col("a").alias("n")).agg(
            F.collect_set("b").alias("ob")
        ),
        "corpus",  # read by both sides of the attach
    )
    # Pin the per-edge intersect stage: the checkpointed `oriented` is
    # tiny on disk, so AQE would coalesce the ENSURE_REQUIREMENTS
    # exchange to one partition and the whole intersect+explode would
    # run in a single task (guide §2.5 — same class as qs285's probe
    # exchange). The orientation-max endpoint of an edge may have no
    # out-edges, hence the left join + empty-array coalesce.
    iw = (
        oriented.repartition(npart, "a", "b")
        .join(outn.select(F.col("n").alias("a"), F.col("ob").alias("na")), "a")
        .join(
            outn.select(F.col("n").alias("b"), F.col("ob").alias("nb")),
            "b",
            "left",
        )
        .select(
            "a",
            "b",
            F.array_intersect(
                F.col("na"),
                # typed empty array (node type is generic): slice of na
                F.coalesce(F.col("nb"), F.expr("slice(na, 1, 0)")),
            ).alias("ws"),
        )
    )
    # Per-edge contributions: both endpoints see |ws| triangles, each
    # apex w one — every triangle counted exactly once per member node.
    per_node = (
        iw.select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(
                            F.col("a").alias("node"),
                            F.size("ws").alias("t"),
                        ),
                        F.struct(
                            F.col("b").alias("node"),
                            F.size("ws").alias("t"),
                        ),
                    ),
                    F.expr(
                        "transform(ws, w -> struct(w AS node, 1 AS t))"
                    ),
                )
            ).alias("x")
        )
        .select(F.col("x.node").alias("node"), F.col("x.t").alias("t"))
        .groupBy("node")
        .agg(F.sum("t").alias("triangles"))
        .filter(F.col("triangles") > 0)
    )
    return per_node


def bfs_levels(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: DataFrame,
    max_hops: int = 3,
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed, bounded by
    ``max_hops``. Returns ``(node, level)`` for every reached node
    (seeds at level 0). ``seeds`` must expose a ``node`` column.

    Frontier expansion is one equi-join per hop (frontier ⋈ edges,
    shuffled on the node id) followed by an anti-join against the
    visited set, so a node is emitted exactly once at its first
    (= minimum) level — the relational statement of textbook BFS.
    Lineage is cut per hop (operators/pin.cut_lineage), same as
    connected_components/pagerank above: constant-size plan, constant
    driver overhead per round regardless of hop count. Visited and
    frontier are one narrow row per node — ≪ corpus at 100 TB, and the
    anti-join shuffles only the frontier's neighbor ids."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # corpus-scale, reused every hop: a corpus pin (cut_lineage)
    e = pin_stage(e.filter(F.col("a") != F.col("b")).distinct(), "corpus")

    visited = cut_lineage(
        seeds.select(F.col("node"))
        .distinct()
        .withColumn("level", F.lit(0).cast("long"))
    )
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        nxt = cut_lineage(
            frontier.join(e, frontier["node"] == e["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        if nxt.isEmpty():
            break
        visited = cut_lineage(
            visited.unionByName(
                nxt.withColumn("level", F.lit(hop).cast("long"))
            )
        )
        frontier = nxt.select("node")
    return visited


def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int = 15,
    damping: float = 0.85,
    directed: bool = True,
) -> DataFrame:
    """Power-iteration PageRank over ``edges``; returns ``(node,
    rank)`` with ranks summing to 1.

    Same execution skeleton as connected_components: each round is one
    join (edges ⋈ ranks, shuffled on node id) + one per-destination
    sum, lineage cut per round (operators/pin.cut_lineage) so the
    plan — and driver overhead — stays constant across iterations.
    Dangling-node mass (out-degree 0) is redistributed uniformly; it
    is computed as a one-row aggregate attached by broadcast cross
    join, not a driver collect. Fixed iteration count (no convergence
    probe): power iteration's error decays as damping^k, so k=15 gives
    ~0.85^15 ≈ 0.09% — the standard trade for a deterministic plan."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        e = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # corpus-scale, reused every round: a corpus pin (cut_lineage)
    e = pin_stage(e.filter(F.col("a") != F.col("b")).distinct(), "corpus")

    nodes = pin_stage(
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct(),
        "corpus",
    )
    n_nodes = nodes.count()
    outdeg = e.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    ranks = cut_lineage(nodes.withColumn("rank", F.lit(1.0 / n_nodes)))

    for _ in range(iterations):
        with_deg = ranks.join(outdeg, "node", "left")
        dangling = with_deg.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        contribs = (
            e.join(with_deg.filter(F.col("deg").isNotNull()),
                   e["a"] == F.col("node"))
            .select(F.col("b").alias("node2"),
                    (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node2")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = cut_lineage(
            nodes.join(contribs, nodes["node"] == contribs["node2"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + damping
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dmass") / n_nodes
                    )
                ).alias("rank"),
            )
        )
    return ranks


def weighted_sssp(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 4,
) -> DataFrame:
    """Bounded single-source shortest path over positively-weighted
    edges — Bellman-Ford as relational relaxation: each round joins
    the current distance table to the edge list and keeps the
    per-node MIN, so after k rounds ``d(node)`` is the cheapest path
    using ≤ k+1 edges. The weighted extension of :func:`bfs_levels`
    (hop counts are the all-weights-equal special case).

    Returns ``(node, d)`` for every node reachable from ``source``
    within ``max_hops`` edges (the source itself appears only if a
    cycle returns to it — consistent with path enumeration, and
    harmless under positive weights).

    Scale: the distance table is one narrow row per reached node —
    ≪ corpus; each round is one equi-join shuffled on the node id
    plus a min-aggregate, and lineage is cut per round with an eager
    cut (constant-size plan regardless of hop count, the
    connected_components/pagerank pattern). Relaxation is the scale
    formulation: the oracle's path ENUMERATION is exponential in
    hops, the relaxation is linear."""
    # corpus-scale, reused every round: a corpus pin (cut_lineage)
    e = pin_stage(
        edges.select(
            F.col(src).alias("a"),
            F.col(dst).alias("b"),
            F.col(weight).alias("w"),
        ),
        "corpus",
    )
    dist = cut_lineage(
        e.filter(F.col("a") == source)
        .groupBy(F.col("b").alias("node"))
        .agg(F.min("w").alias("d"))
    )
    for _ in range(max_hops - 1):
        ext = (
            dist.join(e, dist["node"] == e["a"])
            .select(F.col("b").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        )
        dist = cut_lineage(
            dist.unionByName(ext)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
    return dist


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007): every node starts in its own community and each
    round adopts the most frequent label among its neighbors —
    unlike :func:`connected_components` (which asks "is there ANY
    path") this asks "where is the DENSITY", so two cliques joined
    by one bridge edge resolve into two communities while components
    would merge them.

    Determinism (the part naive LPA lacks): rounds are synchronous
    (all nodes update from the same snapshot), the neighbor-label
    vote breaks ties by (count DESC, label ASC) via one max-struct
    aggregate, and the round count is fixed — identical input gives
    identical communities on any partitioning, every run.

    Scale: one round = edges ⋈ labels (node-keyed, the labels side
    one narrow row per node) + a (node, label) count + a max-struct
    argmax — two shuffles per round, lineage cut per round with an
    per-round cut (the connected_components pattern). Label
    skew is bounded: vote rows per node = its degree.

    Returns (node, community)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # corpus-scale, reused every round: a corpus pin (cut_lineage)
    e = pin_stage(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        "corpus",
    )
    labels = cut_lineage(
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("community", F.col("node"))
    )
    for _ in range(iterations):
        votes = (
            e.join(labels, e["b"] == labels["node"])
            .select(F.col("a").alias("n"), F.col("community").alias("l"))
            .groupBy("n", "l")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = cut_lineage(
            votes.groupBy("n")
            .agg(
                F.max_by(
                    F.col("l"), F.struct(F.col("c"), (-F.col("l")).alias("_t"))
                ).alias("community")
            )
            .select(F.col("n").alias("node"), "community")
        )
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node has degree
    ≥ k, computed by iterative peeling — drop all nodes with degree
    < k, recompute degrees (removals lower neighbors' degrees),
    repeat to a fixed point. The standard dense-substructure filter
    (spam rings, engaged-community extraction) one tier up from
    degree thresholds: a node with 100 low-quality neighbors
    survives a degree filter but not the core.

    Deterministic by construction (each round removes a SET, no
    ordering anywhere). Each round is a degree aggregate + a semi
    join of the edge list against surviving nodes — edges shrink
    monotonically, lineage cut per round; rounds ≤ nodes peeled, in
    practice a handful (``max_rounds`` is a backstop, and the
    fixed point is detected by count, which each round computes
    anyway for the degree aggregate).

    Returns the surviving ``(node, degree)`` rows (degree within
    the core)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # per-round peeled frame (reassigned below): iterative cut
    e = cut_lineage(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    for _ in range(max_rounds):
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("a")
        n_before = deg.count()
        n_after = keep.count()
        if n_after == n_before:
            return deg.select(F.col("a").alias("node"), "degree")
        if n_after == 0:
            return deg.select(
                F.col("a").alias("node"), "degree"
            ).limit(0)
        e = cut_lineage(
            e.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
        )
    deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
    return deg.filter(F.col("degree") >= k).select(
        F.col("a").alias("node"), "degree"
    )
