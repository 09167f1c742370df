"""Graph algorithms over ``(vertices, edges)`` frames (SURVEY.md section 1:
the reference materializes its payment and witness graph for adjacency
analytics, reference README.md:2).

A vertex frame has an ``id`` column and an edge frame ``src``/``dst``
columns, of any key type: the catalog's integer nation keys and the
follower store's ``accounts/<addr>`` strings alike. Each algorithm is one
copy of its kernel:

=================================  ==========================  ===========================
kernel                             operator                    callers
=================================  ==========================  ===========================
symmetrize, distinct, lazy         :func:`undirected`          graph_label_propagation,
checkpoint                                                     graph_modularity,
                                                               graph_common_neighbors,
                                                               graph_resource_allocation,
                                                               graph_bfs_distance,
                                                               dedup.dup_clusters, the
                                                               back-links of
                                                               similarity.append_route_graph,
                                                               llm_ann_graph_persist and
                                                               stream_ann_ingest_replay
damped power iteration with a      :func:`pagerank`            graph_pagerank,
restart set                                                    graph_personalized_pagerank
synchronous min-label rounds       :func:`label_propagation`   graph_label_propagation,
                                                               graph_modularity
Newman modularity per community    :func:`modularity`          graph_modularity
common-neighbour wedge join        :func:`common_neighbours`   graph_common_neighbors,
                                                               graph_resource_allocation
hub/authority rounds               :func:`hits`                graph_hits
multi-source frontier relaxation   :func:`bfs_distance`        graph_bfs_distance
bounded-round degree peel          :func:`k_core`              graph_k_core
two-edge path join                 :func:`two_hop`             graph_two_hop
three-edge cycle join              :func:`triangle_count`      graph_triangle_count
log2 out-degree histogram          :func:`degree_distribution` graph_degree_distribution
=================================  ==========================  ===========================

Settings no two callers set differently are module constants; the one
parameter is label propagation's round count (2 for communities, 1 for
the modularity readout).

Iterations join an O(V) vector (ranks, labels, distances, scores) to the
edge list. PageRank and label propagation leave the join strategy to
AQE: it broadcasts the vector while V is tiny and shuffle-joins on the
vertex id at a 100x-vertex graph, where an O(V) broadcast per iteration
would make the driver the bottleneck. HITS and BFS broadcast their
vector, the shape their entries pin. The one order-dependent float
reduction, PageRank's contribution sum, rounds to ``RANK_DP`` places in
every iteration, as the DuckDB oracles do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: PageRank damping factor
DAMPING = 0.85
#: teleport mass, 1 - DAMPING written out (1 - 0.85 is 0.15000000000000002)
TELEPORT = 0.15
#: PageRank power-iteration count
PAGERANK_ITERATIONS = 3
#: decimal places every PageRank iteration rounds to
RANK_DP = 12
#: hub/authority rounds from the all-ones start, unnormalized
HITS_ROUNDS = 2
#: BFS frontier expansions
BFS_DEPTH = 3
#: minimum degree to survive a k-core peel round
KCORE_K = 2
#: fixed k-core peel rounds; 16 covers the fixpoint with margin on the
#: catalog data (12 rounds at sf0.001, 7 at sf0.01, pinned by test)
KCORE_ROUNDS = 16
#: common_neighbours keeps pairs with at least this many shared
#: neighbours: the output-side twin of the shingle joins' hot-key cap
MIN_COMMON = 20


def undirected(edges: DataFrame) -> DataFrame:
    """Both orientations of every ``src``/``dst`` edge, once each. The
    result feeds several scans (every iteration, or degrees plus both
    sides of a self-join), so it is checkpointed lazily: the first job
    over it materializes it and later jobs read the blocks."""
    e = edges.select("src", "dst")
    return (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def pagerank(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """``(id, rank)`` after ``PAGERANK_ITERATIONS`` damped iterations from
    mass spread evenly over the restart set, the vertices whose boolean
    ``restart`` column is true; teleport lands on the restart set only.
    Global PageRank is every vertex restarting. Ranks are rounded to
    ``RANK_DP`` places."""
    n = float(vertices.filter(F.col("restart")).count())  # driver scalar
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    # every iteration scans the degree-annotated edges: materialize once
    ed = edges.join(deg, "src").localCheckpoint(eager=False)

    def on_restart(mass: float) -> Column:
        return F.when(F.col("restart"), F.lit(mass) / F.lit(n)).otherwise(F.lit(0.0))

    ranks = vertices.select("id", on_restart(1.0).alias("r"))
    for _ in range(PAGERANK_ITERATIONS):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["id"])
            .groupBy("dst")
            .agg(F.round(F.sum(F.col("r") / F.col("outd")), RANK_DP).alias("contrib"))
        )
        ranks = vertices.join(contrib, vertices["id"] == contrib["dst"], "left").select(
            vertices["id"],
            F.round(
                on_restart(TELEPORT)
                + F.lit(DAMPING) * F.coalesce(F.col("contrib"), F.lit(0.0)),
                RANK_DP,
            ).alias("r"),
        )
    return ranks.select("id", F.col("r").alias("rank"))


def label_propagation(vertices: DataFrame, edges: DataFrame, rounds: int) -> DataFrame:
    """``(id, label)`` after ``rounds`` synchronous rounds of the min-label
    rule from each vertex's own id: the ``src`` of edges takes the least
    label among their ``dst`` vertices, and a vertex with no out-edge
    keeps its label (pass :func:`undirected` edges for the usual
    neighbour rule). Deterministic, unlike the most-frequent-label rule,
    whose ties depend on evaluation order."""
    labels = vertices.select("id", F.col("id").alias("label"))
    for _ in range(rounds):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("label").alias("new_label"))
        )
        labels = labels.join(nbr, "id", "left").select(
            "id", F.coalesce("new_label", "label").alias("label")
        )
    return labels


def modularity(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Newman modularity terms of the ``(id, community)`` partition of the
    undirected ``edges`` (both orientations present): per community
    ``n_nodes``, intra-community edges ``e_intra``, degree sum ``d_tot``
    and ``q_term6`` = round-half-up(1e6 * (e_intra/m - (d_tot/2m)^2)),
    whose sum over communities is 1e6 * Q. Every input is an integer
    count and each term is fixed-pointed, so the readout sum is
    order-free."""
    m_df = edges.agg((F.count(F.lit(1)) / 2).cast("long").alias("m"))
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    cd = communities.join(deg, "id", "left").select(
        "id", "community", F.coalesce("d", F.lit(0)).alias("d")
    )
    a = cd.select(F.col("id").alias("src"), F.col("community").alias("ca"))
    b = cd.select(F.col("id").alias("dst"), F.col("community").alias("cb"))
    intra = (
        edges.join(a, "src")
        .join(b, "dst")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg((F.count(F.lit(1)) / 2).cast("long").alias("e_intra"))
    )
    per = (
        cd.groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("d_tot"))
        .join(F.broadcast(intra), "community", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_intra", F.lit(0)).cast("long").alias("e_intra"),
            F.col("d_tot").cast("long").alias("d_tot"),
            "m",
        )
    )
    frac = F.col("d_tot") / (2.0 * F.col("m"))
    q_term = F.col("e_intra") / F.col("m").cast("double") - frac * frac
    return per.select(
        "community",
        "n_nodes",
        "e_intra",
        "d_tot",
        F.floor(q_term * F.lit(1_000_000.0) + F.lit(0.5)).cast("long").alias("q_term6"),
    )


def common_neighbours(edges: DataFrame, *scores: Column) -> DataFrame:
    """Vertex pairs ``id_a < id_b`` of the undirected graph of ``edges``
    that share at least ``MIN_COMMON`` neighbours: ``(id_a, id_b,
    n_common, *scores, da, db)``. Each score is an aggregate over the
    pair's shared neighbours, whose rows carry the neighbour's degree as
    ``dn``; ``da`` and ``db`` are the pair's own degrees.

    The wedge join is the exploded-adjacency self-join of the shingle
    Jaccard (dedup.ngram_jaccard_pairs), keyed by the shared neighbour.
    The degrees are an O(V) frame, checkpointed once and broadcast to
    each of their three uses."""
    adj = undirected(edges).select(F.col("src").alias("id"), F.col("dst").alias("n"))
    deg = adj.groupBy("id").agg(F.count(F.lit(1)).alias("d")).localCheckpoint(eager=False)
    a, b = adj.alias("a"), adj.alias("b")
    dn = deg.select(F.col("id").alias("n"), F.col("d").alias("dn"))
    pairs = (
        a.join(b, (F.col("a.n") == F.col("b.n")) & (F.col("a.id") < F.col("b.id")))
        .join(F.broadcast(dn), F.col("a.n") == dn["n"])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"), *scores)
        .filter(F.col("n_common") >= MIN_COMMON)
    )
    da = deg.select(F.col("id").alias("id_a"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("id_b"), F.col("d").alias("db"))
    return pairs.join(F.broadcast(da), "id_a").join(F.broadcast(db), "id_b")


def hits(edges: DataFrame) -> DataFrame:
    """Kleinberg HITS over the directed ``edges``: ``(id, hub, auth)`` for
    every endpoint after ``HITS_ROUNDS`` rounds from the all-ones start.
    hub(u) sums auth over u's out-neighbours and auth(v) sums hub over v's
    in-neighbours. Unnormalized, so every score is an exact integer;
    normalization only rescales and would put a cross-engine sqrt inside
    the iteration."""
    e = edges.select("src", "dst").localCheckpoint(eager=False)

    def push(hub: DataFrame) -> DataFrame:
        return e.join(F.broadcast(hub), "src").groupBy("dst").agg(F.sum("h").alias("a"))

    hub = e.groupBy("src").agg(F.count(F.lit(1)).alias("h"))  # from auth = 1
    auth = push(hub)
    for _ in range(HITS_ROUNDS - 1):
        hub = e.join(F.broadcast(auth), "dst").groupBy("src").agg(F.sum("a").alias("h"))
        auth = push(hub)
    nodes = e.select(F.col("src").alias("id")).union(e.select(F.col("dst").alias("id"))).distinct()
    return (
        nodes.join(F.broadcast(hub.withColumnRenamed("src", "id")), "id", "left")
        .join(F.broadcast(auth.withColumnRenamed("dst", "id")), "id", "left")
        .select(
            "id",
            F.coalesce("h", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("a", F.lit(0)).cast("long").alias("auth"),
        )
    )


def bfs_distance(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """``(id, dist)``: hop count along ``edges`` from the nearest vertex of
    ``seeds`` (an ``id`` frame), for every vertex within ``BFS_DEPTH``
    hops. Unreached vertices are absent. Each round unions the distance
    vector with its one-hop relaxation and keeps the least distance per
    vertex: one scan of the edges joined to the broadcast vector."""
    d = seeds.select("id", F.lit(0).alias("dist"))
    for _ in range(BFS_DEPTH):
        relax = edges.join(F.broadcast(d), edges["src"] == d["id"]).select(
            F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist")
        )
        d = d.unionByName(relax).groupBy("id").agg(F.min("dist").alias("dist"))
    return d


def k_core(edges: DataFrame) -> DataFrame:
    """``(id, degree)`` of the vertices left after ``KCORE_ROUNDS`` rounds
    of removing every vertex of degree below ``KCORE_K`` from the
    symmetric ``edges`` (both orientations present). A round that removes
    nothing makes the rest no-ops, so the fixed round count equals the
    fixpoint whenever the peel converges early. The vertex set only
    shrinks; each round's edges are checkpointed eagerly, since they
    feed a degree aggregate and two semi-joins next round and would
    otherwise re-derive the whole peel's lineage."""
    edges = edges.localCheckpoint(eager=True)
    for _ in range(KCORE_ROUNDS):
        alive = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= KCORE_K)
            .select(F.col("src").alias("v"))
        )
        edges = (
            edges.join(alive, edges.src == alive.v, "left_semi")
            .join(alive, edges.dst == alive.v, "left_semi")
            .localCheckpoint(eager=True)
        )
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def two_hop(edges: DataFrame) -> DataFrame:
    """Paths ``hop0 -> hop1 -> hop2`` of two ``edges`` that do not return
    to their start, with ``weight`` the sum of the two edges' ``weight``."""
    a, b = edges.alias("a"), edges.alias("b")
    return a.join(
        b, (F.col("a.dst") == F.col("b.src")) & (F.col("a.src") != F.col("b.dst"))
    ).select(
        F.col("a.src").alias("hop0"),
        F.col("a.dst").alias("hop1"),
        F.col("b.dst").alias("hop2"),
        (F.col("a.weight") + F.col("b.weight")).alias("weight"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """One row, ``n_triangles``: the cycles ``x -> y -> z`` closed by an
    edge ``x -> z``. With every edge oriented ``src < dst`` each triangle
    counts once."""
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(e3, (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Log2-bucketed histogram of out-degrees: ``(deg_bucket, n_accounts,
    min_degree, max_degree)``. The bucket is the degree's bit length less
    one, never floor(log2(n)): log2 as log(n)/log(2) can land one ulp
    under an exact power of two, and engines would disagree on the
    bucket."""
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy((F.length(F.bin("degree")) - 1).cast("long").alias("deg_bucket")).agg(
        F.count(F.lit(1)).alias("n_accounts"),
        F.min("degree").alias("min_degree"),
        F.max("degree").alias("max_degree"),
    )
