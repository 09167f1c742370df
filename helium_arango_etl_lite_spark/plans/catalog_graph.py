"""Graph catalog: the adjacency analytics the reference's payment and
witness graph exists to feed (reference README.md:2, SURVEY.md section 1).

Each entry builds its graph from the sf tables and hands it to the
operators of ``operators/graph_algorithms.py``, which hold the one copy of
every algorithm:

* the nation money-flow graph (:func:`_money_flow_edges`, customer nation
  -> supplier nation) feeds PageRank, personalized PageRank, label
  propagation, modularity, common neighbours, resource allocation, HITS
  and BFS distance;
* the mutual-3-NN embedding graph feeds the k-core peel;
* lineitem's supplier -> part volumes feed the two-hop paths, the
  co-supply graph the triangle count, and the orders per customer the
  degree histogram.

Cross-engine exactness (the parity check hashes values): PageRank
rounds each iteration's contribution sum to 12 dp, the one
order-dependent float reduction, and the final rank to 8 dp; HITS, BFS,
k-core, modularity and resource allocation are integer arithmetic;
Jaccard rounds to 6 dp and two-hop volumes to 2 dp. Each DuckDB oracle
unrolls the iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph_algorithms as ga
from ..operators.llm import similarity
from .catalog_similarity import _pairs_sql, _ranked_sql
from .registry import load_table, register

#: personalized PageRank's restart set: the nations of this region
_PPR_SEED_REGION = 0


def _money_flow_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed nation-level money-flow graph: customer nation -> supplier
    nation, one distinct edge per observed pair (the nation-rollup of the
    reference's account->account payment edges, follower.py:148-155)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select(
            c["c_nationkey"].alias("src").cast("int"),
            s["s_nationkey"].alias("dst").cast("int"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The money-flow graph's vertices: ``(id, n_regionkey)``."""
    return load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("id"), "n_regionkey"
    )


# the money-flow edges as an oracle CTE body, shared by the oracles below
_FLOW_SQL = """
         SELECT DISTINCT c.c_nationkey::INTEGER AS src,
                         s.s_nationkey::INTEGER AS dst
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE c.c_nationkey <> s.s_nationkey)"""

_PR_EDGES_SQL = "edges AS (" + _FLOW_SQL


# ---------------------------------------------------------------------------
# PageRank, global and personalized
# ---------------------------------------------------------------------------


def _pagerank_oracle() -> str:
    """Three unrolled PageRank iterations as chained CTEs (the DuckDB twin
    of the Spark loop in graph_pagerank; same 12-dp per-iteration round)."""
    parts = [
        "WITH " + _PR_EDGES_SQL,
        "nodes AS (SELECT n_nationkey::INTEGER AS id FROM nation)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, count(*) AS outd FROM edges GROUP BY 1)",
        "r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS r FROM nodes)",
    ]
    prev = "r0"
    for i in (1, 2, 3):
        parts.append(
            f"c{i} AS (SELECT e.dst AS id, "
            f"round(sum({prev}.r / deg.outd), 12) AS contrib "
            f"FROM edges e JOIN {prev} ON e.src = {prev}.id "
            "JOIN deg ON e.src = deg.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT n.id, "
            f"round(0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c{i}.contrib, 0.0), 12) AS r "
            f"FROM nodes n LEFT JOIN c{i} ON n.id = c{i}.id)"
        )
        prev = f"r{i}"
    return (
        ",\n".join(parts)
        + "\nSELECT id AS nation_id, round(r, 8) AS pagerank FROM r3"
    )


@register(
    "graph_pagerank",
    _pagerank_oracle(),
    doc="PageRank (3 iterations, d=0.85) over the nation-level money-flow "
        "graph — the centrality analytic the reference's payment graph "
        "exists to feed (reference README.md:2). The expensive stage is "
        "the distinct-edge extraction over the fact tables (scales with "
        "data); the iteration joins the rank vector against the edge "
        "list with no broadcast hint — AQE broadcasts it while V is "
        "tiny, shuffle-joins on the node id at a 100x-vertex graph "
        "(the scale-safe shape). Contribution "
        "sums round to 12 dp per iteration (the one order-dependent "
        "float reduction), final rank to 8 dp.",
    tags=("graph", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every nation restarts: global PageRank
    nodes = _nations(spark, sf_dir).withColumn("restart", F.lit(True))
    ranks = ga.pagerank(nodes, _money_flow_edges(spark, sf_dir))
    return ranks.select(
        F.col("id").alias("nation_id"), F.round("rank", 8).alias("pagerank")
    )


def _ppr_oracle() -> str:
    parts = [
        "WITH " + _PR_EDGES_SQL,
        "nodes AS (SELECT n_nationkey::INTEGER AS id, n_regionkey FROM nation)",
        f"seeds AS (SELECT id FROM nodes WHERE n_regionkey = {_PPR_SEED_REGION})",
        "ns AS (SELECT count(*) AS n FROM seeds)",
        "deg AS (SELECT src, count(*) AS outd FROM edges GROUP BY 1)",
        "r0 AS (SELECT n.id, CASE WHEN s.id IS NOT NULL "
        "THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS r "
        "FROM nodes n LEFT JOIN seeds s ON n.id = s.id)",
    ]
    prev = "r0"
    for i in range(1, ga.PAGERANK_ITERATIONS + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS id, "
            f"round(sum({prev}.r / deg.outd), 12) AS contrib "
            f"FROM edges e JOIN {prev} ON e.src = {prev}.id "
            "JOIN deg ON e.src = deg.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT n.id, round("
            f"CASE WHEN s.id IS NOT NULL THEN 0.15 / (SELECT n FROM ns) "
            f"ELSE 0.0 END + {ga.DAMPING} * coalesce(c{i}.contrib, 0.0), 12) AS r "
            f"FROM nodes n LEFT JOIN seeds s ON n.id = s.id "
            f"LEFT JOIN c{i} ON n.id = c{i}.id)"
        )
        prev = f"r{i}"
    return (
        ",\n".join(parts)
        + f"\nSELECT id AS nation_id, round(r, 8) AS ppr FROM r{ga.PAGERANK_ITERATIONS}"
    )


@register(
    "graph_personalized_pagerank",
    _ppr_oracle(),
    doc=f"Personalized PageRank ({ga.PAGERANK_ITERATIONS} iterations, d={ga.DAMPING}) "
        "over the nation-level money-flow graph, restart mass "
        f"concentrated on the region-{_PPR_SEED_REGION} nations — "
        "'centrality AS SEEN FROM this seed set', the "
        "related-accounts / local-community analytic the reference's "
        "payment graph exists to feed (reference README.md:2), vs "
        "graph_pagerank's global stationary view. Identical "
        "scale shape to graph_pagerank: the fact-table distinct-edge "
        "extraction is the only data-sized stage (checkpointed once); "
        "each iteration joins the rank vector to the edge list with no "
        "broadcast hint (AQE broadcasts while V is tiny; shuffle-join "
        "at a 100x-vertex graph). Teleport hits ONLY seeds — "
        "non-seed nodes keep pure propagated mass, so rank leaks "
        "outward from the seed region through trade edges. Per-"
        "iteration contribution sums round at 12 dp (the one order-"
        "dependent float reduction), final at 8 dp; the oracle unrolls "
        "every iteration.",
    tags=("graph", "iterative"),
)
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    nodes = _nations(spark, sf_dir).withColumn(
        "restart", F.col("n_regionkey") == _PPR_SEED_REGION
    )
    ranks = ga.pagerank(nodes, _money_flow_edges(spark, sf_dir))
    return ranks.select(
        F.col("id").alias("nation_id"), F.round("rank", 8).alias("ppr")
    )


# ---------------------------------------------------------------------------
# communities: min-label propagation and its modularity
# ---------------------------------------------------------------------------


def _label_prop_oracle() -> str:
    """Two unrolled label-propagation iterations (min-label tie-break) on
    the undirected nation money-flow graph — DuckDB twin of the Spark
    loop in graph_label_propagation."""
    return "WITH edges0 AS (" + _FLOW_SQL + """,
       edges AS (SELECT src, dst FROM edges0
                 UNION SELECT dst, src FROM edges0),
       nodes AS (SELECT n_nationkey::INTEGER AS id FROM nation),
       l0 AS (SELECT id, id AS lbl FROM nodes),
       n1 AS (SELECT e.src AS id, min(l0.lbl) AS new_lbl
              FROM edges e JOIN l0 ON e.dst = l0.id GROUP BY 1),
       l1 AS (SELECT nodes.id, coalesce(n1.new_lbl, l0.lbl) AS lbl
              FROM nodes JOIN l0 USING (id)
              LEFT JOIN n1 ON nodes.id = n1.id),
       n2 AS (SELECT e.src AS id, min(l1.lbl) AS new_lbl
              FROM edges e JOIN l1 ON e.dst = l1.id GROUP BY 1),
       l2 AS (SELECT nodes.id, coalesce(n2.new_lbl, l1.lbl) AS lbl
              FROM nodes JOIN l1 USING (id)
              LEFT JOIN n2 ON nodes.id = n2.id)
       SELECT id AS nation_id, lbl AS community FROM l2"""


@register(
    "graph_label_propagation",
    _label_prop_oracle(),
    doc="Community detection by label propagation (2 synchronous "
        "iterations, min-label rule — deterministic, unlike the "
        "frequency rule whose ties are engine-order dependent) over the "
        "undirected nation money-flow graph. Same iterative shape as "
        "graph_pagerank: the edge extraction scales with the fact data "
        "and is materialized once; each iteration joins the label "
        "vector to the edge list (no broadcast hint — AQE picks "
        "broadcast at nation scale, node-id shuffle join at 100x) and "
        "takes a min per node — shuffle keys are node ids, O(V) rows.",
    tags=("graph", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = ga.undirected(_money_flow_edges(spark, sf_dir))
    labels = ga.label_propagation(_nations(spark, sf_dir), edges, rounds=2)
    return labels.select(
        F.col("id").alias("nation_id"), F.col("label").alias("community")
    )


_MODULARITY_SQL = """
WITH edges0 AS (
     SELECT DISTINCT c.c_nationkey::INTEGER AS src,
                     s.s_nationkey::INTEGER AS dst
     FROM lineitem l
     JOIN orders o ON l.l_orderkey = o.o_orderkey
     JOIN customer c ON o.o_custkey = c.c_custkey
     JOIN supplier s ON l.l_suppkey = s.s_suppkey
     WHERE c.c_nationkey <> s.s_nationkey),
edges AS (SELECT src, dst FROM edges0
          UNION SELECT dst, src FROM edges0),
nodes AS (SELECT n_nationkey::INTEGER AS id FROM nation),
l0 AS (SELECT id, id AS lbl FROM nodes),
n1 AS (SELECT e.src AS id, min(l0.lbl) AS new_lbl
       FROM edges e JOIN l0 ON e.dst = l0.id GROUP BY 1),
l1 AS (SELECT nodes.id, coalesce(n1.new_lbl, l0.lbl) AS lbl
       FROM nodes JOIN l0 USING (id)
       LEFT JOIN n1 ON nodes.id = n1.id),
m AS (SELECT (count(*) / 2)::BIGINT AS m FROM edges),
deg AS (SELECT src AS id, count(*)::BIGINT AS d FROM edges GROUP BY 1),
comm AS (SELECT l1.id, l1.lbl AS community,
                coalesce(deg.d, 0)::BIGINT AS d
         FROM l1 LEFT JOIN deg USING (id)),
intra AS (SELECT a.community, (count(*) / 2)::BIGINT AS e_intra
          FROM edges
          JOIN comm a ON edges.src = a.id
          JOIN comm b ON edges.dst = b.id AND a.community = b.community
          GROUP BY 1)
SELECT comm.community,
       count(*)::BIGINT AS n_nodes,
       coalesce(min(intra.e_intra), 0)::BIGINT AS e_intra,
       sum(comm.d)::BIGINT AS d_tot,
       floor((coalesce(min(intra.e_intra), 0) / m.m::DOUBLE
              - (sum(comm.d) / (2.0 * m.m))
                * (sum(comm.d) / (2.0 * m.m))) * 1000000
             + 0.5)::BIGINT AS q_term6
FROM comm
CROSS JOIN m
LEFT JOIN intra ON comm.community = intra.community
GROUP BY comm.community, m.m"""


@register(
    "graph_modularity",
    _MODULARITY_SQL,
    doc="Newman modularity of the 1-iteration min-label communities "
        "(graph_label_propagation's deterministic rule, one round — two "
        "rounds collapse this graph to one community and Q degenerates "
        "to 0, a trivial verification surface): "
        "per community, Q_c = e_c/m - (d_c/2m)^2 over the undirected "
        "distinct money-flow edge set — sum(q_term6)/1e6 is the global "
        "Q that says whether detected structure beats the random-graph "
        "null model. All inputs (intra-edge counts, degree sums, m) "
        "are BIGINTs from edge-keyed partial aggs; each community's "
        "term is fixed-pointed, so the readout sum is order-free. The "
        "intra-edge count joins the label vector to the edge list "
        "twice on node ids — O(V)-row join sides, the "
        "graph_pagerank/label-prop shuffle discipline.",
    tags=("graph", "analytics"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = ga.undirected(_money_flow_edges(spark, sf_dir))
    # ONE min-label round: two collapse the driver graph to a single
    # community (Q identically 0, a trivial hash surface); one keeps 2
    # communities, so the oracle pins the modularity arithmetic
    labels = ga.label_propagation(_nations(spark, sf_dir), edges, rounds=1)
    return ga.modularity(edges, labels.withColumnRenamed("label", "community"))


# ---------------------------------------------------------------------------
# link prediction: common neighbours (Jaccard) and resource allocation
# ---------------------------------------------------------------------------


@register(
    "graph_common_neighbors",
    """WITH edges0 AS (
         SELECT DISTINCT c.c_nationkey::INTEGER AS src,
                         s.s_nationkey::INTEGER AS dst
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE c.c_nationkey <> s.s_nationkey),
       nbr AS (SELECT src AS id, dst AS n FROM edges0
               UNION SELECT dst AS id, src AS n FROM edges0),
       deg AS (SELECT id, count(*) AS d FROM nbr GROUP BY 1),
       common AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                  FROM nbr a JOIN nbr b ON a.n = b.n AND a.id < b.id
                  GROUP BY 1, 2)
       SELECT id_a, id_b, n_common,
              round(n_common::DOUBLE
                    / (da.d + db.d - n_common), 6) AS jaccard
       FROM common
       JOIN deg da ON da.id = id_a
       JOIN deg db ON db.id = id_b
       WHERE n_common >= 20""",
    doc="Structural node similarity: common-neighbor count and neighbor "
        "Jaccard for nation pairs in the undirected money-flow graph — "
        "link prediction / entity-resolution shape on the reference's "
        "payment graph (README.md:2 adjacency analytics). Same "
        "exploded-adjacency self-join pattern as the shingle Jaccard "
        "(dedup.ngram_jaccard_pairs), so the same hot-key cap applies "
        "when a hub vertex appears: the n_common >= 20 filter here is "
        "that dial's output-side twin.",
    tags=("graph", "similarity"),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ga.common_neighbours(_money_flow_edges(spark, sf_dir))
    jacc = F.col("n_common").cast("double") / (
        F.col("da") + F.col("db") - F.col("n_common")
    )
    return pairs.select("id_a", "id_b", "n_common", F.round(jacc, 6).alias("jaccard"))


_RA_SQL = "WITH edges0 AS (" + _FLOW_SQL + """,
       nbr AS (SELECT src AS id, dst AS n FROM edges0
               UNION SELECT dst AS id, src AS n FROM edges0),
       deg AS (SELECT id, count(*) AS d FROM nbr GROUP BY 1)
SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_common,
       sum(1000000 // dn.d)::BIGINT AS ra6
FROM nbr a
JOIN nbr b ON a.n = b.n AND a.id < b.id
JOIN deg dn ON dn.id = a.n
GROUP BY 1, 2
HAVING count(*) >= 20"""


@register(
    "graph_resource_allocation",
    _RA_SQL,
    doc="Resource-Allocation link-prediction index over the undirected "
        "money-flow graph: RA(a,b) = sum over common neighbors w of "
        "1/deg(w) (Zhou, Lu & Zhang 2009) — the degree-penalized "
        "refinement of graph_common_neighbors, where a shared hub "
        "contributes almost nothing but a shared low-degree neighbor "
        "is strong evidence. Each neighbor's contribution is the exact "
        "integer 1e6 // deg (integer division on both engines — no "
        "transcendental, which is also why RA is implemented instead "
        "of Adamic-Adar's 1/ln(deg)). Same exploded-adjacency "
        "self-join + broadcast degree join as the Jaccard entry; the "
        "shared n_common >= 20 output cap is the hub-key dial.",
    tags=("graph", "similarity"),
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ra6 = F.sum(F.expr("1000000 div dn")).cast("long").alias("ra6")
    pairs = ga.common_neighbours(_money_flow_edges(spark, sf_dir), ra6)
    return pairs.select("id_a", "id_b", "n_common", "ra6")


# ---------------------------------------------------------------------------
# HITS and BFS distance: iterate-by-broadcast over the money-flow edges
# ---------------------------------------------------------------------------

_HITS_SQL = f"""WITH {_PR_EDGES_SQL},
h1 AS (SELECT src AS id, count(*)::BIGINT AS h FROM edges GROUP BY 1),
a1 AS (SELECT e.dst AS id, sum(h1.h)::BIGINT AS a
       FROM edges e JOIN h1 ON h1.id = e.src GROUP BY 1),
h2 AS (SELECT e.src AS id, sum(a1.a)::BIGINT AS h
       FROM edges e JOIN a1 ON a1.id = e.dst GROUP BY 1),
a2 AS (SELECT e.dst AS id, sum(h2.h)::BIGINT AS a
       FROM edges e JOIN h2 ON h2.id = e.src GROUP BY 1),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)
SELECT n.id, coalesce(h2.h, 0)::BIGINT AS hub2,
       coalesce(a2.a, 0)::BIGINT AS auth2
FROM nodes n
LEFT JOIN h2 ON h2.id = n.id
LEFT JOIN a2 ON a2.id = n.id"""


@register(
    "graph_hits",
    _HITS_SQL,
    doc="Kleinberg HITS over the directed money-flow graph: hub(u) = "
        "sum of auth over u's out-neighbors, auth(v) = sum of hub over "
        "v's in-neighbors, TWO full rounds from the all-ones start, "
        "UNNORMALIZED so every score is an exact BIGINT (the usual "
        "L2 normalization only rescales — rank order is identical — "
        "and would put a cross-engine sqrt inside the iteration). "
        "Each half-round is one edges-scan joined to the broadcast "
        "node-score vector (25 nations), the same "
        "iterate-by-broadcast shape as graph_pagerank: at 100 TB the "
        "edge list streams, only the O(nodes) score vector "
        "round-trips. The oracle unrolls both rounds.",
    tags=("graph", "analytics"),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = ga.hits(_money_flow_edges(spark, sf_dir))
    return scores.select(
        "id", F.col("hub").alias("hub2"), F.col("auth").alias("auth2")
    )


_BFS_SQL = "WITH edges0 AS (" + _FLOW_SQL + """,
nbr AS (SELECT src AS a, dst AS b FROM edges0
        UNION SELECT dst AS a, src AS b FROM edges0),
nodes AS (SELECT DISTINCT a AS id FROM nbr),
d0 AS (SELECT id, 0 AS dist FROM nodes WHERE id % 7 = 0),
d1 AS (SELECT id, min(dist) AS dist FROM (
         SELECT id, dist FROM d0
         UNION ALL
         SELECT n.b AS id, d0.dist + 1 FROM nbr n JOIN d0 ON d0.id = n.a
       ) GROUP BY id),
d2 AS (SELECT id, min(dist) AS dist FROM (
         SELECT id, dist FROM d1
         UNION ALL
         SELECT n.b AS id, d1.dist + 1 FROM nbr n JOIN d1 ON d1.id = n.a
       ) GROUP BY id),
d3 AS (SELECT id, min(dist) AS dist FROM (
         SELECT id, dist FROM d2
         UNION ALL
         SELECT n.b AS id, d2.dist + 1 FROM nbr n JOIN d2 ON d2.id = n.a
       ) GROUP BY id)
SELECT id::BIGINT AS id, dist::BIGINT AS dist FROM d3"""


@register(
    "graph_bfs_distance",
    _BFS_SQL,
    doc=f"Multi-source BFS distance (hop count to the nearest seed "
        "nation, seeds = id % 7 == 0, depth <= {0}) over the "
        "undirected money-flow graph: each round unions the current "
        "distance vector with its one-hop relaxation and keeps the "
        "min per node — three unrolled rounds of ONE edges-scan "
        "joined to the broadcast O(nodes) distance vector, the "
        "bounded-depth form of the iterate-by-broadcast discipline "
        "pagerank and HITS use (and the general traversal primitive "
        "graph_two_hop special-cases). Unreached-within-depth nodes "
        "are absent, not NULL — the readout is exactly the reached "
        "set. At 100 TB the edge list streams each round; only the "
        "distance vector round-trips.".format(ga.BFS_DEPTH),
    tags=("graph", "iterative"),
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = ga.undirected(_money_flow_edges(spark, sf_dir))
    seeds = edges.select(F.col("src").alias("id")).distinct().filter(F.col("id") % 7 == 0)
    dist = ga.bfs_distance(edges, seeds)
    return dist.select(
        F.col("id").cast("long").alias("id"),
        F.col("dist").cast("long").alias("dist"),
    )


# ---------------------------------------------------------------------------
# k-core peel of the mutual-kNN embedding graph (bounded rounds)
# ---------------------------------------------------------------------------

# mutual-kNN edge list (same construction as llm_semantic_clusters'
# oracle, k=3): both orientations of every mutual pair are present, so
# degree = count(*) grouped by src. Every CTE in the unrolled peel chain
# is MATERIALIZED: DuckDB inlines single-reference CTEs, and an inlined
# e{i} -> e{i-1} -> ... chain re-evaluates the all-pairs similarity join
# a number of times exponential in the round count (observed: OOM).
_MUTUAL_CTE = f"""
ev_ AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p_ AS ({_pairs_sql('ev_')}),
r_ AS ({_ranked_sql('p_')}),
knn_ AS MATERIALIZED (SELECT qid, nid FROM r_ WHERE rank <= 3),
e0 AS MATERIALIZED (SELECT a.qid AS src, a.nid AS dst
       FROM knn_ a JOIN knn_ b ON a.qid = b.nid AND a.nid = b.qid)"""

def _kcore_sql() -> str:
    parts = ["WITH " + _MUTUAL_CTE]
    prev = "e0"
    for i in range(1, ga.KCORE_ROUNDS + 1):
        parts.append(
            f""",
a{i} AS MATERIALIZED (SELECT src AS v FROM {prev} GROUP BY src
         HAVING count(*) >= {ga.KCORE_K}),
e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e
         JOIN a{i} x ON e.src = x.v JOIN a{i} y ON e.dst = y.v)"""
        )
        prev = f"e{i}"
    parts.append(
        f""",
df_ AS (SELECT src, count(*)::BIGINT AS c FROM {prev} GROUP BY src)
SELECT ev_.vec_id,
       coalesce(df_.c, 0)::BIGINT AS core_degree,
       (df_.c IS NOT NULL) AS in_core
FROM ev_ LEFT JOIN df_ ON ev_.vec_id = df_.src"""
    )
    return "".join(parts)


@register(
    "graph_k_core",
    _kcore_sql(),
    doc=f"k-core peel (k={ga.KCORE_K}, {ga.KCORE_ROUNDS} fixed rounds) of the "
        "mutual-3-NN embedding graph: repeatedly remove vertices of "
        "degree < k, reporting who survives and their residual degree. "
        "Mutual-kNN already guards against hub chaining; the k-core on "
        "top is the standard density filter — vectors that survive sit "
        "in regions dense enough that several neighbours ALSO rank each "
        "other highly, the population worth semantic clustering or "
        "curriculum up-weighting (chains and isolated pairs peel away). "
        "DETERMINISM: both engines run exactly the same bounded round "
        "count — no fixpoint-detection asymmetry can diverge them; a "
        "round that removes nothing makes the rest no-ops, so bounded "
        "rounds EQUAL the fixpoint whenever the peel converges early "
        "(pinned by test on the driver data). PLAN: each round is one "
        "degree partial-agg plus two semi-joins against a vertex set "
        "that only SHRINKS, on eagerly-checkpointed edges (the "
        "dup_clusters lesson: multi-consumer first jobs re-derive lazy "
        "lineage); at 100 TB the kNN stage routes through the bucketed "
        "LSH join exactly as llm_semantic_clusters argues.",
    tags=("graph", "iterative", "llm"),
)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    kn = similarity.knn_join(emb, k=3).select("qid", "nid")
    kn = kn.localCheckpoint(eager=False)  # consumed by both mutual sides
    mutual = (
        kn.alias("a")
        .join(
            kn.alias("b"),
            (F.col("a.qid") == F.col("b.nid"))
            & (F.col("a.nid") == F.col("b.qid")),
        )
        .select(F.col("a.qid").alias("src"), F.col("a.nid").alias("dst"))
    )
    core = ga.k_core(mutual)
    return emb.select("vec_id").join(core, emb.vec_id == core.id, "left").select(
        "vec_id",
        F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("core_degree"),
        F.col("degree").isNotNull().alias("in_core"),
    )


# ---------------------------------------------------------------------------
# the lineitem graphs: two-hop paths, co-supply triangles, degree histogram
# ---------------------------------------------------------------------------


@register(
    "graph_two_hop",
    """WITH vol AS (
         SELECT l_suppkey AS src, l_partkey AS dst,
                round(sum(l_extendedprice), 2) AS amt
         FROM lineitem GROUP BY 1, 2),
       top_edges AS (SELECT * FROM vol ORDER BY amt DESC, src, dst LIMIT 200)
       SELECT a.src AS hop0, a.dst AS hop1, b.dst AS hop2,
              round(a.amt + b.amt, 2) AS path_volume
       FROM top_edges a JOIN top_edges b ON a.dst = b.src AND a.src <> b.dst""",
    doc="Two-hop graph traversal (money flow A->B->C) — the adjacency "
        "analytics the reference's graph schema exists to serve "
        "(reference README.md:2, AQL traversals). Aggregate the edge "
        "volumes, keep the top slice (deterministic tie-break), self-join "
        "hop1=hop2-src; both hop sides broadcast at this selectivity, and "
        "at 100 TB the same plan co-partitions on the hop key.",
    tags=("graph", "join"),
)
def graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    vol = (
        li.groupBy(F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("weight"))
    )
    top = vol.orderBy(F.desc("weight"), F.asc("src"), F.asc("dst")).limit(200)
    return ga.two_hop(top).select(
        "hop0", "hop1", "hop2", F.round("weight", 2).alias("path_volume")
    )


@register(
    "graph_triangle_count",
    """WITH ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
       pairs AS (SELECT a.sk AS src, b.sk AS dst, count(*) AS shared
                 FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
                 GROUP BY 1, 2),
       top_e AS (SELECT src, dst FROM pairs
                 ORDER BY shared DESC, src, dst LIMIT 200)
       SELECT count(*) AS n_triangles
       FROM top_e e1
       JOIN top_e e2 ON e1.dst = e2.src
       JOIN top_e e3 ON e3.src = e1.src AND e3.dst = e2.dst""",
    doc="Triangle count on the strongest co-supply edges (suppliers "
        "linked by shared parts, canonical src<dst so each triangle "
        "counts once) — the clustering-coefficient analytic over the "
        "graph the reference materializes. The scale-bearing stage is "
        "the shared-part pair aggregation (one shuffle on part); the "
        "top-200 edge set broadcasts into both triangle joins. At full "
        "scale, swap LIMIT for a weight threshold and order each join "
        "by degree (node-iterator) to bound intermediate size.",
    tags=("graph", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    a, b = ps.alias("a"), ps.alias("b")
    pairs = (
        a.join(b, (F.col("a.pk") == F.col("b.pk")) & (F.col("a.sk") < F.col("b.sk")))
        .groupBy(F.col("a.sk").alias("src"), F.col("b.sk").alias("dst"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    top = pairs.orderBy(F.desc("shared"), F.asc("src"), F.asc("dst")).limit(200)
    return ga.triangle_count(top)


@register(
    "graph_degree_distribution",
    """WITH deg AS (SELECT o_custkey AS account, count(*) AS degree
                    FROM orders GROUP BY 1)
       SELECT length(bin(degree)) - 1 AS deg_bucket,
              count(*) AS n_accounts,
              min(degree) AS min_degree,
              max(degree) AS max_degree
       FROM deg GROUP BY 1""",
    doc="Degree distribution of the payment graph (log2-bucketed histogram "
        "over per-account edge counts) — the first skew diagnostic to run "
        "before joining or salting a power-law graph like the reference's "
        "payment network (follower.py:149-152 edge endpoints). Two "
        "partial-agg shuffles, the second over ~64 bucket keys. The bucket "
        "is bit-length (length(bin(n)) - 1), never floor(log2(n)): log2 "
        "computed as log(n)/log(2) can land 1 ulp under an exact power of "
        "two and floor into the wrong bucket, and the two engines would "
        "disagree; integer bit-length is exact in both.",
    tags=("graph", "agg"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return ga.degree_distribution(
        o.select(F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("dst"))
    )
