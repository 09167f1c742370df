"""The graph operators (operators/graph_algorithms.py) on a store-shaped
graph: vertices keyed by ``accounts/<addr>`` strings and edges taken from
payment-like ``_from``/``_to`` rows, as the follower writes them. Each
operator is checked against a pure-Python computation of its algorithm;
the catalog entries run the same operators on the sf nation graph."""

from __future__ import annotations

from collections import deque

import pytest

from helium_arango_etl_lite_spark.operators import graph_algorithms as ga

#: payments between accounts: a 4-cycle with a chord and a chain
#: 3 -> 4 -> 5 -> 6 hanging off it, a triangle, and a 4-clique; accounts 6
#: and 13 pay nobody, and the vertex frame adds an account with no payment
ADDRS = [f"acct{i:02d}" for i in range(14)]
PAYMENTS = [
    (0, 1), (1, 2), (2, 3), (3, 0), (0, 2),
    (3, 4), (4, 5), (5, 6),
    (7, 8), (8, 9), (9, 7),
    (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
]


def _acct(i: int) -> str:
    return f"accounts/{ADDRS[i]}"


VERTICES = [_acct(i) for i in range(len(ADDRS))] + ["accounts/idle"]
EDGES = [(_acct(a), _acct(b)) for a, b in PAYMENTS]
UNDIRECTED = sorted(set(EDGES) | {(b, a) for a, b in EDGES})


@pytest.fixture(scope="module")
def graph(spark):
    payments = spark.createDataFrame(EDGES, "_from string, _to string")
    edges = payments.select(payments["_from"].alias("src"), payments["_to"].alias("dst"))
    vertices = spark.createDataFrame([(v,) for v in VERTICES], "id string")
    return vertices, edges


def _adjacency(edges):
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    return out


def test_undirected_holds_each_orientation_once(graph):
    _, edges = graph
    got = [tuple(r) for r in ga.undirected(edges.union(edges)).collect()]
    assert sorted(got) == UNDIRECTED


@pytest.mark.parametrize("restart", [set(VERTICES), {_acct(0), _acct(7)}])
def test_pagerank_matches_power_iteration(spark, graph, restart):
    vertices, edges = graph
    frame = vertices.withColumn("restart", vertices["id"].isin(*restart))
    got = {r["id"]: r["rank"] for r in ga.pagerank(frame, edges).collect()}

    n = len(restart)
    outd = {s: len(ds) for s, ds in _adjacency(EDGES).items()}
    rank = {v: (1.0 / n if v in restart else 0.0) for v in VERTICES}
    for _ in range(ga.PAGERANK_ITERATIONS):
        contrib = {}
        for s, d in EDGES:
            contrib[d] = contrib.get(d, 0.0) + rank[s] / outd[s]
        rank = {
            v: round(
                (ga.TELEPORT / n if v in restart else 0.0)
                + ga.DAMPING * round(contrib.get(v, 0.0), ga.RANK_DP),
                ga.RANK_DP,
            )
            for v in VERTICES
        }
    assert set(got) == set(VERTICES)
    for v in VERTICES:
        assert got[v] == pytest.approx(rank[v], abs=1e-11), v


def test_label_propagation_matches_min_label_rounds(graph):
    vertices, edges = graph
    rounds = 2
    got = {
        r["id"]: r["label"]
        for r in ga.label_propagation(vertices, ga.undirected(edges), rounds).collect()
    }
    nbrs = _adjacency(UNDIRECTED)
    label = {v: v for v in VERTICES}
    for _ in range(rounds):
        label = {v: min((label[u] for u in nbrs.get(v, ())), default=label[v]) for v in VERTICES}
    assert got == label


def test_hits_matches_the_recurrence(graph):
    _, edges = graph
    got = {r["id"]: (r["hub"], r["auth"]) for r in ga.hits(edges).collect()}
    nodes = {v for e in EDGES for v in e}
    hub = {v: sum(1 for s, _ in EDGES if s == v) for v in nodes}  # auth0 = 1
    for _ in range(ga.HITS_ROUNDS - 1):
        auth = {v: sum(hub[s] for s, d in EDGES if d == v) for v in nodes}
        hub = {v: sum(auth[d] for s, d in EDGES if s == v) for v in nodes}
    auth = {v: sum(hub[s] for s, d in EDGES if d == v) for v in nodes}
    assert got == {v: (hub[v], auth[v]) for v in nodes}


def test_bfs_distance_matches_bfs_layers(spark, graph):
    _, edges = graph
    seeds = [_acct(0), _acct(7)]
    seed_frame = spark.createDataFrame([(s,) for s in seeds], "id string")
    got = {r["id"]: r["dist"] for r in ga.bfs_distance(edges, seed_frame).collect()}
    nbrs = _adjacency(EDGES)
    dist = {s: 0 for s in seeds}
    queue = deque(seeds)
    while queue:
        v = queue.popleft()
        if dist[v] == ga.BFS_DEPTH:
            continue
        for u in sorted(nbrs.get(v, ())):
            if u not in dist:
                dist[u] = dist[v] + 1
                queue.append(u)
    assert got == dist
    assert _acct(5) not in got  # four hops from the nearest seed


def test_k_core_matches_the_peel_fixpoint(spark, graph):
    got = {
        r["id"]: r["degree"]
        for r in ga.k_core(spark.createDataFrame(UNDIRECTED, "src string, dst string")).collect()
    }
    nbrs = _adjacency(UNDIRECTED)
    alive = set(nbrs)
    while True:
        dead = {v for v in alive if len(nbrs[v] & alive) < ga.KCORE_K}
        if not dead:
            break
        alive -= dead
    assert got == {v: len(nbrs[v] & alive) for v in alive}
    assert _acct(4) not in got and _acct(3) in got  # the chain peels away
