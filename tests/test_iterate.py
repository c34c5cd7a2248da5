"""plans.iterate.fixpoint: label propagation stays off the Spark 4
statistics cliff on a long-diameter input, and every ported loop fails
loudly, naming itself, when its round cap is below what its input
needs."""

import random

import pytest

from ophois_spark.operators.components import connected_components, kcore, ktruss
from ophois_spark.operators.contraction import (
    remove_under_delta_links,
    remove_under_delta_nodes,
)
from ophois_spark.operators.mst import minimum_spanning_forest
from ophois_spark.operators.polyline import rdp_simplify
from ophois_spark.operators.scc import strongly_connected_components
from ophois_spark.operators.webgraph import pagerank_converged, pagerank_float
from ophois_spark.sources.graph_io import graph_from_tuples
from tests.test_barrier import _size_bits

# a 40-node path whose ids are shuffled (seed 1), plus a 3-node path and
# an isolated node: min labels creep along the long path one hop at a
# time where the id order defeats pointer jumping
PATH_ROUNDS = 23


def _shuffled_path():
    path = [f"p{i:02d}" for i in range(40)]
    random.Random(1).shuffle(path)
    links = list(zip(path, path[1:])) + [("q0", "q1"), ("q1", "q2")]
    ids = path + ["q0", "q1", "q2", "r0"]
    return ids, [(min(a, b), max(a, b)) for a, b in links]


def _bfs_labels(ids, links):
    adj = {i: set() for i in ids}
    for a, b in links:
        adj[a].add(b)
        adj[b].add(a)
    labels = {}
    for root in ids:
        if root in labels:
            continue
        comp, todo = {root}, [root]
        while todo:
            for n in adj[todo.pop()] - comp:
                comp.add(n)
                todo.append(n)
        labels.update(dict.fromkeys(comp, min(comp)))
    return labels


def _path_graph(spark):
    ids, links = _shuffled_path()
    return graph_from_tuples(spark, [(i, "48.0", "2.0") for i in ids], links)


def test_label_propagation_long_path_stays_off_stats_cliff(spark):
    """PATH_ROUNDS rounds suffice (and, in the cap test below,
    PATH_ROUNDS - 1 do not); the labels equal a BFS; and the result's
    estimated size stays bounded — with plain localCheckpoint the
    estimate's bit length doubles every round and a round past ~15
    takes minutes."""
    ids, links = _shuffled_path()
    labels = connected_components(_path_graph(spark), max_iter=PATH_ROUNDS)
    assert {r["id"]: r["comp"] for r in labels.collect()} == _bfs_labels(ids, links)
    assert _size_bits(labels) <= 128, _size_bits(labels)


def _street(spark, coords, links):
    return graph_from_tuples(spark, [(i, lat, "2.0") for i, lat in coords], links)


def _cc(spark):
    connected_components(_path_graph(spark), max_iter=PATH_ROUNDS - 1)


def _kcore(spark):
    # chain peeling at k=2: {2,3,4}, {3}, {} — three rounds
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long")
    kcore(None, e, 2, max_rounds=2)


def _ktruss(spark):
    # triangle strip: round one keeps the spine (support 2), round two
    # finds it triangle-free and empties it
    pairs = [(i, i + 1) for i in range(1, 8)] + [(i, i + 2) for i in range(1, 7)]
    ktruss(spark.createDataFrame(pairs, "src long, dst long"), 4, max_rounds=1)


def _h4(spark):
    # a short 4-node path: one node (the smallest id) contracts per round
    g = _street(spark, [("a", "48.0"), ("b", "48.00001"), ("c", "48.00002"), ("d", "48.00003")],
                [("a", "b"), ("b", "c"), ("c", "d")])
    remove_under_delta_nodes(g, 10.0, max_iter=3)


def _h6(spark):
    # a-b contracts first; the minted midpoint is still within delta of c
    g = _street(spark, [("a", "48.0"), ("b", "48.00001"), ("c", "48.00003")], [("a", "b"), ("b", "c")])
    remove_under_delta_links(g, 10.0, max_iter=1)


def _link_graph(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)], "src long, dst long")
    return nodes, edges


def _pr_int(spark):
    pagerank_converged(*_link_graph(spark), max_rounds=2)


def _pr_float(spark):
    pagerank_float(*_link_graph(spark), max_rounds=2)


def _mst_edges(spark, weights):
    ids = [str(i) for i in range(1, len(weights) + 2)]
    nodes = spark.createDataFrame([(i,) for i in ids], "id string")
    e = spark.createDataFrame(
        [(a, b, w) for a, b, w in zip(ids, ids[1:], weights)], "src string, dst string, w long"
    )
    return nodes, e


def _boruvka(spark):
    # alternating weights: pairs merge in round 1, the pairs in round 2
    minimum_spanning_forest(*_mst_edges(spark, [1, 5, 1, 5, 1]), max_rounds=1)


def _pointer_doubling(spark):
    # increasing weights: successor chain 9→8→…→1 needs 3 jumps + 1 check
    minimum_spanning_forest(*_mst_edges(spark, list(range(1, 9))), max_jump=3)


def _scc(spark, edges, **caps):
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    strongly_connected_components(nodes, spark.createDataFrame(edges, "src long, dst long"), **caps)


def _scc_trim(spark):
    # a DAG chain loses its two ends per trim level: four levels
    _scc(spark, [(i, i + 1) for i in range(1, 8)], max_trim=2)


def _scc_prop(spark):
    # one 8-cycle: min labels travel around it one hop per round
    _scc(spark, [(i, i % 8 + 1) for i in range(1, 9)], max_prop=3)


def _scc_peel(spark):
    # cycle {5,6} feeds cycle {1,2}: the second peel settles {5,6}
    _scc(spark, [(1, 2), (2, 1), (5, 6), (6, 5), (5, 1)], max_rounds=1)


def _rdp(spark):
    # zigzag: each split exposes new out-of-tolerance vertices
    pts = [(1, s, s * 10, (-1) ** s * 100 * s) for s in range(9)]
    rdp_simplify(spark.createDataFrame(pts, "way_id long, seq long, x long, y long"), 1, max_rounds=1)


CAP_CASES = [
    (_cc, "connected_components"),
    (_kcore, "kcore"),
    (_ktruss, "ktruss"),
    (_h4, "remove_under_delta_nodes"),
    (_h6, "remove_under_delta_links"),
    (_pr_int, "integer pagerank"),
    (_pr_float, "float pagerank"),
    (_boruvka, "Boruvka"),
    (_pointer_doubling, "pointer doubling"),
    (_scc_trim, "trim"),
    (_scc_prop, "min-label propagation"),
    (_scc_peel, "SCC peeling"),
    (_rdp, "rdp"),
]


@pytest.mark.parametrize("run, name", CAP_CASES, ids=[name for _, name in CAP_CASES])
def test_loop_raises_at_round_cap(spark, run, name):
    with pytest.raises(RuntimeError, match=f"^{name} did not converge in "):
        run(spark)
