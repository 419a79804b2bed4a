"""T4: large-star/small-star CC vs a pure-Python union-find oracle
(property-style over random edge sets)."""

import numpy as np

from fastlink_spark.operators.cluster import connected_components
from fastlink_spark.plans.materialize import disk_only


def _uf_oracle(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical label = min of component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(mem) for r, mem in comp.items() for n in mem}


def _check(spark, edges, nodes):
    e = spark.createDataFrame(list(edges) or [(0, 0)], "u long, v long")
    nd = spark.createDataFrame([(n,) for n in nodes], "id long")
    got = {r["id"]: r["cluster_id"] for r in connected_components(e, nd).collect()}
    exp = _uf_oracle(edges, nodes)
    assert got == exp


def test_simple_chain(spark):
    _check(spark, [(1, 2), (2, 3), (3, 4), (10, 11)], list(range(1, 13)))


def test_random_graphs(spark):
    rng = np.random.default_rng(17)
    for trial in range(3):
        n = int(rng.integers(30, 120))
        m = int(rng.integers(10, 200))
        edges = {tuple(sorted((int(a), int(b)))) for a, b in rng.integers(0, n, (m, 2)) if a != b}
        _check(spark, sorted(edges), list(range(n)))


def test_adversarial_long_chain(spark):
    # path graph: worst case for naive propagation; large/small-star
    # must converge in O(log n) rounds
    n = 256
    edges = [(i, i + 1) for i in range(n - 1)]
    e = spark.createDataFrame(edges, "u long, v long")
    labels = connected_components(e).collect()
    assert {r["cluster_id"] for r in labels} == {0}
    assert len(labels) == n


def test_duplicate_and_reversed_edges(spark):
    _check(spark, [(2, 1), (1, 2), (2, 3), (3, 2), (5, 5)], [1, 2, 3, 5, 9])


def _labels(spark, edges, nodes=None, **kw):
    e = spark.createDataFrame(edges, "u long, v long")
    nd = None if nodes is None else spark.createDataFrame([(n,) for n in nodes], "id long")
    return {r["id"]: r["cluster_id"] for r in connected_components(e, nd, **kw).collect()}


def _recording(cuts):
    """Materializer that appends each 'cc_round' cut to ``cuts``."""

    def mat(df, name):
        out = disk_only(df, name)
        if name == "cc_round":
            cuts.append(out)
        return out

    return mat


def _star_forest(rng, ids, n_stars):
    """Leaf -> center edges over disjoint stars whose center is a random
    member (not the component minimum): already a star forest."""
    edges = []
    for group in np.array_split(rng.permutation(ids), n_stars):
        center, leaves = int(group[0]), [int(x) for x in group[1:]]
        edges += [(leaf, center) for leaf in leaves]
    return edges


def test_graph_shapes_match_union_find(spark):
    """One graph per seed with disjoint parts of every shape: long chains
    with shuffled ids, stars with random centers, a dense random part,
    duplicate and reversed edges, and self-loops (one node has only a
    self-loop). Labels equal a driver-side union-find, with a node
    universe (seed 5) and without one (seed 11)."""
    for seed in (5, 11):
        rng = np.random.default_rng(seed)
        ids = iter(rng.permutation(100_000).tolist())

        def take(k):
            return [next(ids) for _ in range(k)]

        edges = []
        for length in (90, 33):
            c = take(length)
            edges += list(zip(c, c[1:]))
        edges += _star_forest(rng, take(60), 4)
        star = take(12)
        edges += [(star[0], x) for x in star[1:]]
        dense = take(40)
        edges += [
            (dense[a], dense[b]) for a, b in rng.integers(0, 40, (60, 2)) if a != b
        ]
        d = take(6)
        edges += [
            (d[0], d[1]), (d[1], d[0]), (d[0], d[1]),
            (d[2], d[3]), (d[3], d[2]), (d[3], d[3]),
            (d[4], d[4]),
        ]
        in_edges = {x for e in edges for x in e}
        nodes = sorted(in_edges | set(take(3)))
        exp = _uf_oracle(edges, nodes)
        if seed == 5:
            assert _labels(spark, edges, nodes) == exp
        else:
            assert _labels(spark, edges) == {n: exp[n] for n in in_edges}


def test_star_forest_input_converges_in_one_round(spark):
    """An input that is already a star forest (centers are not the
    component minimum, so the first round re-roots every star) stops
    after that first round: its cut is a star forest, a fixpoint, and no
    second round is run to confirm it."""
    rng = np.random.default_rng(3)
    edges = _star_forest(rng, list(range(500, 620)), 9)
    rounds = []
    got = _labels(spark, edges, materializer=_recording(rounds))
    assert len(rounds) == 1
    assert got == _uf_oracle(edges, sorted({x for e in edges for x in e}))


def test_chain_rounds_stop_at_star_forest(spark):
    """A long chain needs several productive rounds; the loop ends on the
    first round whose cut is a star forest (the last productive one),
    so no round repeats the previous round's edge set."""
    edges = [(i, i + 1) for i in range(64)]
    cuts = []
    got = _labels(spark, edges, materializer=_recording(cuts))
    fps = [sorted(map(tuple, e.collect())) for e in cuts]
    assert set(got.values()) == {0} and len(got) == 65
    assert fps[-1] == [(i, 0) for i in range(1, 65)]
    assert all(a != b for a, b in zip(fps, fps[1:]))
