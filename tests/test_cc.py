"""Connected components vs a plain-Python union-find oracle."""

import random

import pytest

from phonlp_spark.pipeline import cc
from phonlp_spark.pipeline.cc import canonical_map, connected_components

from tests.spark_fixtures import spark  # noqa: F401


def union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _check(spark, edges, extra_nodes=(), small=0):  # noqa: F811
    # small=0 forces the DISTRIBUTED large-star/small-star path;
    # small=None keeps cc.SMALL_GRAPH_EDGES (the driver fast path).
    nodes = sorted({x for e in edges for x in e} | set(extra_nodes))
    oracle = union_find(edges, nodes)
    edf = spark.createDataFrame(edges or [("_", "_")], "src string, dst string")
    if not edges:
        edf = edf.limit(0)
    ndf = spark.createDataFrame([(n,) for n in nodes], "node string")
    with pytest.MonkeyPatch.context() as mp:
        if small is not None:
            mp.setattr(cc, "SMALL_GRAPH_EDGES", small)
        got = {r["node"]: r["component"]
               for r in canonical_map(edf, ndf).collect()}
    assert got == oracle


def test_chain(spark):  # noqa: F811
    _check(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])


def test_star_and_isolated(spark):  # noqa: F811
    _check(spark, [("m", "a"), ("m", "b"), ("m", "c")], extra_nodes=["lonely"])


def test_cycle(spark):  # noqa: F811
    _check(spark, [("a", "b"), ("b", "c"), ("c", "a")])


def test_empty(spark):  # noqa: F811
    _check(spark, [], extra_nodes=["a", "b"])


@pytest.mark.parametrize("seed", [1, 2])
def test_random_graphs(spark, seed):  # noqa: F811
    rng = random.Random(seed)
    nodes = [f"n{i:03d}" for i in range(60)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges, extra_nodes=nodes)


def test_long_chain_converges(spark, monkeypatch):  # noqa: F811
    monkeypatch.setattr(cc, "SMALL_GRAPH_EDGES", 0)  # distributed path
    edges = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(40)]
    comps = {r["component"] for r in connected_components(
        spark.createDataFrame(edges, "src string, dst string")).collect()}
    assert comps == {"c000"}


def test_fast_path_equals_distributed(spark):  # noqa: F811
    import random
    rng = random.Random(9)
    nodes = [f"n{i:03d}" for i in range(40)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges, extra_nodes=nodes, small=0)      # distributed
    _check(spark, edges, extra_nodes=nodes, small=None)   # driver path


def test_distributed_path_at_scale(spark, monkeypatch):  # noqa: F811
    """Pressure-test the alternating-star path well past the driver
    fast-path cap (forced distributed): ~70k edges mixing a 25k-node chain (deep diameter),
    30 hot hubs (skew), and random noise — labels must equal a driver
    union-find exactly.  This is the code path a 100-TB graph takes."""
    rng = random.Random(7)
    edges = [(f"c{i:06d}", f"c{i+1:06d}") for i in range(25_000)]
    edges += [(f"h{rng.randrange(30):02d}", f"s{i:06d}")
              for i in range(20_000)]
    edges += [(f"r{rng.randrange(30_000):06d}", f"r{rng.randrange(30_000):06d}")
              for _ in range(25_000)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string").repartition(16)
    monkeypatch.setattr(cc, "SMALL_GRAPH_EDGES", 0)  # distributed path
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}

    parent = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {n: min(m) for m in comp.values() for n in m}
    assert got == want


def test_union_find_local_is_linear_in_component_size():
    """One 20,000-node star (a dictionary surface shared by that many
    entities) labels every node with the component minimum in well
    under a second; taking the minimum once per member instead of once
    per component made it quadratic (about 12 s on a 4-vCPU host)."""
    import time
    nodes = [f"e{i:06d}" for i in range(20_000)]
    t0 = time.perf_counter()
    got = cc._union_find_local((n, nodes[-1]) for n in nodes)
    assert time.perf_counter() - t0 < 3.0
    assert sorted(got) == [(n, nodes[0]) for n in nodes]
