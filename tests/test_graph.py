"""Connected components (alternating star contraction) vs a union-find
oracle, plus the near-dup cluster pipeline built on it."""

import random

import pytest
from pyspark.sql import functions as F

from spatialpandas_spark.operators.graph import connected_components


def _uf_components(edges):
    """Union-find oracle: {node: min node in its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {n: find(n) for n in parent}


def _cc_dict(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df, "id_a", "id_b", **kw).collect()
    }


def test_cc_two_components_and_chain(spark):
    # chain 1-2-3-4 plus a separate pair 10-11
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    got = _cc_dict(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_long_chain_converges_logarithmically(spark):
    # a 200-node path is the adversarial case for label propagation
    # (O(n) rounds); star contraction must finish well inside max_iters.
    # driver_threshold=0 forces the distributed path.
    edges = [(i, i + 1) for i in range(200)]
    got = _cc_dict(spark, edges, driver_threshold=0)
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_cc_self_loops_and_duplicates_ignored(spark):
    edges = [(5, 5), (1, 2), (2, 1), (1, 2)]
    got = _cc_dict(spark, edges)
    assert got == {1: 1, 2: 1}


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("thr", [0, 1_000_000])  # distributed and driver paths
def test_cc_random_graphs_match_union_find(spark, seed, thr):
    rng = random.Random(seed)
    n = 120
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(rng.randrange(30, 180))
    ]
    edges = [e for e in edges if e[0] != e[1]]
    got = _cc_dict(spark, edges, driver_threshold=thr)
    assert got == _uf_components(edges)


def _is_local(df):
    from spatialpandas_spark.plans import physical_plan

    return "LocalTableScan" in physical_plan(df)


@pytest.mark.parametrize("seed", [0, 1])
def test_cc_driver_threshold_boundary(spark, seed):
    """Exactly ``driver_threshold`` deduped edges take the driver path
    (an Arrow-built local frame); one edge more takes the distributed
    path. Both match the union-find oracle."""
    rng = random.Random(seed)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(90)]
    n = len({(a, b) for a, b in edges if a != b})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    drv = connected_components(df, driver_threshold=n)
    dist = connected_components(df, driver_threshold=n - 1)
    assert _is_local(drv) and not _is_local(dist)
    want = _uf_components(edges)
    for out in (drv, dist):
        assert {r["node"]: r["component"] for r in out.collect()} == want


@pytest.mark.parametrize("thr", [0, 1_000_000])  # distributed and driver paths
def test_cc_empty_edge_set(spark, thr):
    """No edges (here only a self-loop) give an empty (node, component)
    frame on both paths."""
    df = spark.createDataFrame([(3, 3)], "id_a long, id_b long")
    out = connected_components(df, driver_threshold=thr)
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<node:bigint,component:bigint>"


def test_cc_driver_path_jobs_pinned(spark, jobs_in):
    """The driver path on an edge set pinned in 8 partitions runs the
    eager pin (2 jobs), a ``count()`` (2) and one Arrow collect at call
    time, and nothing at ``collect()`` (warm second call). The parent
    ran 12 at call time: the pin, the ``count()`` and a
    ``toLocalIterator()`` of one job per partition (8); and 1 at
    ``collect()`` of its list-built frame."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 160, 2)], "id_a long, id_b long"
    ).repartition(8, "id_a", "id_b")
    for rnd in ("warm", "pin"):
        out, n_call = jobs_in(
            f"cc-driver-call-{rnd}", lambda: connected_components(edges)
        )
        rows, n_collect = jobs_in(f"cc-driver-collect-{rnd}", out.collect)
    assert (n_call, n_collect) == (5, 0)
    assert len(rows) == 160


@pytest.fixture(scope="module")
def dup_docs(spark):
    # 0,1,2 chain-similar; 3,4 identical; 5,6 unique
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "a quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different content about spark engines"),
        (4, "completely different content about spark engines"),
        (5, "unrelated text with nothing shared at all here"),
        (6, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dup_clusters_groups_transitively(spark, dup_docs):
    from spatialpandas_spark.operators.dedup import near_dup_clusters

    out = near_dup_clusters(dup_docs, threshold=0.4)
    by_id = {r["doc_id"]: r for r in out.collect()}
    assert len(by_id) == 7
    # the chain 0-1-2 collapses to cluster 0 even if (0,2) is not a pair
    assert by_id[0]["cluster_id"] == by_id[1]["cluster_id"] == by_id[2]["cluster_id"] == 0
    assert by_id[0]["cluster_size"] == 3
    assert by_id[3]["cluster_id"] == by_id[4]["cluster_id"] == 3
    assert by_id[5]["cluster_id"] == 5 and by_id[5]["cluster_size"] == 1
    assert by_id[6]["cluster_id"] == 6


def test_near_dup_clusters_jobs_pinned(spark, dup_docs, jobs_in):
    """Jobs of a warm second ``near_dup_clusters`` call and its
    ``collect()`` on this fixture. The parent ran 9 and 7: the Arrow
    collect of the edges costs what its ``toLocalIterator()`` did on
    this small edge set, and its list-built component frame cost jobs
    at every read."""
    from spatialpandas_spark.operators.dedup import near_dup_clusters

    for rnd in ("warm", "pin"):
        out, n_call = jobs_in(
            f"near-dup-call-{rnd}",
            lambda: near_dup_clusters(dup_docs, threshold=0.4),
        )
        rows, n_collect = jobs_in(f"near-dup-collect-{rnd}", out.collect)
    assert (n_call, n_collect) == (9, 4)
    assert len(rows) == 7


def test_dedup_near_keeps_min_id_per_cluster(spark, dup_docs):
    from spatialpandas_spark.operators.dedup import dedup_near

    kept = dedup_near(dup_docs, threshold=0.4)
    assert kept.columns == dup_docs.columns
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 3, 5, 6]


def _py_pagerank(edges, iters=10, d=0.85):
    """Reference power iteration with dangling redistribution."""
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    out = {}
    for s, t in set(edges):
        out.setdefault(s, []).append(t)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if v not in out)
        new = {v: (1 - d) / n + d * dm / n for v in nodes}
        for s, ts in out.items():
            share = r[s] / len(ts)
            for t in ts:
                new[t] += d * share
        r = new
    return r


def test_pagerank_matches_python_reference(spark):
    from spatialpandas_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (4, 3), (2, 1), (5, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=8).collect()}
    exp = _py_pagerank(edges, iters=8)
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_dangling_and_hub(spark):
    from spatialpandas_spark.operators.graph import pagerank

    # star into node 0 (a hub), node 9 dangling receiver
    edges = [(i, 0) for i in range(1, 6)] + [(0, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=12).collect()}
    exp = _py_pagerank(edges, iters=12)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)
    # the hub outranks its spokes; its sole target outranks the spokes too
    assert got[0] > got[1] and got[9] > got[1]


def test_pagerank_empty_edges(spark):
    from spatialpandas_spark.operators.graph import pagerank

    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df, iters=3).count() == 0
