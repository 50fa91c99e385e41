"""Distributed connected components (alternating star contraction).

The near-dup pipeline's last stage: LSH/verify produce *pairs*, but a
dedup decision needs *clusters* — doc B may match A and C without A
matching C, and all three must collapse to one survivor. That grouping is
connected components over the pair graph.

The algorithm is the alternating ``large-star`` / ``small-star``
contraction of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SoCC'14) — the published shuffle-friendly CC: every iteration is
two groupBy-min + join rounds over the edge list (no vertex-program
framework, no driver-side graph), and converges in O(log n) iterations on
any graph (star contraction at least halves tree heights each round).
Each iteration's result is pinned eagerly (``materialize``) so the
lineage does not grow with the iteration count — the standard Spark
iterative-algorithm discipline (same shape GraphFrames uses for its CC).

At 100 TB the edge list (near-dup pairs) is orders of magnitude smaller
than the corpus; each round shuffles only the shrinking edge set, keyed
by node id, so AQE's skew splitting covers the hot-node case (a doc
duplicated millions of times).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spatialpandas_spark.materialize import materialize


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 30,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Return ``(node, component)`` for every node appearing in ``edges``,
    where ``component`` is the smallest node id in the node's connected
    component (so component ids are themselves member nodes, and the
    canonical representative is ``node == component``).

    Node ids must be integral (cast to long). Self-loops are ignored.
    Raises if the contraction has not converged after ``max_iters``
    rounds (default 30 covers graphs far beyond 2^30 nodes — convergence
    is logarithmic).

    Hybrid execution (the broadcast-join-selection idiom): when the edge
    set fits comfortably on the driver (``<= driver_threshold`` edges
    after dedup), a single-pass union-find there beats ~10 tiny Spark
    jobs of star contraction — near-dup pair graphs are usually orders of
    magnitude smaller than their corpus. A ``count()`` of the pinned
    edges decides the path; on the driver path one Arrow collect brings
    the edges in and the result is a local frame built from Arrow,
    which later actions read with no Spark job. Larger graphs take the
    distributed path; set ``driver_threshold=0`` to force it.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # materialize once: every path below reads the edge set at least
        # twice (count + collect, or count + rounds), and upstream is
        # typically an expensive pair pipeline (LSH) that must not
        # recompute
        .transform(materialize, eager=True)
    )

    if driver_threshold > 0:
        # count is cheap on the pin; the loop below would run ~10 jobs
        # per round. A limit(driver_threshold + 1) collect would decide
        # and fetch in one job, but it runs every partition and sends
        # their first driver_threshold + 1 edges through one task.
        if e.count() <= driver_threshold:
            return _driver_union_find(e.sparkSession, e.toArrow())

    prev: tuple | None = None
    converged = False
    for _ in range(max_iters):
        # --- large-star: connect every neighbor larger than u to the
        # minimum of u's neighborhood (including u itself)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least(F.col("u"), F.col("__mv")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e = (
            large.union(mins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

        # --- small-star: orient edges large->small, connect every smaller
        # neighbor (and u) to the minimum of the small neighborhood
        o = e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            o.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
        )
        e = (
            small.where(F.col("u") != F.col("v"))
            .distinct()
            .transform(materialize, eager=True)
        )

        # convergence: the star-edge set is a fixpoint of both operations.
        # (count, order-independent xor of edge hashes) is a cheap set
        # fingerprint — xor is commutative and cannot overflow under ANSI.
        chk = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("s"),
        ).first()
        cur = (chk["n"], chk["s"])
        if prev == cur:
            converged = True
            break
        prev = cur

    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
        )

    # converged edges form stars child -> root(min). Roots appear only on
    # the v side; emit them as their own component.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def _driver_union_find(spark, edges) -> DataFrame:
    """Small-graph path: path-halving union-find over the collected
    (deduped) ``u``/``v`` int64 columns of an Arrow table, returning the
    (node, component) table as an Arrow-built local frame. Driver memory
    is O(edges) — guarded by the caller's threshold."""
    import pyarrow as pa

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(edges.column("u").to_pylist(), edges.column("v").to_pylist()):
        ra, rb = find(u), find(v)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = list(parent)
    return spark.createDataFrame(
        pa.table(
            {
                "node": pa.array(nodes, pa.int64()),
                "component": pa.array([find(n) for n in nodes], pa.int64()),
            }
        )
    )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Join-based PageRank power iteration — the host-graph quality
    prior a web-curation pipeline feeds into document filtering (rank
    the link graph from :func:`~spatialpandas_spark.operators.text
    .host_counts`-style extraction, then gate docs by their host's
    rank).

    Standard damped formulation with dangling-mass redistribution:
    ``r = (1 - d)/N + d * (sum of in-neighbor contributions
    + dangling_mass/N)``, so ranks sum to 1 after every iteration (the
    invariant the tests pin against a plain-python reference).

    Scale shape per iteration: ONE equi-join of ranks to the
    weight-annotated edge list (keyed by source; edge weights
    ``1/out_degree`` are precomputed and checkpointed ONCE before the
    loop, not re-derived per round), one ``groupBy(dst)`` sum, one
    1-row dangling-mass aggregate broadcast back — the published
    MapReduce PageRank shape. The rank frame is pinned eagerly
    every round so lineage stays O(1) in the iteration count, same
    discipline as :func:`connected_components`. Returns
    ``(node, rank)``.

    Honest local-scale note (BASELINE.md round 4, PageRank crossover): the
    per-iteration job floor (~2 s at local[32]) means a single-node
    numpy twin wins below ~10^8 edges; the marginal per-edge slope is
    what this formulation buys — use it when the edge list exceeds one
    machine, which is its only honest use case."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(materialize, eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # weight-annotated edges and the dangling-node set: built once,
    # checkpointed, reused every iteration
    out_deg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    e_w = (
        e.join(out_deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("__deg")).alias("__w"))
        .transform(materialize, eager=True)
    )
    dangling_nodes = (
        nodes.join(out_deg, nodes["node"] == out_deg["src"], "left_anti")
        .transform(materialize, eager=True)
    )

    ranks = materialize(
        nodes.withColumn("rank", F.lit(1.0 / n_nodes)), eager=True
    )
    for _ in range(iters):
        dangling = dangling_nodes.join(ranks, "node", "inner").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
        )
        contrib = (
            ranks.join(e_w, ranks["node"] == e_w["src"], "inner")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("__w")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__in"), F.lit(0.0))
                        + F.col("__dm") / n_nodes
                    )
                ).alias("rank"),
            )
            .transform(materialize, eager=True)
        )
    return ranks
