"""Unit tests for the iterative graph operators (operators/graph.py):
integer-exact PageRank and oriented-wedge triangle counting, on
hand-built graphs with independently derivable answers."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_fragmentation_and_query_processor_spark.operators.graph import (
    PAGERANK_SCALE,
    pagerank_integer,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a bigint, id_b bigint")


def _ref_pagerank(pairs, iters=3, scale=PAGERANK_SCALE):
    """Independent driver-side replay of the integer recurrence."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rank = {n: scale for n in adj}
    base = scale * 15 // 100
    for _ in range(iters):
        nxt = {}
        for v in adj:
            insum = sum(rank[u] // len(adj[u]) for u in adj[v])
            nxt[v] = base + 85 * insum // 100
        rank = nxt
    return rank


def test_pagerank_matches_reference_replay(spark):
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (1, 6), (2, 2)]
    # (2,2) self-loop is kept as an edge to itself after the lo<hi
    # normalization? pagerank keeps raw pairs — drop it for the oracle:
    pairs = [p for p in pairs if p[0] != p[1]]
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(_edges(spark, pairs), iters=3).collect()
    }
    assert got == _ref_pagerank(pairs)


def test_pagerank_star_canonical_dominates(spark):
    # star: hub 1 connected to 5 spokes — hub must outrank every spoke
    pairs = [(1, k) for k in range(2, 7)]
    got = {
        r["node"]: r["rank"]
        for r in pagerank_integer(_edges(spark, pairs), iters=3).collect()
    }
    hub = got[1]
    assert all(hub > v for n, v in got.items() if n != 1)
    spokes = {v for n, v in got.items() if n != 1}
    assert len(spokes) == 1  # symmetric spokes tie exactly (integer math)


def test_triangle_counts_known_graph(spark):
    # K4 has 4 triangles, 6 edges, 4 nodes; plus a pendant edge
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs = k4 + [(4, 9)]
    row = triangle_counts(_edges(spark, pairs)).head()
    assert (row["n_triangles"], row["n_edges"], row["n_nodes"]) == (4, 7, 5)


def test_triangle_counts_dedups_reversed_and_duplicate_edges(spark):
    # same triangle listed in mixed orientation + duplicates: still 1
    pairs = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 3)]
    row = triangle_counts(_edges(spark, pairs)).head()
    assert (row["n_triangles"], row["n_edges"], row["n_nodes"]) == (1, 3, 3)


def test_triangle_free_graph(spark):
    # even cycle C6 is triangle-free
    pairs = [(k, k % 6 + 1) for k in range(1, 7)]
    row = triangle_counts(_edges(spark, pairs)).head()
    assert row["n_triangles"] == 0 and row["n_edges"] == 6


def test_pagerank_no_cartesian_in_plan(spark):
    pairs = [(1, 2), (2, 3)]
    ranks = pagerank_integer(_edges(spark, pairs), iters=2)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_drops_exactly_the_perturbed_clones(spark, sf_dir):
    """The synthesized clones (vec_id ≥ SEM_DUP_SALT) are ~0.999 cosine
    to their parents; with near-orthogonal base vectors (max pairwise
    cosine < 0.5 in the fixture) the dropped set must be exactly the
    clone set — each clone has its lower-id parent in-cluster."""
    from database_fragmentation_and_query_processor_spark.queries import docops

    out = docops.q_semantic_dedup(spark, sf_dir).collect()
    n_vecs = sum(r["n_vecs"] for r in out)
    n_dropped = sum(r["n_dropped"] for r in out)
    checksum = sum(r["dropped_checksum"] for r in out)
    n_base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    clone_ids = [i + docops.SEM_DUP_SALT for i in range(0, n_base, docops.SEM_DUP_MOD)]
    assert n_vecs == n_base + len(clone_ids)
    assert n_dropped == len(clone_ids)
    assert checksum == sum(clone_ids)


def test_bfs_hops_path_graph(spark):
    """Path 1-2-3-4-5-6, seed {1}: exact hop distances, truncated at
    max_hops (node 5 at hop 4 and node 6 at hop 5 must NOT appear)."""
    from database_fragmentation_and_query_processor_spark.operators.graph import bfs_hops

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    seeds = spark.createDataFrame([(1,)], "node bigint")
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(_edges(spark, pairs), seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_multi_source_min_distance(spark):
    """Two seeds on a path: every node takes the NEAREST seed's
    distance (multi-source BFS, not per-seed products)."""
    from database_fragmentation_and_query_processor_spark.operators.graph import bfs_hops

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    seeds = spark.createDataFrame([(1,), (5,)], "node bigint")
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(_edges(spark, pairs), seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_hops_early_exit_on_exhausted_frontier(spark):
    """A 2-node component explored with max_hops=10 stops after the
    frontier empties — the settled set is just the component."""
    from database_fragmentation_and_query_processor_spark.operators.graph import bfs_hops

    pairs = [(7, 8), (20, 21)]
    seeds = spark.createDataFrame([(7,)], "node bigint")
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(_edges(spark, pairs), seeds, max_hops=10).collect()
    }
    assert got == {7: 0, 8: 1}
