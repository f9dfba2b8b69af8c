"""Dedup clustering tests: connected components over near-duplicate
pairs must equal the transitive closure."""

from __future__ import annotations

from georaster_spark.operators.dedup import connected_components


def test_connected_components_known_graph(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 3)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5}


def test_connected_components_self_pair_node_survives(spark):
    """A node whose ONLY edge is a self-pair must still appear,
    labeling itself (self-loops are dropped from the edge set but not
    from the node set)."""
    pairs = spark.createDataFrame(
        [(1, 2), (9, 9)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 9: 9}


def test_connected_components_long_chain_converges(spark):
    """The r2 VERDICT worst case: a 100-link chain. Min-label
    propagation needs O(diameter)=100 rounds; the large/small-star
    contraction must finish well inside the 30-round budget."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    out = connected_components(pairs)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {i: 0 for i in range(101)}
    # lineage-truncation invariant: the per-round localCheckpoint must
    # keep the FINAL plan depth independent of how many star rounds
    # ran — the label plan hangs off one checkpointed RDD scan, not a
    # tower of per-round Union/Except operators (which would make
    # Catalyst analysis, not data, the bottleneck at true scale)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, plan
    assert plan.count("Union") == 1, plan  # the node-set union only
    assert "Except" not in plan, plan


def test_connected_components_random_graphs_match_transitive_closure(spark):
    """Property check on random graphs vs a local union-find."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(40 + 10 * trial)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        seen_nodes = {u for e in edges for u in e}
        # canonical label = min node id per component
        comp_min = {}
        for x in seen_nodes:
            r = find(x)
            comp_min[r] = min(comp_min.get(r, x), x)
        want = {x: comp_min[find(x)] for x in seen_nodes}

        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == want, f"trial {trial}"


