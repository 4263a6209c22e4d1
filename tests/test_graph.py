"""Graph operator tests (gnm/gnmgraph.cpp semantics): connected
components, single-source shortest paths and Yen's k shortest paths
vs hand-computed answers."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

import gdal_spark.operators.graph as graph
from gdal_spark.operators.graph import (
    connected_components,
    k_shortest_paths,
    shortest_path_tree,
    shortest_path_trees_batch,
    shortest_paths,
    symmetrize,
)


# the standard Yen example graph: C->H has 3 loopless shortest paths
CLASSIC = [
    ("C", "D", 3.0), ("C", "E", 2.0), ("D", "F", 4.0),
    ("E", "D", 1.0), ("E", "F", 2.0), ("E", "G", 3.0),
    ("F", "G", 2.0), ("F", "H", 1.0), ("G", "H", 2.0),
]


class TestConnectedComponents:
    def test_two_components(self, spark):
        edges = spark.createDataFrame(
            [Row(src=1, dst=2), Row(src=2, dst=3), Row(src=10, dst=11)]
        )
        out = {r.node: r.component for r in connected_components(edges).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_chain_converges(self, spark):
        # long chain: needs several label-propagation rounds
        edges = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(12)])
        out = {r.node: r.component for r in connected_components(edges).collect()}
        assert set(out.values()) == {0}
        assert len(out) == 13

    def test_iteration_cap_raises(self, spark):
        # the same chain needs 12 rounds; stopping at 3 must not return
        # unconverged labels
        edges = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(12)])
        with pytest.raises(RuntimeError, match="max_iterations=3"):
            connected_components(edges, max_iterations=3)


class TestShortestPaths:
    def test_long_chain_converges(self, spark):
        # a 60-node chain needs 59 relaxation rounds, more than the old
        # fixed cap of 50; the |V| + 1 bound lets it finish exactly
        edges = spark.createDataFrame(
            [Row(src=i, dst=i + 1, weight=1.0) for i in range(59)]
        )
        out = {r.node: r.dist for r in shortest_paths(edges, 0).collect()}
        assert out == {i: float(i) for i in range(60)}

    def test_weighted_diamond(self, spark):
        #     1 --2-- 3
        #  0 <          > 4      direct 0->4 weight 10
        #     2 --1-- 2
        edges = spark.createDataFrame(
            [
                Row(src=0, dst=1, weight=1.0),
                Row(src=1, dst=3, weight=2.0),
                Row(src=0, dst=2, weight=2.0),
                Row(src=2, dst=3, weight=1.0),
                Row(src=3, dst=4, weight=2.0),
                Row(src=0, dst=4, weight=10.0),
            ]
        )
        out = {r.node: r.dist for r in shortest_paths(edges, 0).collect()}
        assert out == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0, 4: 5.0}

    def test_unreachable_absent(self, spark):
        edges = spark.createDataFrame([Row(src=0, dst=1, weight=1.0), Row(src=5, dst=6, weight=1.0)])
        out = {r.node: r.dist for r in shortest_paths(edges, 0).collect()}
        assert 5 not in out and 6 not in out
        assert out == {0: 0.0, 1: 1.0}

    def test_undirected_ring(self, spark):
        # weighted ring 0-1-2-3-0; symmetrized; shortest wraps both ways
        edges = symmetrize(
            spark.createDataFrame(
                [
                    Row(src=0, dst=1, weight=1.0),
                    Row(src=1, dst=2, weight=5.0),
                    Row(src=2, dst=3, weight=1.0),
                    Row(src=3, dst=0, weight=1.0),
                ]
            )
        )
        out = {r.node: r.dist for r in shortest_paths(edges, 0).collect()}
        assert out == {0: 0.0, 1: 1.0, 2: 2.0, 3: 1.0}


class TestKShortestPaths:
    def test_yen_on_classic_graph(self, spark):
        edges = spark.createDataFrame(CLASSIC, "src string, dst string, weight double")
        out = k_shortest_paths(edges, "C", "H", 3)
        assert [round(c, 6) for c, _ in out] == [5.0, 7.0, 8.0]
        assert out[0][1] == ["C", "E", "F", "H"]

    def test_tree_parents_reconstruct(self, spark):
        edges = spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0)], "src bigint, dst bigint, weight double"
        )
        t = {r.node: (r.dist, r.parent) for r in shortest_path_tree(edges, 0).collect()}
        assert t[2] == (2.0, 1)
        assert t[1] == (1.0, 0)
        assert t[0][1] is None

    def test_fewer_paths_than_k(self, spark):
        edges = spark.createDataFrame([("a", "b", 1.0)], "src string, dst string, weight double")
        out = k_shortest_paths(edges, "a", "b", 5)
        assert len(out) == 1 and out[0] == (1.0, ["a", "b"])


def _spy_batch(monkeypatch) -> list:
    """Record the spurs of every shortest_path_trees_batch call."""
    calls: list = []
    batch = graph.shortest_path_trees_batch

    def spy(edges, spurs, *args, **kwargs):
        calls.append(spurs)
        return batch(edges, spurs, *args, **kwargs)

    monkeypatch.setattr(graph, "shortest_path_trees_batch", spy)
    return calls


class TestYenDistributedBatch:
    """Both sides of k_shortest_paths' LOCAL_EDGE_GUARD: the in-memory
    relaxation at or below it, the batched Bellman-Ford above it."""

    def test_distributed_branch_matches_local(self, spark):
        """The batched multi-spur Bellman-Ford reproduces the first Yen
        iteration's in-memory spurs."""
        edges = spark.createDataFrame(CLASSIC, "src string, dst string, weight double")
        first = k_shortest_paths(edges, "C", "H", 3)[0]
        assert first[1] == ["C", "E", "F", "H"]
        trees = shortest_path_trees_batch(
            edges,
            spurs=[(0, "C"), (1, "E"), (2, "F")],
            banned_nodes=[(1, "C"), (2, "C"), (2, "E")],
            banned_edges=[(0, "C", "E"), (1, "E", "F"), (2, "F", "H")],
        )
        per = {}
        for r in trees.collect():
            per.setdefault(r["sid"], {})[r["node"]] = (r["dist"], r["parent"])
        # spur 0: C with C->E banned: C-D-F-H = 3+4+1 = 8
        assert per[0]["H"][0] == 8.0
        # spur 1: E with E->F banned, C removed: E-G-H = 3+2=5 or E-D-F-H=1+4+1=6 -> 5
        assert per[1]["H"][0] == 5.0
        # spur 2: F with F->H banned, C/E removed: F-G-H = 4
        assert per[2]["H"][0] == 4.0

    def test_full_distributed_yen(self, spark, monkeypatch):
        edges = spark.createDataFrame(CLASSIC, "src string, dst string, weight double")
        calls = _spy_batch(monkeypatch)
        want = k_shortest_paths(edges, "C", "H", 3)
        assert calls == []
        monkeypatch.setattr(graph, "LOCAL_EDGE_GUARD", 0)
        out = k_shortest_paths(edges, "C", "H", 3)
        assert calls[0] == [(0, "C")] and len(calls) == 3
        assert out == want
        assert [c for c, _ in out] == [5.0, 7.0, 8.0]

    def test_long_chain_both_sides(self, spark, monkeypatch):
        # 0->1->...->60 plus a bypass 0->60: the first tree needs 60
        # rounds, more than the old fixed distributed cap of 50
        rows = [(i, i + 1, 1.0) for i in range(60)] + [(0, 60, 100.0)]
        edges = spark.createDataFrame(rows, "src bigint, dst bigint, weight double")
        want = [(60.0, list(range(61))), (100.0, [0, 60])]
        calls = _spy_batch(monkeypatch)
        assert k_shortest_paths(edges, 0, 60, 2) == want
        monkeypatch.setattr(graph, "LOCAL_EDGE_GUARD", 0)
        assert k_shortest_paths(edges, 0, 60, 2) == want
        assert len(calls) == 2

    def test_negative_cycle_raises_on_both_sides(self, spark, monkeypatch):
        # 1->2->1 is a negative cycle, so distances still improve in
        # round |V| + 1; neither side may return [] as if 3 were
        # unreachable
        edges = spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, -3.0), (2, 1, 1.0), (5, 3, 1.0)],
            "src bigint, dst bigint, weight double",
        )
        calls = _spy_batch(monkeypatch)
        with pytest.raises(RuntimeError, match="negative cycle") as local_err:
            k_shortest_paths(edges, 0, 3, 2)
        assert calls == []
        monkeypatch.setattr(graph, "LOCAL_EDGE_GUARD", 0)
        with pytest.raises(RuntimeError, match="negative cycle") as dist_err:
            k_shortest_paths(edges, 0, 3, 2)
        assert len(calls) == 1
        assert str(dist_err.value) == str(local_err.value)
