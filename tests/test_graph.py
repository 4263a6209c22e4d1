"""Graph operator tests (gnm/gnmgraph.cpp semantics): connected
components and single-source shortest paths vs hand-computed answers."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from gdal_spark.operators.graph import (
    connected_components,
    shortest_path_tree,
    shortest_path_trees_batch,
    shortest_paths,
    symmetrize,
)


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
    def test_iteration_cap_raises(self, spark):
        # a 60-node chain needs 59 relaxation rounds; stopping at 10
        # must not return the 11 nodes reached so far as the answer
        edges = spark.createDataFrame(
            [Row(src=i, dst=i + 1, weight=1.0) for i in range(59)]
        )
        for run in (
            lambda: shortest_paths(edges, 0, max_iterations=10),
            lambda: shortest_path_tree(edges, 0, max_iterations=10),
            lambda: shortest_path_trees_batch(edges, [(0, 0)], [], [], max_iterations=10),
        ):
            with pytest.raises(RuntimeError, match="max_iterations=10"):
                run()

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
        """The standard Yen example graph: C->H with 3 distinct
        loopless shortest paths of costs 5, 7, 8."""
        from gdal_spark.operators.graph import k_shortest_paths

        E = [
            ("C", "D", 3.0), ("C", "E", 2.0), ("D", "F", 4.0),
            ("E", "D", 1.0), ("E", "F", 2.0), ("E", "G", 3.0),
            ("F", "G", 2.0), ("F", "H", 1.0), ("G", "H", 2.0),
        ]
        edges = spark.createDataFrame(E, "src string, dst string, weight double")
        out = k_shortest_paths(edges, "C", "H", 3)
        assert [round(c, 6) for c, _ in out] == [5.0, 7.0, 8.0]
        assert out[0][1] == ["C", "E", "F", "H"]

    def test_tree_parents_reconstruct(self, spark):
        from gdal_spark.operators.graph import shortest_path_tree

        edges = spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0)], "src bigint, dst bigint, weight double"
        )
        t = {r.node: (r.dist, r.parent) for r in shortest_path_tree(edges, 0).collect()}
        assert t[2] == (2.0, 1)
        assert t[1] == (1.0, 0)
        assert t[0][1] is None

    def test_fewer_paths_than_k(self, spark):
        from gdal_spark.operators.graph import k_shortest_paths

        edges = spark.createDataFrame([("a", "b", 1.0)], "src string, dst string, weight double")
        out = k_shortest_paths(edges, "a", "b", 5)
        assert len(out) == 1 and out[0] == (1.0, ["a", "b"])

    def test_local_round_cap_raises(self, spark):
        # 1->2->1 is a negative cycle, so the in-memory relaxation still
        # improves in its last round; that must raise like the
        # distributed path does, not return [] as if 3 were unreachable
        from gdal_spark.operators.graph import k_shortest_paths

        edges = spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, -3.0), (2, 1, 1.0), (5, 3, 1.0)],
            "src bigint, dst bigint, weight double",
        )
        with pytest.raises(RuntimeError, match="10000 rounds"):
            k_shortest_paths(edges, 0, 3, 2)


class TestYenDistributedBatch:
    def test_distributed_branch_matches_local(self, spark):
        """Force the distributed Yen path (guard -> 0): the batched
        multi-spur Bellman-Ford (shortest_path_trees_batch) must return
        the same k paths as the in-memory loop."""
        import gdal_spark.operators.graph as g

        rows = [
            ("C", "D", 3.0), ("C", "E", 2.0), ("D", "F", 4.0),
            ("E", "D", 1.0), ("E", "F", 2.0), ("E", "G", 3.0),
            ("F", "G", 2.0), ("F", "H", 1.0), ("G", "H", 2.0),
        ]
        edges = spark.createDataFrame(rows, "src string, dst string, weight double")
        want = g.k_shortest_paths(edges, "C", "H", 3)
        # drive the batch helper directly with the first Yen
        # iteration's spur set and check it reproduces the local spurs
        first = want[0]
        assert first[1] == ["C", "E", "F", "H"]
        trees = g.shortest_path_trees_batch(
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

    def test_full_distributed_yen(self, spark):
        """End-to-end distributed Yen (guard forced to 0) equals the
        in-memory result."""
        import gdal_spark.operators.graph as g

        rows = [
            ("C", "D", 3.0), ("C", "E", 2.0), ("D", "F", 4.0),
            ("E", "D", 1.0), ("E", "F", 2.0), ("E", "G", 3.0),
            ("F", "G", 2.0), ("F", "H", 1.0), ("G", "H", 2.0),
        ]
        edges = spark.createDataFrame(rows, "src string, dst string, weight double")
        want = g.k_shortest_paths(edges, "C", "H", 3)

        # force the distributed branch: wrap edges so the guard's
        # count() sees a huge table while every real operation passes
        # through to the underlying DataFrame
        class BigCount:
            def __init__(self, df):
                self._df = df

            def count(self):
                return 10**9

            def __getattr__(self, item):
                return getattr(self._df, item)

        out = g.k_shortest_paths(BigCount(edges), "C", "H", 3)
        assert [(c, p) for c, p in out] == [(c, p) for c, p in want]
