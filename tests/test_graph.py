"""Fixed-point PageRank (operators/graph.py)."""

from __future__ import annotations

from hg_data_pipelines_spark.operators.graph import SCALE, pagerank_fixed_point


def _pr(spark, edges, n_iter=4, parts=None):
    df = spark.createDataFrame(edges, ["src", "dst"])
    if parts is not None:
        df = df.repartition(parts)
    return {
        r["node"]: r["rank_scaled"]
        for r in pagerank_fixed_point(df, n_iter=n_iter).collect()
    }


class TestPagerankFixedPoint:
    def test_mass_conserved_within_truncation(self, spark):
        # integer truncation sheds < 1 unit per div per node per round
        got = _pr(spark, [(1, 2), (2, 3), (3, 1)])
        total = sum(got.values())
        assert 0 <= SCALE - total < 1000

    def test_symmetric_cycle_is_uniform(self, spark):
        got = _pr(spark, [(1, 2), (2, 3), (3, 1)])
        assert len(set(got.values())) == 1

    def test_sink_hub_accumulates_rank(self, spark):
        # star: 1..4 all point at 5, 5 points back at 1. The 1<->5 cycle
        # oscillates with period 2, so score the hub after an odd round.
        edges = [(i, 5) for i in range(1, 5)] + [(5, 1)]
        got = _pr(spark, edges, n_iter=5)
        assert got[5] == max(got.values())
        assert got[5] > got[2] > 0
        # 2,3,4 are structurally identical -> identical integer ranks
        assert got[2] == got[3] == got[4]

    def test_partitioning_invariant(self, spark):
        # integer arithmetic: exact equality across cluster layouts
        edges = [(i, (i * 7) % 23) for i in range(23)] + [(i, i + 1) for i in range(22)]
        assert _pr(spark, edges, parts=1) == _pr(spark, edges, parts=13)

    def test_zero_in_degree_gets_teleport_mass(self, spark):
        got = _pr(spark, [(1, 2)])
        # node 1 has no in-edges: exactly the teleport base term
        assert got[1] == (15 * (SCALE // 2)) // 100

    def test_reliable_checkpoint_mode_identical(self, spark, reliable_cuts):
        # reliable cuts must not change a single rank unit (integer
        # arithmetic is layout- and lineage-invariant)
        edges = [(i, (i * 7) % 23) for i in range(23)] + [(i, i + 1) for i in range(22)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        base = {
            r["node"]: r["rank_scaled"]
            for r in pagerank_fixed_point(df, n_iter=4).collect()
        }
        ckpt_dir = reliable_cuts()
        # held: Spark deletes a reliable cut's files once it is unreferenced
        out = pagerank_fixed_point(df, n_iter=4)
        ckpt = {r["node"]: r["rank_scaled"] for r in out.collect()}
        assert base == ckpt
        assert any(ckpt_dir.iterdir())
        assert list(ckpt_dir.glob("*/rdd-*"))


class TestShortestPathsBounded:
    def _sp(self, spark, edges, source, rounds):
        from hg_data_pipelines_spark.operators.graph import shortest_paths_bounded

        df = spark.createDataFrame(edges, ["src", "dst", "w"])
        return {
            r["node"]: r["dist_scaled"]
            for r in shortest_paths_bounded(df, source, rounds=rounds).collect()
        }

    def test_relaxation_finds_cheaper_longer_path(self, spark):
        # direct 1->3 costs 10; the 2-hop detour costs 3 — BF must relax it
        edges = [(1, 2, 1), (2, 3, 2), (1, 3, 10)]
        got = self._sp(spark, edges, source=1, rounds=3)
        assert got == {1: 0, 2: 1, 3: 3}

    def test_hop_bound_limits_reach(self, spark):
        edges = [(1, 2, 1), (2, 3, 1), (3, 4, 1)]
        got = self._sp(spark, edges, source=1, rounds=2)
        assert got == {1: 0, 2: 1, 3: 2}  # node 4 needs 3 hops

    def test_bounded_vs_walk_semantics(self, spark):
        # with rounds >= longest useful path, distances are final
        edges = [(1, 2, 5), (1, 3, 2), (3, 2, 2), (2, 4, 1)]
        got = self._sp(spark, edges, source=1, rounds=4)
        assert got[2] == 4 and got[4] == 5

    def test_partitioning_invariant(self, spark):
        from hg_data_pipelines_spark.operators.graph import shortest_paths_bounded

        edges = [(i, i + 1, i % 3 + 1) for i in range(1, 30)] + [
            (1, 15, 7), (15, 29, 4)
        ]
        a = {
            r["node"]: r["dist_scaled"]
            for r in shortest_paths_bounded(
                spark.createDataFrame(edges, ["src", "dst", "w"]), 1, rounds=6
            ).collect()
        }
        b = {
            r["node"]: r["dist_scaled"]
            for r in shortest_paths_bounded(
                spark.createDataFrame(edges, ["src", "dst", "w"]).repartition(7),
                1,
                rounds=6,
            ).collect()
        }
        assert a == b

    def test_reliable_checkpoint_mode_identical(self, spark, reliable_cuts):
        edges = [(i, i + 1, i % 3 + 1) for i in range(1, 30)] + [
            (1, 15, 7), (15, 29, 4)
        ]
        from hg_data_pipelines_spark.operators.graph import shortest_paths_bounded

        local = self._sp(spark, edges, source=1, rounds=6)
        ckpt = reliable_cuts()
        # held: Spark deletes a reliable cut's files once it is unreferenced
        out = shortest_paths_bounded(
            spark.createDataFrame(edges, ["src", "dst", "w"]), 1, rounds=6
        )
        reliable = {r["node"]: r["dist_scaled"] for r in out.collect()}
        assert local == reliable
        assert list(ckpt.glob("*/rdd-*"))


class TestPersonalizedPagerank:
    def test_mass_concentrates_at_seeds_and_zero_unreachable(self, spark):
        from hg_data_pipelines_spark.operators.graph import (
            personalized_pagerank_fixed_point,
        )

        # two disjoint cycles; seeds only in the first — the second
        # component must end with rank exactly 0
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10)], ["src", "dst"]
        )
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {
            r["node"]: r["rank_scaled"]
            for r in personalized_pagerank_fixed_point(
                edges, seeds, n_iter=4
            ).collect()
        }
        assert got[10] == 0 and got[11] == 0
        assert got[1] > got[3] > 0  # seed holds the most rank in its cycle

    def test_partitioning_invariant(self, spark):
        from hg_data_pipelines_spark.operators.graph import (
            personalized_pagerank_fixed_point,
        )

        edges = [(i, (i * 3 + 1) % 29) for i in range(29)]
        seeds = spark.createDataFrame([(0,), (5,)], ["node"])
        a = {
            r["node"]: r["rank_scaled"]
            for r in personalized_pagerank_fixed_point(
                spark.createDataFrame(edges, ["src", "dst"]), seeds
            ).collect()
        }
        b = {
            r["node"]: r["rank_scaled"]
            for r in personalized_pagerank_fixed_point(
                spark.createDataFrame(edges, ["src", "dst"]).repartition(7),
                seeds,
            ).collect()
        }
        assert a == b

    def test_reliable_checkpoint_mode_identical(self, spark, reliable_cuts):
        from hg_data_pipelines_spark.operators.graph import (
            personalized_pagerank_fixed_point,
        )

        edges = spark.createDataFrame(
            [(i, (i * 3 + 1) % 29) for i in range(29)], ["src", "dst"]
        )
        seeds = spark.createDataFrame([(0,), (5,)], ["node"])

        def run(out):
            return {r["node"]: r["rank_scaled"] for r in out.collect()}

        local = run(personalized_pagerank_fixed_point(edges, seeds))
        ckpt = reliable_cuts()
        # held: Spark deletes a reliable cut's files once it is unreferenced
        out = personalized_pagerank_fixed_point(edges, seeds)
        assert run(out) == local
        assert list(ckpt.glob("*/rdd-*"))


class TestKcorePeel:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, "id_a long, id_b long")

    def test_triangle_survives_dangling_pair_peeled(self, spark):
        from hg_data_pipelines_spark.operators.graph import kcore_peel

        # triangle 1-2-3 plus dangling pair 4-5 and a tail 3-6
        e = self._edges(
            spark, [(1, 2), (2, 3), (1, 3), (4, 5), (3, 6)]
        )
        out = {r["node"]: r["degree"] for r in kcore_peel(e, 2, 4).collect()}
        assert out == {1: 2, 2: 2, 3: 2}

    def test_cascading_peel(self, spark):
        from hg_data_pipelines_spark.operators.graph import kcore_peel

        # path 1-2-3-4: round 1 peels 1 and 4, round 2 peels 2 and 3 —
        # needs the iteration, a single degree filter would keep 2,3
        e = self._edges(spark, [(1, 2), (2, 3), (3, 4)])
        assert kcore_peel(e, 2, 4).count() == 0

    def test_fixture_converges_within_round_budget(self, spark):
        """rounds=4 equals rounds=5 on the fixture near-dup graph, so the
        declared fixed-round contract returns the true 2-core."""
        from hg_data_pipelines_spark.operators.dedup import ngram_jaccard_pairs
        from hg_data_pipelines_spark.operators.graph import kcore_peel
        from hg_data_pipelines_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        pairs = ngram_jaccard_pairs(docs, threshold=0.08).select("id_a", "id_b")
        a = sorted(map(tuple, kcore_peel(pairs, 2, 4).collect()))
        b = sorted(map(tuple, kcore_peel(pairs, 2, 5).collect()))
        assert a == b


class TestPagerankAnnSibling:
    def test_ann_pagerank_tracks_exact(self, spark):
        """X11_pagerank_ann (LSH-bucketed edges) must agree with the exact
        sibling on who the high-rank nodes are — the property corpus
        curation consumes. Pin top-50 overlap on the fixture."""
        from hg_data_pipelines_spark.queries.common import QUERIES

        sf = "/root/testdata/sf0.001"
        def top(name, n=50):
            rows = (
                QUERIES[name](spark, sf)
                .orderBy("rank_scaled", "node", ascending=[False, True])
                .limit(n)
                .collect()
            )
            return {r["node"] for r in rows}

        exact, ann = top("X11_pagerank_knn"), top("X11_pagerank_ann")
        overlap = len(exact & ann) / 50
        assert overlap >= 0.8, f"top-50 overlap {overlap}"


class TestTriangleAnnOverlap:
    def test_ann_census_recovers_most_exact_participants(self, spark):
        from hg_data_pipelines_spark.queries import QUERIES

        sf = "/root/testdata/sf0.001"
        exact = {r["node"] for r in QUERIES["X11_triangle_counts"](spark, sf).collect()}
        ann = {r["node"] for r in QUERIES["X11_triangle_counts_ann"](spark, sf).collect()}
        assert exact, "fixture graph must contain triangles"
        # every ANN edge passes exact cosine ranking, so ANN triangles are
        # plausible motifs; recall of participant nodes is the pinned signal
        assert len(ann & exact) / len(exact) >= 0.5


class TestTriangleCensusOrientation:
    def _hub_graph(self, spark, m=60):
        # star hub 0—i for i in 1..m, plus closing edges (i, i+1) for
        # every even i: each closing edge forms one triangle with the hub.
        edges = [(0, i) for i in range(1, m + 1)]
        edges += [(i, i + 1) for i in range(1, m, 2)]
        return spark.createDataFrame(edges, "a long, b long")

    def test_counts_are_orientation_invariant_on_hub_graph(self, spark):
        from hg_data_pipelines_spark.operators.graph import triangle_census

        und = self._hub_graph(spark)
        by_id = {
            (r["node"], r["n_triangles"])
            for r in triangle_census(und, degree_ordered=False).collect()
        }
        by_deg = {
            (r["node"], r["n_triangles"])
            for r in triangle_census(und, degree_ordered=True).collect()
        }
        assert by_id == by_deg
        # hub participates in all 30 triangles; each leaf in exactly 1
        assert (0, 30) in by_id and (1, 1) in by_id

    def test_degree_order_bounds_hub_wedge_fanout(self, spark):
        # The point of the refinement: on a hub of degree d, id-ordered
        # orientation gives the hub out-degree ~d (node 0 is minimal), so
        # the wedge join materializes C(d, 2) rows from it alone;
        # degree ordering points every star edge INTO the hub, so its
        # out-degree is 0 and total wedges collapse to the leaf chains.
        from hg_data_pipelines_spark.operators.graph import wedge_count

        und = self._hub_graph(spark, m=60)
        w_id = wedge_count(und, degree_ordered=False)
        w_deg = wedge_count(und, degree_ordered=True)
        assert w_id >= 60 * 59 // 2          # hub alone: C(60, 2)
        assert w_deg <= 90                   # bounded by the edge count


class TestLabelPropagation:
    def test_two_cliques_converge_to_min_label(self, spark):
        """Two 4-cliques joined by one bridge edge: after 3 synchronous
        rounds every clique member carries its clique's minimum id, and
        the bridge does not merge the communities (unlike connected
        components, which would)."""
        from hg_data_pipelines_spark.operators.graph import label_propagation

        def clique(ids):
            return [(a, b) for a in ids for b in ids if a < b]

        edges = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)]
        und = spark.createDataFrame(edges, "a long, b long")
        got = {r["node"]: r["label"]
               for r in label_propagation(und, iters=3).collect()}
        assert {got[i] for i in (0, 1, 2)} == {0}
        assert {got[i] for i in (11, 12, 13)} == {10}
        # components would be ONE blob of 8; LPA keeps two communities
        assert len({got[i] for i in got}) >= 2

    def test_deterministic_across_runs(self, spark):
        from hg_data_pipelines_spark.operators.graph import label_propagation

        edges = [(i, (i + 1) % 9) for i in range(9)] + [(0, 4), (2, 6)]
        und = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges], "a long, b long"
        ).distinct()
        a = sorted(map(tuple, label_propagation(und, iters=3).collect()))
        b = sorted(map(tuple, label_propagation(und, iters=3).collect()))
        assert a == b
