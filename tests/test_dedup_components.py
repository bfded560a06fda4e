"""Connected-components dedup grouping (operators/dedup.py)."""

from __future__ import annotations

from hg_data_pipelines_spark.operators.dedup import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {
        (r["node"], r["comp"]) for r in connected_components(df).collect()
    }


class TestConnectedComponents:
    def test_two_components_min_label(self, spark):
        # chain 1-2-3 plus pair 10-11; labels collapse to the min node id
        got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

    def test_long_chain_converges(self, spark):
        # a 12-node path needs multiple propagation rounds (diameter 11)
        edges = [(i, i + 1) for i in range(12)]
        got = _cc(spark, edges)
        assert got == {(i, 0) for i in range(13)}

    def test_edge_order_and_direction_irrelevant(self, spark):
        got_fwd = _cc(spark, [(5, 4), (3, 4), (9, 3)])
        got_rev = _cc(spark, [(3, 9), (4, 3), (4, 5)])
        assert got_fwd == got_rev == {(3, 3), (4, 3), (5, 3), (9, 3)}

    def test_self_loop_singleton(self, spark):
        got = _cc(spark, [(7, 7)])
        assert got == {(7, 7)}

    def test_reliable_checkpoint_mode_identical(self, spark, reliable_cuts):
        # a session checkpoint directory switches every cut from
        # localCheckpoint to a reliable checkpoint(); labels must be
        # identical in both modes.
        edges = [(i, i + 1) for i in range(8)] + [(20, 21), (21, 22)]
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        local = {
            (r["node"], r["comp"]) for r in connected_components(df).collect()
        }
        ckpt = reliable_cuts()
        # held: Spark deletes a reliable cut's files once it is unreferenced
        out = connected_components(df)
        reliable = {(r["node"], r["comp"]) for r in out.collect()}
        assert local == reliable
        # the reliable checkpoint actually wrote to the session's dir
        assert any(ckpt.iterdir())
        assert list(ckpt.glob("*/rdd-*"))


class TestIncrementalFingerprintStore:
    """Dedup an ingest batch against a historical fingerprint store —
    exact (content hash), near (LSH + signature agreement), new — then
    fold the new docs in and verify the next batch sees them."""

    BASE = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "pack my box with five dozen liquor jugs for the long trip home"),
        (3, "sphinx of black quartz judge my vow said the old museum curator"),
    ]

    def _store(self, spark, tmp_path):
        from hg_data_pipelines_spark.operators.dedup import build_fingerprint_store

        wh = str(tmp_path / "wh")
        hist = spark.createDataFrame(self.BASE, "doc_id long, text string")
        build_fingerprint_store(hist, wh, "fps")
        return wh

    def test_classifies_exact_near_new(self, spark, tmp_path):
        from hg_data_pipelines_spark.operators.dedup import dedup_against_store

        wh = self._store(spark, tmp_path)
        batch = spark.createDataFrame(
            [
                # exact copy of doc 1 (whitespace-normalized)
                (101, "  the quick  brown fox jumps over the lazy dog again and again "),
                # near-dup of doc 2: one word changed
                (102, "pack my box with nine dozen liquor jugs for the long trip home"),
                # genuinely new
                (103, "completely unrelated sentence about distributed query engines"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["status"], r["match_id"])
            for r in dedup_against_store(spark, batch, wh, "fps", threshold=0.3).collect()
        }
        assert got[101] == ("exact_dup", 1)
        assert got[102] == ("near_dup", 2)
        assert got[103] == ("new", None)

    def test_exact_precedes_near_and_est_bounds(self, spark, tmp_path):
        from hg_data_pipelines_spark.operators.dedup import dedup_against_store

        wh = self._store(spark, tmp_path)
        batch = spark.createDataFrame(
            [(201, self.BASE[2][1])], "doc_id long, text string"
        )
        rows = dedup_against_store(spark, batch, wh, "fps", threshold=0.3).collect()
        assert rows[0]["status"] == "exact_dup"  # identical text never 'near'
        assert rows[0]["est_jaccard"] == 1.0

    def test_store_update_catches_next_batch(self, spark, tmp_path):
        from hg_data_pipelines_spark.operators.dedup import (
            dedup_against_store,
            update_fingerprint_store,
        )

        wh = self._store(spark, tmp_path)
        wave1 = spark.createDataFrame(
            [(301, "brand new document about spark native analytics engines at scale")],
            "doc_id long, text string",
        )
        first = dedup_against_store(spark, wave1, wh, "fps").collect()
        assert first[0]["status"] == "new"
        update_fingerprint_store(spark, wave1, wh, "fps")

        # the SAME content re-ingested next batch is now an exact dup of 301
        wave2 = spark.createDataFrame(
            [(302, "brand new document about spark native analytics engines at scale")],
            "doc_id long, text string",
        )
        second = dedup_against_store(spark, wave2, wh, "fps").collect()
        assert second[0]["status"] == "exact_dup"
        assert second[0]["match_id"] == 301

    def test_store_is_never_shuffled(self, spark, tmp_path):
        """The incremental contract: the historical side is scanned and
        broadcast-joined, never exchanged — no hashpartitioning on the
        store's scan subtree (batch-side exchanges are fine)."""
        from hg_data_pipelines_spark.operators.dedup import dedup_against_store

        wh = self._store(spark, tmp_path)
        batch = spark.createDataFrame(
            [(401, "probe text for the plan shape check only")],
            "doc_id long, text string",
        )
        df = dedup_against_store(spark, batch, wh, "fps")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # store parquet scans must feed broadcast/plain joins without an
        # exchange keyed on store columns (content_hash or (band, key))
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "content_hash" not in line or "doc_id" in line


class TestIncrementalComponents:
    def _labels(self, rows):
        return {(r["node"], r["comp"]) for r in rows}

    def test_fold_equals_full_recompute(self, spark):
        from hg_data_pipelines_spark.operators.dedup import (
            connected_components,
            connected_components_incremental,
        )

        hist = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
        )
        new = spark.createDataFrame(
            # merges {1,2,3} with {10,11}; brings in fresh node 30
            [(3, 10), (30, 20)], "id_a long, id_b long"
        )
        labels = connected_components(hist)
        folded = connected_components_incremental(labels, new)
        full = connected_components(hist.unionByName(new))
        assert self._labels(folded.collect()) == self._labels(full.collect())

    def test_untouched_components_keep_labels(self, spark):
        from hg_data_pipelines_spark.operators.dedup import (
            connected_components,
            connected_components_incremental,
        )

        hist = spark.createDataFrame(
            [(1, 2), (10, 11)], "id_a long, id_b long"
        )
        new = spark.createDataFrame([(50, 51)], "id_a long, id_b long")
        labels = connected_components(hist)
        folded = {
            r["node"]: r["comp"]
            for r in connected_components_incremental(labels, new).collect()
        }
        assert folded[1] == 1 and folded[2] == 1
        assert folded[10] == 10 and folded[11] == 10
        assert folded[50] == 50 and folded[51] == 50


class TestWinnowingMatches:
    def test_guarantee_and_thresholds(self, spark, tmp_path):
        # Winnowing guarantee: docs sharing a substring of >= W+K-1 = 11
        # chars share a selected fingerprint; with most of the text
        # shared, containment crosses 0.5 and the pair is reported.
        # Disjoint-alphabet docs never pair.
        import os

        from hg_data_pipelines_spark.queries.dedup import winnowing_matches

        shared = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, "alpha prefix one " + shared, "en", "s", 1),
            (2, "beta prefix two " + shared, "en", "s", 1),
            (3, "zzzz " * 30, "en", "s", 1),       # repeated, tiny set
            (4, "qqqq " * 30, "en", "s", 1),       # disjoint alphabet
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        sf = str(tmp_path / "sf")
        os.makedirs(sf, exist_ok=True)
        df.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
        got = {
            (r["doc_a"], r["doc_b"]): r["containment"]
            for r in winnowing_matches(spark, sf).collect()
        }
        assert (1, 2) in got and got[(1, 2)] >= 0.5
        assert all(3 not in p and 4 not in p for p in got)
