"""Round-5 hardening: LSH bucket-size guards, operator cache lifecycle,
PageRank dangling/no-in-edge semantics, CC convergence confirmation."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from fantasy_premier_league_spark.operators import dedup as D
from fantasy_premier_league_spark.operators.cache import release_operator_caches
from fantasy_premier_league_spark.operators.graph import pagerank


def _degenerate_corpus(spark, n_boiler=200):
    """n_boiler identical boilerplate docs + one genuine near-dup pair that
    shares no shingles with the boilerplate."""
    boiler = [(i, "terms of service apply to all content on this site every day") for i in range(n_boiler)]
    pair = [
        (10_000, "quick brown fox jumps over the lazy dog near the river bank"),
        (10_001, "quick brown fox jumps over the lazy dog near the river bend"),
    ]
    return spark.createDataFrame(boiler + pair, "doc_id long, text string")


class TestBucketGuard:
    def test_lsh_guard_drops_degenerate_bucket_keeps_real_pairs(self, spark, caplog):
        docs = _degenerate_corpus(spark)
        sigs = D.minhash_signatures(docs, "doc_id", "text")
        with caplog.at_level("WARNING", logger="fantasy_premier_league_spark.operators.dedup"):
            rows = D.lsh_candidate_pairs(sigs, bands=16, max_bucket_size=50).collect()
        ids = {r["id_a"] for r in rows} | {r["id_b"] for r in rows}
        # the 200-doc boilerplate bucket (19900 quadratic pairs) is dropped...
        assert not any(i < 10_000 for i in ids)
        # ...while the genuine near-dup pair in a small bucket survives
        assert (10_000, 10_001) in {(r["id_a"], r["id_b"]) for r in rows}
        # no-silent-caps: the drop is logged with a bucket count
        assert any("oversized LSH band buckets" in r.message for r in caplog.records)

    def test_lsh_guard_off_by_default_matches_unguarded(self, spark):
        docs = _degenerate_corpus(spark, n_boiler=20)
        sigs = D.minhash_signatures(docs, "doc_id", "text")
        default = {tuple(r) for r in D.lsh_candidate_pairs(sigs, bands=16).collect()}
        huge_cap = {
            tuple(r)
            for r in D.lsh_candidate_pairs(sigs, bands=16, max_bucket_size=10_000).collect()
        }
        assert default == huge_cap
        assert len(default) >= 190 + 1  # 20-doc clique + the real pair

    def test_simhash_guard_bounds_degenerate_bucket(self, spark, caplog):
        docs = _degenerate_corpus(spark)
        with caplog.at_level("WARNING", logger="fantasy_premier_league_spark.operators.dedup"):
            rows = D.simhash_near_dup_pairs(
                docs, "doc_id", "text", max_hamming=10, max_bucket_size=50
            ).collect()
        assert not any(r["id_a"] < 10_000 for r in rows)
        assert any("simhash_near_dup_pairs" in r.message for r in caplog.records)

    def test_incremental_guard_prunes_index_bucket(self, spark, caplog):
        docs = _degenerate_corpus(spark)
        index_docs = docs.filter(F.col("doc_id") % 2 == 0)
        new_docs = docs.filter(F.col("doc_id") % 2 == 1)
        index_sigs = D.minhash_signatures(index_docs, "doc_id", "text")
        with caplog.at_level("WARNING", logger="fantasy_premier_league_spark.operators.dedup"):
            rows = D.minhash_incremental_pairs(
                new_docs, index_sigs, "doc_id", "text", max_bucket_size=30
            ).collect()
        # boilerplate buckets capped on both sides -> only the real pair left
        assert {(r["new_id"], r["index_id"]) for r in rows} == {(10_001, 10_000)}
        assert any("minhash_incremental_pairs" in r.message for r in caplog.records)


def _persistent_ids(spark) -> set[int]:
    """Ids of currently persisted RDDs. Id SETS, not counts: Spark's
    ContextCleaner may concurrently unpersist other tests' garbage-
    collected frames, so only the delta attributable to this test is
    assertable."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


class TestCacheLifecycle:
    def test_dedup_operators_release_cleanly(self, spark):
        release_operator_caches(blocking=True)
        before = _persistent_ids(spark)
        docs = _degenerate_corpus(spark, n_boiler=10)
        D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()
        D.minhash_dedup_pairs(docs, "doc_id", "text").collect()
        D.simhash_near_dup_pairs(docs, "doc_id", "text").collect()
        ours = _persistent_ids(spark) - before
        assert ours  # the caches were in use
        release_operator_caches(blocking=True)
        assert not (_persistent_ids(spark) & ours)  # and all released

    def test_pagerank_releases_cleanly(self, spark):
        release_operator_caches(blocking=True)
        before = _persistent_ids(spark)
        e = spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
        )
        pagerank(e, iterations=3).collect()
        ours = _persistent_ids(spark) - before
        assert ours
        release_operator_caches(blocking=True)
        assert not (_persistent_ids(spark) & ours)


class TestReleaseAfterSessionStop:
    """A stopped session must not wedge the release path: frames and
    checkpoint contexts whose JVM is gone raise on every call, and the
    registries must still end empty so a later session cannot inherit
    entries that point at the dead one. Fakes only, no Spark."""

    class _Frame:
        def __init__(self, fail: bool):
            self.fail, self.unpersisted = fail, False

        def unpersist(self, blocking: bool = False):
            if self.fail:
                raise RuntimeError("SparkContext was shut down")
            self.unpersisted = True

    class _StoppedContext:
        @property
        def _jsc(self):
            raise RuntimeError("SparkContext was shut down")

    def test_release_survives_stopped_session_and_empties_registries(self, monkeypatch):
        from fantasy_premier_league_spark.operators import cache as C

        healthy = self._Frame(fail=False)
        monkeypatch.setattr(C, "_TRACKED", [healthy, self._Frame(fail=True)])
        monkeypatch.setattr(C, "_TRACKED_CHECKPOINTS", [(self._StoppedContext(), [7, 8])])
        assert release_operator_caches() == 1
        assert healthy.unpersisted
        assert C._TRACKED == [] and C._TRACKED_CHECKPOINTS == []


class TestPagerankSemantics:
    def test_mass_conserved_with_dangling_and_no_in_edge_nodes(self, spark):
        # 1 -> 2 -> 3: node 1 has no in-edges (must stay in the vector),
        # node 3 has no out-edges (dangling: its mass must redistribute)
        e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        rows = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
        assert set(rows) == {1, 2, 3}
        assert sum(rows.values()) == pytest.approx(1.0, abs=1e-4)
        assert all(v > 0 for v in rows.values())
        # the chain's sink accumulates the most rank
        assert rows[3] > rows[1]

    def test_symmetric_graph_unchanged_semantics(self, spark):
        # on a symmetric graph both corrections are no-ops; spot-check the
        # 2-cycle fixpoint: uniform 0.5/0.5
        e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        rows = {r["node"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
        assert rows == {1: 0.5, 2: 0.5}


class TestConvergenceConfirmation:
    def test_fixpoint_on_last_budgeted_round_not_misreported(self, spark):
        # a single edge converges in the init round; with max_iter=1 the old
        # loop had no round left to OBSERVE the fixpoint and warned anyway
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            out = D.connected_components(pairs, max_iter=1).collect()
        assert {(r["id"], r["cluster_id"]) for r in out} == {(1, 1), (2, 1)}

    def test_true_non_convergence_still_warns(self, spark):
        # a long chain cannot converge in 1 round (+1 confirmation)
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long"
        )
        with pytest.warns(RuntimeWarning, match="did not converge"):
            # local_finish_edges=0: the hybrid would otherwise close this
            # bounded graph on the driver and (correctly) never warn
            D.connected_components(
                chain, max_iter=1, shortcut_from=99, local_finish_edges=0
            ).collect()


class TestOneRowPerIdContract:
    """The Jaccard/containment verify counts postings per (pair) group; a
    duplicate id double-counts and would silently inflate scores — both
    entry points must fail loudly instead (dedup._pair_overlap_counts)."""

    def _dup_id_corpus(self, spark):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),  # re-delivered id
            (2, "alpha beta gamma delta epsilon eta"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_jaccard_trips_on_duplicate_ids(self, spark):
        docs = self._dup_id_corpus(spark)
        out = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1)
        with pytest.raises(Exception, match="one-row-per-id"):
            out.collect()
        release_operator_caches()

    def test_containment_trips_on_duplicate_ids(self, spark):
        docs = self._dup_id_corpus(spark)
        out = D.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.1)
        with pytest.raises(Exception, match="one-row-per-id"):
            out.collect()
        release_operator_caches()

    def test_clean_input_passes_both(self, spark):
        docs = self._dup_id_corpus(spark).dropDuplicates(["doc_id"])
        j = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1).collect()
        c = D.containment_pairs(docs, "doc_id", "text", n=3, threshold=0.1).collect()
        release_operator_caches()
        assert len(j) == 1 and len(c) == 1


class TestSimhashBitsGuard:
    def test_bits_over_64_raise(self, spark):
        docs = _degenerate_corpus(spark, n_boiler=2)
        with pytest.raises(ValueError, match="single long"):
            D.simhash(docs, "doc_id", "text", bits=128)

    def test_bits_not_multiple_of_4_raise(self, spark):
        docs = _degenerate_corpus(spark, n_boiler=2)
        with pytest.raises(ValueError, match="divisible by 4"):
            D.simhash(docs, "doc_id", "text", bits=30)


class TestLazyCheckpointContract:
    """eager=False lifecycle: Spark's LocalRDDCheckpointData.doCheckpoint
    runs at the END of the first job touching the checkpoint RDD and
    computes any missing partitions — so even a partial-scan first action
    (first()/take) leaves the checkpoint FULLY materialized, and a later
    release cannot strand a half-built frame. These tests pin that
    behavior (the operators' one-job-per-round designs rely on it); the
    release-time sweep in release_operator_caches stays as a
    belt-and-braces guard for any future Spark behavior change."""

    def test_partial_scan_still_fully_materializes(self, spark, caplog):
        import logging as L

        from fantasy_premier_league_spark.operators.cache import (
            tracked_local_checkpoint,
        )

        df = spark.range(0, 1000, 1, 8)  # 8 partitions
        lazy = tracked_local_checkpoint(df, eager=False)
        lazy.first()  # partial scan; doCheckpoint then fills the other 7
        infos = {
            info.id(): (int(info.numCachedPartitions()), int(info.numPartitions()))
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }
        assert any(c == t and t >= 8 for c, t in infos.values())
        with caplog.at_level(L.WARNING, logger="fantasy_premier_league_spark.operators.cache"):
            release_operator_caches()
        assert not any("partially materialized" in r.message for r in caplog.records)

    def test_full_scan_does_not_warn(self, spark, caplog):
        import logging as L

        from fantasy_premier_league_spark.operators.cache import (
            tracked_local_checkpoint,
        )

        df = spark.range(0, 1000, 1, 8)
        lazy = tracked_local_checkpoint(df, eager=False)
        assert lazy.agg({"id": "sum"}).first()[0] == 499500  # global agg: full scan
        with caplog.at_level(L.WARNING, logger="fantasy_premier_league_spark.operators.cache"):
            release_operator_caches()
        assert not any("partially materialized" in r.message for r in caplog.records)


class TestCheckpointRegistration:
    """tracked_local_checkpoint materializes through localCheckpoint and
    registers the checkpoint's storage blocks, so release_operator_caches
    can drop them."""

    def test_local_checkpoint_registers_for_release(self, spark):
        from fantasy_premier_league_spark.operators import cache as C

        n_tracked_before = len(C._TRACKED_CHECKPOINTS)
        out = C.tracked_local_checkpoint(spark.range(0, 100, 1, 4), eager=True)
        assert out.count() == 100
        assert len(C._TRACKED_CHECKPOINTS) == n_tracked_before + 1
        release_operator_caches()


class TestNaiveVerifyBroadcastEquivalence:
    """The stats-gated broadcast build side of the naive Jaccard verify is
    a physical choice only — byte-identical output to the shuffle form
    (the at-scale default) on the same sized posting index."""

    def test_broadcast_and_shuffle_verify_agree(self, spark):
        from pyspark.sql import functions as F

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (2, "alpha beta gamma delta epsilon zeta eta iota"),
                (3, "completely different words live in this one here"),
                (4, "completely different words live in this one too"),
                (5, "alpha beta gamma delta unrelated tail words here"),
            ],
            "doc_id long, text string",
        )
        arr = D.doc_shingle_arrays(docs, "doc_id", "text", 3)
        shs = arr.select(
            "id", F.size("__arr").alias("n_shingles"), F.explode("__arr").alias("shingle")
        )
        rows_b = sorted(
            map(tuple, D._jaccard_pairs_from_sized_index(shs, 0.2, broadcast=True).collect())
        )
        rows_s = sorted(
            map(tuple, D._jaccard_pairs_from_sized_index(shs, 0.2, broadcast=False).collect())
        )
        release_operator_caches()
        assert rows_b == rows_s and len(rows_b) >= 1
