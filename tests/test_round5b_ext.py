"""Second-wave round-5 extensions: prefix-filtered Jaccard (PPJoin-style),
deterministic label propagation, incremental aggregate maintenance, and
decayed-activity features."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fantasy_premier_league_spark.operators.cache import release_operator_caches
from fantasy_premier_league_spark.operators.dedup import (
    doc_shingles,
    ngram_jaccard_pairs,
    prefix_filtered_jaccard_pairs,
)
from fantasy_premier_league_spark.operators.graph import label_propagation
from fantasy_premier_league_spark.operators.incremental import (
    merge_partial_aggs,
    partial_aggs,
)
from fantasy_premier_league_spark.operators.sessionize import decayed_activity


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestPrefixFilteredJaccard:
    def _corpus(self, spark):
        # shared boilerplate sentence (a high-frequency shingle run) plus
        # genuine near-dups — exactly the shape where the naive inverted
        # index blows up on the boilerplate and prefix filtering must not
        # lose the true pairs.
        boiler = "terms of service apply to all users of this site"
        rows = [
            (1, boiler + " alpha beta gamma delta epsilon zeta"),
            (2, boiler + " alpha beta gamma delta epsilon eta"),
            (3, boiler + " completely different payload words here now"),
            (4, "an unrelated document about spark aggregation plans"),
            (5, "an unrelated document about spark aggregation plans"),
            (6, boiler),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("threshold", [0.3, 0.5, 0.8])
    def test_equals_naive_inverted_index(self, spark, threshold):
        docs = self._corpus(spark)
        try:
            fast = _rows(
                prefix_filtered_jaccard_pairs(docs, "doc_id", "text", threshold=threshold)
            )
            naive = _rows(
                ngram_jaccard_pairs(docs, "doc_id", "text", threshold=threshold)
            )
            assert fast == naive and len(naive) > 0
        finally:
            release_operator_caches(blocking=True)

    def test_prefix_index_is_smaller(self, spark):
        docs = self._corpus(spark)
        try:
            full = doc_shingles(docs, "doc_id", "text", 3).count()
            # rebuild the prefix index exactly as the operator does
            sh = doc_shingles(docs, "doc_id", "text", 3)
            from pyspark.sql import Window as W

            freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
            sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
            t = 0.5
            pre = (
                sh.join(freq, "shingle")
                .withColumn(
                    "pos",
                    F.row_number().over(
                        W.partitionBy("id").orderBy(F.col("df").asc(), F.col("shingle").asc())
                    ),
                )
                .join(sizes, "id")
                .filter(F.col("pos") <= F.col("n") - F.floor(F.lit(t) * F.col("n")) + 1)
                .count()
            )
            assert pre < full
        finally:
            release_operator_caches(blocking=True)

    def test_empty_and_short_docs(self, spark):
        docs = spark.createDataFrame(
            [(1, ""), (2, "one two"), (3, None)], "doc_id long, text string"
        )
        try:
            assert (
                prefix_filtered_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).count()
                == 0
            )
        finally:
            release_operator_caches(blocking=True)


class TestLabelPropagation:
    def test_two_triangles_with_bridge(self, spark):
        und = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
        edges = spark.createDataFrame(
            und + [(b, a) for a, b in und], "src long, dst long"
        )
        try:
            out = {r["node"]: r["label"] for r in label_propagation(edges, iterations=2).collect()}
            # hand-run of 2 synchronous rounds with (count desc, label asc):
            # round 1 -> {1:2, 2:1, 3:1, 4:3, 5:4, 6:4}
            # round 2 -> {1:1, 2:1, 3:1, 4:4, 5:3, 6:3}
            assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}
        finally:
            release_operator_caches(blocking=True)

    def test_asymmetric_keeps_source_only_nodes(self, spark):
        edges = spark.createDataFrame([(1, 2)], "src long, dst long")
        try:
            out = {r["node"]: r["label"] for r in label_propagation(edges, iterations=3).collect()}
            # node 1 has no in-neighbors: keeps its own label every round
            assert out == {1: 1, 2: 1}
        finally:
            release_operator_caches(blocking=True)

    def test_caches_released(self, spark):
        # id SETS, not counts (cf. test_guards_lifecycle._persistent_ids):
        # the shared session's ContextCleaner may concurrently unpersist
        # other tests' garbage, so only this test's delta is assertable
        def ids():
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            return {int(k) for k in jmap.keySet().toArray()}

        release_operator_caches(blocking=True)
        before = ids()
        edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        label_propagation(edges, iterations=1).collect()
        ours = ids() - before
        assert ours  # edge list + node set were persisted
        release_operator_caches(blocking=True)
        assert not (ids() & ours)


class TestIncrementalAggs:
    def _orders(self, spark, seed_rows):
        return spark.createDataFrame(seed_rows, "k string, v double")

    def test_merge_equals_full_recompute(self, spark):
        rows = [(f"k{i % 3}", float(i * 7 % 13)) for i in range(50)]
        df = self._orders(spark, rows)
        a, b = df.filter("v < 6"), df.filter("v >= 6")
        merged = _rows(
            merge_partial_aggs(
                partial_aggs(a, ["k"], "v"), partial_aggs(b, ["k"], "v")
            )
        )
        full = _rows(partial_aggs(df, ["k"], "v"))
        assert merged == full

    def test_merge_is_associative(self, spark):
        rows = [(f"k{i % 2}", float(i)) for i in range(30)]
        df = self._orders(spark, rows)
        p = [
            partial_aggs(df.filter(f"v % 3 = {i}"), ["k"], "v") for i in range(3)
        ]
        flat = _rows(merge_partial_aggs(*p))
        nested = _rows(merge_partial_aggs(merge_partial_aggs(p[0], p[1]), p[2]))
        assert flat == nested

    def test_empty_delta_is_identity(self, spark):
        df = self._orders(spark, [("a", 1.0), ("b", 2.0)])
        state = partial_aggs(df, ["k"], "v")
        empty = partial_aggs(df.filter("v > 99"), ["k"], "v")
        assert _rows(merge_partial_aggs(state, empty)) == _rows(state)


class TestDecayedActivity:
    def _events(self, spark, rows):
        epoch = dt.datetime(2024, 1, 1)
        data = [(u, epoch + dt.timedelta(days=d)) for u, d in rows]
        return spark.createDataFrame(data, "user_id long, ts timestamp")

    def test_hand_computed_decay(self, spark):
        ev = self._events(spark, [(1, 0), (1, 7), (1, 14)])
        out = decayed_activity(ev).collect()[0]
        # 0.5^0 + 0.5^(7/7) + 0.5^(14/7) = 1 + 0.5 + 0.25
        assert out["last_day"] == 14 and out["decayed_score"] == pytest.approx(1.75)

    def test_lookback_truncates_old_events(self, spark):
        ev = self._events(spark, [(1, 0), (1, 40)])
        out = decayed_activity(ev).collect()[0]
        assert out["last_day"] == 40 and out["decayed_score"] == 1.0

    def test_same_day_ties_are_deterministic(self, spark):
        ev = self._events(spark, [(1, 5), (1, 5)])
        out = decayed_activity(ev).collect()[0]
        assert out["decayed_score"] == 2.0

    def test_empty_input(self, spark):
        ev = self._events(spark, []).filter("user_id is not null")
        assert decayed_activity(ev).count() == 0


class TestFrequentKeys:
    def _keys(self, spark, counts: dict[str, int]):
        rows = [(k,) for k, n in counts.items() for _ in range(n)]
        return spark.createDataFrame(rows, "k string")

    def test_equals_naive_group_by_having(self, spark):
        from fantasy_premier_league_spark.operators.selection import frequent_keys

        df = self._keys(spark, {"a": 50, "b": 30, "c": 15, "d": 4, "e": 1})
        # N=100, min_share 0.1 -> keys with count >= 10
        out = _rows(frequent_keys(df, "k", min_share=0.1, n_buckets=8))
        naive = _rows(
            df.groupBy(F.col("k").alias("key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter("cnt >= 10")
            .withColumn("share", F.round(F.col("cnt") / 100.0, 6))
        )
        assert out == naive and len(out) == 3

    def test_bucket_collisions_stay_lossless(self, spark):
        from fantasy_premier_league_spark.operators.selection import frequent_keys

        # n_buckets=1 forces every key into one hot bucket: the prefilter
        # keeps everything and the second pass must still be exact
        df = self._keys(spark, {"x": 9, "y": 2, "z": 1})
        out = _rows(frequent_keys(df, "k", min_share=0.5, n_buckets=1))
        assert [(r[0], r[1]) for r in out] == [("x", 9)]

    def test_empty_input(self, spark):
        from fantasy_premier_league_spark.operators.selection import frequent_keys

        df = self._keys(spark, {"a": 1}).filter("k = 'nope'")
        assert frequent_keys(df, "k", min_share=0.5).count() == 0


class TestRollingZscore:
    def _ev(self, spark, rows):
        epoch = dt.datetime(2024, 1, 1)
        data = [(u, epoch + dt.timedelta(days=d), v) for u, d, v in rows]
        return spark.createDataFrame(data, "user_id long, ts timestamp, value double")

    def test_hand_computed_z(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import (
            rolling_zscore_outliers,
        )

        ev = self._ev(spark, [(1, 0, 1.0), (1, 1, 3.0)])
        out = {r["day"]: r for r in rolling_zscore_outliers(ev).collect()}
        # day 1 window = {1,3}: mu=2, sd=sqrt(2) -> z = 1/sqrt(2) = 0.7071
        assert out[1]["zscore"] == pytest.approx(0.7071)
        assert out[1]["is_outlier"] == 0
        # singleton window: stddev_samp undefined -> null z, flag 0
        assert out[0]["zscore"] is None and out[0]["is_outlier"] == 0

    def test_zero_variance_yields_null_not_inf(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import (
            rolling_zscore_outliers,
        )

        ev = self._ev(spark, [(1, 0, 5.0), (1, 1, 5.0), (1, 2, 5.0)])
        assert all(
            r["zscore"] is None and r["is_outlier"] == 0
            for r in rolling_zscore_outliers(ev).collect()
        )

    def test_outlier_flagged_beyond_threshold(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import (
            rolling_zscore_outliers,
        )

        base = [(1, d, 10.0 + (d % 2)) for d in range(10)]
        ev = self._ev(spark, base + [(1, 10, 100.0)])
        out = {r["day"]: r for r in rolling_zscore_outliers(ev).collect()}
        assert out[10]["is_outlier"] == 1


class TestTransitionMatrix:
    def test_hand_sequence(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import transition_matrix

        epoch = dt.datetime(2024, 1, 1)
        rows = [
            (1, epoch + dt.timedelta(minutes=i), s, i)
            for i, s in enumerate(["A", "B", "A", "C"])
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string, event_id long"
        )
        out = {
            (r["from_state"], r["to_state"]): (r["n"], r["prob"])
            for r in transition_matrix(ev).collect()
        }
        assert out == {("A", "B"): (1, 0.5), ("A", "C"): (1, 0.5), ("B", "A"): (1, 1.0)}

    def test_timestamp_ties_break_on_event_id(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import transition_matrix

        t0 = dt.datetime(2024, 1, 1)
        ev = spark.createDataFrame(
            [(1, t0, "A", 2), (1, t0, "B", 1)],
            "user_id long, ts timestamp, event_type string, event_id long",
        )
        out = [
            (r["from_state"], r["to_state"]) for r in transition_matrix(ev).collect()
        ]
        assert out == [("B", "A")]  # event_id order, not insertion order

    def test_single_event_users_drop_out(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import transition_matrix

        t0 = dt.datetime(2024, 1, 1)
        ev = spark.createDataFrame(
            [(1, t0, "A", 1)],
            "user_id long, ts timestamp, event_type string, event_id long",
        )
        assert transition_matrix(ev).count() == 0


class TestIncrementalDistinct:
    def _df(self, spark):
        rows = [(f"k{i % 2}", i % 37) for i in range(400)]
        return spark.createDataFrame(rows, "k string, v long")

    def test_merge_equals_single_pass_exactly(self, spark):
        from fantasy_premier_league_spark.operators.incremental import (
            estimate_distinct,
            merge_distinct_state,
            partial_distinct_state,
        )

        df = self._df(spark)
        parts = [
            partial_distinct_state(df.filter(f"v % 3 = {i}"), ["k"], "v")
            for i in range(3)
        ]
        merged = _rows(estimate_distinct(merge_distinct_state(*parts)))
        single = _rows(estimate_distinct(partial_distinct_state(df, ["k"], "v")))
        assert merged == single  # register-exact union, not just "close"

    def test_estimate_close_to_exact(self, spark):
        from fantasy_premier_league_spark.operators.incremental import (
            estimate_distinct,
            partial_distinct_state,
        )

        rows = [("k", i) for i in range(5000)]
        df = spark.createDataFrame(rows, "k string, v long")
        est = estimate_distinct(partial_distinct_state(df, ["k"], "v")).collect()[0]
        assert abs(est["approx_distinct"] - 5000) / 5000 < 0.05
        assert est["cnt"] == 5000

    def test_merge_tree_order_invariant(self, spark):
        from fantasy_premier_league_spark.operators.incremental import (
            estimate_distinct,
            merge_distinct_state,
            partial_distinct_state,
        )

        df = self._df(spark)
        a, b, c = (partial_distinct_state(df.filter(f"v % 3 = {i}"), ["k"], "v") for i in range(3))
        left = _rows(estimate_distinct(merge_distinct_state(merge_distinct_state(a, b), c)))
        right = _rows(estimate_distinct(merge_distinct_state(a, merge_distinct_state(b, c))))
        assert left == right


class TestExperimentOps:
    def test_ztest_hand_computed(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            ab_conversion_ztest,
        )

        rows = [(0, 1 if i < 10 else 0) for i in range(100)] + [
            (1, 1 if i < 20 else 0) for i in range(100)
        ]
        pu = spark.createDataFrame(rows, "arm int, converted int")
        out = ab_conversion_ztest(pu).collect()[0]
        # p=0.15 pooled, se=sqrt(.1275*.02)=0.0504975 -> z = .1/se = 1.9803
        assert out["zstat"] == pytest.approx(1.9803)
        assert out["significant"] == 1
        assert out["rate_control"] == 0.1 and out["rate_treat"] == 0.2

    def test_ztest_degenerate_zero_rate(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            ab_conversion_ztest,
        )

        pu = spark.createDataFrame(
            [(0, 0)] * 5 + [(1, 0)] * 5, "arm int, converted int"
        )
        out = ab_conversion_ztest(pu).collect()[0]
        assert out["zstat"] is None and out["significant"] == 0

    def test_assign_arm_deterministic_and_binary(self, spark):
        from fantasy_premier_league_spark.operators.experiment import assign_arm

        df = spark.createDataFrame([(i,) for i in range(200)], "user_id long")
        a1 = df.select("user_id", assign_arm(F.col("user_id")).alias("arm"))
        a2 = df.select("user_id", assign_arm(F.col("user_id")).alias("arm"))
        assert _rows(a1) == _rows(a2)
        arms = {r["arm"] for r in a1.collect()}
        assert arms == {0, 1}

    def test_growth_accounting_hand_data(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            growth_accounting,
        )

        epoch = dt.datetime(2024, 1, 1)
        ev = spark.createDataFrame(
            [
                (1, epoch),
                (1, epoch + dt.timedelta(days=1)),
                (1, epoch + dt.timedelta(days=1, hours=2)),  # same day dup
                (2, epoch + dt.timedelta(days=1)),
            ],
            "user_id long, ts timestamp",
        )
        out = {r["day"]: r for r in growth_accounting(ev).collect()}
        assert (out[0]["active_users"], out[0]["new_users"], out[0]["returning_users"], out[0]["cumulative_users"]) == (1, 1, 0, 1)
        assert (out[1]["active_users"], out[1]["new_users"], out[1]["returning_users"], out[1]["cumulative_users"]) == (2, 1, 1, 2)


class TestEmptyInputsSecondWave:
    def test_label_propagation_empty_edges(self, spark):
        edges = spark.createDataFrame([], "src long, dst long")
        try:
            assert label_propagation(edges, iterations=2).count() == 0
        finally:
            release_operator_caches(blocking=True)

    def test_growth_accounting_empty(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            growth_accounting,
        )

        ev = spark.createDataFrame([], "user_id long, ts timestamp")
        assert growth_accounting(ev).count() == 0

    def test_rolling_zscore_empty(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import (
            rolling_zscore_outliers,
        )

        ev = spark.createDataFrame([], "user_id long, ts timestamp, value double")
        assert rolling_zscore_outliers(ev).count() == 0


class TestCalendarFill:
    def test_hand_built_spine_and_carry(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import calendar_fill

        epoch = dt.datetime(2024, 1, 1)
        ev = spark.createDataFrame(
            [
                (1, epoch, 1.0),
                (1, epoch + dt.timedelta(days=3), 2.0),
                (1, epoch + dt.timedelta(days=3, hours=4), 3.0),
            ],
            "user_id long, ts timestamp, value double",
        )
        out = {r["day"]: r for r in calendar_fill(ev).collect()}
        assert sorted(out) == [0, 1, 2, 3]  # dense spine across the gap
        assert (out[0]["daily_sum"], out[0]["observed"], out[0]["filled"]) == (1.0, 1, 1.0)
        assert (out[1]["daily_sum"], out[1]["observed"], out[1]["filled"]) == (None, 0, 1.0)
        assert (out[2]["daily_sum"], out[2]["observed"], out[2]["filled"]) == (None, 0, 1.0)
        assert (out[3]["daily_sum"], out[3]["observed"], out[3]["filled"]) == (5.0, 1, 5.0)

    def test_single_event_user(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import calendar_fill

        ev = spark.createDataFrame(
            [(1, dt.datetime(2024, 2, 1), 4.0)], "user_id long, ts timestamp, value double"
        )
        rows = calendar_fill(ev).collect()
        assert len(rows) == 1 and rows[0]["filled"] == 4.0


class TestPmiCollocations:
    def test_hand_computed_pmi(self, spark):
        from fantasy_premier_league_spark.operators.textstats import pmi_collocations

        docs = spark.createDataFrame(
            [(i, "new york") for i in range(6)], "doc_id long, text string"
        )
        out = pmi_collocations(docs, "doc_id", "text", min_count=5, k=10).collect()
        assert len(out) == 1
        r = out[0]
        # n_pair=6, nb=6, p(new)=p(york)=6/12 -> pmi = ln(4)
        assert (r["w1"], r["w2"], r["n_pair"]) == ("new", "york", 6)
        assert r["pmi"] == pytest.approx(1.386294, abs=1e-6)

    def test_min_count_suppresses_rare_pairs(self, spark):
        from fantasy_premier_league_spark.operators.textstats import pmi_collocations

        docs = spark.createDataFrame(
            [(1, "rare pair"), (2, "some other words entirely")],
            "doc_id long, text string",
        )
        assert pmi_collocations(docs, "doc_id", "text", min_count=5, k=10).count() == 0


class TestLooTargetEncode:
    def test_hand_computed(self, spark):
        from fantasy_premier_league_spark.functions.features import loo_target_encode

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 7.0)], "cat string, y double"
        )
        out = loo_target_encode(df, cat_col="cat", target_col="y").collect()
        got = sorted((r["cat"], r["y"], r["loo_enc"]) for r in out)
        assert got == [("a", 1.0, 2.5), ("a", 2.0, 2.0), ("a", 3.0, 1.5), ("b", 7.0, None)]

    def test_decimal_mode_matches_plain_on_clean_data(self, spark):
        from fantasy_premier_league_spark.functions.features import loo_target_encode

        df = spark.createDataFrame(
            [("a", 1.25), ("a", 2.75), ("a", 4.5)], "cat string, y double"
        )
        plain = sorted(r["loo_enc"] for r in loo_target_encode(df, cat_col="cat", target_col="y").collect())
        dec = sorted(
            r["loo_enc"]
            for r in loo_target_encode(
                df, cat_col="cat", target_col="y", decimal_type="decimal(18,2)"
            ).collect()
        )
        assert plain == dec


class TestPhraseSearch:
    def test_counts_multiple_and_overlapping_occurrences(self, spark):
        from fantasy_premier_league_spark.operators.retrieval import phrase_search

        docs = spark.createDataFrame(
            [
                (1, "the hash join beats the nested loop hash join here"),
                (2, "hash then join but not adjacent"),
                (3, "a a a"),  # overlapping self-phrase test below
                (4, "no phrase at all"),
            ],
            "doc_id long, text string",
        )
        out = {r["id"]: r["n_occurrences"] for r in phrase_search(docs, "doc_id", "text", "hash join").collect()}
        assert out == {1: 2}
        # overlapping occurrences of a repeated-word phrase all count
        rep = {r["id"]: r["n_occurrences"] for r in phrase_search(docs, "doc_id", "text", "a a").collect()}
        assert rep == {3: 2}

    def test_three_term_phrase(self, spark):
        from fantasy_premier_league_spark.operators.retrieval import phrase_search

        docs = spark.createDataFrame(
            [(1, "one two three four"), (2, "one three two")],
            "doc_id long, text string",
        )
        out = {r["id"]: r["n_occurrences"] for r in phrase_search(docs, "doc_id", "text", "one two three").collect()}
        assert out == {1: 1}

    def test_empty_phrase_rejected(self, spark):
        from fantasy_premier_league_spark.operators.retrieval import phrase_search

        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            phrase_search(docs, "doc_id", "text", "   ")


class TestAlsoBought:
    def test_hand_built_baskets(self, spark):
        from fantasy_premier_league_spark.operators.graph import also_bought_topk

        # baskets: {1,2,3}, {1,2}, {1,4}
        rows = [(10, 1), (10, 2), (10, 3), (20, 1), (20, 2), (30, 1), (30, 4)]
        df = spark.createDataFrame(rows, "g long, item long")
        out = {
            (r["item"], r["rank"]): (r["rec"], r["n_shared"])
            for r in also_bought_topk(df, "g", "item", k=2).collect()
        }
        assert out[(1, 1)] == (2, 2)  # item 1 co-occurs with 2 twice
        assert out[(1, 2)] == (3, 1)  # tie between 3 and 4 -> smaller id
        assert out[(3, 1)] == (1, 1)

    def test_duplicate_lines_do_not_inflate_counts(self, spark):
        from fantasy_premier_league_spark.operators.graph import also_bought_topk

        rows = [(10, 1), (10, 1), (10, 2)]  # same item twice in one basket
        df = spark.createDataFrame(rows, "g long, item long")
        out = also_bought_topk(df, "g", "item", k=1).collect()
        assert all(r["n_shared"] == 1 for r in out)


class TestCupedAdjustedAb:
    def test_hand_computed_adjustment(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            cuped_adjusted_ab,
        )

        # n=4, sx=8, sy=3, sxx=24, sxy=8 -> theta=0.25, xbar=2
        pu = spark.createDataFrame(
            [(0, 0, 0), (0, 2, 1), (1, 2, 1), (1, 4, 1)], "arm int, x long, y long"
        )
        out = cuped_adjusted_ab(pu).collect()[0]
        assert out["theta"] == 0.25
        # arm0: 0.5 - 0.25*(1-2) = 0.75 ; arm1: 1 - 0.25*(3-2) = 0.75
        assert out["adj_rate_control"] == 0.75 and out["adj_rate_treat"] == 0.75
        assert out["adj_diff"] == 0.0
        assert out["var_reduction_pct"] == pytest.approx(66.67)

    def test_constant_covariate_yields_null_theta(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            cuped_adjusted_ab,
        )

        pu = spark.createDataFrame(
            [(0, 5, 0), (0, 5, 1), (1, 5, 1), (1, 5, 0)], "arm int, x long, y long"
        )
        out = cuped_adjusted_ab(pu).collect()[0]
        assert out["theta"] is None
        assert out["adj_rate_control"] == 0.5 and out["adj_rate_treat"] == 0.5

    def test_covariate_shift_invariance(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            cuped_adjusted_ab,
        )

        rows = [(i % 2, (i * 3) % 7, 1 if i % 3 == 0 else 0) for i in range(40)]
        pu = spark.createDataFrame(rows, "arm int, x long, y long")
        shifted = spark.createDataFrame(
            [(a, x + 100, y) for a, x, y in rows], "arm int, x long, y long"
        )
        d1 = cuped_adjusted_ab(pu).collect()[0]
        d2 = cuped_adjusted_ab(shifted).collect()[0]
        # theta and the adjusted DIFFERENCE are shift-invariant
        assert d1["theta"] == d2["theta"]
        assert d1["adj_diff"] == pytest.approx(d2["adj_diff"], abs=1e-6)


class TestSchemaEvolutionIngest:
    def test_merge_schema_plus_typed_alignment(self, spark, tmp_path):
        """Snapshot v1 lacks a column v2 adds: mergeSchema unions the
        parquet footers, align_columns pins the final order and types —
        the schema-drift ingest path (S9's alignment applied to files)."""
        from fantasy_premier_league_spark.sources.jdbc import align_columns

        v1 = spark.createDataFrame([(1, "a")], "id long, name string")
        v2 = spark.createDataFrame(
            [(2, "b", 9.5)], "id long, name string, score double"
        )
        v1.write.parquet(str(tmp_path / "snap" / "d=1"))
        v2.write.parquet(str(tmp_path / "snap" / "d=2"))
        merged = spark.read.option("mergeSchema", "true").parquet(
            str(tmp_path / "snap")
        )
        assert set(merged.columns) == {"id", "name", "score", "d"}
        aligned = align_columns(
            merged.drop("score", "d"),
            ["id", "name", "score"],
            types={"score": "double"},
        )
        rows = sorted(map(tuple, aligned.collect()))
        assert rows == [(1, "a", None), (2, "b", None)]
        assert dict(aligned.dtypes)["score"] == "double"


class TestCompressionRatio:
    def test_matches_direct_zlib(self, spark):
        import zlib

        from fantasy_premier_league_spark.operators.textstats import (
            compression_ratio,
        )

        texts = [
            (1, "the quick brown fox jumps over the lazy dog " * 3),
            (2, "a" * 200),
            (3, ""),
            (4, None),
        ]
        docs = spark.createDataFrame(texts, "doc_id long, text string")
        out = {r["doc_id"]: r for r in compression_ratio(docs, "doc_id", "text").collect()}
        for i, t in texts:
            raw = (t or "").encode()
            assert out[i]["raw_bytes"] == len(raw)
            assert out[i]["compressed_bytes"] == len(zlib.compress(raw, 6))
            if raw:
                assert out[i]["ratio"] == pytest.approx(
                    round(len(zlib.compress(raw, 6)) / len(raw), 6)
                )
            else:
                assert out[i]["ratio"] == 1.0 and out[i]["too_repetitive"] == 0
        # the all-'a' doc is the repetitive one
        assert out[2]["too_repetitive"] == 1 and out[1]["too_repetitive"] == 0

    def test_partitioning_invariant(self, spark):
        from fantasy_premier_league_spark.operators.textstats import (
            compression_ratio,
        )

        docs = spark.createDataFrame(
            [(i, f"doc {i} " * (i + 1)) for i in range(20)], "doc_id long, text string"
        )
        a = sorted(map(tuple, compression_ratio(docs.repartition(1), "doc_id", "text").collect()))
        b = sorted(map(tuple, compression_ratio(docs.repartition(7), "doc_id", "text").collect()))
        assert a == b

    def test_non_long_id_column(self, spark):
        # the output schema derives the id type from the input — a string
        # id must not hit an Arrow schema mismatch
        from fantasy_premier_league_spark.operators.textstats import (
            compression_ratio,
        )

        docs = spark.createDataFrame(
            [("a", "hello world"), ("b", "zz " * 50)], "doc_id string, text string"
        )
        out = {r["doc_id"]: r for r in compression_ratio(docs, "doc_id", "text").collect()}
        assert set(out) == {"a", "b"} and out["b"]["ratio"] < out["a"]["ratio"]


class TestParetoMadWau:
    def test_abc_classes_hand_data(self, spark):
        from fantasy_premier_league_spark.queries import all_queries  # noqa: F401
        # direct mini-replication of the r32 shape on hand data
        from pyspark.sql import Window
        df = spark.createDataFrame(
            [(1, 80.0), (2, 15.0), (3, 5.0)], "part long, revenue double"
        )
        w = Window.orderBy(F.col("revenue").desc(), F.col("part")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        out = {
            r["part"]: r["c"]
            for r in df.withColumn(
                "c",
                F.when(F.sum("revenue").over(w) / 100.0 <= 0.8, "A")
                .when(F.sum("revenue").over(w) / 100.0 <= 0.95, "B")
                .otherwise("C"),
            ).collect()
        }
        assert out == {1: "A", 2: "B", 3: "C"}

    def test_mad_robust_to_one_spike(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        ev = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1 + i), float(v))
             for i, v in enumerate([10, 10, 10, 10, 1000])],
            "user_id long, ts timestamp, value double",
        )
        # replicate r33's operator body on hand data
        med = ev.groupBy("user_id").agg(F.percentile("value", F.lit(0.5)).alias("m"))
        dev = (
            ev.join(med, "user_id")
            .groupBy("user_id")
            .agg(F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias("mad"))
        ).collect()[0]
        assert dev["mad"] == 0.0  # the spike cannot move MAD off zero

    def test_wau_equals_bruteforce_on_hand_data(self, spark):
        epoch = dt.datetime(2024, 1, 1)
        rows = [(1, 0), (1, 3), (2, 3), (3, 9), (1, 10)]
        ev = spark.createDataFrame(
            [(u, epoch + dt.timedelta(days=d)) for u, d in rows],
            "user_id long, ts timestamp",
        )
        from fantasy_premier_league_spark.queries import all_queries

        fn = all_queries()["q29_rolling_wau"].fn
        import fantasy_premier_league_spark.catalog as C

        day = F.datediff(F.col("ts"), F.lit("2024-01-01").cast("date"))
        ud = ev.select("user_id", day.alias("day")).distinct()
        contrib = ud.select(
            "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("e")
        ).distinct()
        days = ud.select("day").distinct()
        got = {
            r["day"]: r["wau"]
            for r in days.join(contrib, days["day"] == contrib["e"])
            .groupBy("day")
            .agg(F.countDistinct("user_id").alias("wau"))
            .collect()
        }
        # brute force in python
        import collections

        byday = collections.defaultdict(set)
        for u, d in rows:
            byday[d].add(u)
        expect = {}
        for d in {d for _, d in rows}:
            users = set()
            for k in range(d - 6, d + 1):
                users |= byday.get(k, set())
            expect[d] = len(users)
        assert got == expect


class TestExperimentContractFixes:
    def test_ztest_single_arm_still_one_row(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            ab_conversion_ztest,
        )

        pu = spark.createDataFrame([(0, 1), (0, 0)], "arm int, converted int")
        out = ab_conversion_ztest(pu).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_control"] == 2 and r["n_treat"] == 0
        assert r["rate_treat"] is None and r["zstat"] is None and r["significant"] == 0

    def test_ztest_empty_input_one_row(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            ab_conversion_ztest,
        )

        pu = spark.createDataFrame([], "arm int, converted int")
        out = ab_conversion_ztest(pu).collect()
        assert len(out) == 1 and out[0]["n_control"] == 0 and out[0]["zstat"] is None

    def test_cuped_no_overflow_at_scale(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            cuped_adjusted_ab,
        )

        # n*sxx ~ 5e14; its square overflowed int64 before the double
        # conversion fix (ANSI ArithmeticException / silent wrap)
        rows = [(i % 2, (i * 37) % 1000, 1 if i % 5 == 0 else 0) for i in range(50_000)]
        pu = spark.createDataFrame(rows, "arm int, x long, y long")
        out = cuped_adjusted_ab(pu).collect()[0]
        assert out["theta"] is not None
        assert 0.0 <= out["var_reduction_pct"] <= 100.0
        assert out["adj_rate_control"] is not None

    def test_cuped_single_arm_one_row_nulls(self, spark):
        from fantasy_premier_league_spark.operators.experiment import (
            cuped_adjusted_ab,
        )

        pu = spark.createDataFrame([(0, 1, 1), (0, 2, 0)], "arm int, x long, y long")
        out = cuped_adjusted_ab(pu).collect()
        assert len(out) == 1
        assert out[0]["adj_rate_treat"] is None and out[0]["adj_rate_control"] is not None


class TestDecileLift:
    def test_gains_invariants_on_real_data(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        out = sorted(
            all_queries()["q31_decile_lift"].fn(spark, "/root/testdata/sf0.001").collect(),
            key=lambda r: r["decile"],
        )
        assert [r["decile"] for r in out] == list(range(1, len(out) + 1))
        gains = [r["cum_gains"] for r in out]
        assert gains == sorted(gains)  # cumulative gains monotone
        assert gains[-1] == pytest.approx(1.0)
        total = sum(r["n_users"] for r in out)
        conv = sum(r["n_converted"] for r in out)
        base = conv / total
        for r in out:
            assert r["lift"] == pytest.approx(r["response_rate"] / base, abs=1e-5)


class TestSessionEntryAnalysis:
    def test_hand_built_sessions(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        t0 = dt.datetime(2024, 1, 1)
        # user 1: session A (view,click) entered by view; 2h later session
        # B (purchase) alone -> bounce entered by purchase
        rows = [
            (1, t0, "view", 1, 0.0),
            (1, t0 + dt.timedelta(minutes=5), "click", 2, 0.0),
            (1, t0 + dt.timedelta(hours=2), "purchase", 3, 0.0),
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string, event_id long, value double"
        )
        import fantasy_premier_league_spark.queries.selection as SEL_Q
        from fantasy_premier_league_spark.operators.sessionize import sessionize
        from pyspark.sql import Window

        s = sessionize(ev)
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        w = Window.partitionBy("user_id", "session_seq").orderBy(us, F.col("event_id"))
        flagged = s.withColumn("__rn", F.row_number().over(w)).withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("user_id", "session_seq"))
        )
        per_sess = flagged.filter(F.col("__rn") == 1).select(
            F.col("event_type").alias("entry_type"), F.col("__n").alias("n")
        )
        got = {r["entry_type"]: r["n"] for r in per_sess.collect()}
        assert got == {"view": 2, "purchase": 1}


class TestPrefixJaccardDispatch:
    """The crossover dispatch must route each corpus regime to the path
    that wins there, and every route returns identical pairs (the
    pigeonhole property test is the equivalence gate)."""

    def _route(self, spark, caplog, docs, **kw):
        with caplog.at_level(
            "INFO", logger="fantasy_premier_league_spark.operators.dedup"
        ):
            out = sorted(
                map(tuple, prefix_filtered_jaccard_pairs(docs, "doc_id", "text", **kw).collect())
            )
        msgs = [r.message for r in caplog.records if "prefix_filtered" in r.message]
        release_operator_caches(blocking=True)
        return out, msgs[-1] if msgs else ""

    def test_clean_corpus_routes_naive_stage1(self, spark, caplog):
        # short posting lists: candidates ~ postings -> stage-1 naive
        docs = spark.createDataFrame(
            [(i, f"unique{i} tokens only here {i} alpha beta gamma") for i in range(30)],
            "doc_id long, text string",
        )
        out, route = self._route(spark, caplog, docs, threshold=0.5)
        assert "stage 1" in route

    def test_subset_boilerplate_routes_prefix(self, spark, caplog):
        # a shared header on otherwise-distinct docs: naive candidates
        # explode quadratically, but the header shingles sort last and
        # leave every prefix -> the prefix path engages
        # the payload must be long enough that every prefix fits entirely
        # inside the doc's RARE shingles (prefix_len ~ 0.5|S|+1 < #rare)
        header = "terms of service apply to all users of this site today"
        docs = spark.createDataFrame(
            [(i, header + " " + " ".join(f"w{i}x{j}" for j in range(12)))
             for i in range(120)],
            "doc_id long, text string",
        )
        out, route = self._route(spark, caplog, docs, threshold=0.5)
        assert "prefix path" in route
        # equivalence on the routed corpus
        naive = sorted(
            map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect())
        )
        release_operator_caches(blocking=True)
        assert out == naive

    def test_saturated_space_routes_naive_stage2(self, spark, caplog):
        # identical duplicates: the prefix filter cannot prune true dups
        # (they MUST collide), so stage 2 detects a dense prefix index and
        # falls back to the count-based naive verify
        docs = spark.createDataFrame(
            [(i, "all these documents share every single shingle exactly")
             for i in range(120)],
            "doc_id long, text string",
        )
        out, route = self._route(spark, caplog, docs, threshold=0.5)
        assert "stage 2" in route
        assert len(out) == 120 * 119 // 2  # all pairs are true dups


class TestStarConnectedComponents:
    """connected_components_star must be value-identical to the min-label
    propagation closure on any graph (same min-reachable-id contract)."""

    def _both(self, spark, pairs):
        from fantasy_premier_league_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        try:
            # all four routes must agree: each closure's distributed
            # fixpoint (local_finish_edges=0) AND its stats-gated driver
            # union-find (every test graph is under the default bound)
            a = sorted(tuple(r) for r in connected_components(df).collect())
            b = sorted(tuple(r) for r in connected_components_star(df).collect())
            a0 = sorted(
                tuple(r)
                for r in connected_components(df, local_finish_edges=0).collect()
            )
            b0 = sorted(
                tuple(r)
                for r in connected_components_star(df, local_finish_edges=0).collect()
            )
            assert a == a0, "hybrid local finish diverged from distributed CC"
            assert b == b0, "hybrid local finish diverged from distributed star-CC"
            return a, b
        finally:
            release_operator_caches(blocking=True)

    def test_hand_graphs(self, spark):
        # two components + a chain + an isolated edge
        pairs = [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 10), (10, 11)]
        a, b = self._both(spark, pairs)
        assert a == b
        clusters = dict(b)
        assert clusters[3] == 1 and clusters[11] == 7 and clusters[6] == 5

    def test_hub_star_graph(self, spark):
        # one hub with 300 leaves, hub id NOT the minimum: every leaf and
        # the hub must land on the min leaf id
        pairs = [(1000, i) for i in range(1, 301)]
        a, b = self._both(spark, pairs)
        assert a == b
        assert all(c == 1 for _, c in b)

    def test_random_graphs_match_label_propagation(self, spark):
        import random as rnd

        for seed in (0, 1, 2):
            r = rnd.Random(seed)
            n = 60
            pairs = [
                (r.randrange(n), r.randrange(n)) for _ in range(80)
            ]
            pairs = [(a, b) for a, b in pairs if a != b]
            a, b = self._both(spark, pairs)
            assert a == b, f"seed {seed}"

    def test_long_chain_converges_fast(self, spark):
        # a 200-node path has diameter 200; star contraction must close it
        # in O(log^2 n) rounds, well inside the default budget
        pairs = [(i, i + 1) for i in range(200)]
        a, b = self._both(spark, pairs)
        assert a == b
        assert all(c == 0 for _, c in b)

    def test_mid_loop_local_finish(self, spark):
        # the per-probe escape: a graph ABOVE the bound up front (so the
        # init check does not fire) whose contraction shrinks it under
        # the bound mid-loop — the tail must finish on the driver with
        # the same labels as the fully distributed run. A 300-edge path
        # contracts fast; bound 250 sits between |E0|=300 and the first
        # probed remainder.
        from fantasy_premier_league_spark.operators.dedup import (
            connected_components_star,
        )

        pairs = [(i, i + 1) for i in range(300)]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        try:
            hybrid = sorted(
                tuple(r)
                for r in connected_components_star(
                    df, local_finish_edges=250
                ).collect()
            )
            dist = sorted(
                tuple(r)
                for r in connected_components_star(df, local_finish_edges=0).collect()
            )
            assert hybrid == dist
            assert all(c == 0 for _, c in hybrid)
        finally:
            release_operator_caches(blocking=True)


class TestKmvDistinct:
    """q03's sketch: build/merge/estimate laws the oracle also pins, plus
    the edges the driver corpus can't reach (tiny k, empty parts)."""

    def _df(self, spark):
        rows = [(f"k{i % 2}", i % 311) for i in range(900)]
        return spark.createDataFrame(rows, "k string, v long")

    def test_merge_equals_single_pass_register_exact(self, spark):
        from fantasy_premier_league_spark.operators.incremental import (
            kmv_state,
            merge_kmv_state,
        )

        df = self._df(spark)
        k = 64
        parts = [
            kmv_state(df.filter(f"v % 3 = {i}"), ["k"], "v", k=k) for i in range(3)
        ]
        merged = {
            r["k"]: r["kmv_v"] for r in merge_kmv_state(*parts, k=k).collect()
        }
        single = {r["k"]: r["kmv_v"] for r in kmv_state(df, ["k"], "v", k=k).collect()}
        assert merged == single  # register-for-register, not just same estimate

    def test_exact_regime_below_k(self, spark):
        from fantasy_premier_league_spark.operators.incremental import (
            estimate_kmv,
            kmv_state,
        )

        rows = [("k", i) for i in range(40)]
        df = spark.createDataFrame(rows, "k string, v long")
        est = estimate_kmv(kmv_state(df, ["k"], "v", k=256), k=256).collect()[0]
        assert est["approx_distinct"] == 40.0  # sketch not full -> exact count

    def test_estimate_within_error_bound(self, spark):
        from fantasy_premier_league_spark.operators.incremental import (
            estimate_kmv,
            kmv_state,
        )

        n, k = 5000, 256
        rows = [("k", i) for i in range(n)]
        df = spark.createDataFrame(rows, "k string, v long")
        est = estimate_kmv(kmv_state(df, ["k"], "v", k=k), k=k).collect()[0]
        # ~1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
        assert abs(est["approx_distinct"] - n) / n < 0.25

    def test_duplicates_do_not_move_the_sketch(self, spark):
        from fantasy_premier_league_spark.operators.incremental import kmv_state

        base = spark.createDataFrame([("k", i) for i in range(300)], "k string, v long")
        dup = base.union(base).union(base)
        a = kmv_state(base, ["k"], "v", k=64).collect()[0]["kmv_v"]
        b = kmv_state(dup, ["k"], "v", k=64).collect()[0]["kmv_v"]
        assert a == b

    def test_k_validation(self, spark):
        import pytest

        from fantasy_premier_league_spark.operators.incremental import kmv_state

        df = spark.createDataFrame([("k", 1)], "k string, v long")
        with pytest.raises(ValueError):
            kmv_state(df, ["k"], "v", k=1)


class TestKmvResemblance:
    """q04's estimator edges: identical sets -> 1.0, disjoint sets -> 0."""

    def _pair_est(self, spark, rows_a, rows_b):
        from pyspark.sql import functions as F

        from fantasy_premier_league_spark.operators.incremental import kmv_state

        df = spark.createDataFrame(
            [("a", v) for v in rows_a] + [("b", v) for v in rows_b],
            "source string, word string",
        )
        k = 16
        sk = kmv_state(df, ["source"], "word", k=k)
        a = sk.filter("source = 'a'").select(F.col("kmv_v").alias("kv_a"))
        b = sk.filter("source = 'b'").select(F.col("kmv_v").alias("kv_b"))
        row = a.crossJoin(b).select(
            F.slice(F.array_sort(F.array_distinct(F.concat("kv_a", "kv_b"))), 1, k).alias("comb"),
            "kv_a",
            "kv_b",
        ).select(
            (
                F.size(F.array_intersect(F.array_intersect("comb", "kv_a"), "kv_b"))
                / F.size("comb")
            ).alias("j")
        ).collect()[0]
        return row["j"]

    def test_identical_sets_estimate_one(self, spark):
        vals = [f"w{i}" for i in range(50)]
        assert self._pair_est(spark, vals, vals) == 1.0

    def test_disjoint_sets_estimate_zero(self, spark):
        a = [f"a{i}" for i in range(50)]
        b = [f"b{i}" for i in range(50)]
        assert self._pair_est(spark, a, b) == 0.0

    def test_known_overlap_accuracy(self, spark):
        """True J = |∩|/|∪| = 200/600 = 1/3; the KMV estimate at k=64 must
        land within ~4/sqrt(k) of it (the estimator is a hypergeometric
        draw of the union's k minima — sd ≈ sqrt(J(1-J)/k) ≈ 0.06)."""
        shared = [f"s{i}" for i in range(200)]
        a = shared + [f"a{i}" for i in range(200)]
        b = shared + [f"b{i}" for i in range(200)]
        est = self._pair_est_k(spark, a, b, k=64)
        assert abs(est - 1 / 3) < 0.25

    def _pair_est_k(self, spark, rows_a, rows_b, *, k):
        from pyspark.sql import functions as F

        from fantasy_premier_league_spark.operators.incremental import kmv_state

        df = spark.createDataFrame(
            [("a", v) for v in rows_a] + [("b", v) for v in rows_b],
            "source string, word string",
        )
        sk = kmv_state(df, ["source"], "word", k=k)
        a = sk.filter("source = 'a'").select(F.col("kmv_v").alias("kv_a"))
        b = sk.filter("source = 'b'").select(F.col("kmv_v").alias("kv_b"))
        return (
            a.crossJoin(b)
            .select(
                F.slice(
                    F.array_sort(F.array_distinct(F.concat("kv_a", "kv_b"))), 1, k
                ).alias("comb"),
                "kv_a",
                "kv_b",
            )
            .select(
                (
                    F.size(
                        F.array_intersect(F.array_intersect("comb", "kv_a"), "kv_b")
                    )
                    / F.size("comb")
                ).alias("j")
            )
            .collect()[0]["j"]
        )


class TestKmvNullSafety:
    def test_null_values_cannot_displace_registers(self, spark):
        """A null value hashes to null and Spark ranks nulls FIRST in ASC
        windows — unfiltered it would take rank 1 in a full sketch,
        displace a real minimum, then vanish in collect_list (which drops
        nulls), leaving a silently short sketch. Nulls must be no-ops."""
        from fantasy_premier_league_spark.operators.incremental import kmv_state

        k = 8
        clean = spark.createDataFrame(
            [("g", f"v{i}") for i in range(20)], "g string, v string"
        )
        dirty = spark.createDataFrame(
            [("g", f"v{i}") for i in range(20)] + [("g", None)] * 3,
            "g string, v string",
        )
        a = kmv_state(clean, ["g"], "v", k=k).collect()[0]["kmv_v"]
        b = kmv_state(dirty, ["g"], "v", k=k).collect()[0]["kmv_v"]
        assert a == b and len(a) == k
