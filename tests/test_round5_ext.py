"""DSIR selection, int8 quantization, BPE training, CCNet bucketing."""

from __future__ import annotations

import pytest

from fantasy_premier_league_spark.operators.bpe import bpe_apply, bpe_train_merges
from fantasy_premier_league_spark.operators.quantize import int8_quantize
from fantasy_premier_league_spark.operators.selection import dsir_weights


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")


class TestDsirWeights:
    def test_target_like_pool_doc_scores_higher(self, spark):
        # target vocabulary {alpha, beta}; background vocabulary {gamma, delta}
        rows = (
            [(i, "alpha beta alpha beta", True) for i in range(5)]
            + [(10 + i, "gamma delta gamma delta", False) for i in range(5)]
            + [(100, "alpha beta alpha beta", False)]  # target-like pool doc
        )
        out = {
            r["doc_id"]: r
            for r in dsir_weights(
                _docs(spark, rows), "doc_id", "text", "is_t", n_buckets=64
            ).collect()
        }
        assert out[100]["dsir_score"] > 0 > out[10]["dsir_score"]
        assert out[100]["selected"] == 1 and out[10]["selected"] == 0

    def test_target_docs_never_selected(self, spark):
        rows = [(1, "alpha beta", True), (2, "alpha beta", False)]
        out = {r["doc_id"]: r for r in dsir_weights(
            _docs(spark, rows), "doc_id", "text", "is_t", threshold=-100.0
        ).collect()}
        assert out[1]["selected"] == 0  # target slice is never resampled
        assert out[2]["selected"] == 1  # pool doc above a floor threshold
        assert out[2]["n_tokens"] == 2

    def test_empty_pool(self, spark):
        rows = [(1, "alpha beta", True)]
        got = dsir_weights(_docs(spark, rows), "doc_id", "text", "is_t").collect()
        assert len(got) == 1 and got[0]["is_target"] == 1


class TestInt8Quantize:
    def test_endpoints_reconstruct_exactly(self, spark):
        # every value sits on a grid endpoint (per-dim min or max)
        emb = spark.createDataFrame(
            [(1, [0.0, 10.0]), (2, [10.0, 0.0])], "vec_id long, v array<double>"
        )
        got = {r["vec_id"]: r for r in int8_quantize(emb, "vec_id", "v").collect()}
        assert got[1]["rmse"] == 0.0 and got[1]["cos_sim"] == 1.0
        assert got[2]["n_dims"] == 2

    def test_constant_dim_is_lossless(self, spark):
        emb = spark.createDataFrame(
            [(1, [3.0, 1.0]), (2, [3.0, 2.0])], "vec_id long, v array<double>"
        )
        got = {r["vec_id"]: r for r in int8_quantize(emb, "vec_id", "v").collect()}
        # dim 1 constant → reconstructs exactly; dim 2 endpoints → exact too
        assert got[1]["rmse"] == 0.0 and got[2]["rmse"] == 0.0

    def test_interior_error_bounded_by_half_step(self, spark):
        emb = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [255.0, 255.0]), (3, [1.4, 100.2])],
            "vec_id long, v array<double>",
        )
        got = {r["vec_id"]: r for r in int8_quantize(emb, "vec_id", "v").collect()}
        # step = 255/255 = 1.0 → per-dim error <= 0.5 → rmse <= 0.5
        assert 0 < got[3]["rmse"] <= 0.5
        assert got[3]["cos_sim"] == pytest.approx(1.0, abs=1e-3)


BPE_SCHEMA = "doc_id long, text string"


def _reference_bpe(word_counts: dict[str, int], n_merges: int):
    """Independent word-frequency BPE (Sennrich alg. 1) for cross-checking."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((a, b, a + b, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


class TestBpeTrain:
    def test_matches_reference_algorithm(self, spark):
        texts = ["low low low low low", "lower lower newer newer newer newer",
                 "newest newest newest wider wider new new new new"]
        docs = spark.createDataFrame(list(enumerate(texts)), BPE_SCHEMA)
        got = [
            (r["left_tok"], r["right_tok"], r["merged"], r["pair_count"])
            for r in bpe_train_merges(docs, "doc_id", "text", n_merges=4)
            .orderBy("merge_idx")
            .collect()
        ]
        wc: dict[str, int] = {}
        for t in texts:
            for w in t.split():
                wc[w] = wc.get(w, 0) + 1
        assert got == _reference_bpe(wc, 4)

    def test_greedy_overlap_left_to_right(self, spark):
        docs = spark.createDataFrame([(1, "aaa aaa")], BPE_SCHEMA)
        rows = bpe_train_merges(docs, "doc_id", "text", n_merges=2).orderBy(
            "merge_idx"
        ).collect()
        # "aaa" → pairs (a,a)x2, weight 2 → merge "aa"; then "(aa)(a)" → (aa,a)
        assert (rows[0]["merged"], rows[0]["pair_count"]) == ("aa", 4)
        assert (rows[1]["left_tok"], rows[1]["right_tok"]) == ("aa", "a")

    def test_runs_out_of_pairs(self, spark):
        docs = spark.createDataFrame([(1, "a b c")], BPE_SCHEMA)
        rows = bpe_train_merges(docs, "doc_id", "text", n_merges=5).collect()
        assert rows == []  # single-char words have no adjacent pairs

    def test_apply_counts_shrink_with_merges(self, spark):
        docs = spark.createDataFrame([(1, "banana bandana")], BPE_SCHEMA)
        merges = [
            (r["left_tok"], r["right_tok"])
            for r in bpe_train_merges(docs, "doc_id", "text", n_merges=3)
            .orderBy("merge_idx")
            .collect()
        ]
        base = docs.select(bpe_apply(docs, "text", []).alias("n")).first()["n"]
        merged = docs.select(bpe_apply(docs, "text", merges).alias("n")).first()["n"]
        assert base == len("banana") + len("bandana")
        assert merged < base


class TestCcnetBuckets:
    def test_partition_and_ordering_invariants(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        q = all_queries()["q07_ccnet_buckets"]
        rows = q.fn(spark, "/root/testdata/sf0.001").collect()
        by_lang: dict[str, dict[str, object]] = {}
        for r in rows:
            by_lang.setdefault(r["lang_pred"], {})[r["bucket"]] = r
        for lang, buckets in by_lang.items():
            assert set(buckets) <= {"head", "middle", "tail"}
            if "head" in buckets and "tail" in buckets:
                assert buckets["head"]["avg_bpt"] <= buckets["tail"]["avg_bpt"]
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert sum(r["n_docs"] for r in rows) == docs.count()


class TestInt8Reconstruct:
    def test_reconstruction_within_half_step(self, spark):
        from fantasy_premier_league_spark.operators.quantize import int8_reconstruct

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
        lo = [min(v[i] for v in orig.values()) for i in range(64)]
        hi = [max(v[i] for v in orig.values()) for i in range(64)]
        rec = {r["vec_id"]: r["r"] for r in int8_reconstruct(emb, "vec_id", "embedding").collect()}
        for vid, v in list(orig.items())[:20]:
            for i, (a, b) in enumerate(zip(v, rec[vid])):
                step = (hi[i] - lo[i]) / 255.0
                assert abs(a - b) <= step / 2 + 1e-9


class TestTrainApplyAndRecall:
    def test_r05_apply_invariants(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        rows = all_queries()["v61_bpe_apply"].fn(spark, "/root/testdata/sf0.001").collect()
        assert rows
        for r in rows:
            assert 0 < r["n_tokens_bpe"] <= r["n_chars"]
            assert 0 < r["compression"] <= 1.0

    def test_r06_recall_high_under_int8(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        rows = all_queries()["q08_quantized_recall"].fn(spark, "/root/testdata/sf0.001").collect()
        assert len(rows) == 10
        avg = sum(r["recall_at_3"] for r in rows) / len(rows)
        # int8 must not meaningfully perturb top-3 neighbours
        assert avg >= 0.8


class TestCorpusReport:
    def test_report_invariants(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        rows = all_queries()["q09_corpus_report"].fn(spark, "/root/testdata/sf0.001").collect()
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert sum(r["n_docs"] for r in rows) == docs.count()
        for r in rows:
            assert 0 <= r["n_exact_dup_docs"] <= r["n_docs"]
            assert 0 < r["avg_quality"] <= 1.0
            assert r["top_lang"] in {"en", "fr", "es", "de", "und"}


class TestClusterSafeSplit:
    def test_near_dups_never_straddle_the_split(self, spark):
        from fantasy_premier_league_spark.operators import dedup as D
        from fantasy_premier_league_spark.queries import all_queries

        sf = "/root/testdata/sf0.001"
        split = {
            r["doc_id"]: r["split"]
            for r in all_queries()["q49_cluster_safe_split"].fn(spark, sf).collect()
        }
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        assert len(split) == docs.count()
        pairs = D.simhash_near_dup_pairs(
            docs, "doc_id", "text", max_hamming=8
        ).collect()
        assert pairs  # the fixture corpus has implanted near-dups
        for p in pairs:
            assert split[p["id_a"]] == split[p["id_b"]]
        frac = sum(1 for v in split.values() if v == "train") / len(split)
        assert 0.6 < frac < 0.95


class TestEmptyInputs:
    def test_all_new_operators_accept_empty_frames(self, spark):
        from fantasy_premier_league_spark.operators.quantize import (
            int8_quantize,
            int8_reconstruct,
        )

        empty_docs = spark.createDataFrame([], "doc_id long, text string, is_t boolean")
        empty_emb = spark.createDataFrame([], "vec_id long, v array<double>")
        assert dsir_weights(empty_docs, "doc_id", "text", "is_t").collect() == []
        assert int8_quantize(empty_emb, "vec_id", "v").collect() == []
        assert int8_reconstruct(empty_emb, "vec_id", "v").collect() == []
        assert bpe_train_merges(empty_docs, "doc_id", "text").collect() == []


class TestArtifactRoundtrip:
    def test_bpe_merges_survive_parquet(self, spark, tmp_path):
        """The learned merge table persists like any warehouse table and
        encodes identically after reload — the deploy path for bpe_apply."""
        docs = spark.createDataFrame([(1, "banana bandana")], BPE_SCHEMA)
        merges = bpe_train_merges(docs, "doc_id", "text", n_merges=2)
        merges.write.parquet(str(tmp_path / "merges"))
        back = spark.read.parquet(str(tmp_path / "merges")).orderBy("merge_idx")
        pairs = [(r["left_tok"], r["right_tok"]) for r in back.collect()]
        n1 = docs.select(bpe_apply(docs, "text", pairs).alias("n")).first()["n"]
        orig = [
            (r["left_tok"], r["right_tok"])
            for r in merges.orderBy("merge_idx").collect()
        ]
        n2 = docs.select(bpe_apply(docs, "text", orig).alias("n")).first()["n"]
        assert n1 == n2


class TestBpeDeepMerges:
    def test_eight_rounds_match_reference(self, spark):
        """Deeper chain: learned tokens must themselves merge (l+o→lo,
        lo+w→low, ...), which exercises repeated re-encoding of the same
        words across rounds."""
        texts = [
            "low low low low low low lowest lowest lower lower lower",
            "slow slow slow slower slowest glow glow glowing",
            "newer newer newer new new new newest wider wide wide",
        ]
        docs = spark.createDataFrame(list(enumerate(texts)), BPE_SCHEMA)
        got = [
            (r["left_tok"], r["right_tok"], r["merged"], r["pair_count"])
            for r in bpe_train_merges(docs, "doc_id", "text", n_merges=8)
            .orderBy("merge_idx")
            .collect()
        ]
        wc: dict[str, int] = {}
        for t in texts:
            for w in t.split():
                wc[w] = wc.get(w, 0) + 1
        ref = _reference_bpe(wc, 8)
        assert got == ref
        # at least one learned merge must consume a previously-merged token
        merged_tokens = {m[2] for m in ref}
        assert any(m[0] in merged_tokens or m[1] in merged_tokens for m in ref)


class TestFunnelAndRetention:
    def test_funnel_strict_ordering(self, spark):
        from datetime import datetime

        from fantasy_premier_league_spark.operators.sessionize import funnel_counts

        t = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
        rows = [
            # user 1: full ordered funnel
            (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
            # user 2: purchase BEFORE click — must stop at click
            (2, t(1), "view"), (2, t(3), "click"), (2, t(2), "purchase"),
            # user 3: view only
            (3, t(1), "view"),
            # user 4: click with no prior view — must not count anywhere
            (4, t(1), "click"), (4, t(2), "purchase"),
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string"
        )
        got = {
            r["stage"]: (r["n_users"], r["conversion"])
            for r in funnel_counts(ev, ["view", "click", "purchase"]).collect()
        }
        assert got["view"] == (3, 1.0)
        assert got["click"] == (2, pytest.approx(0.666667))
        assert got["purchase"] == (1, pytest.approx(0.333333))

    def test_retention_triangle(self, spark):
        from datetime import datetime

        from fantasy_premier_league_spark.operators.sessionize import (
            retention_cohorts,
        )

        d = lambda day, hh=0: datetime(2024, 1, day, hh)  # noqa: E731
        rows = [
            # user 1: first in week 0, active weeks 0 and 1
            (1, d(2)), (1, d(9)),
            # user 2: first in week 0, active week 0 only
            (2, d(3)),
            # user 3: first in week 1, active weeks 1 and 2 (offsets 0, 1)
            (3, d(10)), (3, d(16)),
        ]
        ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
        got = {
            (r["cohort_week"], r["week_offset"]): (r["n_active"], r["retention"])
            for r in retention_cohorts(ev).collect()
        }
        assert got[(0, 0)] == (2, 1.0)
        assert got[(0, 1)] == (1, 0.5)
        assert got[(1, 0)] == (1, 1.0)
        assert got[(1, 1)] == (1, 1.0)
        assert (0, 2) not in got


class TestTriangleStats:
    def test_known_graphs(self, spark):
        from fantasy_premier_league_spark.operators.graph import triangle_stats

        def stats(pairs):
            e = spark.createDataFrame(pairs, "src long, dst long")
            return triangle_stats(e).first()

        # K4: 4 triangles, 6 edges, clustering 1.0
        k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
        r = stats(k4)
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
        assert r["clustering"] == 1.0
        # path 0-1-2-3: no triangles, 2 wedges, clustering 0
        r = stats([(0, 1), (1, 2), (2, 3)])
        assert (r["n_triangles"], r["n_wedges"], r["clustering"]) == (0, 2, 0.0)
        # triangle + pendant: 1 triangle; wedges = 1+1+3 = 5
        r = stats([(0, 1), (1, 2), (0, 2), (2, 3)])
        assert (r["n_triangles"], r["n_wedges"]) == (1, 5)
        assert r["clustering"] == 0.6
        # duplicate / reversed / self edges normalize away
        r = stats([(0, 1), (1, 0), (0, 0), (1, 2), (0, 2), (2, 1)])
        assert (r["n_edges"], r["n_triangles"]) == (3, 1)

    def test_single_edge_has_null_clustering(self, spark):
        from fantasy_premier_league_spark.operators.graph import triangle_stats

        e = spark.createDataFrame([(1, 2)], "src long, dst long")
        r = triangle_stats(e).first()
        assert r["n_wedges"] == 0 and r["clustering"] is None


class TestFunnelEmptyStageOne:
    def test_empty_first_stage_yields_null_conversion(self, spark):
        from datetime import datetime

        from fantasy_premier_league_spark.operators.sessionize import funnel_counts

        ev = spark.createDataFrame(
            [(1, datetime(2024, 1, 1), "click")],
            "user_id long, ts timestamp, event_type string",
        )
        rows = {r["stage"]: r for r in funnel_counts(ev, ["view", "click"]).collect()}
        assert rows["view"]["n_users"] == 0
        assert rows["view"]["conversion"] is None
        assert rows["click"]["n_users"] == 0  # no view → no click-after-view


class TestWeightedSample:
    def test_heavy_weights_dominate_and_ranks_are_dense(self, spark):
        from fantasy_premier_league_spark.operators.selection import weighted_sample

        rows = [(i, 10.0) for i in range(50)] + [(100 + i, 0.001) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, quality double")
        got = weighted_sample(df, "doc_id", "quality", k=40).collect()
        assert len(got) == 40
        assert sorted(r["rank"] for r in got) == list(range(1, 41))
        assert len({r["doc_id"] for r in got}) == 40  # without replacement
        heavy = sum(1 for r in got if r["quality"] == 10.0)
        # Exp(10) arrivals beat Exp(0.001) arrivals ~always
        assert heavy >= 35
        # deterministic: a second run returns the identical sample
        again = weighted_sample(df, "doc_id", "quality", k=40).collect()
        assert [r.asDict() for r in again] == [r.asDict() for r in got]
