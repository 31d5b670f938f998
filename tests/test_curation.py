"""Curation operators: decontamination, PII scrub, packing, mixing,
containment — unit-level edge cases the q40–q44 oracles don't isolate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fantasy_premier_league_spark.operators import curation as C
from fantasy_premier_league_spark.operators import pii as P
from fantasy_premier_league_spark.operators.dedup import containment_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDecontaminate:
    """Corpus and eval set are one frame split by ``eval_pred``: ids >= 100
    are eval docs."""

    def test_copied_doc_fully_contaminated(self, spark):
        docs = _docs(
            spark,
            [
                (100, "a b c d e f g h"),  # the eval doc
                (1, "a b c d e f g h"),  # verbatim eval copy
                (2, "x y z w v u t s"),  # disjoint
                (3, "a b c d e zz yy xx"),  # one shared 5-gram
            ],
        )
        out = {
            r["id"]: r
            for r in C.decontaminate_overlap_split(
                docs, F.col("id") >= 100, "doc_id", "text", n=5, threshold=0.2
            ).collect()
        }
        assert set(out) == {1, 2, 3}  # eval docs never reach the corpus side
        assert out[1]["overlap"] == pytest.approx(1.0)
        assert out[1]["contaminated"] == 1
        assert out[2]["n_hit"] == 0 and out[2]["contaminated"] == 0
        assert out[3]["n_hit"] == 1 and out[3]["n_shingles"] == 4

    def test_short_docs_have_no_shingles(self, spark):
        docs = _docs(spark, [(1, "too short"), (102, "a b c d e")])
        assert C.decontaminate_overlap_split(docs, F.col("id") >= 100, "doc_id", "text", n=5).count() == 0


class TestPii:
    def test_counts_and_redaction(self, spark):
        df = _docs(
            spark,
            [(1, "mail a.b+c@x-y.co now, call 555-123-4567 or ping 192.168.0.1 twice 10.0.0.255")],
        )
        r = P.pii_profile(df, "doc_id", "text").collect()[0]
        assert (r["n_email"], r["n_phone"], r["n_ipv4"], r["n_pii"]) == (1, 1, 2, 4)
        assert r["redacted"] == "mail <EMAIL> now, call <PHONE> or ping <IP> twice <IP>"

    def test_idempotent(self, spark):
        df = _docs(spark, [(1, "x a@b.io 555-000-1111 1.2.3.4")])
        once = P.pii_profile(df, "doc_id", "text").select(F.col("redacted").alias("text"), "doc_id")
        twice = P.pii_profile(once, "doc_id", "text").collect()[0]
        assert twice["n_pii"] == 0
        assert twice["redacted"] == "x <EMAIL> <PHONE> <IP>"

    def test_email_digits_not_half_redacted_as_phone(self, spark):
        df = _docs(spark, [(1, "a 555-123-4567@mail.com b")])
        r = P.pii_profile(df, "doc_id", "text").collect()[0]
        assert r["redacted"] == "a <EMAIL> b"
        assert r["n_email"] == 1


class TestPackSequences:
    def test_shard_boundaries_and_oversize_doc(self, spark):
        # single bucket: tokens 3,3,3 with budget 4 → cum 3,6,9 → shards 0,1,2
        df = _docs(spark, [(1, "a b c"), (2, "d e f"), (3, "g h i")])
        out = {r["doc_id"]: r for r in C.pack_sequences(df, "doc_id", "text", budget=4).collect()}
        assert [out[i]["shard_id"] for i in (1, 2, 3)] == [0, 1, 2]
        # a doc alone bigger than the budget still lands in one shard
        big = _docs(spark, [(1, " ".join(["w"] * 10))])
        assert C.pack_sequences(big, "doc_id", "text", budget=4).collect()[0]["shard_id"] == 2

    def test_sub_buckets_partition_independently(self, spark):
        df = _docs(spark, [(i, "a b c d") for i in range(8)])
        out = C.pack_sequences(df, "doc_id", "text", budget=8, sub_buckets=4).collect()
        # each bucket holds ids {i, i+4}: running 4, 8 → both in shard 0
        assert {r["pack_bucket"] for r in out} == {0, 1, 2, 3}
        assert all(r["shard_id"] == 0 for r in out)


class TestDomainMix:
    def test_uniform_target(self, spark):
        df = spark.createDataFrame(
            [("en",)] * 6 + [("fr",)] * 2, "lang string"
        )
        out = {r["lang"]: r for r in C.domain_mix_rates(df, ["lang"]).collect()}
        # target = 8/2 = 4 per group
        assert out["en"]["sample_rate"] == pytest.approx(4 / 6, abs=1e-6)
        assert out["fr"]["sample_rate"] == 1.0  # under-represented: kept whole
        assert out["fr"]["expected_n"] == 2.0

    def test_explicit_target_shares(self, spark):
        df = spark.createDataFrame([("en",)] * 8 + [("fr",)] * 2, "lang string")
        out = {
            r["lang"]: r
            for r in C.domain_mix_rates(
                df, ["lang"], target_shares={("en",): 0.5, ("fr",): 0.5}
            ).collect()
        }
        assert out["en"]["target_n"] == 5.0
        assert out["en"]["sample_rate"] == pytest.approx(5 / 8, abs=1e-6)
        assert out["fr"]["sample_rate"] == 1.0


class TestContainment:
    def test_embedded_doc_scores_full_containment(self, spark):
        long_doc = "p q r s t u v w x y z aa bb cc"
        short_doc = "s t u v w"  # contiguous slice of long_doc
        df = _docs(spark, [(1, long_doc), (2, short_doc)])
        rows = containment_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["id_a"], r["id_b"]) == (1, 2)
        assert r["containment"] == pytest.approx(1.0)

    def test_jaccard_would_miss_it(self, spark):
        from fantasy_premier_league_spark.operators.dedup import ngram_jaccard_pairs

        long_doc = "p q r s t u v w x y z aa bb cc"
        short_doc = "s t u v w"
        df = _docs(spark, [(1, long_doc), (2, short_doc)])
        jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5)
        assert jac.count() == 0  # 3/12 union → 0.25 < 0.5


class TestIncrementalDedup:
    def test_matches_full_selfjoin_cross_pairs(self, spark):
        from fantasy_premier_league_spark.operators.dedup import (
            minhash_dedup_pairs,
            minhash_incremental_pairs,
            minhash_signatures,
        )

        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, base),
            (2, base + " tail"),          # near-dup of 1
            (3, "completely different words in this one here now ok fine"),
            (4, base + " extra tail"),    # new batch: near-dup of 1/2
            (5, "another unrelated document with its own content entirely"),
        ]
        docs = _docs(spark, rows)
        index_docs = docs.filter("doc_id <= 3")
        batch = docs.filter("doc_id > 3")

        kw = dict(n=3, num_hashes=32, bands=8, est_threshold=0.3)
        index_sigs = minhash_signatures(index_docs, "doc_id", "text", n=3, num_hashes=32)
        inc = {
            (r.new_id, r.index_id, r.jaccard_est)
            for r in minhash_incremental_pairs(batch, index_sigs, "doc_id", "text", **kw).collect()
        }
        full = minhash_dedup_pairs(docs, "doc_id", "text", **kw)
        want = {
            (r.id_b, r.id_a, r.jaccard_est)
            for r in full.collect()
            if r.id_b > 3 and r.id_a <= 3
        }
        assert inc == want and len(inc) > 0


class TestGopherRules:
    def test_rule_flags_isolate_failures(self, spark):
        good = (
            "the quick brown foxes jumped over the gentle fence and "
            "the happy dogs rested in warm sunshine for a while"
        )
        df = _docs(
            spark,
            [
                (1, good),                      # passes every rule
                (2, "short doc here"),          # fails word-count floor
                (3, "spam " * 30),              # fails repetition + stopwords
            ],
        )
        out = {r["doc_id"]: r for r in C.gopher_quality_rules(df, "doc_id", "text").collect()}
        assert out[1]["quality_pass"] == 1
        assert out[2]["r_word_count"] == 0 and out[2]["quality_pass"] == 0
        assert out[3]["r_repetition"] == 0 and out[3]["r_stopwords"] == 0
        # top-word share: 30/30 spam tokens
        assert out[3]["top_word_ratio"] == pytest.approx(1.0)

    def test_stats_exact_on_known_doc(self, spark):
        df = _docs(spark, [(1, "the aa bbb cccc")])
        r = C.gopher_quality_rules(df, "doc_id", "text").collect()[0]
        assert r["n_words"] == 4
        # (15 chars - 3 spaces) / 4 words = 3.0
        assert r["mean_word_len"] == pytest.approx(3.0)
        assert r["stop_hits"] == 1
        assert r["alpha_ratio"] == pytest.approx(1.0)
        assert r["top_word_ratio"] == pytest.approx(0.25)


class TestBigramLogprob:
    def test_repeated_bigrams_score_higher(self, spark):
        df = _docs(
            spark,
            [
                (1, "a b a b a b a b"),   # all mass on 'a b'/'b a'
                (2, "c d e f g h i j"),   # every bigram unique
            ],
        )
        out = {r["doc_id"]: r for r in C.bigram_logprob(df, "doc_id", "text").collect()}
        assert out[1]["n_bigrams"] == 7 and out[2]["n_bigrams"] == 7
        # common bigrams are more probable → higher (less negative) logprob
        assert out[1]["avg_logprob"] > out[2]["avg_logprob"]
        assert out[2]["bits_per_bigram"] > out[1]["bits_per_bigram"]

    def test_single_word_docs_dropped(self, spark):
        df = _docs(spark, [(1, "solo"), (2, "a pair")])
        out = C.bigram_logprob(df, "doc_id", "text").collect()
        assert {r["doc_id"] for r in out} == {2}

    def test_smoothed_probability_exact(self, spark):
        import math

        # corpus 'x y x y': bigrams x·y ×2, y·x ×1. V=2, k=0.5.
        # P(y|x) = (2+0.5)/(2+1) = 5/6 ; P(x|y) = (1+0.5)/(1+1) = 0.75
        df = _docs(spark, [(1, "x y x y")])
        r = C.bigram_logprob(df, "doc_id", "text").collect()[0]
        want = (2 * math.log(2.5 / 3.0) + math.log(1.5 / 2.0)) / 3
        assert r["avg_logprob"] == pytest.approx(round(want, 6), abs=1e-6)


class TestChunkTokens:
    def test_short_doc_single_chunk(self, spark):
        df = _docs(spark, [(1, "a b c")])
        out = C.chunk_tokens(df, "doc_id", "text", chunk_words=8, stride_words=4).collect()
        assert len(out) == 1
        assert out[0]["chunk_id"] == 0 and out[0]["n_tokens"] == 3
        assert out[0]["chunk_text"] == "a b c"

    def test_overlap_windows_cover_exactly(self, spark):
        # 10 tokens, chunk 4, stride 2 -> starts 0,2,4,6; last window 7..10
        toks = [f"t{i}" for i in range(10)]
        df = _docs(spark, [(1, " ".join(toks))])
        out = sorted(
            C.chunk_tokens(df, "doc_id", "text", chunk_words=4, stride_words=2).collect(),
            key=lambda r: r["chunk_id"],
        )
        assert [r["chunk_id"] for r in out] == [0, 1, 2, 3]
        assert out[0]["chunk_text"] == "t0 t1 t2 t3"
        assert out[-1]["chunk_text"] == "t6 t7 t8 t9"
        # every window full-size here (10 = 4 + 3*2)
        assert all(r["n_tokens"] == 4 for r in out)

    def test_ragged_tail_window_short(self, spark):
        # 9 tokens, chunk 4, stride 4 -> starts 0,4,8; tail holds 1 token
        df = _docs(spark, [(1, " ".join(f"t{i}" for i in range(9)))])
        out = sorted(
            C.chunk_tokens(df, "doc_id", "text", chunk_words=4).collect(),
            key=lambda r: r["chunk_id"],
        )
        assert [r["n_tokens"] for r in out] == [4, 4, 1]

    def test_exact_multiple_no_empty_tail(self, spark):
        # 8 tokens, chunk 4, stride 4 -> exactly 2 windows, no empty third
        df = _docs(spark, [(1, " ".join(f"t{i}" for i in range(8)))])
        out = C.chunk_tokens(df, "doc_id", "text", chunk_words=4).collect()
        assert len(out) == 2

    def test_bad_params_raise(self, spark):
        df = _docs(spark, [(1, "a")])
        import pytest as _pt

        with _pt.raises(ValueError):
            C.chunk_tokens(df, "doc_id", "text", chunk_words=0)
        with _pt.raises(ValueError):
            C.chunk_tokens(df, "doc_id", "text", chunk_words=4, stride_words=5)


class TestTemperatureMix:
    def test_alpha_one_is_natural_mix(self, spark):
        df = _docs_src(spark, [(i, "x", "a" if i < 6 else "b") for i in range(10)])
        out = {r["source"]: r for r in C.temperature_mix_rates(df, ["source"], alpha=1.0).collect()}
        # alpha=1 keeps observed shares -> every group's target equals its size
        assert out["a"]["target_n"] == 6.0 and out["b"]["target_n"] == 4.0
        assert out["a"]["sample_rate"] == 1.0 and out["b"]["sample_rate"] == 1.0

    def test_alpha_zero_is_uniform(self, spark):
        df = _docs_src(spark, [(i, "x", "a" if i < 8 else "b") for i in range(10)])
        out = {r["source"]: r for r in C.temperature_mix_rates(df, ["source"], alpha=0.0).collect()}
        assert out["a"]["target_n"] == 5.0 and out["b"]["target_n"] == 5.0
        # over-represented group downsampled, under-represented kept whole
        assert out["a"]["sample_rate"] == 0.625 and out["b"]["sample_rate"] == 1.0

    def test_flattens_toward_tail(self, spark):
        df = _docs_src(spark, [(i, "x", "big" if i < 90 else "small") for i in range(100)])
        out = {r["source"]: r for r in C.temperature_mix_rates(df, ["source"], alpha=0.5).collect()}
        # sqrt scaling: big's share shrinks below 0.9, small's grows above 0.1
        assert out["big"]["target_n"] < 90
        assert out["small"]["target_n"] > 10


def _docs_src(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


class TestCompressHistory:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string"
        )

    def test_runs_compress_and_intervals_chain(self, spark):
        import datetime as dt

        t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
        df = self._ev(
            spark,
            [
                (1, 7, t(0), "view"),
                (2, 7, t(10), "view"),
                (3, 7, t(20), "click"),
                (4, 7, t(30), "view"),
            ],
        )
        out = sorted(
            C.compress_history(df, "user_id", "ts", "event_type", tiebreak_col="event_id").collect(),
            key=lambda r: r["run_seq"],
        )
        assert [(r["state"], r["n_rows"]) for r in out] == [("view", 2), ("click", 1), ("view", 1)]
        # intervals chain: each run's valid_to is the next run's valid_from
        assert out[0]["valid_to"] == out[1]["valid_from"]
        assert out[1]["valid_to"] == out[2]["valid_from"]
        assert out[2]["valid_to"] is None  # current run stays open

    def test_duplicate_ts_breaks_on_tiebreak(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        df = self._ev(spark, [(2, 1, t0, "b"), (1, 1, t0, "a")])
        out = sorted(
            C.compress_history(df, "user_id", "ts", "event_type", tiebreak_col="event_id").collect(),
            key=lambda r: r["run_seq"],
        )
        assert [r["state"] for r in out] == ["a", "b"]


class TestLengthBucketBatches:
    def test_sorted_batching_and_waste_accounting(self, spark):
        # 5 docs with lengths 8,8,4,4,1; batch_size=2 ->
        # batch0 = [8,8] waste 0; batch1 = [4,4] waste 0; batch2 = [1]
        rows = [
            (1, "w " * 8),
            (2, "w " * 8),
            (3, "w " * 4),
            (4, "w " * 4),
            (5, "w"),
        ]
        df = _docs(spark, [(i, t.strip()) for i, t in rows])
        out = {
            r["batch_id"]: r
            for r in C.length_bucket_batches(df, "doc_id", "text", batch_size=2).collect()
        }
        assert out[0]["max_tokens"] == 8 and out[0]["padding_waste"] == 0
        assert out[1]["max_tokens"] == 4 and out[1]["padding_waste"] == 0
        assert out[2]["n_seqs"] == 1 and out[2]["efficiency"] == 1.0

    def test_mixed_lengths_waste(self, spark):
        # lengths 6 and 2 in one batch: padded 12, waste 4
        df = _docs(spark, [(1, "w " * 6), (2, "w " * 2)])
        r = C.length_bucket_batches(df, "doc_id", "text", batch_size=2).first()
        assert r["padded_tokens"] == 12 and r["padding_waste"] == 4
        assert r["efficiency"] == pytest.approx(8 / 12, abs=1e-6)


class TestSpanDedup:
    """trim_duplicate_spans: sliding-window exact-substring dedup (Lee et
    al. 2022 shape) — duplicated >=k-word runs are cut from EVERY
    occurrence, at any offset, including twice within one doc."""

    RUN = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 words

    def _trim(self, spark, rows, k=10):
        out = C.trim_duplicate_spans(_docs(spark, rows), "doc_id", "text", k=k)
        return {r["id"]: r for r in out.collect()}

    def test_offset_shifted_duplicate_cut_from_both(self, spark):
        # the shared run starts at offset 0 in doc 1 and offset 3 in doc 2
        # — the fixed-passage form only catches aligned duplicates
        rows = [
            (1, f"{self.RUN} one two three"),
            (2, f"x y z {self.RUN} four"),
        ]
        got = self._trim(spark, rows)
        assert got[1]["n_dup_spans"] == 1 and got[1]["n_covered"] == 10
        assert got[1]["cleaned_text"] == "one two three"
        assert got[2]["cleaned_text"] == "x y z four"

    def test_within_doc_repeat_cut_everywhere(self, spark):
        rows = [(1, f"{self.RUN} filler {self.RUN}")]
        got = self._trim(spark, rows)
        # both occurrences removed (all-copies variant), filler survives
        assert got[1]["cleaned_text"] == "filler"
        assert got[1]["n_covered"] == 20

    def test_overlapping_windows_merge_via_position_blacklist(self, spark):
        # an 11-word shared run = two overlapping duplicated 10-windows;
        # covered positions union to 11, not 20
        run11 = self.RUN + " lambda"
        rows = [(1, f"{run11} tail"), (2, f"head {run11}")]
        got = self._trim(spark, rows)
        assert got[1]["n_dup_spans"] == 2 and got[1]["n_covered"] == 11
        assert got[1]["cleaned_text"] == "tail"
        assert got[2]["cleaned_text"] == "head"

    def test_short_and_unique_docs_untouched(self, spark):
        rows = [(1, "too short to window"), (2, "a completely unique sentence " * 3)]
        got = self._trim(spark, rows)
        for r in got.values():
            assert r["n_dup_spans"] == 0 and r["n_covered"] == 0
        assert got[1]["cleaned_text"] == "too short to window"

    def test_fully_covered_doc_yields_empty_text(self, spark):
        rows = [(1, self.RUN), (2, self.RUN)]
        got = self._trim(spark, rows)
        assert got[1]["cleaned_text"] == "" and got[1]["n_covered"] == 10
        assert got[2]["cleaned_text"] == ""


class TestWaterfillBudgets:
    def _frame(self, spark):
        # group g1: 3 docs x 4 tokens = 12 cap; g2: 1 doc x 100 tokens;
        # g3: 2 docs x 2 tokens = 4 cap (tiny, saturates first)
        rows = [
            (1, "g1", "a b c d"), (2, "g1", "a b c d"), (3, "g1", "a b c d"),
            (4, "g2", " ".join(f"w{i}" for i in range(100))),
            (5, "g3", "a b"), (6, "g3", "c d"),
        ]
        return spark.createDataFrame(rows, "doc_id long, grp string, text string")

    def _run(self, spark, **kw):
        from fantasy_premier_league_spark.operators.dedup import words
        df = self._frame(spark)
        out = C.waterfill_budgets(
            df, "grp", capacity=F.size(words(F.col("text"))), **kw
        )
        return {r["grp"]: r.asDict() for r in out.collect()}

    def test_conservation_and_cap(self, spark):
        # budget 60 of 116 capacity, weights sqrt(n_docs): g1 w=sqrt(3),
        # g3 w=sqrt(2) — both saturate (tiny capacity per weight); g2 takes
        # the remainder, below its capacity
        by = self._run(spark, total_budget=60)
        assert by["g1"]["saturated"] and by["g3"]["saturated"]
        assert by["g1"]["allocation"] == 12.0 and by["g3"]["allocation"] == 4.0
        assert not by["g2"]["saturated"]
        assert by["g2"]["allocation"] == pytest.approx(60 - 12 - 4, abs=1e-3)
        assert by["g2"]["fill_rate"] == pytest.approx(44 / 100, abs=1e-5)
        # conservation: allocations sum to the budget exactly
        assert sum(r["allocation"] for r in by.values()) == pytest.approx(60, abs=1e-3)

    def test_budget_exceeds_capacity(self, spark):
        by = self._run(spark, total_budget=10_000)
        assert all(r["saturated"] for r in by.values())
        assert all(r["fill_rate"] == 1.0 for r in by.values())
        assert sum(r["allocation"] for r in by.values()) == 116.0

    def test_nobody_saturates_proportional_split(self, spark):
        # budget so small that lambda*w < capacity everywhere: allocations
        # are exactly weight-proportional
        by = self._run(spark, total_budget=6)
        assert not any(r["saturated"] for r in by.values())
        import math
        w = {"g1": math.sqrt(3.0), "g2": 1.0, "g3": math.sqrt(2.0)}
        lam = 6 / sum(w.values())
        for g, r in by.items():
            assert r["allocation"] == pytest.approx(lam * w[g], abs=1e-3)

    def test_budget_frac(self, spark):
        by = self._run(spark, budget_frac=0.5)
        assert sum(r["allocation"] for r in by.values()) == pytest.approx(58, abs=1e-3)

    def test_exactly_one_budget_arg(self, spark):
        with pytest.raises(ValueError):
            self._run(spark)
        with pytest.raises(ValueError):
            self._run(spark, total_budget=5, budget_frac=0.5)


class TestEpochInterleave:
    def test_positions_unique_and_mixture_proportional_in_prefix(self, spark):
        # 80 docs from "big" (4x) and 20 from "small": every 25% slice of
        # the epoch should hold ~20 big and ~5 small (stride scheduling)
        rows = [(i, "big") for i in range(80)] + [(1000 + i, "small") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, src string")
        out = C.epoch_interleave(df, "doc_id", "src").collect()
        assert sorted(r["position"] for r in out) == list(range(1, 101))
        for q in range(4):
            sl = [r for r in out if q * 25 < r["position"] <= (q + 1) * 25]
            n_small = sum(1 for r in sl if r["src"] == "small")
            assert 4 <= n_small <= 6, f"quarter {q}: {n_small} small docs"

    def test_deterministic_across_runs(self, spark):
        rows = [(i, "a" if i % 3 else "b") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, src string")
        a = [(r["position"], r["doc_id"]) for r in C.epoch_interleave(df, "doc_id", "src").collect()]
        b = [(r["position"], r["doc_id"]) for r in C.epoch_interleave(df, "doc_id", "src").collect()]
        assert sorted(a) == sorted(b)

    def test_singleton_domain_lands_midway(self, spark):
        # one doc in its own domain has stride_frac 0.5 — never first/last
        rows = [(i, "big") for i in range(99)] + [(500, "solo")]
        df = spark.createDataFrame(rows, "doc_id long, src string")
        solo = [r for r in C.epoch_interleave(df, "doc_id", "src").collect() if r["src"] == "solo"][0]
        assert solo["stride_frac"] == pytest.approx(0.5)
        assert 40 <= solo["position"] <= 60
