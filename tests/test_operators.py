"""Unit tests for the custom operator layer."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from fantasy_premier_league_spark.functions import features as FE
from fantasy_premier_league_spark.operators import cache as C
from fantasy_premier_league_spark.operators import dedup as D
from fantasy_premier_league_spark.operators import fuzzy, multimodal, similarity, textstats
from fantasy_premier_league_spark.operators.asof import asof_join


def ts(s):
    return dt.datetime.fromisoformat(s)


class TestAsofJoin:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        left = spark.createDataFrame(
            [(1, ts("2024-01-10T00:00:00"), "a"), (1, ts("2024-01-20T00:00:00"), "b"),
             (2, ts("2024-01-05T00:00:00"), "c"), (3, ts("2024-01-05T00:00:00"), "d")],
            "key int, lts timestamp, tag string",
        )
        right = spark.createDataFrame(
            [(1, ts("2024-01-09T00:00:00"), 100), (1, ts("2024-01-15T00:00:00"), 200),
             (1, ts("2024-01-20T00:00:00"), 300), (2, ts("2024-01-06T00:00:00"), 400)],
            "key int, rts timestamp, val int",
        )
        return left, right

    def test_backward_inclusive(self, frames):
        left, right = frames
        out = asof_join(left, right, left_on="key", right_on="key", left_ts="lts",
                        right_ts="rts", right_value_cols=("val",))
        got = {r["tag"]: r["asof_val"] for r in out.collect()}
        assert got == {"a": 100, "b": 300, "c": None, "d": None}

    def test_backward_strict(self, frames):
        left, right = frames
        out = asof_join(left, right, left_on="key", right_on="key", left_ts="lts",
                        right_ts="rts", right_value_cols=("val",), allow_exact_matches=False)
        got = {r["tag"]: r["asof_val"] for r in out.collect()}
        assert got["b"] == 200  # the equal-ts 300 row is excluded

    def test_forward_direction(self, frames):
        left, right = frames
        out = asof_join(left, right, left_on="key", right_on="key", left_ts="lts",
                        right_ts="rts", right_value_cols=("val",), direction="forward")
        got = {r["tag"]: r["asof_val"] for r in out.collect()}
        # a@01-10 → next right at 01-15 (200); b@01-20 → exact match 300;
        # c@01-05 → next at 01-06 (400); d key=3 → nothing upcoming
        assert got == {"a": 200, "b": 300, "c": 400, "d": None}

    def test_forward_strict_excludes_exact(self, frames):
        left, right = frames
        out = asof_join(left, right, left_on="key", right_on="key", left_ts="lts",
                        right_ts="rts", right_value_cols=("val",), direction="forward",
                        allow_exact_matches=False)
        got = {r["tag"]: r["asof_val"] for r in out.collect()}
        assert got["b"] is None  # the equal-ts 300 row is excluded, nothing after

    def test_bad_direction_rejected(self, frames):
        left, right = frames
        with pytest.raises(ValueError, match="backward.*forward"):
            asof_join(left, right, left_on="key", right_on="key", left_ts="lts",
                      right_ts="rts", right_value_cols=("val",), direction="sideways")

    def test_tie_among_right_rows_takes_max(self, spark):
        left = spark.createDataFrame([(1, ts("2024-01-02T00:00:00"))], "key int, lts timestamp")
        right = spark.createDataFrame(
            [(1, ts("2024-01-01T00:00:00"), 5), (1, ts("2024-01-01T00:00:00"), 9)],
            "key int, rts timestamp, val int",
        )
        out = asof_join(left, right, left_on="key", right_on="key", left_ts="lts",
                        right_ts="rts", right_value_cols=("val",))
        assert out.first()["asof_val"] == 9


class TestDedup:
    def test_exact_dedup_keeps_first_by_order(self, spark):
        df = spark.createDataFrame(
            [("x", 3), ("x", 1), ("y", 2)], "k string, v int"
        )
        out = D.exact_dedup(df, ["k"], ["v"]).collect()
        assert {(r["k"], r["v"]) for r in out} == {("x", 1), ("y", 2)}

    def test_shingles_short_doc_empty(self, spark):
        df = spark.createDataFrame([(1, "only two")], "id long, text string")
        assert D.doc_shingles(df, "id", "text", 3).count() == 0

    def test_jaccard_exact_value(self, spark):
        # doc1: shingles {a b c, b c d}; doc2: {a b c, b c e} → J = 1/3
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e")], "id long, text string"
        )
        out = D.ngram_jaccard_pairs(df, "id", "text", n=3, threshold=0.0).collect()
        assert len(out) == 1
        assert out[0]["jaccard"] == pytest.approx(1 / 3, abs=1e-6)

    def test_minhash_estimate_tracks_exact_jaccard(self, spark):
        # statistical soundness: |estimate - exact| within 4 sigma of the
        # binomial std sqrt(J(1-J)/k) for k=64 hashes
        import random

        rng = random.Random(11)
        vocab = [f"w{i}" for i in range(200)]
        base = rng.sample(vocab, 80)
        docs = [(0, " ".join(base))]
        for i in range(1, 6):
            mutated = list(base)
            for _ in range(i * 8):
                mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            docs.append((i, " ".join(mutated)))
        df = spark.createDataFrame(docs, "id long, text string")
        exact = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in D.ngram_jaccard_pairs(df, "id", "text", threshold=0.0).collect()}
        est = {(r["id_a"], r["id_b"]): r["jaccard_est"]
               for r in D.minhash_dedup_pairs(df, "id", "text", est_threshold=0.0, bands=64).collect()}
        checked = 0
        for pair, j in exact.items():
            if pair in est:
                sigma = (j * (1 - j) / 64) ** 0.5
                assert abs(est[pair] - j) <= 4 * sigma + 0.02, (pair, j, est[pair])
                checked += 1
        assert checked >= 4

    def test_minhash_deterministic_and_finds_near_dups(self, spark):
        rows = [(1, "the quick brown fox jumps over the lazy dog again and again"),
                (2, "the quick brown fox jumps over the lazy dog again and again today"),
                (3, "completely different words about spark query engines and shuffles")]
        df = spark.createDataFrame(rows, "id long, text string")
        p1 = {(r["id_a"], r["id_b"]): r["jaccard_est"]
              for r in D.minhash_dedup_pairs(df, "id", "text", est_threshold=0.2).collect()}
        p2 = {(r["id_a"], r["id_b"]): r["jaccard_est"]
              for r in D.minhash_dedup_pairs(df, "id", "text", est_threshold=0.2).collect()}
        assert p1 == p2  # deterministic across runs
        assert (1, 2) in p1 and all(3 not in k for k in p1)

    def test_simhash_near_dup_low_hamming(self, spark):
        # simhash statistics need non-trivial docs: 40 shared words, 1 extra
        import hashlib

        words = [f"w{i}" for i in range(40)]
        base = " ".join(words)
        rows = [(1, base), (2, base + " extra"),
                (3, " ".join(f"z{i}" for i in range(40)))]
        df = spark.createDataFrame(rows, "id long, text string")
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in D.simhash_near_dup_pairs(df, "id", "text", max_hamming=20).collect()}
        assert (1, 2) in pairs
        assert all(3 not in k for k in pairs)

        # one added tf-1 word flips exactly the bits whose 40-word vote is
        # tied at 0 and that its own hash sets (bits 0-31 from the low md5
        # half, 32-63 from the high half)
        def hash_bits(w):
            halves = [int(hashlib.md5(w.encode()).hexdigest()[k:k + 8], 16) for k in (0, 8)]
            return [halves[i // 32] >> (i % 32) & 1 for i in range(64)]

        votes = [sum(2 * b - 1 for b in bit) for bit in zip(*map(hash_bits, words))]
        assert pairs[(1, 2)] == sum(e for v, e in zip(votes, hash_bits("extra")) if v == 0)


class TestFuzzy:
    def test_token_set_ratio_basics(self):
        assert fuzzy.token_set_ratio("mohamed salah", "mohamed salah") == 100.0
        assert fuzzy.token_set_ratio("salah mohamed", "mohamed salah") == 100.0
        # token-set: subset relation scores 100 (intersection vs t1 == inter)
        assert fuzzy.token_set_ratio("salah", "mohamed salah") == 100.0
        assert fuzzy.token_set_ratio("kevin de bruyne", "kevin bruyne de") == 100.0
        assert fuzzy.token_set_ratio("harry kane", "raheem sterling") < 50.0
        assert fuzzy.token_set_ratio(None, "x") == 0.0

    def test_token_set_ratio_matches_published_rapidfuzz_values(self):
        # the reference scores with rapidfuzz.fuzz.token_set_ratio
        # (additional_fifa.py:111-155) — InDel ratio, NOT difflib's
        # Ratcliff-Obershelp. Pin the exact published numerics:
        # rapidfuzz README example for fuzz.ratio
        assert fuzzy._indel_ratio("this is a test", "this is a test!") == pytest.approx(
            96.55172413793103
        )
        # fuzzywuzzy README: duplicated token collapses under set semantics
        assert fuzzy.token_set_ratio("fuzzy was a bear", "fuzzy fuzzy was a bear") == 100.0
        # seatgeek token_set_ratio example: 30/33 on the sect-vs-(sect+diff)
        assert fuzzy.token_set_ratio(
            "mariners vs angels", "los angeles angels of anaheim at seattle mariners"
        ) == pytest.approx(90.9091, abs=1e-4)
        # subset name (short form inside long form) is a perfect 100
        assert fuzzy.token_set_ratio("new york mets", "new york mets vs atlanta braves") == 100.0
        # accented chars normalize away BEFORE scoring in the pipeline;
        # post-normalization reordered tokens are a perfect 100
        assert fuzzy.token_set_ratio("sergio aguero", "aguero sergio") == 100.0
        # difflib's ratio underestimates scattered matches (R-O picks the
        # longest block greedily, missing LCS chars); pin the indel value
        # difflib would get wrong (difflib: 25.0)
        assert fuzzy.token_set_ratio("gabriel jesus", "andre gomes") == pytest.approx(50.0)

    def test_resolve_entities(self, spark):
        fpl = spark.createDataFrame(
            [("1", "Mohamed Salah", "MID"), ("2", "Harry Kane", "FWD"),
             ("3", "Ederson Moraes", "GKP"), ("4", "Nobody Atall", "DEF")],
            "player_id string, fpl_player_name string, position_name string",
        )
        fifa = spark.createDataFrame(
            [(10, "M. Salah", "Mohamed Salah", "RW, LW"),
             (20, "H. Kane", "Harry Edward Kane", "ST"),
             (30, "Ederson", "Ederson Santana de Moraes", "GK"),
             (40, "K. Walker", "Kyle Walker", "RB")],
            "sofifa_id long, fifa_name_short string, fifa_name_long string, player_positions string",
        )
        out = {r["player_id"]: r.asDict() for r in fuzzy.resolve_entities(fpl, fifa, threshold=90).collect()}
        assert out["1"]["sofifa_id"] == 10 and out["1"]["match_best"] == 100.0
        assert out["2"]["sofifa_id"] == 20  # token-set subset → 100
        assert out["3"]["sofifa_id"] == 30
        assert out["4"]["sofifa_id"] is None  # below threshold → nulled out

    def test_resolve_incremental_skips_existing(self, spark):
        fpl = spark.createDataFrame(
            [("1", "Mohamed Salah", "MID"), ("2", "Harry Kane", "FWD")],
            "player_id string, fpl_player_name string, position_name string",
        )
        fifa = spark.createDataFrame(
            [(10, "M. Salah", "Mohamed Salah", "RW"), (20, "H. Kane", "Harry Kane", "ST")],
            "sofifa_id long, fifa_name_short string, fifa_name_long string, player_positions string",
        )
        existing = spark.createDataFrame([("1",)], "player_id string")
        out = fuzzy.resolve_entities(fpl, fifa, threshold=90, existing_lookup=existing)
        assert [r["player_id"] for r in out.collect()] == ["2"]

    def test_salted_blocking_matches_broadcast_path(self, spark):
        # the 4-class blocking key is skewed by construction; the salted
        # shuffle path must be semantically invisible vs the broadcast path
        fpl = spark.createDataFrame(
            [("1", "Mohamed Salah", "MID"), ("2", "Harry Kane", "FWD"),
             ("3", "Ederson Moraes", "GKP"), ("4", "Nobody Atall", "DEF")],
            "player_id string, fpl_player_name string, position_name string",
        )
        fifa = spark.createDataFrame(
            [(10, "M. Salah", "Mohamed Salah", "RW, LW"),
             (20, "H. Kane", "Harry Edward Kane", "ST"),
             (30, "Ederson", "Ederson Santana de Moraes", "GK"),
             (40, "K. Walker", "Kyle Walker", "RB")],
            "sofifa_id long, fifa_name_short string, fifa_name_long string, player_positions string",
        )
        plain = {tuple(r) for r in fuzzy.resolve_entities(fpl, fifa, threshold=90).collect()}
        salted = fuzzy.resolve_entities(fpl, fifa, threshold=90, n_salt=4)
        assert {tuple(r) for r in salted.collect()} == plain
        # the candidate join must shuffle on the salted composite key, not
        # the bare 4-value class key — that is what evens out task sizes
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan.split("BroadcastHashJoin")[0] or "__salt" in plan

    def test_position_blocking_prevents_cross_class_match(self, spark):
        fpl = spark.createDataFrame(
            [("1", "Kyle Walker", "FWD")],  # wrong class on purpose
            "player_id string, fpl_player_name string, position_name string",
        )
        fifa = spark.createDataFrame(
            [(40, "K. Walker", "Kyle Walker", "RB")],
            "sofifa_id long, fifa_name_short string, fifa_name_long string, player_positions string",
        )
        out = fuzzy.resolve_entities(fpl, fifa, threshold=90).collect()
        assert out == []  # blocked: no candidate pair survives → no row


class TestRrfFusion:
    def test_fusion_math_and_truncated_lists(self, spark):
        from fantasy_premier_league_spark.operators.retrieval import rrf_fuse_topk

        sem = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (2, 12, 1)], "query_id long, doc_id long, rank int"
        )
        lex = spark.createDataFrame([(11, 1), (13, 2)], "doc_id long, rank int")
        got = {
            (r["query_id"], r["doc_id"]): (r["rrf"], r["rank"])
            for r in rrf_fuse_topk(sem, lex, k=10, k_rrf=60).collect()
        }
        # doc 11 appears in BOTH lists for query 1: contributions add
        assert got[(1, 11)][0] == pytest.approx(round(1 / 62 + 1 / 61, 6))
        # docs in only one list get only that list's contribution
        assert got[(1, 10)][0] == pytest.approx(round(1 / 61, 6))
        assert got[(1, 13)][0] == pytest.approx(round(1 / 62, 6))
        # the global lexical list fans out to every query
        assert got[(2, 13)][0] == pytest.approx(round(1 / 62, 6))
        # fused ranking: 11 (both lists) > 10 (sem rank 1) > 13 (lex rank 2)
        assert got[(1, 11)][1] == 1 and got[(1, 10)][1] == 2 and got[(1, 13)][1] == 3


class TestRound5EmptyInputs:
    def test_rrf_with_empty_lexical_list_is_sem_only(self, spark):
        from fantasy_premier_league_spark.operators.retrieval import rrf_fuse_topk

        sem = spark.createDataFrame([(1, 10, 1)], "query_id long, doc_id long, rank int")
        lex = spark.createDataFrame([], "doc_id long, rank int")
        rows = rrf_fuse_topk(sem, lex, k=5).collect()
        assert len(rows) == 1
        assert rows[0]["rrf"] == pytest.approx(round(1 / 61, 6))

    def test_hard_negatives_empty_when_all_labels_match(self, spark):
        from fantasy_premier_league_spark.operators.similarity import hard_negative_topk

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0], 7) for i in range(5)],
            "vec_id long, embedding array<double>, label int",
        )
        assert hard_negative_topk(emb, emb.limit(2), k=3).count() == 0


class TestRound5Invariants:
    def test_hard_negatives_never_share_label(self, spark):
        from fantasy_premier_league_spark.catalog import load
        from fantasy_premier_league_spark.operators.similarity import hard_negative_topk

        emb = load(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        out = hard_negative_topk(emb, queries, k=5)
        labels = {r["vec_id"]: r["label"] for r in queries.collect()}
        for r in out.collect():
            assert r["neg_label"] != labels[r["query_id"]]
            assert -1.0 <= r["cosine"] <= 1.0

    def test_ann_recall_bounded_and_consistent(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        rows = all_queries()["q01_ann_recall_eval"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(rows) == 10
        for r in rows:
            assert 0 <= r["n_hits"] <= 3
            assert r["recall_at_3"] == pytest.approx(r["n_hits"] / 3.0, abs=1e-6)

    def test_zipf_slope_negative_on_real_text(self, spark):
        from fantasy_premier_league_spark.queries import all_queries

        row = all_queries()["q02_token_zipf"].fn(spark, "/root/testdata/sf0.001").first()
        # frequency must fall with rank; intercept = ln(freq) at rank 1
        assert row["zipf_slope"] < 0
        assert row["log_intercept"] > 0
        assert row["n_points"] == 31  # the synthetic corpus vocab size


class TestMultimodal:
    @pytest.fixture(scope="class")
    def payloads(self, spark):
        rows = [(1, b"abc" * 500), (2, b"xyz" * 900)]
        return spark.createDataFrame(rows, "id long, payload binary")

    def test_meta_and_fake_decode(self, payloads):
        meta = multimodal.attach_media_meta(payloads, "payload", modality="image", mime="image/png")
        m = {r["id"]: r["media_meta"] for r in meta.collect()}
        assert m[1]["n_bytes"] == 1500 and m[1]["modality"] == "image"
        feats = multimodal.extract_features(payloads, "id", "payload", decoder=multimodal.fake_image_decoder)
        got = {r["id"]: r["features"] for r in feats.collect()}
        assert len(got[1]) == multimodal.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in got[1])
        feats2 = {r["id"]: r["features"]
                  for r in multimodal.extract_features(payloads, "id", "payload",
                                                       decoder=multimodal.fake_image_decoder).collect()}
        assert feats2 == got  # deterministic

    def test_default_decoder_raises(self, payloads):
        with pytest.raises(Exception, match="NotImplementedError|codecs"):
            multimodal.extract_features(payloads, "id", "payload").collect()

    @staticmethod
    def _make_png(arr, color_type: int, filter_type: int) -> bytes:
        """Minimal PNG encoder (8-bit, chosen per-row filter) so every
        unfilter branch is exercised against real spec-conformant bytes."""
        import struct
        import zlib

        import numpy as np

        h, w, ch = arr.shape
        bpp = ch
        raw = bytearray()
        prev = np.zeros(w * ch, dtype=np.int32)
        for y in range(h):
            line = arr[y].reshape(-1).astype(np.int32)
            raw.append(filter_type)
            for x in range(w * ch):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if filter_type == 0:
                    pred = 0
                elif filter_type == 1:
                    pred = a
                elif filter_type == 2:
                    pred = b
                elif filter_type == 3:
                    pred = (a + b) // 2
                else:  # paeth
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                raw.append((int(line[x]) - pred) & 0xFF)
            prev = line

        def chunk(ctype: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    @staticmethod
    def _make_bmp(arr) -> bytes:
        """Uncompressed 24-bit bottom-up BMP with 4-byte row padding."""
        import struct

        h, w, _ = arr.shape
        stride = ((24 * w + 31) // 32) * 4
        rows = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            row = bytearray()
            for x in range(w):
                r, g, b = arr[y, x]
                row += bytes([b, g, r])  # BGR on disk
            row += b"\x00" * (stride - len(row))
            rows += row
        off = 14 + 40
        header = b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off)
        dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
        return header + dib + bytes(rows)

    def test_real_decoders_recover_exact_pixels(self):
        import numpy as np

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
        # every PNG filter type must unapply back to the same pixels
        for ftype in range(5):
            png = self._make_png(img, color_type=2, filter_type=ftype)
            assert (multimodal.decode_image(png) == img).all(), f"filter {ftype}"
        assert (multimodal.decode_image(self._make_bmp(img)) == img).all()
        ppm = b"P6\n# comment\n3 5\n255\n" + img.tobytes()
        assert (multimodal.decode_image(ppm) == img).all()
        # grayscale PNG replicates to RGB; RGBA drops alpha
        gray = rng.integers(0, 256, size=(4, 4, 1), dtype=np.uint8)
        g3 = multimodal.decode_image(self._make_png(gray, color_type=0, filter_type=4))
        assert (g3 == np.repeat(gray, 3, axis=2)).all()
        rgba = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
        a3 = multimodal.decode_image(self._make_png(rgba, color_type=6, filter_type=2))
        assert (a3 == rgba[:, :, :3]).all()

    def test_real_decode_through_mapinpandas_stage(self, spark):
        import numpy as np

        solid = np.full((4, 6, 3), [255, 0, 0], dtype=np.uint8)  # 6x4 pure red
        png = self._make_png(solid, color_type=2, filter_type=4)
        bmp = self._make_bmp(solid)
        df = spark.createDataFrame(
            [(1, png), (2, bmp), (3, b"not an image")], "id long, payload binary"
        )
        out = {
            r["id"]: r
            for r in multimodal.extract_features_quarantined(
                df, "id", "payload", decoder=multimodal.image_stats_decoder
            ).collect()
        }
        for i in (1, 2):  # PNG and BMP agree on the same pixels
            w, h, mr, mg, mb, gstd, gmin, gmax = out[i]["features"]
            assert (w, h) == (6.0, 4.0)
            assert (mr, mg, mb) == (1.0, 0.0, 0.0)
            assert gstd == 0.0 and gmin == gmax == pytest.approx(85 / 255)
            assert out[i]["decode_error"] is None
        # unrecognized bytes quarantine instead of killing the stage
        assert out[3]["features"] is None
        assert "unrecognized image magic" in out[3]["decode_error"]

    def test_quarantine_routes_failures_to_dead_letter(self, payloads):
        def flaky(payload: bytes):
            if payload.startswith(b"xyz"):
                raise ValueError("corrupt header")
            return multimodal.fake_image_decoder(payload)

        out = {r["id"]: r for r in multimodal.extract_features_quarantined(
            payloads, "id", "payload", decoder=flaky).collect()}
        # good row decodes normally
        assert out[1]["decode_error"] is None
        assert len(out[1]["features"]) == multimodal.FEATURE_DIM
        # corrupt row is quarantined, not fatal
        assert out[2]["features"] is None
        assert "ValueError: corrupt header" in out[2]["decode_error"]
        assert out[2]["n_bytes"] == 2700

    def test_frame_sampling_shape(self, payloads):
        frames = multimodal.sample_frames(payloads, "id", "payload", every_n_bytes=1000, max_frames=4)
        rows = frames.collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r["id"], []).append(r["frame_idx"])
        assert by_id[1] == [0]          # 1500 bytes // 1000 = 1 frame
        assert by_id[2] == [0, 1]       # 2700 bytes // 1000 = 2 frames


class TestFeatures:
    def test_lag_and_days_since(self, spark):
        df = spark.createDataFrame(
            [("p1", ts("2024-01-01T00:00:00"), 10), ("p1", ts("2024-01-08T00:00:00"), 20),
             ("p2", ts("2024-01-03T00:00:00"), 5)],
            "pid string, kts timestamp, pts int",
        )
        out = FE.add_lag_features(df, entity="pid", order="kts", cols=["pts"])
        out = FE.add_days_since_last(out, entity="pid", ts="kts")
        rows = {(r["pid"], r["pts"]): r.asDict() for r in out.collect()}
        assert rows[("p1", 20)]["previous_pts"] == 10
        assert rows[("p1", 20)]["days_since_last"] == 7
        assert rows[("p1", 10)]["previous_pts"] is None

    def test_group_share_and_decile(self, spark):
        df = spark.createDataFrame(
            [(1, "g", 25.0), (2, "g", 75.0)], "id int, grp string, v double"
        )
        out = FE.add_group_share(df, group=["grp"], value="v")
        got = {r["id"]: r["v_share"] for r in out.collect()}
        assert got == {1: 0.25, 2: 0.75}
        dec = FE.add_group_decile(df, group=["grp"], value="v")
        assert {r["v_decile"] for r in dec.collect()} == {1, 2}

    def test_impute_cascade(self, spark):
        df = spark.createDataFrame(
            [("a", "x", 1.0), ("a", "x", None), ("a", "y", None), ("b", "z", 7.0)],
            "g1 string, g2 string, v double",
        )
        out = FE.group_mean_impute(df, value="v", cascade=[["g1", "g2"], ["g1"]])
        rows = [(r["g1"], r["g2"], r["v_imputed"]) for r in out.collect()]
        assert ("a", "x", 1.0) in rows          # group mean fill
        assert ("a", "y", 1.0) in rows          # cascade to g1 mean
        assert ("b", "z", 7.0) in rows

    def test_one_hot_and_bins(self, spark):
        df = spark.createDataFrame([("GKP", 45.0), ("MID", 80.0)], "pos string, v double")
        oh = FE.one_hot(df, col="pos", categories=["GKP", "DEF", "MID", "FWD"])
        r = {x["pos"]: x.asDict() for x in oh.collect()}
        assert r["GKP"]["pos_GKP"] == 1 and r["GKP"]["pos_MID"] == 0
        b = FE.bin_values(df, value="v", thresholds=[50, 70], labels=["low", "mid", "high"])
        assert {(x["pos"], x["v_bin"]) for x in b.collect()} == {("GKP", "low"), ("MID", "high")}

    def test_tag_columns(self, spark):
        df = spark.createDataFrame(
            [(1, "#Speedster, Dribbler\xa0"), (2, "Dribbler"), (3, None)],
            "id int, tags string",
        )
        out, vocab = FE.tag_columns(df, col="tags")
        assert vocab == ["dribbler", "speedster"]
        got = {r["id"]: (r["tag_dribbler"], r["tag_speedster"]) for r in out.collect()}
        assert got == {1: (1, 1), 2: (1, 0), 3: (0, 0)}

    def test_missingness_profile(self, spark):
        df = spark.createDataFrame([(1, None), (2, "x")], "a int, b string")
        prof = {r["column"]: r["null_fraction"] for r in FE.missingness_profile(df).collect()}
        assert prof == {"a": 0.0, "b": 0.5}


class TestTextAndSimilarity:
    def test_token_stats_degenerate_docs(self, spark):
        # empty / whitespace-only / single-char docs must not divide by
        # zero (split('') yields [''] → n_tokens=1 — degenerate but defined)
        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "x"), (4, None)], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r.asDict()
                for r in textstats.token_stats(df.filter("text IS NOT NULL"), "doc_id", "text").collect()}
        assert rows[1]["n_tokens"] == 1 and rows[1]["n_chars"] == 0
        assert rows[2]["n_tokens"] == 1  # normalized to ''
        assert rows[3]["alpha_ratio"] == 1.0

    def test_langid_marker_hits(self, spark):
        df = spark.createDataFrame(
            [(1, "le chat et la souris"), (2, "the cat and the dog is here"), (3, "qwerty zxcvb")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["lang_pred"] for r in textstats.langid(df, "doc_id", "text").collect()}
        assert out == {1: "fr", 2: "en", 3: "und"}

    def test_lsh_bucket_topk_subset_of_exact(self, spark):
        import numpy as np

        rng = np.random.default_rng(0)
        vecs = [(i, rng.standard_normal(16).astype(float).tolist()) for i in range(40)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        queries = df.filter(F.col("vec_id") < 3)
        approx = similarity.lsh_bucket_topk(df, queries, k=2, n_planes=4)
        rows = approx.collect()
        assert all(r["neighbor_id"] != r["query_id"] for r in rows)
        exact = similarity.cosine_topk(df, queries, k=5)
        # sanity: approx neighbors score no higher than the exact best
        best = {r["query_id"]: r["cosine"] for r in exact.collect() if r["rank"] == 1}
        for r in rows:
            assert r["cosine"] <= best[r["query_id"]] + 1e-9


class TestPageRank:
    def test_symmetric_pair_is_uniform_fixed_point(self, spark):
        from fantasy_premier_league_spark.operators.graph import pagerank

        e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        out = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
        # uniform is the exact fixed point of a symmetric regular graph
        assert out[1] == out[2] == 0.5

    def test_hub_outranks_leaves(self, spark):
        from fantasy_premier_league_spark.operators.graph import (
            co_occurrence_edges,
            pagerank,
        )

        # star: hub 0 co-occurs with 1..4 pairwise through shared groups
        rows = [(g, 0) for g in range(4)] + [(g, g + 1) for g in range(4)]
        df = spark.createDataFrame(rows, "g long, item long")
        e = co_occurrence_edges(df, "g", "item")
        out = {r["node"]: r["rank"] for r in pagerank(e, iterations=10).collect()}
        assert out[0] > max(out[i] for i in range(1, 5))
        # probability mass is conserved by power iteration
        assert abs(sum(out.values()) - 1.0) < 1e-3

    def test_deep_iteration_lineage_cut(self, spark):
        from fantasy_premier_league_spark.operators.graph import pagerank

        e = spark.createDataFrame([(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long")
        out = pagerank(e, iterations=9, checkpoint_every=4).collect()
        assert len(out) == 3

    def test_distributed_route_matches_local_finish(self, spark):
        # the default local_finish_edges routes every toy graph through the
        # numpy path — without this parity check the distributed loop
        # (closed-graph specialization, dangling-mass broadcast subtree,
        # checkpoint cadence) has no value-checked coverage and a
        # regression there ships silently. local_finish_edges=None forces
        # the distributed plan on the SAME graphs; both routes round 6dp
        # Spark-side, so outputs must agree exactly.
        from fantasy_premier_league_spark.operators.graph import pagerank

        graphs = {
            # symmetric 2-cycle: closed graph branch (no dangling, no
            # source-only) — the single-join-per-round specialization
            "closed": [(1, 2), (2, 1)],
            # chain: node 1 has no in-edges, node 3 dangles — exercises the
            # node-set rebuild join AND the dangling-mass broadcast subtree
            "open": [(1, 2), (2, 3)],
            # star + ring co-occurrence style: closed but irregular degrees,
            # deep enough iterations to cross the checkpoint cadence
            "irregular": [(0, i) for i in range(1, 5)]
            + [(i, 0) for i in range(1, 5)]
            + [(1, 2), (2, 1)],
        }
        for name, rows in graphs.items():
            e = spark.createDataFrame(rows, "src long, dst long")
            local = {
                r["node"]: r["rank"]
                for r in pagerank(e, iterations=5, checkpoint_every=2).collect()
            }
            dist = {
                r["node"]: r["rank"]
                for r in pagerank(
                    e, iterations=5, checkpoint_every=2, local_finish_edges=None
                ).collect()
            }
            assert dist == local, f"{name}: distributed {dist} != local {local}"


class TestBM25:
    def test_exact_score_tiny_corpus(self, spark):
        import math

        from fantasy_premier_league_spark.operators.textstats import bm25_scores

        # 3 docs; "a" appears in all (df=3), "b" in two (df=2), "c" in one.
        # top-2 query terms by df: a (3), b (2)
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b c"), (3, "a")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in bm25_scores(df, "doc_id", "text", n_query_terms=2).collect()}
        n, avgdl, k1, b = 3, 2.0, 1.2, 0.75

        def score(tf, dl, dfq):
            idf = math.log(1 + (n - dfq + 0.5) / (dfq + 0.5))
            return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

        assert out[1]["n_terms_hit"] == 2
        assert out[1]["bm25"] == pytest.approx(round(score(1, 2, 3) + score(1, 2, 2), 6), abs=2e-6)
        assert out[3]["n_terms_hit"] == 1
        assert out[3]["bm25"] == pytest.approx(round(score(1, 1, 3), 6), abs=2e-6)

    def test_doc_without_query_terms_absent(self, spark):
        from fantasy_premier_league_spark.operators.textstats import bm25_scores

        df = spark.createDataFrame(
            [(1, "a a a"), (2, "a b"), (3, "zzz")], "doc_id long, text string"
        )
        out = bm25_scores(df, "doc_id", "text", n_query_terms=1).collect()
        assert {r["doc_id"] for r in out} == {1, 2}


class TestZOrder:
    def test_interleave_known_values(self, spark):
        from pyspark.sql import functions as F

        from fantasy_premier_league_spark.sources.warehouse import zorder_key

        df = spark.createDataFrame([(3, 5)], "x long, y long")
        # x=0b011 interleaves to even bit positions, y=0b101 to odd:
        # z = x0<<0 | y0<<1 | x1<<2 | y1<<3 | x2<<4 | y2<<5
        #   = 1 + 2 + 4 + 0 + 0 + 32 = 39
        got = df.select(zorder_key(F.col("x"), F.col("y")).alias("z")).first()["z"]
        assert got == 39

    def test_write_zordered_clusters_both_dims(self, spark, tmp_path):
        import pyarrow.parquet as pq
        import os

        from fantasy_premier_league_spark.sources.warehouse import write_zordered

        # 32x32 grid, one row per cell
        rows = [(x, y) for x in range(32) for y in range(32)]
        df = spark.createDataFrame(rows, "x long, y long")
        out = str(tmp_path / "z")
        write_zordered(df, out, "x", "y", bits=5, n_files=8)
        spans = []
        for f in os.listdir(out):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(out, f))
            xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
            spans.append(((max(xs) - min(xs)), (max(ys) - min(ys))))
        # Z-order clustering: every file must cover a narrow range in BOTH
        # dimensions (a lexicographic (x,y) sort would leave the y span at
        # the full 31 in every file)
        assert len(spans) >= 4
        assert all(sx <= 16 for sx, _ in spans)
        assert all(sy <= 16 for _, sy in spans)


class TestBpeTokenCount:
    def test_splits_contractions_digits_punct(self, spark):
        from fantasy_premier_league_spark.operators.textstats import bpe_token_count

        df = spark.createDataFrame(
            [(1, "don't stop 42 now!!")], "doc_id long, text string"
        )
        r = bpe_token_count(df, "doc_id", "text").first()
        # pieces: don / 't / " stop" / " 42" / " now" / "!!" -> 6
        assert r["n_bpe_tokens"] == 6
        assert r["n_ws_tokens"] == 4
        assert r["fertility"] == 1.5

    def test_lone_apostrophe_matches_oracle(self, spark, tmp_path):
        # The regex's final alternative is a LONE apostrophe ("o' brien",
        # "rock 'n roll", quote marks). The oracle's SQL string literal must
        # decode to that same single-' alternative — a five-quote tail
        # decodes to '' and silently skips lone apostrophes.
        import duckdb

        from fantasy_premier_league_spark.queries import all_queries

        q = all_queries()["v68_bpe_token_count"]
        docs = spark.createDataFrame(
            [
                (1, "o' brien met rock 'n roll"),
                (2, "'quoted words' trail '"),
                (3, "don't mix ' lone and 'll clitic"),
            ],
            "doc_id long, text string",
        )
        docs.write.parquet(str(tmp_path / "documents.parquet"))
        got = (
            q.fn(spark, str(tmp_path))
            .toPandas()
            .sort_values("doc_id", ignore_index=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'"
        )
        want = con.execute(q.oracle).df().sort_values("doc_id", ignore_index=True)
        assert got["n_bpe_tokens"].tolist() == want["n_bpe_tokens"].tolist()
        assert got["fertility"].tolist() == want["fertility"].tolist()


class TestRound4EmptyInputs:
    def test_chunk_tokens_empty_frame(self, spark):
        from fantasy_premier_league_spark.operators.curation import chunk_tokens

        df = spark.createDataFrame([], "doc_id long, text string")
        assert chunk_tokens(df, "doc_id", "text", chunk_words=4).count() == 0

    def test_pagerank_empty_edges(self, spark):
        from fantasy_premier_league_spark.operators.graph import pagerank

        e = spark.createDataFrame([], "src long, dst long")
        assert pagerank(e, iterations=2).count() == 0

    def test_compress_history_empty(self, spark):
        from fantasy_premier_league_spark.operators.curation import compress_history

        df = spark.createDataFrame([], "event_id long, user_id long, ts timestamp, event_type string")
        assert (
            compress_history(df, "user_id", "ts", "event_type", tiebreak_col="event_id").count()
            == 0
        )

    def test_bm25_empty_corpus(self, spark):
        from fantasy_premier_league_spark.operators.textstats import bm25_scores

        df = spark.createDataFrame([], "doc_id long, text string")
        assert bm25_scores(df, "doc_id", "text").count() == 0

    def test_temperature_mix_empty(self, spark):
        from fantasy_premier_league_spark.operators.curation import temperature_mix_rates

        df = spark.createDataFrame([], "doc_id long, text string, source string")
        assert temperature_mix_rates(df, ["source"]).count() == 0


class TestCoOccurrenceNullGroups:
    def test_null_group_rows_produce_no_edges(self, spark):
        # null-unsafe equality in the original self-join formulation:
        # rows with a NULL group key must not form a co-occurrence clique
        from fantasy_premier_league_spark.operators.graph import co_occurrence_edges

        df = spark.createDataFrame(
            [(1, 10), (1, 11), (None, 20), (None, 21), (None, 22)],
            "g int, item int",
        )
        edges = {(r["src"], r["dst"]) for r in co_occurrence_edges(df, "g", "item").collect()}
        assert edges == {(10, 11), (11, 10)}


class TestDomainKL:
    def test_identical_domains_zero_kl(self, spark):
        # two domains with the same token distribution: KL == 0 for both
        df = spark.createDataFrame(
            [(1, "a", "x y"), (2, "a", "x y"), (3, "b", "x y"), (4, "b", "x y")],
            "doc_id long, src string, text string",
        )
        out = {r["src"]: r for r in textstats.domain_kl_divergence(df, "src", "text").collect()}
        assert out["a"]["kl_divergence"] == 0.0 == out["b"]["kl_divergence"]
        assert out["a"]["n_tokens"] == 4

    def test_divergent_domain_ranks_higher(self, spark):
        import math
        # domain b is all one alien token; hand-compute its smoothed KL
        df = spark.createDataFrame(
            [(1, "a", "x y x y"), (2, "b", "z z z z")],
            "doc_id long, src string, text string",
        )
        out = {r["src"]: r for r in textstats.domain_kl_divergence(df, "src", "text").collect()}
        # both domains diverge from the pooled corpus (each holds half
        # the mass the other lacks); check b against the closed form
        assert out["a"]["kl_divergence"] > 0 and out["b"]["kl_divergence"] > 0
        # b: only observed cell is z (n_gt=4, n_g=4, n_t=4, n_all=8, v=3, s=0.5)
        p_g = 4.5 / (4 + 1.5)
        p_all = 4.5 / (8 + 1.5)
        assert out["b"]["kl_divergence"] == pytest.approx(p_g * math.log(p_g / p_all), abs=1e-6)
        assert out["b"]["top_overrepresented"] == "z"

    def test_top_tokens_ordered_by_ratio(self, spark):
        df = spark.createDataFrame(
            [(1, "a", "heavy heavy heavy rare"), (2, "b", "heavy common common")],
            "doc_id long, src string, text string",
        )
        out = {r["src"]: r for r in textstats.domain_kl_divergence(df, "src", "text", top_tokens=2).collect()}
        # 'rare' is a-exclusive (max over-representation); 'heavy' next
        assert out["a"]["top_overrepresented"] == "rare heavy"


class TestOovRate:
    def test_vocab_cut_and_rate(self, spark):
        # corpus vocab (size 2, count desc, tok asc): 'x' (4), 'y' (2) -> 'z','w' OOV
        df = spark.createDataFrame(
            [(1, "a", "x x y z"), (2, "b", "x x y w")],
            "doc_id long, src string, text string",
        )
        out = {r["src"]: r for r in textstats.oov_rate(df, "src", "text", vocab_size=2).collect()}
        for s in ("a", "b"):
            assert out[s]["n_tokens"] == 4
            assert out[s]["n_oov"] == 1 and out[s]["n_oov_types"] == 1
            assert out[s]["oov_rate"] == pytest.approx(0.25)

    def test_full_vocab_no_oov(self, spark):
        df = spark.createDataFrame(
            [(1, "a", "p q r")], "doc_id long, src string, text string"
        )
        r = textstats.oov_rate(df, "src", "text", vocab_size=10).collect()[0]
        assert r["n_oov"] == 0 and r["oov_rate"] == 0.0

    def test_tie_at_cut_is_deterministic(self, spark):
        # 'a' and 'b' tie on count at the vocab boundary: asc token order
        # keeps 'a', drops 'b'
        df = spark.createDataFrame(
            [(1, "s", "a b")], "doc_id long, src string, text string"
        )
        r = textstats.oov_rate(df, "src", "text", vocab_size=1).collect()[0]
        assert r["n_oov"] == 1  # 'b' fell outside the 1-token vocab


class TestContainmentLsh:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_contained_doc_found_within_ratio(self, spark):
        # doc 2 (5 shingles) fully inside doc 1 (14 shingles, ratio 2.8 <= 4)
        inner = "alpha beta gamma delta epsilon zeta eta"
        outer = inner + " one two three four five six seven eight nine"
        df = self._docs(spark, [(1, outer), (2, inner), (3, "x y z w v u t")])
        out = D.containment_lsh_pairs(
            df, "doc_id", "text", n=3, threshold=0.9, max_size_ratio=4.0,
            num_hashes=32,
        ).collect()
        assert [(r["id_a"], r["id_b"], r["containment"]) for r in out] == [(1, 2, 1.0)]

    def test_beyond_ratio_is_out_of_scope_but_exact_finds_it(self, spark):
        # doc 2 (3 shingles) inside a 10x-larger doc: the sketch path's
        # declared scope (R=2) excludes it; the exact operator still finds it
        inner = "alpha beta gamma delta epsilon"
        filler = " ".join(f"w{i}" for i in range(30))
        df = self._docs(spark, [(1, inner + " " + filler), (2, inner)])
        sketch = D.containment_lsh_pairs(
            df, "doc_id", "text", n=3, threshold=0.9, max_size_ratio=2.0,
            num_hashes=32,
        ).collect()
        assert sketch == []
        exact = D.containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
        assert [(r["id_a"], r["id_b"]) for r in exact] == [(1, 2)]

    def test_sketch_subset_of_exact_scoped(self, spark):
        rows = [(i, f"common phrase tail {' '.join(f'tok{i}x{j}' for j in range(i % 5))}") for i in range(1, 30)]
        df = self._docs(spark, rows)
        kw = dict(n=2, threshold=0.4)
        sk = {(r["id_a"], r["id_b"], r["containment"]) for r in D.containment_lsh_pairs(
            df, "doc_id", "text", max_size_ratio=100.0, num_hashes=32, **kw
        ).collect()}
        ex = {(r["id_a"], r["id_b"], r["containment"]) for r in D.containment_pairs(
            df, "doc_id", "text", **kw
        ).collect()}
        assert sk <= ex
        # verified scores on the sketch path are EXACT, not estimates
        for t in sk:
            assert t in ex

    def test_recall_under_cap_on_boilerplate_heavy_corpus(self, spark):
        # ADVICE r9: with r=1 bands, a true pair whose EVERY colliding
        # shingle is super-frequent lives only in degenerate buckets —
        # the exact corpus shape where max_bucket_size is a recall/perf
        # tradeoff, not a free win. Construct it: one short doc of pure
        # boilerplate contained in 80 long docs that all carry the same
        # boilerplate, so every (short, long) collision bucket has ~81
        # members. Pin both sides of the documented contract: at the
        # default cap (256 > bucket size) candidate recall is exact; at
        # a cap below the bucket size the true pairs ARE lost (the
        # docstring's declared tradeoff — drops logged, not silent).
        boiler = "tos alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
        rows = [
            (i, f"{boiler} " + " ".join(f"u{i}x{j}" for j in range(12)))
            for i in range(1, 81)
        ] + [(999, boiler)]
        df = self._docs(spark, rows)
        kw = dict(n=3, threshold=0.9, max_size_ratio=4.0, num_hashes=32)
        uncapped = {(r["id_a"], r["id_b"]) for r in D.containment_lsh_pairs(
            df, "doc_id", "text", max_bucket_size=None, **kw
        ).collect()}
        truth = {(i, 999) for i in range(1, 81)}
        assert uncapped == truth  # short doc contained in every long doc
        at_default = {(r["id_a"], r["id_b"]) for r in D.containment_lsh_pairs(
            df, "doc_id", "text", max_bucket_size=256, **kw
        ).collect()}
        assert at_default == truth  # buckets fit under 256: recall 1.0
        tiny_cap = {(r["id_a"], r["id_b"]) for r in D.containment_lsh_pairs(
            df, "doc_id", "text", max_bucket_size=8, **kw
        ).collect()}
        assert tiny_cap < truth  # the tradeoff is real: under-cap loses pairs

    def test_array_signatures_match_text_path(self, spark):
        # r13 per-row signature fold: minhash_signatures_from_arrays now
        # computes each signature with aggregate() folds over the per-doc
        # hashed-shingle array (zero exchanges) instead of explode +
        # groupBy. Its documented contract — same hash family and output
        # as the text path — must keep holding, including the absence of
        # docs whose shingle set is empty (here: docs with < n words).
        rows = [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(i % 9)))
                for i in range(1, 40)]
        df = self._docs(spark, rows)
        arr = C.tracked_local_checkpoint(
            D.doc_shingle_arrays(df, "doc_id", "text", 3), eager=True
        )
        via_arrays = {
            r["id"]: tuple(r["sig"])
            for r in D.minhash_signatures_from_arrays(arr, num_hashes=32, seed=7).collect()
        }
        via_text = {
            r["id"]: tuple(r["sig"])
            for r in D.minhash_signatures(
                df, "doc_id", "text", n=3, num_hashes=32, seed=7
            ).collect()
        }
        assert via_arrays == via_text
        assert all(len(s) == 32 for s in via_arrays.values())
        # docs 1 and 2 have < 3 words -> empty shingle set -> no row
        assert 1 not in via_arrays and 2 not in via_arrays

    def test_shared_shingle_arrays_identical_output(self, spark):
        # r13 tokenize-once hook: passing a containment_sketch_arrays frame
        # through shingle_arrays must leave both operators' outputs
        # byte-identical to the self-built path (same hash family by
        # construction — this pins it)
        rows = [(i, f"common phrase tail {' '.join(f'tok{i}x{j}' for j in range(i % 5))}") for i in range(1, 30)]
        df = self._docs(spark, rows)
        arr = D.containment_sketch_arrays(df, "doc_id", "text", 2)
        kw = dict(n=2, threshold=0.4)
        lsh_kw = dict(max_size_ratio=100.0, num_hashes=32)
        sk_own = sorted(map(tuple, D.containment_lsh_pairs(df, "doc_id", "text", **kw, **lsh_kw).collect()))
        sk_shared = sorted(map(tuple, D.containment_lsh_pairs(
            df, "doc_id", "text", shingle_arrays=arr, **kw, **lsh_kw
        ).collect()))
        assert sk_own == sk_shared
        ex_own = sorted(map(tuple, D.containment_pairs(df, "doc_id", "text", **kw).collect()))
        ex_shared = sorted(map(tuple, D.containment_pairs(
            df, "doc_id", "text", shingle_arrays=arr, **kw
        ).collect()))
        assert ex_own == ex_shared

    def test_under_cap_loss_is_flagged_by_drop_accounting(self, spark, caplog):
        # VERDICT r10 item 4 residue: losing pairs to the bucket cap must
        # never be silent — the no-silent-caps accounting pass has to log
        # exactly what was dropped when the loss actually happens
        import logging

        boiler = "tos alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
        rows = [
            (i, f"{boiler} " + " ".join(f"u{i}x{j}" for j in range(12)))
            for i in range(1, 81)
        ] + [(999, boiler)]
        df = self._docs(spark, rows)
        with caplog.at_level(
            logging.WARNING, logger="fantasy_premier_league_spark.operators.dedup"
        ):
            D.containment_lsh_pairs(
                df, "doc_id", "text", n=3, threshold=0.9, max_size_ratio=4.0,
                num_hashes=32, max_bucket_size=8,
            ).collect()
        dropped = [r for r in caplog.records if "oversized LSH band buckets" in r.getMessage()]
        assert dropped, "bucket-cap loss happened but no drop-accounting warning fired"


class TestMd5Fraction:
    def test_matches_duckdb_and_salts_are_independent(self, spark):
        # the shared hash-sampling primitive behind q11's ARI stratum and
        # q02's containment anchors: (a) the Spark expression must equal
        # the documented portable SQL form an oracle would run, (b)
        # fractions must lie in [0, 1), (c) distinct salts must give
        # different strata over the same keys (the q11 CI measurement
        # samples five salts and needs them independent)
        import duckdb

        from fantasy_premier_league_spark.operators.dedup import md5_fraction

        ids = list(range(1, 201))
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {
            r["doc_id"]: r["f"]
            for r in df.select(
                "doc_id", md5_fraction(F.col("doc_id"), salt="q11:").alias("f")
            ).collect()
        }
        want = dict(
            duckdb.sql(
                "SELECT i, ('0x' || substr(md5('q11:' || i::VARCHAR), 1, 8))::BIGINT"
                " / 4294967296.0 FROM range(1, 201) t(i)"
            ).fetchall()
        )
        assert got == pytest.approx(want)
        assert all(0.0 <= v < 1.0 for v in got.values())
        other = {
            r["doc_id"]: r["f"]
            for r in df.select(
                "doc_id", md5_fraction(F.col("doc_id"), salt="q11b:").alias("f")
            ).collect()
        }
        below = lambda m, p: {k for k, v in m.items() if v < p}  # noqa: E731
        assert below(got, 0.2) != below(other, 0.2)  # strata differ by salt


class TestSemanticDedup:
    """SemDeDup (operators/similarity.py::semantic_dedup): within-cell
    cosine pruning with the deterministic keep-first survivor rule."""

    def test_keep_first_partner_counts_and_cells(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(rng.randn(20, 8))]
        # implant two exact duplicates of id 3
        rows.append((100, rows[3][1]))
        rows.append((101, rows[3][1]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["id"]: r
            for r in similarity.semantic_dedup(
                df, n_clusters=4, threshold=0.999
            ).collect()
        }
        assert len(out) == 22  # one row per input, kept or not
        # identical vectors land in the same cell and only the lowest id
        # survives (keep-first rule)
        assert out[3]["cell"] == out[100]["cell"] == out[101]["cell"]
        assert out[3]["keep"] and not out[100]["keep"] and not out[101]["keep"]
        # each member of the triple pairs with the other two
        assert (
            out[3]["n_dup_partners"]
            == out[100]["n_dup_partners"]
            == out[101]["n_dup_partners"]
            == 2
        )
        # random 8-dim vectors don't reach cosine 0.999: everything else
        # is duplicate-free and kept
        others = [r for i, r in out.items() if i not in (3, 100, 101)]
        assert all(r["keep"] and r["n_dup_partners"] == 0 for r in others)

    def test_deterministic_across_runs(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(rng.randn(30, 8))]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        a = sorted(map(tuple, similarity.semantic_dedup(df, n_clusters=4, threshold=0.9).collect()))
        b = sorted(map(tuple, similarity.semantic_dedup(df, n_clusters=4, threshold=0.9).collect()))
        assert a == b

    def test_derived_k_clamps(self):
        d = similarity.derived_n_clusters
        assert d(0) == d(500) == d(8_191) == 16  # floor covers driver SFs
        assert d(8_192) == 16 and d(16_384) == 32  # n // 512 past the floor
        assert d(10_000_000) == 2_048  # cap bounds the centroid literal

    def test_collapse_matches_bruteforce_member_semantics(self, spark):
        # exact-dup groups WITH cross-group near-dup partners: the
        # collapse/expand arithmetic (n_dup = gsz-1 + sum of partner group
        # sizes; keep factors through the min-id rep) must equal the
        # member-level all-pairs definition computed brute-force here.
        import numpy as np

        rng = np.random.RandomState(3)
        base = rng.randn(12, 8)
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
        rows += [(50, rows[2][1]), (51, rows[2][1])]  # dup group of 2
        near = base[2] + rng.randn(8) * 1e-4  # near (not exact) dup of the group
        rows += [(60, [float(x) for x in near]), (61, [float(x) for x in near])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["id"]: r
            for r in similarity.semantic_dedup(
                df, n_clusters=2, threshold=0.999
            ).collect()
        }
        # brute-force member-level truth from the returned cell map
        ids = sorted(out)
        vec = {i: np.array(v, dtype=np.float64) for i, v in rows}
        def cos(a, b):
            return round(
                float(vec[a] @ vec[b] / (np.linalg.norm(vec[a]) * np.linalg.norm(vec[b]))), 4
            )
        for x in ids:
            partners = [
                y for y in ids
                if y != x and out[y]["cell"] == out[x]["cell"] and cos(x, y) >= 0.999
            ]
            assert out[x]["n_dup_partners"] == len(partners), x
            assert out[x]["keep"] == (not any(y < x for y in partners)), x


class TestJaccardThresholdBoundary:
    """A pair sitting EXACTLY on the Jaccard threshold must survive the
    lossless length filter: the bare float compare rounds t*|A| a few
    ulps above an exactly-qualifying integer size (0.65*60 ->
    39.0000000000000014), which silently dropped J == t pairs before the
    integer-slack form (code-review regression, round 9)."""

    def test_exact_threshold_pair_survives_length_filter(self, spark):
        vocab = [f"w{i:03d}" for i in range(62)]
        # |A| = 60 shingles, B = prefix of A with 39 shingles (subset):
        # J = 39/60 = 0.65 exactly
        docs = spark.createDataFrame(
            [(1, " ".join(vocab)), (2, " ".join(vocab[:41]))],
            "doc_id long, text string",
        )
        for make in (
            lambda: D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.65),
            lambda: D.prefix_filtered_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.65
            ),
            lambda: D.prefix_filtered_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.65, naive_candidate_ratio=None
            ),
        ):
            rows = make().collect()
            assert [(r["id_a"], r["id_b"], r["n_common"], r["jaccard"]) for r in rows] == [
                (1, 2, 39, 0.65)
            ]


class TestPairCountingAri:
    """Unit pin for the grouping-sets ARI kernel (queries/dedup.py::
    pair_counting_ari) against a hand-computed contingency — the q11
    oracle covers it end-to-end; this isolates the gid mapping."""

    def test_hand_computed_partition(self, spark):
        from fantasy_premier_league_spark.queries.dedup import pair_counting_ari

        # A = {1,2,3}{4,5}{6}, B = {1,2}{3,4,5}{6}:
        # nij = 2,1,2,1 -> comb_ij = 1+0+1+0 = 2
        # ai = 3,2,1 -> comb_a = 3+1+0 = 4; bj = 2,3,1 -> comb_b = 4
        # exp = 4*4/15, max = 4 -> ARI = (2 - 16/15)/(4 - 16/15) = 0.318182
        part = spark.createDataFrame(
            [(1, "a1", "b1"), (2, "a1", "b1"), (3, "a1", "b2"),
             (4, "a2", "b2"), (5, "a2", "b2"), (6, "a3", "b3")],
            "doc_id long, c_lsh string, c_exact string",
        )
        r = pair_counting_ari(part).first()
        assert (r["n_docs"], r["clusters_lsh"], r["clusters_exact"]) == (6, 3, 3)
        assert (r["comb_ij"], r["comb_a"], r["comb_b"]) == (2, 4, 4)
        assert r["ari"] == 0.318182

    def test_all_singletons_is_null(self, spark):
        from fantasy_premier_league_spark.queries.dedup import pair_counting_ari

        part = spark.createDataFrame(
            [(i, f"a{i}", f"b{i}") for i in range(1, 5)],
            "doc_id long, c_lsh string, c_exact string",
        )
        r = pair_counting_ari(part).first()
        assert r["ari"] is None and r["comb_a"] == 0 and r["comb_b"] == 0

    def test_identical_partitions_ari_one(self, spark):
        from fantasy_premier_league_spark.queries.dedup import pair_counting_ari

        part = spark.createDataFrame(
            [(1, "x", "x"), (2, "x", "x"), (3, "y", "y"), (4, "y", "y")],
            "doc_id long, c_lsh string, c_exact string",
        )
        r = pair_counting_ari(part).first()
        assert r["ari"] == 1.0
