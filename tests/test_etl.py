"""Golden-output tests for the 11-table FPL transform (FIXTURES.md §6)."""

from __future__ import annotations

import pytest

from fantasy_premier_league_spark.etl import ingest, quality, transform
from tests import fpl_fixtures


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    outdir = tmp_path_factory.mktemp("fpl")
    paths = fpl_fixtures.write_fixture_files(str(outdir))
    raw_fixtures = ingest.read_fixtures_json(spark, paths["fixtures"])
    raw_main = ingest.read_main_json(spark, paths["main"])
    raw_players = ingest.read_players_json(spark, paths["players"])
    return transform.build_all(raw_fixtures, raw_main, raw_players)


def rows_by(df, key):
    return {r[key]: r.asDict() for r in df.collect()}


class TestFixturesTable:
    def test_counts_and_ids_are_strings(self, catalog):
        fx = rows_by(catalog["fixtures"], "fixture_id")
        assert len(fx) == 12
        assert set(fx) == {str(i) for i in range(1, 13)}
        assert fx["1"]["fixture_id_long"] == "1001"
        assert fx["1"]["home_team_id"] == "1" and fx["1"]["away_team_id"] == "2"

    def test_postponed_fixture_null_gameweek_and_coerced_kickoff(self, catalog):
        fx = rows_by(catalog["fixtures"], "fixture_id")
        assert fx["12"]["gameweek_id"] is None
        assert fx["12"]["fixture_kickoff_datetime"] is None  # malformed → null
        assert fx["1"]["fixture_kickoff_datetime"] is not None


class TestDimensions:
    def test_gameweeks(self, catalog):
        gw = rows_by(catalog["gameweeks"], "gameweek_id")
        assert len(gw) == 6
        assert gw["4"]["gameweek_current"] is True
        assert gw["5"]["average_entry_score"] is None
        assert gw["1"]["player_id_most_selected"] == "10"

    def test_teams_positions(self, catalog):
        teams = rows_by(catalog["teams"], "team_id")
        assert teams["1"]["team_name_long"] == "Arsenal"
        assert teams["1"]["team_id_long"] == "101"
        assert "points" not in catalog["teams"].columns  # dropped cols stay dropped
        pos = rows_by(catalog["positions"], "position_id")
        assert pos["1"]["position_name"] == "GKP"

    def test_players_summary_string_casts(self, catalog):
        ps = rows_by(catalog["players_summary"], "player_id")
        assert len(ps) == 3
        assert ps["10"]["player_id_long"] == "210"
        assert ps["10"]["selected_by_percent"] == 12.5  # float-as-string cast
        assert ps["11"]["news_added_datetime"] is not None
        assert ps["10"]["news_added_datetime"] is None


class TestPlayersFacts:
    def test_previous_seasons(self, catalog):
        prev = catalog["players_previous_seasons"].collect()
        assert len(prev) == 2
        assert {r["season_name"] for r in prev} == {"2018/19", "2019/20"}
        assert all(r["player_id_long"] == "211" for r in prev)

    def test_players_past_joined_fixture_attrs(self, catalog):
        past = {(r["player_id"], r["fixture_id"]): r.asDict() for r in catalog["players_past"].collect()}
        assert len(past) == 7
        r = past[("10", "4")]
        assert r["fixture_id_long"] == "1004"
        assert r["home_team_id"] == "4" and r["away_team_id"] == "1"
        assert r["fixture_home"] is False

    def test_players_future_drops_unscheduled(self, catalog):
        fut = {(r["player_id"], r["fixture_id_long"]): r.asDict() for r in catalog["players_future"].collect()}
        # p10: fixtures 7,9,11 · p12: fixtures 8,10 (12 dropped: null gameweek)
        assert set(fut) == {("10", "1007"), ("10", "1009"), ("10", "1011"),
                            ("12", "1008"), ("12", "1010")}
        assert fut[("12", "1008")]["fixture_id"] == "8"

    def test_players_full_dedup_keeps_scored_row(self, catalog):
        full = {(r["player_id"], r["gameweek_id"], r["fixture_id"]): r.asDict()
                for r in catalog["players_full"].collect()}
        assert len(full) == 11  # 7 past + 5 future - 1 dup
        dup = full[("10", "4", "7")]
        assert dup["total_points"] == 1  # the history copy won
        assert dup["team_id"] == "1"  # fixture_home pick
        assert dup["position_id"] == "3"  # joined from players_summary
        away = full[("10", "2", "4")]
        assert away["team_id"] == "1"


class TestTeamResultsAndTable:
    def test_masked_win_draw_loss(self, catalog):
        tr = {(r["team_id"], r["fixture_id"]): r.asDict() for r in catalog["team_results"].collect()}
        assert len(tr) == 24  # 12 fixtures x 2 perspectives
        won = tr[("1", "1")]
        assert (won["win"], won["draw"], won["loss"], won["points"]) == (1, 0, 0, 3)
        lost = tr[("2", "1")]
        assert (lost["win"], lost["loss"], lost["points"]) == (0, 1, 0)
        unplayed = tr[("1", "7")]
        assert (unplayed["win"], unplayed["draw"], unplayed["loss"]) == (None, None, None)
        assert unplayed["points"] == 0  # computed before the mask
        assert unplayed["played"] is False
        assert unplayed["goal_difference"] is None

    def test_league_table_golden(self, catalog):
        tbl = [r.asDict() for r in catalog["league_table"].orderBy("table_position").collect()]
        got = [(r["table_position"], r["team_id"], r["points"], r["goal_difference"],
                r["played"], r["win"], r["draw"], r["loss"], r["goals_scored"], r["goals_conceded"])
               for r in tbl]
        assert got == [
            (0, "3", 7, 2, 3, 2, 1, 0, 4, 2),
            (1, "1", 6, 4, 3, 2, 0, 1, 6, 2),
            (2, "4", 2, -3, 3, 0, 2, 1, 3, 6),
            (3, "2", 1, -3, 3, 0, 1, 2, 2, 5),
        ]
        assert tbl[0]["team_name_long"] == "Chelsea"


class TestQualityChecks:
    def test_catalog_pks_all_pass(self, catalog):
        results = quality.run_catalog_checks(catalog, transform.PRIMARY_KEYS, raise_errors=True)
        assert all(r.ok for r in results)
        assert len(results) == 22

    def test_check_rows_equal_table_counts(self, catalog):
        results = quality.run_catalog_checks(catalog, transform.PRIMARY_KEYS, raise_errors=True)
        counts = {name: df.count() for name, df in catalog.items()}
        assert {(r.table, r.check): r.rows for r in results} == {
            (name, check): n for name, n in counts.items() for check in ("unique_pk", "notnull_pk")
        }

    def test_duplicate_pk_raises_and_warns(self, spark, catalog):
        dup = catalog["teams"].unionByName(catalog["teams"].limit(1))
        with pytest.raises(quality.DataValidationError, match="unique_pk"):
            quality.check_unique_pk(dup, ["team_id"], "teams", raise_errors=True)
        with pytest.warns(UserWarning, match="unique_pk"):
            res = quality.check_unique_pk(dup, ["team_id"], "teams", raise_errors=False)
        assert not res.ok

    def test_null_pk_detected(self, spark, catalog):
        from pyspark.sql import functions as F

        bad = catalog["teams"].withColumn(
            "team_id", F.when(F.col("team_id") == "1", None).otherwise(F.col("team_id"))
        )
        with pytest.raises(quality.DataValidationError, match="notnull_pk"):
            quality.check_notnull_pk(bad, ["team_id"], "teams", raise_errors=True)


class TestFusedCatalogChecks:
    @pytest.fixture(scope="class")
    def broken(self, catalog):
        from pyspark.sql import functions as F

        bad = dict(catalog)
        bad["teams"] = catalog["teams"].unionByName(catalog["teams"].filter(F.col("team_id") == "1"))
        bad["players_past"] = catalog["players_past"].withColumn(
            "fixture_id", F.when(F.col("fixture_id") == "1", None).otherwise(F.col("fixture_id"))
        )
        return bad

    def test_matches_per_table_checks(self, broken):
        with pytest.warns(UserWarning):
            fused = quality.run_catalog_checks(broken, transform.PRIMARY_KEYS, raise_errors=False)
        with pytest.warns(UserWarning):
            single = [
                check(df, transform.PRIMARY_KEYS[name], name, raise_errors=False)
                for name, df in broken.items()
                for check in (quality.check_unique_pk, quality.check_notnull_pk)
            ]
        assert fused == single
        assert len(fused) == 22
        failed = [(r.table, r.check, r.detail) for r in fused if not r.ok]
        assert failed == [
            ("teams", "unique_pk", "1 duplicated keys over 2 rows"),
            ("players_past", "notnull_pk", "1 rows with null PK"),
        ]

    def test_raises_on_first_failure_in_catalog_order(self, broken):
        with pytest.raises(quality.DataValidationError, match="^teams: unique_pk"):
            quality.run_catalog_checks(broken, transform.PRIMARY_KEYS, raise_errors=True)
        later = {name: df for name, df in broken.items() if name != "teams"}
        with pytest.raises(quality.DataValidationError, match="^players_past: notnull_pk"):
            quality.run_catalog_checks(later, transform.PRIMARY_KEYS, raise_errors=True)

    def test_null_levels_group_like_group_by(self, spark):
        df = spark.createDataFrame(
            [("a", None), ("a", None), (None, "b"), ("a", "b"), (None, None)], "x string, y string"
        )
        with pytest.warns(UserWarning, match="1 duplicated keys over 2 rows"):
            quality.check_unique_pk(df, ["x", "y"], "t", raise_errors=False)
        with pytest.warns(UserWarning, match="4 rows with null PK"):
            quality.check_notnull_pk(df, ["x", "y"], "t", raise_errors=False)


class TestMalformedSnapshots:
    @pytest.mark.parametrize(
        "document, reader, wrong_shape",
        [
            ("fixtures", ingest.read_fixtures_json, {"fixtures": fpl_fixtures.FIXTURES}),
            ("main", ingest.read_main_json, [{"events": fpl_fixtures.EVENTS}]),
            ("players", ingest.read_players_json, [{"history": []}]),
        ],
    )
    def test_truncated_and_wrong_shape_raise_naming_path(self, spark, tmp_path, document, reader, wrong_shape):
        import json

        paths = fpl_fixtures.write_fixture_files(str(tmp_path))
        doc = open(paths[document]).read()
        truncated = tmp_path / "truncated.json"
        truncated.write_text(doc[: len(doc) // 2])
        with pytest.raises(ValueError, match="truncated.json"):
            reader(spark, str(truncated))
        shaped = tmp_path / "wrong_shape.json"
        shaped.write_text(json.dumps(wrong_shape))
        with pytest.raises(ValueError, match="wrong_shape.json"):
            reader(spark, str(shaped))


class TestPinnedCatalog:
    """build_all builds each table once on its own driver thread and returns
    it pinned; the pins hold the rows the lazily composed builders give."""

    @staticmethod
    def _lazy_catalog(raw_fixtures, raw_main, raw_players) -> dict:
        fixtures = transform.build_fixtures(raw_fixtures)
        missing = transform.count_missing_gameweeks(fixtures) > 0
        teams = transform.build_teams(raw_main["teams"])
        players_summary = transform.build_players_summary(raw_main["elements"])
        players_past = transform.build_players_past(raw_players["history"], fixtures)
        players_future = transform.build_players_future(
            raw_players["fixtures"], fixtures, missing_gameweeks=missing
        )
        team_results = transform.build_team_results(fixtures)
        return {
            "fixtures": fixtures,
            "gameweeks": transform.build_gameweeks(raw_main["events"]),
            "teams": teams,
            "positions": transform.build_positions(raw_main["element_types"]),
            "players_summary": players_summary,
            "players_previous_seasons": transform.build_players_previous_seasons(raw_players["history_past"]),
            "players_past": players_past,
            "players_future": players_future,
            "players_full": transform.build_players_full(players_past, players_future, players_summary),
            "team_results": team_results,
            "league_table": transform.build_league_table(team_results, teams),
        }

    @pytest.fixture(scope="class")
    def raw(self, spark, tmp_path_factory):
        paths = fpl_fixtures.write_fixture_files(str(tmp_path_factory.mktemp("fpl_raw")))
        return (
            ingest.read_fixtures_json(spark, paths["fixtures"]),
            ingest.read_main_json(spark, paths["main"]),
            ingest.read_players_json(spark, paths["players"]),
        )

    def test_rows_equal_lazy_builders(self, raw):
        from collections import Counter

        pinned = transform.build_all(*raw)
        lazy = self._lazy_catalog(*raw)
        assert list(pinned) == list(lazy) == list(transform.PRIMARY_KEYS)
        for name, df in pinned.items():
            assert df.schema == lazy[name].schema, name
            assert Counter(df.collect()) == Counter(lazy[name].collect()), name

    def test_pin_jobs_run_in_callers_job_group(self, spark, raw):
        sc = spark.sparkContext
        sc.setJobGroup("build-all-pins", "build_all")
        try:
            transform.build_all(*raw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("build-all-pins")) >= 11

    def test_builder_error_raises_and_leaves_no_thread(self, raw):
        import threading

        from pyspark.errors import AnalysisException

        raw_fixtures, raw_main, raw_players = raw
        broken = {**raw_main, "teams": raw_main["teams"].drop("short_name")}
        before = set(threading.enumerate())
        with pytest.raises(AnalysisException, match="short_name"):
            transform.build_all(raw_fixtures, broken, raw_players)
        assert set(threading.enumerate()) <= before


class TestPinnedLifetime:
    """The readers, the catalog and the model matrix return frames over an
    untracked local checkpoint: the JSON parse, the table builds and the
    windows run once, and a bulk release of operator caches cannot cut
    them."""

    @staticmethod
    def _plan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    def test_cut_lineage_survives_release(self, spark, tmp_path):
        from fantasy_premier_league_spark.etl import features
        from fantasy_premier_league_spark.operators.cache import release_operator_caches

        paths = fpl_fixtures.write_fixture_files(str(tmp_path))
        raw_main = ingest.read_main_json(spark, paths["main"])
        raw_players = ingest.read_players_json(spark, paths["players"])
        frames = {
            "fixtures": ingest.read_fixtures_json(spark, paths["fixtures"]),
            **{f"main.{k}": v for k, v in raw_main.items()},
            **{f"players.{k}": v for k, v in raw_players.items()},
        }
        catalog = transform.build_all(frames["fixtures"], raw_main, raw_players)
        frames.update({f"catalog.{k}": v for k, v in catalog.items()})
        frames["model_matrix"] = features.build_model_matrix(catalog)
        for name, df in frames.items():
            plan = self._plan(df)
            assert "Relation" not in plan and "from_json" not in plan, (name, plan)
            assert "Window" not in plan, (name, plan)
        before = {name: df.count() for name, df in frames.items()}
        assert before["fixtures"] == 12 and before["model_matrix"] > 0
        release_operator_caches()
        assert {name: df.count() for name, df in frames.items()} == before
