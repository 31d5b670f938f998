"""Reference-scale integration: a full 20-team / 38-gameweek / 600-player
synthetic season through ETL + features, validating structural invariants
the 4-team fixture season can't exercise (league-table conservation laws,
PK uniqueness over ~19k player-fixture rows, dup-drop at the live
gameweek boundary)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fantasy_premier_league_spark.etl import features as FF
from fantasy_premier_league_spark.etl import ingest, quality, transform

N_TEAMS = 20
N_GWS = 38
FINISHED_GWS = 25
PLAYERS_PER_TEAM = 30


def _round_robin(n: int) -> list[list[tuple[int, int]]]:
    """Circle method single round robin: n-1 rounds of n/2 pairings."""
    teams = list(range(1, n + 1))
    rounds = []
    for r in range(n - 1):
        pairs = []
        for i in range(n // 2):
            a, b = teams[i], teams[n - 1 - i]
            pairs.append((a, b) if (r + i) % 2 == 0 else (b, a))
        rounds.append(pairs)
        teams = [teams[0]] + [teams[-1]] + teams[1:-1]
    return rounds


def _score(fid: int, home: int, away: int) -> tuple[int, int]:
    return (fid * 7 + home) % 4, (fid * 5 + away) % 3


def build_season(outdir: str) -> dict[str, str]:
    first_half = _round_robin(N_TEAMS)
    schedule = first_half + [[(a2, a1) for (a1, a2) in rnd] for rnd in first_half]
    fixtures, fid = [], 0
    for gw0, rnd in enumerate(schedule):
        gw = gw0 + 1
        for home, away in rnd:
            fid += 1
            finished = gw <= FINISHED_GWS
            hs, as_ = _score(fid, home, away) if finished else (None, None)
            fixtures.append({
                "code": 100000 + fid, "id": fid, "event": gw,
                "kickoff_time": f"2019-{8 + (gw - 1) // 9:02d}-{(gw - 1) % 28 + 1:02d}T{10 + fid % 8}:00:00Z",
                "provisional_start_time": False, "started": finished, "finished": finished,
                "finished_provisional": finished, "minutes": 90 if finished else 0,
                "team_h": home, "team_a": away, "team_h_score": hs, "team_a_score": as_,
                "team_h_difficulty": 2 + home % 3, "team_a_difficulty": 2 + away % 3,
                "stats": [],
            })
    teams = [{"code": 1000 + t, "id": t, "name": f"Team {t:02d}", "short_name": f"T{t:02d}",
              "strength": 2 + t % 4, "strength_overall_home": 1100 + 10 * t,
              "strength_overall_away": 1080 + 10 * t, "strength_attack_home": 1050 + 10 * t,
              "strength_attack_away": 1040 + 10 * t, "strength_defence_home": 1150 + 10 * t,
              "strength_defence_away": 1140 + 10 * t, "draw": 0, "form": None, "loss": 0,
              "played": 0, "points": 0, "position": t, "team_division": None,
              "unavailable": False, "win": 0} for t in range(1, N_TEAMS + 1)]
    events = [{"id": g, "name": f"Gameweek {g}", "deadline_time": f"2019-{8 + (g - 1) // 9:02d}-{(g - 1) % 28 + 1:02d}T10:00:00Z",
               "deadline_time_epoch": 0, "deadline_time_game_offset": 0, "chip_plays": [],
               "top_element_info": None, "finished": g <= FINISHED_GWS, "data_checked": g <= FINISHED_GWS,
               "is_previous": g == FINISHED_GWS, "is_current": g == FINISHED_GWS + 1,
               "is_next": g == FINISHED_GWS + 2, "average_entry_score": 50 if g <= FINISHED_GWS else None,
               "highest_score": None, "highest_scoring_entry": None, "most_selected": 1,
               "most_transferred_in": 1, "top_element": 1, "most_captained": 1,
               "most_vice_captained": 1, "transfers_made": g * 100} for g in range(1, N_GWS + 1)]
    positions = [{"id": i, "singular_name": n, "singular_name_short": s, "squad_select": 5,
                  "squad_min_play": 1, "squad_max_play": 5, "plural_name": n, "plural_name_short": s,
                  "ui_shirt_specific": False, "sub_positions_locked": []}
                 for i, (n, s) in enumerate([("Goalkeeper", "GKP"), ("Defender", "DEF"),
                                             ("Midfielder", "MID"), ("Forward", "FWD")], start=1)]
    by_team: dict[int, list[dict]] = {t: [] for t in range(1, N_TEAMS + 1)}
    for fx in fixtures:
        by_team[fx["team_h"]].append(fx)
        by_team[fx["team_a"]].append(fx)
    elements, players = [], {}
    pid = 0
    for t in range(1, N_TEAMS + 1):
        for j in range(PLAYERS_PER_TEAM):
            pid += 1
            etype = 1 if j < 3 else 2 if j < 12 else 3 if j < 22 else 4
            elements.append({
                "code": 50000 + pid, "id": pid, "first_name": f"F{pid}", "second_name": f"S{pid}",
                "element_type": etype, "team": t, "team_code": 1000 + t, "squad_number": j,
                "web_name": f"W{pid}", "now_cost": 40 + pid % 90, "selected_by_percent": "5.0",
                "form": "2.0", "points_per_game": "3.0", "value_form": "0.4", "value_season": "6.0",
                "ep_next": "2.5", "ep_this": "2.4", "chance_of_playing_next_round": None,
                "chance_of_playing_this_round": None, "cost_change_event": 0,
                "cost_change_event_fall": 0, "cost_change_start": 0, "cost_change_start_fall": 0,
                "news": "", "news_added": None, "in_dreamteam": False, "special": False,
                "dreamteam_count": 0, "event_points": 2, "total_points": pid % 100,
                "transfers_in": pid, "transfers_out": pid // 2, "transfers_in_event": 1,
                "transfers_out_event": 0, "minutes": 900, "goals_scored": pid % 5, "assists": pid % 4,
                "clean_sheets": pid % 6, "goals_conceded": pid % 9, "own_goals": 0,
                "penalties_saved": 0, "penalties_missed": 0, "yellow_cards": pid % 3,
                "red_cards": 0, "saves": 0, "bonus": pid % 7, "bps": pid * 3 % 500,
                "photo": f"{pid}.jpg", "status": "a", "influence": "100.0", "creativity": "80.0",
                "threat": "60.0", "ict_index": "24.0",
            })
            hist, futs = [], []
            for fx in by_team[t]:
                was_home = fx["team_h"] == t
                if fx["finished"]:
                    hist.append({
                        "element": pid, "fixture": fx["id"], "opponent_team": fx["team_a"] if was_home else fx["team_h"],
                        "total_points": (pid + fx["id"]) % 12, "was_home": was_home,
                        "kickoff_time": fx["kickoff_time"], "team_h_score": fx["team_h_score"],
                        "team_a_score": fx["team_a_score"], "round": fx["event"],
                        "minutes": 90 if (pid + fx["id"]) % 3 else 0, "goals_scored": 0, "assists": 0,
                        "clean_sheets": 0, "goals_conceded": 1, "own_goals": 0, "penalties_saved": 0,
                        "penalties_missed": 0, "yellow_cards": 0, "red_cards": 0, "saves": 0,
                        "bonus": 0, "bps": 10, "influence": "10.0", "creativity": "8.0",
                        "threat": "6.0", "ict_index": "2.4", "value": 50, "transfers_balance": 0,
                        "selected": 1000, "transfers_in": 1, "transfers_out": 1,
                    })
                else:
                    futs.append({
                        "id": fx["id"], "code": fx["code"], "team_h": fx["team_h"], "team_a": fx["team_a"],
                        "team_h_score": None, "team_a_score": None, "event": fx["event"], "finished": False,
                        "minutes": 0, "provisional_start_time": False, "kickoff_time": fx["kickoff_time"],
                        "event_name": f"Gameweek {fx['event']}", "is_home": was_home,
                        "difficulty": 3,
                    })
            players[str(pid)] = {"history": hist, "fixtures": futs, "history_past": []}
    main = {"events": events, "teams": teams, "element_types": positions, "elements": elements}
    paths = {}
    import os

    for name, payload in [("fixtures", fixtures), ("main", main), ("players", players)]:
        p = os.path.join(outdir, f"{name}.json")
        with open(p, "w") as f:
            json.dump(payload, f)
        paths[name] = p
    return paths


@pytest.fixture(scope="module")
def season(spark, tmp_path_factory):
    outdir = tmp_path_factory.mktemp("fullseason")
    paths = build_season(str(outdir))
    return transform.build_all(
        ingest.read_fixtures_json(spark, paths["fixtures"]),
        ingest.read_main_json(spark, paths["main"]),
        ingest.read_players_json(spark, paths["players"]),
    )


class TestFullSeason:
    def test_catalog_shapes(self, season):
        assert season["fixtures"].count() == N_TEAMS // 2 * 2 * (N_TEAMS - 1)  # 380
        assert season["teams"].count() == N_TEAMS
        assert season["players_summary"].count() == N_TEAMS * PLAYERS_PER_TEAM
        n_finished = N_TEAMS // 2 * FINISHED_GWS
        assert season["players_past"].count() == n_finished * 2 * PLAYERS_PER_TEAM
        assert season["team_results"].count() == 380 * 2

    def test_all_pk_constraints_hold(self, season):
        results = quality.run_catalog_checks(season, transform.PRIMARY_KEYS, raise_errors=True)
        assert all(r.ok for r in results)

    def test_catalog_checks_are_one_fused_action(self, spark, season):
        # one collect over the 11 pinned tables: AQE submits the per-key and
        # per-table shuffle stages as their own jobs, then the collect runs
        sc = spark.sparkContext
        sc.setJobGroup("fused-pk-checks", "run_catalog_checks")
        try:
            results = quality.run_catalog_checks(season, transform.PRIMARY_KEYS, raise_errors=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("fused-pk-checks")
        assert len(results) == 22
        assert 1 <= len(jobs) <= 3, jobs

    def test_league_table_conservation_laws(self, season):
        tbl = season["league_table"].collect()
        assert len(tbl) == N_TEAMS
        assert sorted(r["table_position"] for r in tbl) == list(range(N_TEAMS))
        n_finished = N_TEAMS // 2 * FINISHED_GWS
        draws = sum(r["draw"] for r in tbl) // 2  # each draw counted by both teams
        wins = sum(r["win"] for r in tbl)
        assert wins + draws == n_finished  # every finished match decided or drawn
        assert sum(r["goal_difference"] for r in tbl) == 0
        assert sum(r["played"] for r in tbl) == 2 * n_finished
        assert sum(r["points"] for r in tbl) == 3 * wins + 2 * draws
        assert sum(r["goals_scored"] for r in tbl) == sum(r["goals_conceded"] for r in tbl)

    def test_model_matrix_at_scale(self, season):
        mm = FF.build_model_matrix(season)
        n = mm.count()
        n_finished_rows = N_TEAMS * PLAYERS_PER_TEAM * FINISHED_GWS
        assert n == n_finished_rows  # one row per player per completed gameweek
        # lag alignment: a player's row at gw2 carries gw1's points
        p = mm.filter((F.col("player_id") == "1")).orderBy(F.col("gameweek_id").cast("int"))
        rows = p.select("gameweek_id", "total_points", "previous_total_points").collect()
        assert rows[0]["previous_total_points"] is None
        for prev, cur in zip(rows, rows[1:]):
            assert cur["previous_total_points"] == prev["total_points"]
