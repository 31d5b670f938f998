"""Seeded FPL season snapshots and a FIFA table with planted twins.

A season is a double round robin between ``n_teams`` teams. A *snapshot* is
the API state after ``finished`` gameweeks: the three JSON documents the
reference pipeline ingests (``fixtures.json``, ``main.json``,
``players.json``), in the shapes ``etl.ingest`` reads. Scores, minutes,
points, strengths and names come from the seed; the structure (who plays
whom, which gameweeks are finished) is fixed, so the catalog's row counts and
league-table laws are known without running the pipeline.

The FIFA table holds, for every FPL player, exactly one *twin* (a row whose
name has the same token set, in another order or with an extra token in the
long form, at a position the fuzzy blocker admits) plus unrelated noise rows.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

POSITIONS = ((1, "Goalkeeper", "GKP"), (2, "Defender", "DEF"), (3, "Midfielder", "MID"), (4, "Forward", "FWD"))
FIFA_POSITIONS = {1: ("GK",), 2: ("CB", "LB", "RB", "RWB"), 3: ("CM", "CAM", "CDM", "LM"), 4: ("ST", "CF", "LS")}
_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


@dataclass(frozen=True)
class Season:
    n_teams: int
    players_per_team: int
    n_gws: int
    fixtures: list[dict]
    teams: list[dict]
    elements: list[dict]
    #: per player id: (fixture id, minutes, total points) for every fixture
    results: dict[int, list[tuple[int, int, int]]]
    #: per player id: sofifa id of the planted twin
    twins: dict[int, int]
    fifa_rows: list[tuple[int, str, str, str]]

    @property
    def n_players(self) -> int:
        return self.n_teams * self.players_per_team

    def n_finished_fixtures(self, finished: int) -> int:
        return self.n_teams // 2 * finished


def _round_robin(n: int) -> list[list[tuple[int, int]]]:
    """Circle method: ``n - 1`` rounds of ``n / 2`` pairings."""
    teams = list(range(1, n + 1))
    rounds = []
    for r in range(n - 1):
        rounds.append([
            (teams[i], teams[n - 1 - i]) if (r + i) % 2 == 0 else (teams[n - 1 - i], teams[i])
            for i in range(n // 2)
        ])
        teams = [teams[0], teams[-1], *teams[1:-1]]
    return rounds


def _word(rng: np.random.Generator) -> str:
    n = int(rng.integers(2, 4))
    return "".join(_CONSONANTS[rng.integers(len(_CONSONANTS))] + _VOWELS[rng.integers(len(_VOWELS))] for _ in range(n))


def snapshot_stamp(gw: int) -> str:
    """File-name timestamp (``yyyyMMdd-HHmmss``) of the snapshot taken at gameweek ``gw``'s deadline."""
    return _kickoff(gw, 0)[:19].replace("-", "").replace(":", "").replace("T", "-")


def snapshot_datetime(gw: int):
    import datetime as dt

    return dt.datetime.strptime(snapshot_stamp(gw), "%Y%m%d-%H%M%S")


def _kickoff(gw: int, k: int) -> str:
    return f"2019-{8 + (gw - 1) // 9:02d}-{(gw - 1) % 28 + 1:02d}T{10 + k % 8}:00:00Z"


def build_season(seed: int, *, n_teams: int = 6, players_per_team: int = 8, noise_fifa: int = 150) -> Season:
    rng = np.random.Generator(np.random.PCG64(seed))
    first = _round_robin(n_teams)
    schedule = first + [[(a, h) for (h, a) in rnd] for rnd in first]
    fixtures, fid = [], 0
    for gw0, rnd in enumerate(schedule):
        for home, away in rnd:
            fid += 1
            fixtures.append({
                "code": 100000 + fid, "id": fid, "event": gw0 + 1, "kickoff_time": _kickoff(gw0 + 1, fid),
                "team_h": home, "team_a": away,
                "score": (int(rng.integers(0, 5)), int(rng.integers(0, 4))),
                "team_h_difficulty": int(rng.integers(2, 6)), "team_a_difficulty": int(rng.integers(2, 6)),
            })
    strength = rng.integers(2, 6, n_teams + 1)
    teams = [{
        "code": 1000 + t, "id": t, "name": f"Team {t:02d}", "short_name": f"T{t:02d}",
        "strength": int(strength[t]),
        **{f"strength_{k}": int(1000 + 40 * strength[t] + rng.integers(0, 60))
           for k in ("overall_home", "overall_away", "attack_home", "attack_away", "defence_home", "defence_away")},
    } for t in range(1, n_teams + 1)]
    names: set[str] = set()
    elements, results, twins, fifa_rows = [], {}, {}, []
    pid = 0
    for t in range(1, n_teams + 1):
        for j in range(players_per_team):
            pid += 1
            etype = 1 + j * 4 // players_per_team
            while True:
                fn, sn = _word(rng), _word(rng)
                if fn != sn and f"{fn} {sn}" not in names:
                    break
            names.add(f"{fn} {sn}")
            elements.append({"id": pid, "code": 50000 + pid, "first_name": fn.title(), "second_name": sn.title(),
                             "element_type": etype, "team": t, "team_code": 1000 + t})
            # a per-player habit of playing gives the will-play model signal
            p_play = float(rng.uniform(0.15, 0.95))
            results[pid] = [
                (fx["id"], 90 if rng.random() < p_play else 0, int(rng.integers(0, 13)))
                for fx in fixtures if t in (fx["team_h"], fx["team_a"])
            ]
            pos = FIFA_POSITIONS[etype][int(rng.integers(len(FIFA_POSITIONS[etype])))]
            sofifa = 200_000 + pid
            if rng.random() < 0.5:  # reordered tokens
                fifa_rows.append((sofifa, f"{sn.title()} {fn.title()}", f"{sn.title()} {fn.title()}", pos))
            else:  # short name exact, long name with an extra token
                fifa_rows.append((sofifa, f"{fn.title()} {sn.title()}", f"{fn.title()} {_word(rng).title()} {sn.title()}", pos))
            twins[pid] = sofifa
    all_pos = [p for ps in FIFA_POSITIONS.values() for p in ps]
    for i in range(noise_fifa):
        while True:
            fn, sn = _word(rng), _word(rng)
            if fn != sn and f"{fn} {sn}" not in names and f"{sn} {fn}" not in names:
                break
        names.add(f"{fn} {sn}")
        fifa_rows.append((300_000 + i, f"{fn.title()} {sn.title()}", f"{fn.title()} {sn.title()}",
                          all_pos[int(rng.integers(len(all_pos)))]))
    order = rng.permutation(len(fifa_rows))
    return Season(n_teams, players_per_team, 2 * (n_teams - 1), fixtures, teams, elements,
                  results, twins, [fifa_rows[i] for i in order])


def write_snapshot(season: Season, finished: int, outdir: str) -> dict[str, str]:
    """Write the API state after ``finished`` gameweeks; returns the paths."""
    os.makedirs(outdir, exist_ok=True)
    fx_by_id = {fx["id"]: fx for fx in season.fixtures}
    fixtures = []
    for fx in season.fixtures:
        done = fx["event"] <= finished
        hs, as_ = fx["score"] if done else (None, None)
        fixtures.append({
            "code": fx["code"], "id": fx["id"], "event": fx["event"], "kickoff_time": fx["kickoff_time"],
            "provisional_start_time": False, "started": done, "finished": done, "finished_provisional": done,
            "minutes": 90 if done else 0, "team_h": fx["team_h"], "team_a": fx["team_a"],
            "team_h_score": hs, "team_a_score": as_, "team_h_difficulty": fx["team_h_difficulty"],
            "team_a_difficulty": fx["team_a_difficulty"], "stats": [],
        })
    teams = [{**t, "draw": 0, "form": None, "loss": 0, "played": 0, "points": 0, "position": t["id"],
              "team_division": None, "unavailable": False, "win": 0} for t in season.teams]
    events = [{
        "id": g, "name": f"Gameweek {g}", "deadline_time": _kickoff(g, 0), "deadline_time_epoch": 0,
        "deadline_time_game_offset": 0, "chip_plays": [], "top_element_info": None, "finished": g <= finished,
        "data_checked": g <= finished, "is_previous": g == finished, "is_current": g == finished + 1,
        "is_next": g == finished + 2, "average_entry_score": 50 if g <= finished else None,
        "highest_score": None, "highest_scoring_entry": None, "most_selected": 1, "most_transferred_in": 1,
        "top_element": 1, "most_captained": 1, "most_vice_captained": 1, "transfers_made": g * 100,
    } for g in range(1, season.n_gws + 1)]
    positions = [{"id": i, "singular_name": n, "singular_name_short": s, "squad_select": 5, "squad_min_play": 1,
                  "squad_max_play": 5, "plural_name": n, "plural_name_short": s, "ui_shirt_specific": False,
                  "sub_positions_locked": []} for i, n, s in POSITIONS]
    elements, players = [], {}
    for el in season.elements:
        pid = el["id"]
        played = [r for r in season.results[pid] if fx_by_id[r[0]]["event"] <= finished]
        elements.append({
            **el, "squad_number": pid % 40, "web_name": el["second_name"], "now_cost": 40 + pid % 90,
            "selected_by_percent": f"{pid % 50 / 2:.1f}", "form": "2.0", "points_per_game": "3.0",
            "value_form": "0.4", "value_season": "6.0", "ep_next": "2.5", "ep_this": "2.4",
            "chance_of_playing_next_round": None, "chance_of_playing_this_round": None, "cost_change_event": 0,
            "cost_change_event_fall": 0, "cost_change_start": 0, "cost_change_start_fall": 0, "news": "",
            "news_added": None, "in_dreamteam": False, "special": False, "dreamteam_count": 0, "event_points": 2,
            "total_points": sum(p for _, _, p in played), "transfers_in": pid * 11, "transfers_out": pid * 5,
            "transfers_in_event": 1, "transfers_out_event": 0, "minutes": sum(m for _, m, _ in played),
            "goals_scored": pid % 5, "assists": pid % 4, "clean_sheets": pid % 6, "goals_conceded": pid % 9,
            "own_goals": 0, "penalties_saved": 0, "penalties_missed": 0, "yellow_cards": pid % 3, "red_cards": 0,
            "saves": 0, "bonus": pid % 7, "bps": pid * 3 % 500, "photo": f"{pid}.jpg", "status": "a",
            "influence": "100.0", "creativity": "80.0", "threat": "60.0", "ict_index": "24.0",
        })
        hist, futs = [], []
        for fixture_id, minutes, points in season.results[pid]:
            fx = fx_by_id[fixture_id]
            home = fx["team_h"] == el["team"]
            if fx["event"] <= finished:
                hist.append({
                    "element": pid, "fixture": fixture_id, "opponent_team": fx["team_a"] if home else fx["team_h"],
                    "total_points": points, "was_home": home, "kickoff_time": fx["kickoff_time"],
                    "team_h_score": fx["score"][0], "team_a_score": fx["score"][1], "round": fx["event"],
                    "minutes": minutes, "goals_scored": 0, "assists": 0, "clean_sheets": 0, "goals_conceded": 1,
                    "own_goals": 0, "penalties_saved": 0, "penalties_missed": 0, "yellow_cards": 0, "red_cards": 0,
                    "saves": 0, "bonus": 0, "bps": 10, "influence": "10.0", "creativity": "8.0", "threat": "6.0",
                    "ict_index": "2.4", "value": 50, "transfers_balance": 0, "selected": 1000 + pid * 7,
                    "transfers_in": 1 + (pid * fixture_id) % 17, "transfers_out": 1,
                })
            else:
                futs.append({
                    "id": fixture_id, "code": fx["code"], "team_h": fx["team_h"], "team_a": fx["team_a"],
                    "team_h_score": None, "team_a_score": None, "event": fx["event"], "finished": False,
                    "minutes": 0, "provisional_start_time": False, "kickoff_time": fx["kickoff_time"],
                    "event_name": f"Gameweek {fx['event']}", "is_home": home, "difficulty": 3,
                })
        players[str(pid)] = {"history": hist, "fixtures": futs, "history_past": []}
    main = {"events": events, "teams": teams, "element_types": positions, "elements": elements}
    paths = {}
    for name, payload in (("fixtures", fixtures), ("main", main), ("players", players)):
        paths[name] = os.path.join(outdir, f"{name}.json")
        with open(paths[name], "w") as fh:
            json.dump(payload, fh)
    return paths


def expected_league(season: Season, finished: int) -> dict[str, int]:
    """League-table totals implied by the finished fixtures."""
    done = [fx for fx in season.fixtures if fx["event"] <= finished]
    wins = sum(1 for fx in done if fx["score"][0] != fx["score"][1])
    draws = len(done) - wins
    goals = sum(fx["score"][0] + fx["score"][1] for fx in done)
    return {"played": 2 * len(done), "wins": wins, "draws": draws, "points": 3 * wins + 2 * draws, "goals": goals}
