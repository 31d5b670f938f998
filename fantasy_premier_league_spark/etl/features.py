"""FPL model-matrix build (EDA.ipynb § 2-33, 88-91 → model_data.csv).

The reference's feature engineering over the 11-table catalog:

1. scope rows to completed gameweeks (§ 4-5)
2. J5 join chain: players_full ← teams (player's team) ← team_results
   (team's result that fixture) ← teams-as-opponent ← fixture difficulty
   from the home/away perspective (§ 13-20, the double join + combine_first
   collapses into the team_results role-swap rows we already built)
3. W1: lag the per-fixture stat columns per player (previous_*)
4. W3: days since last fixture; A5/F14: day offset from gameweek start
5. F12/F13: kickoff time-of-day features
6. M16: targets — target_played = minutes > 0, target_points = points >= 4
   (§ 88)

Everything is expression-level; one shuffle per window partitioning. The
returned frame is pinned by an eager, untracked ``localCheckpoint``, so its
consumers read the materialized rows instead of re-running the windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import features as FE
from ..operators.asof import asof_join

def point_in_time_features(
    status_log: DataFrame, gameweeks: DataFrame, players: DataFrame, *, ts_col: str = "snapshot_ts"
) -> DataFrame:
    """M1.ipynb § 20-27: reconstruct what was known about each player at
    each gameweek deadline from the append-only status log.

    The reference cross-joins the S3 file list with gameweeks and keeps the
    latest file before each deadline (J10), then reads that file's
    elements. With the streaming status log (streaming/snapshots.py) the
    snapshots are already rows, so this is a per-player as-of join: left =
    (player x deadline) grid, right = the log keyed by player, pick the
    latest snapshot_ts <= deadline. One shuffle on player_id.

    Returns one row per (player_id, gameweek_id) with the as-of form/news/
    status columns (null when no snapshot predates the deadline).
    """
    grid = players.select("player_id").crossJoin(
        F.broadcast(gameweeks.select("gameweek_id", "gameweek_deadline_time"))
    )
    # both log flavors feed this: the streaming log stamps snapshot_ts,
    # the batch append log (etl/statuses.py) stamps load_datetime
    log = status_log.select(
        "player_id", F.col(ts_col).alias("snapshot_ts"), "form", "news", "status",
        "chance_of_playing_next_round", "transfers_in_event", "transfers_out_event",
    )
    out = asof_join(
        grid,
        log,
        left_on="player_id",
        right_on="player_id",
        left_ts="gameweek_deadline_time",
        right_ts="snapshot_ts",
        right_value_cols=(
            "snapshot_ts", "form", "news", "status",
            "chance_of_playing_next_round", "transfers_in_event", "transfers_out_event",
        ),
        allow_exact_matches=False,
        prefix="deadline_",
    )
    return out


#: per-fixture stat columns lagged per player (EDA § 24: the 24-column
#: shift(1) — the subset that exists in players_full)
LAG_COLS = [
    "total_points", "minutes", "goals_scored", "assists", "clean_sheets",
    "goals_conceded", "own_goals", "penalties_saved", "penalties_missed",
    "yellow_cards", "red_cards", "saves", "bonus", "bps",
    "influence", "creativity", "threat", "ict_index", "value",
    "transfers_balance", "selected", "transfers_in", "transfers_out",
]


def last_complete_gameweek(gameweeks: DataFrame) -> int | None:
    """A7 (run_load.py:34-39; EDA § 4): MAX(gameweek_id::int) where
    finished."""
    row = gameweeks.filter(F.col("gameweek_finished")).agg(
        F.max(F.col("gameweek_id").cast("int")).alias("m")
    ).first()
    return row["m"]


def build_model_matrix(catalog: dict[str, DataFrame]) -> DataFrame:
    """The feature frame: one row per (player, fixture) up to the last
    complete gameweek, with lagged stats, schedule features,
    team/opponent strengths, and targets."""
    full = catalog["players_full"]
    teams = catalog["teams"]
    results = catalog["team_results"]
    gameweeks = catalog["gameweeks"]

    max_gameweek = last_complete_gameweek(gameweeks)
    if max_gameweek is not None:
        full = full.filter(F.col("gameweek_id").cast("int") <= max_gameweek)

    # J5 chain — all build sides are dimension-sized: broadcast.
    team_cols = [
        "team_strength", "team_strength_overall_home", "team_strength_overall_away",
        "team_strength_attack_home", "team_strength_attack_away",
        "team_strength_defence_home", "team_strength_defence_away",
    ]
    own_team = teams.select("team_id", *[F.col(c).alias(f"own_{c}") for c in team_cols])
    # the team's result row for that fixture (role-swap rows replace the
    # reference's home/away double-join + combine_first, EDA § 19-20)
    res = results.select(
        "team_id", "fixture_id",
        F.col("opponent_team_id"),
        F.col("played").alias("team_played"),
        F.col("win").alias("team_win"),
        F.col("draw").alias("team_draw"),
        F.col("loss").alias("team_loss"),
        F.col("points").alias("team_points"),
        F.col("goal_difference").alias("team_goal_difference"),
    )
    opp_team = teams.select(
        F.col("team_id").alias("opponent_team_id"),
        *[F.col(c).alias(f"opp_{c}") for c in team_cols],
    )
    df = (
        full.join(F.broadcast(own_team), "team_id", "left")
        .join(F.broadcast(res), ["team_id", "fixture_id"], "left")
        .join(F.broadcast(opp_team), "opponent_team_id", "left")
    )
    df = df.withColumn(
        "diff_strength", F.col("own_team_strength") - F.col("opp_team_strength")
    )

    # perspective fixture difficulty (EDA § 19: FPL rates each fixture for
    # home and away separately; pick the player's side)
    fx_diff = catalog["fixtures"].select(
        "fixture_id",
        F.col("home_team_fixture_difficulty"),
        F.col("away_team_fixture_difficulty"),
    )
    df = df.join(F.broadcast(fx_diff), "fixture_id", "left").withColumn(
        "fixture_difficulty",
        F.when(F.col("fixture_home"), F.col("home_team_fixture_difficulty")).otherwise(
            F.col("away_team_fixture_difficulty")
        ),
    ).drop("home_team_fixture_difficulty", "away_team_fixture_difficulty")

    # gameweek start (A5: first kickoff per gameweek) for the day offset F14
    gw_min = (
        full.groupBy("gameweek_id")
        .agg(F.min("kickoff_datetime").alias("gameweek_first_kickoff"))
    )
    df = df.join(F.broadcast(gw_min), "gameweek_id", "left").withColumn(
        "days_into_gameweek",
        F.datediff("kickoff_datetime", "gameweek_first_kickoff"),
    )

    df = FE.add_lag_features(df, entity="player_id", order="kickoff_datetime", cols=LAG_COLS)
    df = FE.add_days_since_last(df, entity="player_id", ts="kickoff_datetime")
    df = FE.add_time_features(df, ts="kickoff_datetime")

    # A2/A3 (EDA § 26-27): per-gameweek share of transfer volume and points
    # decile of the player's previous-match points
    df = FE.add_group_share(df, group=["gameweek_id"], value="transfers_in", out="transfers_in_share")
    df = FE.add_group_share(df, group=["gameweek_id"], value="selected", out="selected_share")
    df = FE.add_group_decile(df, group=["gameweek_id"], value="previous_total_points",
                             out="previous_points_decile")

    # M16 targets (EDA § 88)
    df = df.withColumn("target_played", (F.col("minutes") > 0).cast("int"))
    df = df.withColumn("target_points", (F.col("total_points") >= 4).cast("int"))
    # pinned: the split, class weights, scaler and model fits and the
    # evaluation all read this frame, and each would otherwise re-run the
    # window and join lineage (untracked: freed once unreachable)
    return df.localCheckpoint(eager=True)
