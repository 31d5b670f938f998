"""The 11-table FPL transform catalog, Spark-first.

Semantics mirror etl/run_transform.py (cited per builder); the architecture
does not: each builder returns one lazy DataFrame plan (rename → drop → cast
→ join → union → agg), dims broadcast, constraint checks are explicit actions
in quality.py. :func:`build_all` runs every builder once and pins its table,
so the checks and the parquet write read memory instead of recomputing the
catalog from the parsed documents.

Cross-cutting semantics:

- **Int-string IDs (F1)** — the reference routes every ID through
  ``pandas_integerstr_to_int`` (etl/transform.py:59-66) because pandas can't
  hold int+NaN; Spark can, but IDs stay strings for output parity:
  ``col.cast("long").cast("string")`` is null-safe natively.
- **Timestamp coercion (F2)** — ``pd.to_datetime(errors='coerce')`` ≙
  ``F.try_to_timestamp`` (null on malformed).
- **Masked win/draw/loss (P8)** — booleans become nullable ints, null when
  the fixture is unplayed (run_transform.py:399,416); ``points`` is computed
  *before* masking, so unplayed rows carry 0 (run_transform.py:398).
- **league_table ties (O2)** — the reference sorts by (points, gd, goals)
  desc only, leaving ties underdetermined; we pin a final ``team_id`` key so
  ``table_position`` is deterministic.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def int_str(col: F.Column) -> F.Column:
    """Null-safe integer-string cast (F1). 3.0 → "3", null → null."""
    return col.cast("long").cast("string")


def coerce_ts(col: F.Column) -> F.Column:
    """to_datetime(errors='coerce') ≙ null on malformed (F2)."""
    return F.try_to_timestamp(col)


# --------------------------------------------------------------------------
# Dimension tables
# --------------------------------------------------------------------------


def build_fixtures(raw: DataFrame) -> DataFrame:
    """fixtures (run_transform.py:85-131; DDL load.py:264-280)."""
    return raw.select(
        int_str(F.col("id")).alias("fixture_id"),
        int_str(F.col("code")).alias("fixture_id_long"),
        int_str(F.col("event")).alias("gameweek_id"),
        coerce_ts(F.col("kickoff_time")).alias("fixture_kickoff_datetime"),
        F.col("started").alias("fixture_started"),
        F.col("finished").alias("fixture_finished"),
        F.col("finished_provisional").alias("fixture_finished_provisional"),
        F.col("minutes").cast("int").alias("fixture_minutes"),
        int_str(F.col("team_h")).alias("home_team_id"),
        int_str(F.col("team_a")).alias("away_team_id"),
        F.col("team_h_score").cast("int").alias("home_team_score"),
        F.col("team_a_score").cast("int").alias("away_team_score"),
        F.col("team_h_difficulty").cast("int").alias("home_team_fixture_difficulty"),
        F.col("team_a_difficulty").cast("int").alias("away_team_fixture_difficulty"),
    )


def count_missing_gameweeks(fixtures: DataFrame) -> int:
    """Postponed-fixture detection (run_transform.py:119-129): fixtures with
    no assigned gameweek force row drops downstream (warn-and-drop Q5)."""
    return fixtures.filter(F.col("gameweek_id").isNull()).count()


def build_gameweeks(raw_events: DataFrame) -> DataFrame:
    """gameweeks (run_transform.py:133-171; DDL load.py:239-261)."""
    return raw_events.select(
        int_str(F.col("id")).alias("gameweek_id"),
        F.col("name").alias("gameweek_name"),
        coerce_ts(F.col("deadline_time")).alias("gameweek_deadline_time"),
        F.col("is_previous").alias("gameweek_previous"),
        F.col("is_current").alias("gameweek_current"),
        F.col("is_next").alias("gameweek_next"),
        F.col("finished").alias("gameweek_finished"),
        F.col("data_checked").alias("gameweek_data_checked"),
        F.col("average_entry_score").cast("int").alias("average_entry_score"),
        int_str(F.col("highest_scoring_entry")).alias("highest_scoring_entry"),
        F.col("highest_score").cast("int").alias("highest_scoring_entry_score"),
        int_str(F.col("most_selected")).alias("player_id_most_selected"),
        int_str(F.col("most_transferred_in")).alias("player_id_most_transferred_in"),
        int_str(F.col("top_element")).alias("player_id_highest_score"),
        int_str(F.col("most_captained")).alias("player_id_most_captained"),
        int_str(F.col("most_vice_captained")).alias("player_id_most_vice_captained"),
        F.col("transfers_made").cast("int").alias("transfers_made"),
    )


def build_teams(raw_teams: DataFrame) -> DataFrame:
    """teams (run_transform.py:173-198; DDL load.py:151-164)."""
    return raw_teams.select(
        int_str(F.col("id")).alias("team_id"),
        int_str(F.col("code")).alias("team_id_long"),
        F.col("name").alias("team_name_long"),
        F.col("short_name").alias("team_name"),
        F.col("strength").cast("int").alias("team_strength"),
        F.col("strength_overall_home").cast("int").alias("team_strength_overall_home"),
        F.col("strength_overall_away").cast("int").alias("team_strength_overall_away"),
        F.col("strength_attack_home").cast("int").alias("team_strength_attack_home"),
        F.col("strength_attack_away").cast("int").alias("team_strength_attack_away"),
        F.col("strength_defence_home").cast("int").alias("team_strength_defence_home"),
        F.col("strength_defence_away").cast("int").alias("team_strength_defence_away"),
    )


def build_positions(raw_element_types: DataFrame) -> DataFrame:
    """positions (run_transform.py:200-217; DDL load.py:140-148)."""
    return raw_element_types.select(
        int_str(F.col("id")).alias("position_id"),
        F.col("singular_name_short").alias("position_name"),
        F.col("singular_name").alias("position_name_long"),
        F.col("squad_select").cast("int").alias("squad_select"),
        F.col("squad_min_play").cast("int").alias("squad_min_play"),
        F.col("squad_max_play").cast("int").alias("squad_max_play"),
    )


def build_players_summary(raw_elements: DataFrame) -> DataFrame:
    """players_summary (run_transform.py:219-241; DDL load.py:183-236).
    Float-as-string API fields cast with coerce semantics (try_cast)."""
    dbl = lambda c: F.col(c).try_cast("double").alias(c)  # noqa: E731
    keep_int = [
        "now_cost", "chance_of_playing_next_round", "chance_of_playing_this_round",
        "cost_change_event", "cost_change_event_fall", "cost_change_start",
        "cost_change_start_fall", "dreamteam_count", "total_points",
        "transfers_in", "transfers_out", "transfers_in_event", "transfers_out_event",
        "minutes", "goals_scored", "assists", "clean_sheets", "goals_conceded",
        "own_goals", "penalties_saved", "penalties_missed", "yellow_cards",
        "red_cards", "saves", "bonus", "bps",
    ]
    return raw_elements.select(
        int_str(F.col("id")).alias("player_id"),
        int_str(F.col("code")).alias("player_id_long"),
        F.col("first_name"),
        F.col("second_name"),
        int_str(F.col("element_type")).alias("position_id"),
        int_str(F.col("team")).alias("team_id"),
        int_str(F.col("team_code")).alias("team_id_long"),
        F.col("event_points").cast("int").alias("gameweek_points"),
        dbl("selected_by_percent"),
        dbl("form"),
        dbl("points_per_game"),
        dbl("value_form"),
        dbl("value_season"),
        dbl("ep_next"),
        dbl("ep_this"),
        dbl("influence"),
        dbl("creativity"),
        dbl("threat"),
        dbl("ict_index"),
        F.col("news"),
        coerce_ts(F.col("news_added")).alias("news_added_datetime"),
        F.col("status"),
        F.col("in_dreamteam"),
        F.col("special"),
        F.col("photo"),
        *[F.col(c).cast("int").alias(c) for c in keep_int],
    )


# --------------------------------------------------------------------------
# Player fact tables
# --------------------------------------------------------------------------


def build_players_previous_seasons(raw_history_past: DataFrame) -> DataFrame:
    """players_previous_seasons (run_transform.py:256-273; DDL
    load.py:112-137). PK (player_id_long, season_name)."""
    ints = [
        "start_cost", "end_cost", "total_points", "minutes", "goals_scored",
        "assists", "clean_sheets", "goals_conceded", "own_goals",
        "penalties_saved", "penalties_missed", "yellow_cards", "red_cards",
        "saves", "bonus", "bps",
    ]
    return raw_history_past.select(
        int_str(F.col("element_code")).alias("player_id_long"),
        F.col("season_name"),
        *[F.col(c).cast("int").alias(c) for c in ints],
        F.col("influence").try_cast("double").alias("influence"),
        F.col("creativity").try_cast("double").alias("creativity"),
        F.col("threat").try_cast("double").alias("threat"),
        F.col("ict_index").try_cast("double").alias("ict_index"),
    )


def build_players_past(raw_history: DataFrame, fixtures: DataFrame) -> DataFrame:
    """players_past (run_transform.py:275-302; DDL load.py:303-339).

    Inner broadcast join onto fixtures attaches fixture_id_long and the two
    team ids (J1 — fixtures is a <=380-row dim at any scale).
    """
    ints = [
        "total_points", "minutes", "goals_scored", "assists", "clean_sheets",
        "goals_conceded", "own_goals", "penalties_saved", "penalties_missed",
        "yellow_cards", "red_cards", "saves", "bonus", "bps", "value",
        "transfers_balance", "selected", "transfers_in", "transfers_out",
    ]
    base = raw_history.select(
        int_str(F.col("element")).alias("player_id"),
        int_str(F.col("fixture")).alias("fixture_id"),
        int_str(F.col("round")).alias("gameweek_id"),
        F.col("was_home").alias("fixture_home"),
        F.col("team_h_score").cast("int").alias("home_team_score"),
        F.col("team_a_score").cast("int").alias("away_team_score"),
        coerce_ts(F.col("kickoff_time")).alias("kickoff_datetime"),
        *[F.col(c).cast("int").alias(c) for c in ints],
        F.col("influence").try_cast("double").alias("influence"),
        F.col("creativity").try_cast("double").alias("creativity"),
        F.col("threat").try_cast("double").alias("threat"),
        F.col("ict_index").try_cast("double").alias("ict_index"),
    )
    fx = fixtures.select("fixture_id", "fixture_id_long", "away_team_id", "home_team_id")
    return base.join(F.broadcast(fx), "fixture_id", "inner")


def build_players_future(
    raw_future: DataFrame, fixtures: DataFrame, *, missing_gameweeks: bool
) -> DataFrame:
    """players_future (run_transform.py:304-347; DDL load.py:283-300).

    ``player_id`` is the players.json dict key (already a string). Rows for
    unscheduled fixtures (null gameweek) are dropped when the fixtures table
    flagged missing gameweeks (warn-and-drop Q5, run_transform.py:327-335).
    Inner broadcast join on fixture_id_long attaches fixture_id (J2).
    """
    base = raw_future.select(
        F.col("player_id"),
        int_str(F.col("code")).alias("fixture_id_long"),
        int_str(F.col("event")).alias("gameweek_id"),
        int_str(F.col("team_h")).alias("home_team_id"),
        int_str(F.col("team_a")).alias("away_team_id"),
        F.col("team_h_score").cast("int").alias("home_team_score"),
        F.col("team_a_score").cast("int").alias("away_team_score"),
        F.col("finished"),
        F.col("minutes").cast("int").alias("minutes"),
        F.col("provisional_start_time"),
        F.col("is_home").alias("fixture_home"),
        F.col("difficulty").cast("int").alias("difficulty"),
        coerce_ts(F.col("kickoff_time")).alias("kickoff_datetime"),
    )
    if missing_gameweeks:
        base = base.filter(F.col("gameweek_id").isNotNull())
    fx = fixtures.select("fixture_id", "fixture_id_long")
    return base.join(F.broadcast(fx), "fixture_id_long", "inner")


def build_players_full(
    players_past: DataFrame, players_future: DataFrame, players_summary: DataFrame
) -> DataFrame:
    """players_full = past ∪ future (run_transform.py:349-371; DDL
    load.py:342-380).

    - union with missing columns null-filled (U2)
    - team_id = home/away pick by fixture_home (P9)
    - position_id from players_summary (left broadcast join J3)
    - current-gameweek dedup (A11): when both past and future carry the same
      (player_id, gameweek_id, fixture_id), drop the null-total_points copy.
    """
    merged = players_past.unionByName(players_future, allowMissingColumns=True)
    merged = merged.withColumn(
        "team_id",
        F.when(F.col("fixture_home"), F.col("home_team_id")).otherwise(F.col("away_team_id")),
    )
    pos = players_summary.select("player_id", "position_id")
    merged = merged.join(F.broadcast(pos), "player_id", "left")
    pk = ["player_id", "gameweek_id", "fixture_id"]
    n_dups = F.count(F.lit(1)).over(W.partitionBy(*pk))
    return (
        merged.withColumn("__n", n_dups)
        .filter(~((F.col("__n") > 1) & F.col("total_points").isNull()))
        .drop("__n")
    )


# --------------------------------------------------------------------------
# Team results + league table
# --------------------------------------------------------------------------

_RESULT_COLS = [
    "fixture_id_long",
    "fixture_id",
    "gameweek_id",
    "fixture_kickoff_datetime",
]


def _one_side(fixtures: DataFrame, *, home: bool) -> DataFrame:
    """One perspective of the role-swap union J14 (run_transform.py:385-417)."""
    team, opp = ("home", "away") if home else ("away", "home")
    played = F.col("fixture_finished")
    scored = F.col(f"{team}_team_score")
    conceded = F.col(f"{opp}_team_score")
    win = played & (scored > conceded)
    draw = played & (scored == conceded)
    loss = played & (scored < conceded)
    mask = lambda c: F.when(played, c.cast("int")).otherwise(F.lit(None).cast("int"))  # noqa: E731
    return fixtures.select(
        *_RESULT_COLS,
        F.col(f"{team}_team_id").alias("team_id"),
        F.col(f"{opp}_team_id").alias("opponent_team_id"),
        scored.alias("goals_scored"),
        conceded.alias("goals_conceded"),
        played.alias("played"),
        F.lit(home).alias("fixture_home"),
        mask(win).alias("win"),
        mask(draw).alias("draw"),
        mask(loss).alias("loss"),
        # points computed before the null-mask: unplayed fixtures carry 0
        # (reference run_transform.py:398-399 ordering)
        (win.cast("int") * 3 + draw.cast("int")).alias("points"),
        (scored - conceded).alias("goal_difference"),
    )


def build_team_results(fixtures: DataFrame) -> DataFrame:
    """team_results (run_transform.py:373-422; DDL load.py:383-401)."""
    return _one_side(fixtures, home=True).unionByName(_one_side(fixtures, home=False))


def build_league_table(team_results: DataFrame, teams: DataFrame) -> DataFrame:
    """league_table (run_transform.py:424-447; DDL load.py:167-180).

    Group-sums per team (A1; null win/draw/loss skipped like pandas skipna,
    all-null → 0 via coalesce), ranked by (points, goal_difference,
    goals_scored) desc (W4/O2) with team_id pinned as the final tie-break
    for determinism. table_position is 0-based like the reference's
    reset_index. 20 rows → the single-partition window is free; at scale
    use sort + zipWithIndex.
    """
    tbl_cols = ["points", "goal_difference", "played", "win", "draw", "loss",
                "goals_scored", "goals_conceded"]
    named = team_results.join(
        F.broadcast(teams.select("team_id", "team_name_long")), "team_id", "left"
    )
    agg = named.groupBy("team_id", "team_name_long").agg(
        *[
            F.coalesce(F.sum(F.col(c).cast("long")), F.lit(0)).cast("long").alias(c)
            for c in tbl_cols
        ]
    )
    w = W.orderBy(
        F.desc("points"), F.desc("goal_difference"), F.desc("goals_scored"), F.asc("team_id")
    )
    return agg.withColumn("table_position", F.row_number().over(w) - 1).select(
        "table_position", "team_id", "team_name_long", *tbl_cols
    )


# --------------------------------------------------------------------------
# Full catalog
# --------------------------------------------------------------------------

PRIMARY_KEYS: dict[str, list[str]] = {
    "fixtures": ["fixture_id"],
    "gameweeks": ["gameweek_id"],
    "teams": ["team_id"],
    "positions": ["position_id"],
    "players_summary": ["player_id"],
    "players_previous_seasons": ["player_id_long", "season_name"],
    "players_past": ["player_id", "fixture_id"],
    "players_future": ["player_id", "fixture_id_long"],
    "players_full": ["player_id", "gameweek_id", "fixture_id"],
    "team_results": ["team_id", "fixture_id"],
    "league_table": ["table_position"],
}


def _build_and_pin(build, inputs: list[Future]) -> DataFrame:
    """Build one table from its input tables' pins and pin it."""
    return build(*[f.result() for f in inputs]).localCheckpoint(eager=True)


def build_all(
    raw_fixtures: DataFrame,
    raw_main: dict[str, DataFrame],
    raw_players: dict[str, DataFrame],
) -> dict[str, DataFrame]:
    """The full 11-table catalog (run_transform.py dataflow), each table
    built once and pinned by an eager, untracked ``localCheckpoint``.

    The catalog feeds several actions (the fused PK check, one write per
    table), and a lazy table would be recomputed from the parsed documents
    by each. The pins are untracked for the reason given in ``ingest``: the
    ContextCleaner frees them once the last returned frame is unreachable,
    and no bulk release of operator caches can cut a table a consumer holds.

    Each table's build and pin job runs on its own driver thread and waits
    only for its input tables, so the planning, code generation and job
    submission of independent tables overlap. The tasks are submitted in
    dependency order to a pool with one thread per task, so a task that
    waits on an upstream future never holds the thread that upstream needs.
    Each task inherits the caller's local properties (job group, scheduler
    pool), so the pin jobs run under the caller's labels. The first failing
    build, in dependency order, raises here once every task has finished.
    """
    def players_future(fixtures: DataFrame) -> DataFrame:
        missing = count_missing_gameweeks(fixtures) > 0
        return build_players_future(raw_players["fixtures"], fixtures, missing_gameweeks=missing)

    # (table, builder, input tables), in dependency order
    tasks = [
        ("fixtures", lambda: build_fixtures(raw_fixtures), ()),
        ("gameweeks", lambda: build_gameweeks(raw_main["events"]), ()),
        ("teams", lambda: build_teams(raw_main["teams"]), ()),
        ("positions", lambda: build_positions(raw_main["element_types"]), ()),
        ("players_summary", lambda: build_players_summary(raw_main["elements"]), ()),
        ("players_previous_seasons",
         lambda: build_players_previous_seasons(raw_players["history_past"]), ()),
        ("players_past", lambda fixtures: build_players_past(raw_players["history"], fixtures),
         ("fixtures",)),
        ("players_future", players_future, ("fixtures",)),
        ("players_full", build_players_full, ("players_past", "players_future", "players_summary")),
        ("team_results", build_team_results, ("fixtures",)),
        ("league_table", build_league_table, ("team_results", "teams")),
    ]
    spark = raw_fixtures.sparkSession
    futures: dict[str, Future] = {}
    pool = ThreadPoolExecutor(max_workers=len(tasks), thread_name_prefix="build_all")
    try:
        for name, build, inputs in tasks:
            # one wrap per task: a wrap clones the caller's local properties
            # once, and threads sharing a clone see each other's writes to
            # it, the SQL execution id of their running query among them
            target = inheritable_thread_target(spark)(_build_and_pin)
            futures[name] = pool.submit(target, build, [futures[i] for i in inputs])
        return {name: futures[name].result() for name, _, _ in tasks}
    finally:
        pool.shutdown(wait=True)
