"""Ingestion of raw FPL JSON payloads into typed DataFrames.

Three documents (reference: etl/extract.py:8-46, etl/run_transform.py:81-83):

- ``fixtures.json`` — array of fixture objects → one row each
- ``main.json``     — object with 4 keyed lists (events/teams/element_types/
                      elements) → 4 DataFrames via explode
- ``players.json``  — object keyed by player_id, each value holding 3
                      sub-lists (history/fixtures/history_past).

The reference loops over the players dict building ~700 pandas frames and
concatenating (run_transform.py:249-254, U1). Spark-first: parse the whole
document as ``map<string, struct<...>>``, explode the map once — the dict
key becomes the ``player_id`` column, and each sub-list explodes into its
fact table. One scan, no unions, fully parallel.

Schemas are declared for all three documents (SURVEY §1.3: the declared
side is primary), covering the fields the transform reads; inference
would cost an extra read job per document.
String-typed numeric fields from the API (form, ict_index…) are kept as
strings here; the transform layer casts them (F2 semantics via try_* =
null-on-failure, matching pandas errors='coerce').

Each document is parsed once per call and pinned: the parsed document is
materialized by a ``localCheckpoint``, filled by the same job that checks
the parse, and every returned frame is a projection over it, so the
catalog's many consumers read memory instead of re-scanning and re-parsing
the JSON.
The checkpoint is untracked — Spark's ContextCleaner frees its blocks once
the last returned frame is unreachable, so no bulk release can cut a frame
a consumer still holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- element schemas ------------------------------------------------------

_FIXTURE_FIELDS = [
    ("id", T.LongType()),
    ("code", T.LongType()),
    ("event", T.LongType()),
    ("kickoff_time", T.StringType()),
    ("started", T.BooleanType()),
    ("finished", T.BooleanType()),
    ("finished_provisional", T.BooleanType()),
    ("minutes", T.LongType()),
    ("team_h", T.LongType()),
    ("team_a", T.LongType()),
    ("team_h_score", T.LongType()),
    ("team_a_score", T.LongType()),
    ("team_h_difficulty", T.LongType()),
    ("team_a_difficulty", T.LongType()),
]

_EVENT_FIELDS = [
    ("id", T.LongType()),
    ("name", T.StringType()),
    ("deadline_time", T.StringType()),
    ("is_previous", T.BooleanType()),
    ("is_current", T.BooleanType()),
    ("is_next", T.BooleanType()),
    ("finished", T.BooleanType()),
    ("data_checked", T.BooleanType()),
    ("average_entry_score", T.LongType()),
    ("highest_scoring_entry", T.LongType()),
    ("highest_score", T.LongType()),
    ("most_selected", T.LongType()),
    ("most_transferred_in", T.LongType()),
    ("top_element", T.LongType()),
    ("most_captained", T.LongType()),
    ("most_vice_captained", T.LongType()),
    ("transfers_made", T.LongType()),
]

_TEAM_FIELDS = [
    ("id", T.LongType()),
    ("code", T.LongType()),
    ("name", T.StringType()),
    ("short_name", T.StringType()),
    ("strength", T.LongType()),
    ("strength_overall_home", T.LongType()),
    ("strength_overall_away", T.LongType()),
    ("strength_attack_home", T.LongType()),
    ("strength_attack_away", T.LongType()),
    ("strength_defence_home", T.LongType()),
    ("strength_defence_away", T.LongType()),
]

_ELEMENT_TYPE_FIELDS = [
    ("id", T.LongType()),
    ("singular_name", T.StringType()),
    ("singular_name_short", T.StringType()),
    ("squad_select", T.LongType()),
    ("squad_min_play", T.LongType()),
    ("squad_max_play", T.LongType()),
]

_ELEMENT_FIELDS = [
    ("id", T.LongType()),
    ("code", T.LongType()),
    ("first_name", T.StringType()),
    ("second_name", T.StringType()),
    ("element_type", T.LongType()),
    ("team", T.LongType()),
    ("team_code", T.LongType()),
    ("event_points", T.LongType()),
    *[(c, T.StringType()) for c in (
        "selected_by_percent", "form", "points_per_game", "value_form", "value_season",
        "ep_next", "ep_this", "influence", "creativity", "threat", "ict_index",
        "news", "news_added", "status", "photo",
    )],
    ("in_dreamteam", T.BooleanType()),
    ("special", T.BooleanType()),
    *[(c, T.LongType()) for c in (
        "now_cost", "chance_of_playing_next_round", "chance_of_playing_this_round",
        "cost_change_event", "cost_change_event_fall", "cost_change_start",
        "cost_change_start_fall", "dreamteam_count", "total_points",
        "transfers_in", "transfers_out", "transfers_in_event", "transfers_out_event",
        "minutes", "goals_scored", "assists", "clean_sheets", "goals_conceded",
        "own_goals", "penalties_saved", "penalties_missed", "yellow_cards",
        "red_cards", "saves", "bonus", "bps",
    )],
]

_HISTORY_FIELDS = [
    ("element", T.LongType()),
    ("fixture", T.LongType()),
    ("opponent_team", T.LongType()),
    ("total_points", T.LongType()),
    ("was_home", T.BooleanType()),
    ("kickoff_time", T.StringType()),
    ("team_h_score", T.LongType()),
    ("team_a_score", T.LongType()),
    ("round", T.LongType()),
    ("minutes", T.LongType()),
    ("goals_scored", T.LongType()),
    ("assists", T.LongType()),
    ("clean_sheets", T.LongType()),
    ("goals_conceded", T.LongType()),
    ("own_goals", T.LongType()),
    ("penalties_saved", T.LongType()),
    ("penalties_missed", T.LongType()),
    ("yellow_cards", T.LongType()),
    ("red_cards", T.LongType()),
    ("saves", T.LongType()),
    ("bonus", T.LongType()),
    ("bps", T.LongType()),
    ("influence", T.StringType()),
    ("creativity", T.StringType()),
    ("threat", T.StringType()),
    ("ict_index", T.StringType()),
    ("value", T.LongType()),
    ("transfers_balance", T.LongType()),
    ("selected", T.LongType()),
    ("transfers_in", T.LongType()),
    ("transfers_out", T.LongType()),
]

_FUTURE_FIELDS = [
    ("id", T.LongType()),
    ("code", T.LongType()),
    ("team_h", T.LongType()),
    ("team_a", T.LongType()),
    ("team_h_score", T.LongType()),
    ("team_a_score", T.LongType()),
    ("event", T.LongType()),
    ("finished", T.BooleanType()),
    ("minutes", T.LongType()),
    ("provisional_start_time", T.BooleanType()),
    ("kickoff_time", T.StringType()),
    ("event_name", T.StringType()),
    ("is_home", T.BooleanType()),
    ("difficulty", T.LongType()),
]

_HISTORY_PAST_FIELDS = [
    ("season_name", T.StringType()),
    ("element_code", T.LongType()),
    ("start_cost", T.LongType()),
    ("end_cost", T.LongType()),
    ("total_points", T.LongType()),
    ("minutes", T.LongType()),
    ("goals_scored", T.LongType()),
    ("assists", T.LongType()),
    ("clean_sheets", T.LongType()),
    ("goals_conceded", T.LongType()),
    ("own_goals", T.LongType()),
    ("penalties_saved", T.LongType()),
    ("penalties_missed", T.LongType()),
    ("yellow_cards", T.LongType()),
    ("red_cards", T.LongType()),
    ("saves", T.LongType()),
    ("bonus", T.LongType()),
    ("bps", T.LongType()),
    ("influence", T.StringType()),
    ("creativity", T.StringType()),
    ("threat", T.StringType()),
    ("ict_index", T.StringType()),
]


def _struct(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


PLAYER_DOC_SCHEMA = T.MapType(
    T.StringType(),
    T.StructType(
        [
            T.StructField("history", T.ArrayType(_struct(_HISTORY_FIELDS)), True),
            T.StructField("fixtures", T.ArrayType(_struct(_FUTURE_FIELDS)), True),
            T.StructField("history_past", T.ArrayType(_struct(_HISTORY_PAST_FIELDS)), True),
        ]
    ),
)


FIXTURES_DOC_SCHEMA = T.ArrayType(_struct(_FIXTURE_FIELDS))

_MAIN_LISTS = {
    "events": _EVENT_FIELDS,
    "teams": _TEAM_FIELDS,
    "element_types": _ELEMENT_TYPE_FIELDS,
    "elements": _ELEMENT_FIELDS,
}

MAIN_DOC_SCHEMA = T.StructType(
    [T.StructField(key, T.ArrayType(_struct(fields)), True) for key, fields in _MAIN_LISTS.items()]
)


def _read_document(spark: SparkSession, path: str, schema: T.DataType) -> DataFrame:
    """Parse a whole JSON document against ``schema`` and pin it: one row per
    file with the parsed ``doc`` column, materialized by an untracked
    ``localCheckpoint``.

    The checkpoint is lazy and its first action is the parse check below,
    a full scan, so one job both parses the document and fills the pin
    (a lazy checkpoint is complete after its first action; see
    ``operators/cache.py``). The check guards the silent-corruption mode of
    ``from_json``: a malformed document parses to null (or, for an object
    schema, to a struct of nulls) and would give an empty catalog with no
    error. Non-empty input that fails to parse, or whose top level is not
    the JSON array or object the schema expects, raises ``ValueError``
    naming the path.
    """
    text = F.col("value")
    shape = F.json_array_length(text) if isinstance(schema, T.ArrayType) else F.json_object_keys(text)
    bad = (F.length(F.trim(text)) > 0) & (F.col("doc").isNull() | shape.isNull())
    parsed = spark.read.text(path, wholetext=True).select(F.from_json(text, schema).alias("doc"), text)
    pinned = parsed.select("doc", bad.alias("bad")).localCheckpoint(eager=False)
    if pinned.filter("bad").count():
        raise ValueError(f"JSON document at {path} is not parseable as the expected schema")
    return pinned.select("doc")


def read_fixtures_json(spark: SparkSession, path: str) -> DataFrame:
    """fixtures.json: top-level array of fixture objects (S3)."""
    doc = _read_document(spark, path, FIXTURES_DOC_SCHEMA)
    return doc.select(F.explode("doc").alias("r")).select("r.*")


def read_main_json(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """main.json: one object with keyed lists → {events, teams,
    element_types, elements} DataFrames."""
    doc = _read_document(spark, path, MAIN_DOC_SCHEMA)
    return {key: doc.select(F.explode(f"doc.{key}").alias("r")).select("r.*") for key in _MAIN_LISTS}


def read_players_json(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """players.json: dict keyed by player_id → exploded history / fixtures /
    history_past DataFrames, each carrying ``player_id`` (the dict key,
    reference run_transform.py:251-252). The parsed map is pinned, not the
    raw text.
    """
    doc = _read_document(spark, path, PLAYER_DOC_SCHEMA)
    per_player = doc.select(F.explode("doc").alias("player_id", "doc"))
    out = {}
    for key in ("history", "fixtures", "history_past"):
        out[key] = per_player.select("player_id", F.explode(f"doc.{key}").alias("r")).select(
            "player_id", "r.*"
        )
    return out
