"""fpl_gameweek_etl: the paper's pipeline, one snapshot refresh per op.

One op ingests the three API documents of one season snapshot, builds the
11-table catalog, runs the primary-key checks, writes the catalog as parquet,
appends the snapshot's player statuses through the streaming status log
(the snapshot file is delivered twice, as object stores do), builds the model
matrix from the stored catalog, resolves FPL players against the FIFA table
and fits and evaluates the will-a-player-play model. The data is tiny; the
work is many small Spark jobs, JSON explode, MLlib fits and a Python fuzzy
scorer, so it is driver- and job-overhead-bound.

The refresh is a batch job that production runs once per process, so it is
timed cold: there is no warm-up op, and the JIT and code-generation cost of a
fresh process is part of the latency a scheduled refresh pays. A warm-up
refresh (~50 s) plus a warm one (~28 s) would not fit the run budget.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import fpl
from harness import OpRecord, Workload

FEATURES = ["previous_total_points", "previous_minutes", "diff_strength",
            "transfers_in_share", "previous_points_decile", "days_since_last"]


class FplGameweekEtl(Workload):
    name = "fpl_gameweek_etl"
    warmup_ops = 0

    def prepare(self, spark, work: str, seed: int) -> None:
        self.spark, self.work = spark, work
        self.season = fpl.build_season(seed)
        # snapshots late enough in the season that every player has history
        cutoffs = list(range(self.season.n_gws // 2, self.season.n_gws + 1))
        self.snapshots = {k: fpl.write_snapshot(self.season, k, os.path.join(work, f"snapshot-gw{k}"))
                          for k in cutoffs}
        rows = self.season.fifa_rows
        self.fifa_path = os.path.join(work, "fifa.parquet")
        pq.write_table(pa.table({
            "sofifa_id": pa.array([r[0] for r in rows], pa.int64()),
            "fifa_name_short": [r[1] for r in rows],
            "fifa_name_long": [r[2] for r in rows],
            "player_positions": [r[3] for r in rows],
        }), self.fifa_path)
        # the season moves forward: snapshots arrive in time order
        self.order = cutoffs
        self.n_ops = 0
        self.drops = os.path.join(work, "status-drops")
        self.statuses = os.path.join(work, "statuses")
        os.makedirs(self.drops, exist_ok=True)

    def next_op(self):
        if self.n_ops >= len(self.order):
            raise RuntimeError("fpl_gameweek_etl ran out of season snapshots")
        finished = self.order[self.n_ops]
        out = os.path.join(self.work, "catalogs", f"op{self.n_ops}")
        self.n_ops += 1
        return f"refresh_gw{finished}", lambda: self.refresh(finished, out)

    def write_catalog(self, catalog: dict, out: str) -> None:
        from fantasy_premier_league_spark.sources import warehouse

        for name, df in catalog.items():
            path = os.path.join(out, name)
            if name == "players_full":
                warehouse.write_partitioned(df, path, partition_cols=["gameweek_id"])
            else:
                df.write.mode("overwrite").parquet(path)

    def refresh(self, finished: int, out: str) -> dict:
        from pyspark.sql import functions as F

        from fantasy_premier_league_spark.etl import features, ingest, quality, transform
        from fantasy_premier_league_spark.ml import pipeline, splits
        from fantasy_premier_league_spark.operators import fuzzy

        spark, paths = self.spark, self.snapshots[finished]
        catalog = transform.build_all(
            ingest.read_fixtures_json(spark, paths["fixtures"]),
            ingest.read_main_json(spark, paths["main"]),
            ingest.read_players_json(spark, paths["players"]),
        )
        checks = quality.run_catalog_checks(catalog, transform.PRIMARY_KEYS, raise_errors=False)
        with self.span("sources.write"):
            self.write_catalog(catalog, out)
        self.append_statuses(finished)
        # features and models read the stored catalog, as a downstream job would
        stored = {name: spark.read.parquet(os.path.join(out, name)) for name in catalog}
        mm = features.build_model_matrix(stored).fillna(0, subset=FEATURES)
        players = stored["players_summary"].join(stored["positions"], "position_id").select(
            "player_id",
            F.concat_ws(" ", "first_name", "second_name").alias("fpl_player_name"),
            "position_name",
        )
        with self.span("operators.fuzzy.collect"):
            resolved = fuzzy.resolve_entities(players, spark.read.parquet(self.fifa_path), threshold=90).collect()
        train, test = splits.entity_train_test_split(mm, entity="player_id", test_fraction=0.25)
        train = pipeline.add_balanced_weights(train, label="target_played")
        with self.span("ml.fit"):
            model = pipeline.make_classifier_pipeline(feature_cols=FEATURES, label="target_played").fit(train)
        preds = model.transform(test.withColumn("weight", F.lit(1.0)))
        metrics = pipeline.evaluate_binary(preds, label="target_played")
        return {
            "finished": finished,
            "checks": [(c.table, c.ok) for c in checks],
            "catalog": out,
            "model_matrix": mm,
            "resolved": {r["player_id"]: r["sofifa_id"] for r in resolved},
            "metrics": metrics,
        }

    def append_statuses(self, finished: int) -> None:
        from fantasy_premier_league_spark.streaming import snapshots

        stamp = fpl.snapshot_stamp(finished)
        for name in (f"main_{stamp}.json", f"main_{stamp}_redelivered.json"):
            shutil.copyfile(self.snapshots[finished]["main"], os.path.join(self.drops, name))
        stream = snapshots.players_status_stream(snapshots.stream_snapshots(self.spark, self.drops))
        with self.span("streaming.run_to_parquet"):
            snapshots.run_to_parquet(stream, path=self.statuses, checkpoint=os.path.join(self.work, "status-ck"))

    def result_rows(self, rec: OpRecord) -> int:
        return rec.output.get("rows_out", 0) if rec.output else 0

    # tracing -------------------------------------------------------------
    tracer = None

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def install_trace(self, tracer) -> None:
        from fantasy_premier_league_spark.etl import features, ingest, quality, transform
        from fantasy_premier_league_spark.functions import features as fn_features
        from fantasy_premier_league_spark.ml import pipeline
        from fantasy_premier_league_spark.operators import cache, fuzzy

        self.tracer = tracer
        tracer.wrap_module(ingest, "etl.ingest")
        tracer.wrap_module(transform, "etl.transform")
        tracer.wrap_module(quality, "etl.quality")
        tracer.wrap_module(features, "etl.features")
        tracer.wrap_module(fn_features, "functions.features")
        tracer.wrap_module(fuzzy, "operators.fuzzy")
        tracer.wrap_function(pipeline, "evaluate_binary", "ml.eval")
        tracer.wrap_module(cache, "operators.cache")

    def layer_metrics(self, tracer, records: list[OpRecord]) -> dict[str, float]:
        done = [r for r in records if r.output]
        files = nbytes = 0
        for r in done:
            for root, _dirs, names in os.walk(r.output["catalog"]):
                for name in names:
                    if name.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(root, name))
        n = max(len(done), 1)
        inputs = sum(os.path.getsize(p) for r in done for p in self.snapshots[r.output["finished"]].values())
        matched = sum(1 for r in done for v in r.output["resolved"].values() if v is not None)
        statuses = pq.read_table(self.statuses, columns=["player_id"]).num_rows if done else 0
        delivered = 2 * self.season.n_players * len(done)
        return {
            "sources.write_files": files / n,
            "sources.write_bytes": nbytes / n,
            "sources.write_amplification": nbytes / inputs if inputs else 0.0,
            "matched": matched,
            "streaming.rows_in": delivered,
            "streaming.drop_ratio": 1 - statuses / delivered if delivered else 0.0,
        }

    # checks ----------------------------------------------------------------
    def check(self, records: list[OpRecord]) -> None:
        for rec in records:
            if rec.error:
                continue
            try:
                self.check_refresh(rec.output, rec.problems)
            except Exception as exc:  # noqa: BLE001 - an unverifiable output counts as wrong
                rec.problems.append(f"check raised {type(exc).__name__}: {exc}")

    def check_refresh(self, out: dict, problems: list[str]) -> None:
        s, k = self.season, out["finished"]
        bad = [t for t, ok in out["checks"] if not ok]
        if bad:
            problems.append(f"primary-key checks failed on {bad}")
        n_fixtures = s.n_teams // 2 * s.n_gws
        expect = {
            "fixtures": n_fixtures, "teams": s.n_teams, "positions": 4, "players_summary": s.n_players,
            "players_past": s.n_finished_fixtures(k) * 2 * s.players_per_team,
            "players_full": s.n_players * s.n_gws, "team_results": 2 * n_fixtures,
            "league_table": s.n_teams,
        }
        tables = {name: pq.read_table(os.path.join(out["catalog"], name)) for name in expect}
        for name, n in expect.items():
            if tables[name].num_rows != n:
                problems.append(f"{name}: {tables[name].num_rows} rows, expected {n}")
        league = tables["league_table"].to_pydict()
        truth = fpl.expected_league(s, k)
        wins, draws = sum(league["win"]), sum(league["draw"]) // 2
        if sorted(league["table_position"]) != list(range(s.n_teams)):
            problems.append("league table positions are not 0..n-1")
        if (sum(league["played"]), wins, draws) != (truth["played"], truth["wins"], truth["draws"]):
            problems.append(f"league table played/wins/draws {sum(league['played'])}/{wins}/{draws} != {truth}")
        if sum(league["points"]) != truth["points"] or sum(league["goal_difference"]) != 0:
            problems.append("league table points or goal difference off")
        if sum(league["goals_scored"]) != truth["goals"] or sum(league["goals_conceded"]) != truth["goals"]:
            problems.append("league table goals off")
        n_mm = out["model_matrix"].count()
        if n_mm != s.n_players * k:
            problems.append(f"model matrix has {n_mm} rows, expected {s.n_players * k}")
        wrong = [pid for pid, sofifa in s.twins.items() if out["resolved"].get(str(pid)) != sofifa]
        if wrong:
            problems.append(f"{len(wrong)} planted FIFA twins not resolved, e.g. player {wrong[0]}")
        out["rows_out"] = sum(t.num_rows for t in tables.values())
        statuses = pq.read_table(self.statuses, columns=["snapshot_ts", "player_id"]).to_pydict()
        stamp = fpl.snapshot_datetime(k)
        mine = [p for ts, p in zip(statuses["snapshot_ts"], statuses["player_id"]) if ts == stamp]
        if len(mine) != s.n_players or len(set(mine)) != s.n_players:
            problems.append(f"status log has {len(mine)} rows for snapshot gw{k}, expected {s.n_players} "
                            "(one per player, re-delivery dropped)")
        auc = out["metrics"]["roc_auc"]
        if not 0.0 <= auc <= 1.0:
            problems.append(f"AUC {auc} outside [0, 1]")
