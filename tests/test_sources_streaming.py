"""Sources (REST fan-out, snapshot files, JDBC helpers) + streaming tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fantasy_premier_league_spark.sources import files as FS
from fantasy_premier_league_spark.sources import jdbc as J
from fantasy_premier_league_spark.sources import rest as R
from fantasy_premier_league_spark.streaming import snapshots as ST


class TestRestFanout:
    def test_distributed_keyed_fetch_with_fake_transport(self, spark):
        def transport(url: str) -> bytes:
            key = url.rstrip("/").rsplit("/", 1)[-1]
            return json.dumps({"player": int(key), "ok": True}).encode()

        df = R.fetch_keyed_documents(
            spark, "https://api.example/element-summary/{key}/", ["1", "2", "3"],
            transport=transport, num_partitions=2,
        )
        rows = {r["key"]: json.loads(r["body"]) for r in df.collect()}
        assert rows == {"1": {"player": 1, "ok": True},
                        "2": {"player": 2, "ok": True},
                        "3": {"player": 3, "ok": True}}

    def test_failing_key_yields_null_body(self, spark):
        def transport(url: str) -> bytes:
            if url.endswith("/2/"):
                raise OSError("boom")
            return b"{}"

        df = R.fetch_keyed_documents(
            spark, "https://api.example/x/{key}/", ["1", "2"],
            transport=transport, max_retries=2, retry_backoff_s=0.0,
        )
        rows = {r["key"]: r["body"] for r in df.collect()}
        assert rows["1"] == "{}" and rows["2"] is None

    def test_fetch_document_driver_side(self):
        assert R.fetch_document("u", transport=lambda u: b'{"a": 1}') == {"a": 1}


class TestSnapshotFiles:
    @pytest.fixture(scope="class")
    def snapdir(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("snaps")
        for ts in ["20200101-100000", "20200101-110000", "20200108-090000"]:
            (d / f"main_{ts}.json").write_text('{"elements": []}')
        (d / "main_badname.json").write_text("{}")
        (d / "other_20200101-100000.json").write_text("{}")
        return str(d)

    def test_timestamped_name(self):
        assert FS.timestamped_name("main", "json", ts="20200101-123456") == "main_20200101-123456.json"
        with pytest.raises(ValueError, match="YYYYmmdd"):
            FS.timestamped_name("main", "json", ts="2020-01-01")

    def test_listing_filters_and_extracts(self, spark, snapdir):
        df = FS.snapshot_listing(spark, snapdir, prefix="main")
        rows = sorted(r["file_name"] for r in df.collect())
        assert rows == ["main_20200101-100000.json", "main_20200101-110000.json",
                        "main_20200108-090000.json"]
        assert df.schema["date_extracted"].dataType.typeName() == "timestamp"

    def test_latest_snapshot(self, spark, snapdir):
        latest = FS.latest_snapshot(spark, snapdir, prefix="main")
        assert latest.endswith("main_20200108-090000.json")
        assert FS.latest_snapshot(spark, snapdir, prefix="nope") is None

    def test_asof_deadlines(self, spark, snapdir):
        snaps = FS.snapshot_listing(spark, snapdir, prefix="main")
        deadlines = spark.createDataFrame(
            [("1", "2020-01-01 10:30:00"), ("2", "2020-01-09 00:00:00"), ("0", "2019-12-31 00:00:00")],
            "gameweek_id string, d string",
        ).select("gameweek_id", F.to_timestamp("d").alias("gameweek_deadline_time"))
        out = {r["gameweek_id"]: r["snapshot_file_name"]
               for r in FS.snapshots_asof_deadlines(snaps, deadlines).collect()}
        assert out["1"] == "main_20200101-100000.json"  # latest before 10:30
        assert out["2"] == "main_20200108-090000.json"
        assert out["0"] is None  # no snapshot before season start


class TestJdbcHelpers:
    def test_align_columns_orders_and_fills(self, spark):
        df = spark.createDataFrame([(1, "x")], "b int, a string")
        out = J.align_columns(df, ["a", "b", "c"])
        assert out.columns == ["a", "b", "c"]
        r = out.first()
        assert (r["a"], r["b"], r["c"]) == ("x", 1, None)

    def test_align_columns_rejects_extras(self, spark):
        df = spark.createDataFrame([(1,)], "z int")
        with pytest.raises(ValueError, match="not in target"):
            J.align_columns(df, ["a"])

    def test_catalog_load_order_fk_safe(self):
        from fantasy_premier_league_spark.etl.transform import PRIMARY_KEYS

        order = J.ordered_tables(dict.fromkeys(PRIMARY_KEYS))
        assert set(order) == set(PRIMARY_KEYS)
        # dims land before the facts that reference them
        assert order.index("teams") < order.index("team_results")
        assert order.index("players_summary") < order.index("players_past")
        assert order.index("gameweeks") < order.index("fixtures")
        assert order.index("fixtures") < order.index("players_full")
        # unknown tables append deterministically
        assert J.ordered_tables({"zzz": None, "teams": None}) == ["teams", "zzz"]

    def test_audit_record_shape(self, spark):
        rec = J.audit_record(spark, load_datetime="2020-03-01 10:00:00", gameweek_now="29", user="etl")
        r = rec.first()
        assert r["gameweek_now"] == "29" and r["login_user"] == "etl"
        assert rec.schema["load_datetime"].dataType.typeName() == "timestamp"


class TestStreaming:
    def test_snapshot_stream_builds_status_log(self, spark, tmp_path):
        snapdir = tmp_path / "drops"
        snapdir.mkdir()
        for ts, form in [("20200101-100000", "3.1"), ("20200101-110000", "3.5")]:
            doc = {"elements": [
                {"id": 10, "form": form, "news": "", "news_added": None, "status": "a",
                 "chance_of_playing_next_round": None, "chance_of_playing_this_round": None,
                 "transfers_in_event": 5, "transfers_out_event": 2},
                {"id": 11, "form": "1.0", "news": "injured", "news_added": "2020-01-01T09:00:00Z",
                 "status": "i", "chance_of_playing_next_round": 25,
                 "chance_of_playing_this_round": 0, "transfers_in_event": 0,
                 "transfers_out_event": 9},
            ]}
            (snapdir / f"main_{ts}.json").write_text(json.dumps(doc))
        stream = ST.stream_snapshots(spark, str(snapdir))
        assert stream.isStreaming
        statuses = ST.players_status_stream(stream)
        out = tmp_path / "statuses"
        ST.run_to_parquet(statuses, path=str(out), checkpoint=str(tmp_path / "ckpt"))
        got = spark.read.parquet(str(out))
        assert got.count() == 4  # 2 snapshots x 2 players
        p10 = {str(r["snapshot_ts"]): r["form"] for r in got.filter(F.col("player_id") == "10").collect()}
        assert p10 == {"2020-01-01 10:00:00": 3.1, "2020-01-01 11:00:00": 3.5}

    def test_incremental_restart_processes_only_new_files(self, spark, tmp_path):
        snapdir = tmp_path / "drops2"
        snapdir.mkdir()
        doc = {"elements": [{"id": 1, "form": "1.0", "news": "", "news_added": None,
                             "status": "a", "chance_of_playing_next_round": None,
                             "chance_of_playing_this_round": None,
                             "transfers_in_event": 0, "transfers_out_event": 0}]}
        (snapdir / "main_20200101-100000.json").write_text(json.dumps(doc))
        out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
        ST.run_to_parquet(ST.players_status_stream(ST.stream_snapshots(spark, str(snapdir))),
                          path=out, checkpoint=ckpt)
        assert spark.read.parquet(out).count() == 1
        # second drop lands; rerun picks up only the new file (checkpoint)
        (snapdir / "main_20200102-100000.json").write_text(json.dumps(doc))
        ST.run_to_parquet(ST.players_status_stream(ST.stream_snapshots(spark, str(snapdir))),
                          path=out, checkpoint=ckpt)
        assert spark.read.parquet(out).count() == 2

    def test_status_log_keeps_session_conf_and_state_per_slot(self, spark, tmp_path):
        snapdir = tmp_path / "drops3"
        snapdir.mkdir()
        doc = json.dumps({"elements": [{"id": i, "form": "1.0", "status": "a"} for i in (1, 2, 3)]})
        for name in ("main_20200101-100000.json", "main_20200101-100000_redelivered.json"):
            (snapdir / name).write_text(doc)
        out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
        key = "spark.sql.shuffle.partitions"
        restore = spark.conf.get(key)
        # a batch-sized count that differs from the task slot count
        before = str(spark.sparkContext.defaultParallelism + 3)

        def drain():
            ST.run_to_parquet(ST.players_status_stream(ST.stream_snapshots(spark, str(snapdir))),
                              path=out, checkpoint=ckpt)

        spark.conf.set(key, before)
        try:
            drain()
            assert spark.conf.get(key) == before
            # the re-delivered copy carries the same snapshot_ts and is dropped
            assert spark.read.parquet(out).count() == 3
            # the new checkpoint holds one dedup-state partition per task slot
            state = [d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()]
            assert len(state) == spark.sparkContext.defaultParallelism
            (snapdir / "main_20200102-100000.json").write_text(doc)
            drain()
            assert spark.conf.get(key) == before
            assert spark.read.parquet(out).count() == 6
        finally:
            spark.conf.set(key, restore)


class TestFileSinks:
    """S4 (JSON sink) and S7 (CSV sink) round-trips — schema and values
    survive the write/read cycle, including the S12 timestamped naming."""

    def test_json_sink_roundtrip(self, spark, tmp_path):
        from fantasy_premier_league_spark.sources.files import timestamped_name

        df = spark.createDataFrame(
            [(1, "alpha", 1.5), (2, "beta", None)], "id long, name string, score double"
        )
        out = str(tmp_path / timestamped_name("snap", "json", ts="20200101-123456").replace(".json", ""))
        df.write.json(out)
        back = spark.read.json(out, schema=df.schema)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    def test_csv_sink_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "has,comma", 1.5), (2, 'has"quote', 2.5)], "id long, name string, score double"
        )
        out = str(tmp_path / "model_matrix_csv")
        df.write.option("header", True).csv(out)
        back = spark.read.option("header", True).schema(df.schema).csv(out)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
