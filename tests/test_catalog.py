"""The catalog's per-session frame memo: a repeated load reuses the
unexecuted frame (no schema-inference job), a changed file is re-read, and
a frame never crosses sessions."""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F, types as T

from fantasy_premier_league_spark import catalog
from tests.test_contract import SF


def _jobs(spark) -> int:
    """Spark jobs submitted so far (the DAG scheduler's job-id counter)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_load_runs_no_job(spark):
    first = catalog.load(spark, SF, "orders")
    before = _jobs(spark)
    second = catalog.load(spark, SF, "orders")
    assert _jobs(spark) == before
    assert second is first
    assert _sorted_rows(second) == _sorted_rows(spark.read.parquet(os.path.join(SF, "orders.parquet")))


def _write_region_file(path: str, rows: list[tuple[int, str]], extra: bool) -> None:
    cols = {"r_regionkey": pa.array([r[0] for r in rows], pa.int32()),
            "r_name": pa.array([r[1] for r in rows], pa.string())}
    if extra:
        cols["r_comment"] = pa.array([f"c{r[0]}" for r in rows], pa.string())
    pq.write_table(pa.table(cols), path)


def _write_region_dir(spark, path: str, rows: list[tuple[int, str]], extra: bool) -> None:
    if extra:
        rows = [(k, n, f"c{k}") for k, n in rows]
    schema = "r_regionkey int, r_name string" + (", r_comment string" if extra else "")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_is_read_again(spark, tmp_path, layout):
    path = str(tmp_path / "region.parquet")
    old, new = [(0, "AFRICA"), (1, "ASIA")], [(5, "MOON"), (6, "MARS"), (7, "VENUS")]
    write = _write_region_file if layout == "file" else lambda p, r, e: _write_region_dir(spark, p, r, e)
    write(path, old, False)
    first = catalog.load(spark, str(tmp_path), "region")
    assert _sorted_rows(first) == old
    assert catalog.load(spark, str(tmp_path), "region") is first

    write(path, new, True)
    again = catalog.load(spark, str(tmp_path), "region")
    assert again is not first
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert _sorted_rows(again) == [(k, n, f"c{k}") for k, n in new]


def test_changed_read_conf_is_read_again(spark):
    first = catalog.load(spark, SF, "region")
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert catalog.load(spark, SF, "region") is not first
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def _nanos_events(path: str) -> list[int]:
    """An events file whose ts is TIMESTAMP(NANOS) with sub-micro digits;
    returns the epoch micros the catalog must truncate them to."""
    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 1_700_000_002_999_999_999]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(nanos, pa.timestamp("ns")),
        "user_id": pa.array([7, 7, 8], pa.int64()),
        "event_type": pa.array(["view", "cart", "buy"], pa.string()),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"], pa.string()),
    }), path, coerce_timestamps=None, version="2.6")
    return [n // 1000 for n in nanos]


@pytest.mark.parametrize("source", ["sf0.001", "nanos"])
def test_memo_hit_on_events_matches_fresh_read(spark, tmp_path, source):
    sf_dir = SF
    if source == "nanos":
        sf_dir = str(tmp_path)
        want_us = _nanos_events(os.path.join(sf_dir, "events.parquet"))
    catalog.load(spark, sf_dir, "events")
    hit = catalog.load(spark, sf_dir, "events")
    fresh = catalog._read(spark, os.path.join(sf_dir, "events.parquet"), "events")
    assert hit.schema == fresh.schema
    assert isinstance(hit.schema["ts"].dataType, T.TimestampType)
    if source == "nanos":
        got = sorted(r[0] for r in hit.select(F.unix_micros("ts")).collect())
        assert got == want_us


def test_entry_never_crosses_sessions(spark):
    mine = catalog.load(spark, SF, "nation")
    other = spark.newSession()
    theirs = catalog.load(other, SF, "nation")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert catalog.load(other, SF, "nation") is theirs
    assert catalog.load(spark, SF, "nation") is mine


def test_stopped_session_entry_is_not_reused(spark, monkeypatch):
    first = catalog.load(spark, SF, "nation")
    monkeypatch.setattr(catalog, "_live", lambda s: False)
    assert catalog.load(spark, SF, "nation") is not first


def test_unstattable_path_is_read_uncached(spark, tmp_path):
    shutil.copy(os.path.join(SF, "region.parquet"), tmp_path / "region.parquet")
    uri = f"file://{tmp_path}"
    first = catalog.load(spark, uri, "region")
    assert catalog.load(spark, uri, "region") is not first
    assert _sorted_rows(first) == _sorted_rows(catalog.load(spark, str(tmp_path), "region"))


def test_concurrent_loads_share_one_memo(spark, tmp_path):
    """More loading threads than cores, each storing entries (the miss path
    prunes and writes the memo) while the others read it."""
    dirs = []
    for i in range(8):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        for t in ("region", "nation"):
            shutil.copy(os.path.join(SF, f"{t}.parquet"), d / f"{t}.parquet")
        dirs.append(str(d))

    def work(d):
        return [catalog.load(spark, d, t) for t in ("region", "nation", "region", "nation")]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = [f.result(timeout=300) for f in [pool.submit(work, d) for d in dirs]]
    finally:
        sys.setswitchinterval(old)
    before = _jobs(spark)
    for d, (region, nation, region2, nation2) in zip(dirs, got):
        assert region2 is region and nation2 is nation
        assert catalog.load(spark, d, "region") is region
        assert catalog.load(spark, d, "nation") is nation
    assert _jobs(spark) == before
