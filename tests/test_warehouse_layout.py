"""Physical-layout proof: partitioned writes prune at scan time."""

from __future__ import annotations

from pyspark.sql import functions as F

from fantasy_premier_league_spark.catalog import load as cat_load
from fantasy_premier_league_spark.sources import warehouse as WH


class TestPartitionPruning:
    def test_filter_prunes_partitions(self, spark, tmp_path):
        ev = cat_load(spark, "/root/testdata/sf0.001", "events").withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd")
        )
        path = str(tmp_path / "events_parted")
        WH.write_partitioned(ev, path, partition_cols=["day"])
        back = spark.read.parquet(path).filter(F.col("day") == "2024-01-03")
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(day" in plan
        n_days = ev.select("day").distinct().count()
        assert back.count() == ev.filter(F.col("day") == "2024-01-03").count()
        assert n_days > 1  # pruning actually skipped directories
