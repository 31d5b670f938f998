"""Snapshot-file conventions (SURVEY §2.1 S12/S13/S15; M1.ipynb § 20).

The reference writes raw API payloads as ``name_YYYYmmdd-HHMMSS.json``
(fpltools/utils.py:43-59), later selects the latest object per prefix
(:96-115) and builds a (filename, date_extracted) frame from an S3 listing
with a regex filter (M1.ipynb § 20). Here:

- listing goes through the Hadoop FileSystem API (works for file://, s3a://,
  hdfs:// alike; driver-side — listings are metadata, not data)
- the timestamp is re-extracted from the *name* with ``regexp_extract``
  (F11), exactly like the reference, so the frame is rebuildable from any
  listing source
- latest-per-prefix and snapshot-per-deadline are expressed as max-by /
  as-of joins over that frame.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.local import local_frame

TS_PATTERN = r"(\d{8}-\d{6})"
TS_FORMAT = "yyyyMMdd-HHmmss"


def timestamped_name(base: str, ext: str, *, ts: str) -> str:
    """S12 naming convention: ``{base}_{YYYYmmdd-HHMMSS}.{ext}``."""
    if not re.fullmatch(r"\d{8}-\d{6}", ts):
        raise ValueError(f"timestamp {ts!r} not in YYYYmmdd-HHMMSS form")
    return f"{base}_{ts}.{ext}"


def list_files(spark: SparkSession, directory: str) -> list[str]:
    """Driver-side listing via the Hadoop FS API (S13/S15 metadata scan)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    path = jvm.org.apache.hadoop.fs.Path(directory)
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    return [str(f.getPath()) for f in fs.listStatus(path) if f.isFile()]


def snapshot_listing(
    spark: SparkSession, directory: str, *, prefix: str, ext: str = "json"
) -> DataFrame:
    """S15: listing → (file_path, file_name, date_extracted) DataFrame,
    filtered to ``{prefix}_YYYYmmdd-HHMMSS.{ext}`` names (regex F11)."""
    files = list_files(spark, directory)
    df = local_frame(spark, [(f,) for f in files], "file_path string")
    name = F.element_at(F.split("file_path", "/"), -1)
    pattern = rf"^{re.escape(prefix)}_{TS_PATTERN}\.{re.escape(ext)}$"
    return (
        df.withColumn("file_name", name)
        .filter(F.regexp_like("file_name", F.lit(pattern)))
        .withColumn(
            "date_extracted",
            F.to_timestamp(F.regexp_extract("file_name", TS_PATTERN, 1), TS_FORMAT),
        )
    )


def latest_snapshot(spark: SparkSession, directory: str, *, prefix: str, ext: str = "json") -> str | None:
    """S13: newest snapshot path for a prefix (metadata max-by; the
    reference sorts an S3 listing by LastModified, we order on the name-
    embedded timestamp which is load-order by construction)."""
    rows = (
        snapshot_listing(spark, directory, prefix=prefix, ext=ext)
        .orderBy(F.desc("date_extracted"), F.desc("file_name"))
        .limit(1)
        .collect()
    )
    return rows[0]["file_path"] if rows else None


def snapshots_asof_deadlines(snapshots: DataFrame, deadlines: DataFrame) -> DataFrame:
    """J10 (M1.ipynb § 20 get_closest_dates): for each gameweek deadline
    (``gameweek_deadline_time``), the latest snapshot strictly before it. The reference cross-joins
    files x gameweeks then keeps the group max; this is the union-merge
    as-of join — no pair materialization.
    """
    return asof_join(
        deadlines.withColumn("__k", F.lit(1)),
        snapshots.withColumn("__k", F.lit(1)),
        left_on="__k",
        right_on="__k",
        left_ts="gameweek_deadline_time",
        right_ts="date_extracted",
        right_value_cols=("date_extracted", "file_path", "file_name"),
        allow_exact_matches=False,
        prefix="snapshot_",
    ).drop("__k")
