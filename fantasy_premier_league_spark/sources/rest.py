"""REST API scans (SURVEY §2.1 S1/S2).

The reference fetches ``bootstrap-static`` / ``fixtures`` once and then
~700 sequential per-player GETs on one thread (etl/extract.py:8-34). The
Spark-native shape:

- whole-document fetches stay on the driver (S1) — they are one request;
- the per-key fan-out (S2) becomes a **distributed scan**: parallelize the
  key list, ``mapPartitions`` does batched HTTP inside each task, and the
  payloads land as a (key, body) DataFrame ready for ``from_json``. 700
  keys is trivial; the same operator handles 70M keys by raising
  ``num_partitions`` — per-task connection reuse, retries local to the task.

``transport`` is injectable (url -> bytes) so tests run with a fake and
air-gapped environments fail loudly rather than silently.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

Transport = Callable[[str], bytes]


def default_transport(url: str) -> bytes:
    req = urllib.request.Request(url, headers={"User-Agent": "spark-engine/0.1"})
    with urllib.request.urlopen(req, timeout=30.0) as resp:  # noqa: S310
        return resp.read()


def fetch_document(url: str, *, transport: Transport = default_transport) -> dict | list:
    """S1: one GET → parsed JSON (driver-side; it is a single request)."""
    return json.loads(transport(url))


def fetch_keyed_documents(
    spark: SparkSession,
    url_template: str,
    keys: Iterable[str],
    *,
    transport: Transport = default_transport,
    num_partitions: int = 8,
    max_retries: int = 3,
    retry_backoff_s: float = 1.0,
) -> DataFrame:
    """S2: distributed fan-out GET — one row (key, body) per key.

    Each partition is an independent fetch task with local retry/backoff;
    a key that still fails after retries surfaces as body=NULL rather than
    failing the job (callers decide whether nulls are fatal).
    """
    key_list = [str(k) for k in keys]

    def fetch_partition(it: Iterator[str]) -> Iterator[tuple[str, str | None]]:
        for key in it:
            url = url_template.format(key=key)
            body: str | None = None
            for attempt in range(max_retries):
                try:
                    body = transport(url).decode("utf-8")
                    break
                except Exception:  # noqa: BLE001
                    if attempt + 1 < max_retries:
                        time.sleep(retry_backoff_s * (2**attempt))
            yield key, body

    rdd = spark.sparkContext.parallelize(key_list, min(num_partitions, max(1, len(key_list))))
    return spark.createDataFrame(rdd.mapPartitions(fetch_partition), "key string, body string")
