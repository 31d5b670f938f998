"""Batch-transform entry point — the reference's ``run_transform.py`` CLI
re-expressed (etl/run_transform.py:30-79 arguments; parquet replaces
pickle as the inter-stage format, S5).

    python -m fantasy_premier_league_spark.etl.run \\
        --data-input data/ --data-output out/ [--raise-errors]

Reads fixtures.json / main.json / players.json from ``--data-input``,
builds the 11-table catalog, runs the Q1/Q2 constraint actions, writes one
parquet directory per table under ``--data-output``.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys

from ..session import get_spark
from . import ingest, quality, transform

log = logging.getLogger("fpl_spark.etl")


def run(
    data_input: str, data_output: str, *, raise_errors: bool = False, fmt: str = "parquet"
) -> dict[str, int]:
    spark = get_spark("fpl-etl")
    raw_fixtures = ingest.read_fixtures_json(spark, os.path.join(data_input, "fixtures.json"))
    raw_main = ingest.read_main_json(spark, os.path.join(data_input, "main.json"))
    raw_players = ingest.read_players_json(spark, os.path.join(data_input, "players.json"))
    catalog = transform.build_all(raw_fixtures, raw_main, raw_players)
    checks = quality.run_catalog_checks(catalog, transform.PRIMARY_KEYS, raise_errors=raise_errors)
    # the fused check action already counted every table's rows
    counts = {r.table: r.rows for r in checks}
    for name, df in catalog.items():
        path = os.path.join(data_output, name)
        writer = df.write.mode("overwrite")
        if fmt == "csv":  # S7: header CSV sink (timestamps ISO-formatted)
            writer.option("header", True).csv(path)
        elif fmt == "json":  # S4: JSON lines sink
            writer.json(path)
        else:
            writer.parquet(path)
        log.info("wrote %s (%d rows, %s)", path, counts[name], fmt)
    return counts


def main() -> int:
    parser = argparse.ArgumentParser(description="FPL JSON -> 11-table parquet catalog")
    parser.add_argument("--data-input", required=True, help="dir with fixtures/main/players.json")
    parser.add_argument("--data-output", required=True, help="dir for the parquet catalog")
    parser.add_argument("-r", "--raise-errors", action="store_true",
                        help="stop on data validation failure (default: warn)")
    parser.add_argument("--format", choices=("parquet", "csv", "json"), default="parquet",
                        help="catalog output format (S5/S7/S4)")
    args = parser.parse_args()
    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(name)s %(message)s")
    counts = run(args.data_input, args.data_output, raise_errors=args.raise_errors, fmt=args.format)
    for name in sorted(counts):
        print(f"{name}: {counts[name]} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
