"""Local mirror of the driver's DuckDB-oracle differential check.

Runs a catalog query on Spark and its oracle SQL on DuckDB over the
same parquet fixtures, then compares them with
``scripts/verify_driver.py``'s ``norm`` / ``frames_match`` — the one
comparison the driver-mimic gate, the fuzz harness and the benchmark
checks also use (SURVEY.md §5).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

from sports_betting_data_pipeline_spark.io import TABLES, table_path

_SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
if _SCRIPTS not in sys.path:
    sys.path.insert(0, _SCRIPTS)

from verify_driver import frames_match, norm  # noqa: E402


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con.execute(sql).fetch_df()


def assert_frames_match(spark_df, oracle_pdf: pd.DataFrame) -> None:
    ok, why = frames_match(norm(spark_df.toPandas()), norm(oracle_pdf))
    assert ok, why
