"""Registry queries on Spark against their DuckDB oracle SQL, compared the
way tools/check.py compares them (row count, column names, value hash)."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

from variant_load_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"

_spec = importlib.util.spec_from_file_location(
    "oracle_check",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "check.py"),
)
check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check)


@pytest.mark.parametrize(
    "name",
    [
        "j2_genic_status",
        "emb_hashing_topk",
        "mm_image_dhash_pairs",
        "mm_audio_ahash_pairs",
    ],
)
def test_query_matches_duckdb_oracle(spark, name):
    q = Q.registry()[name]
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    got = check.canon(q.spark_fn(spark, SF).toPandas())
    want = check.canon(con.execute(q.oracle).df())
    assert got == want
    assert got[0] > 0
