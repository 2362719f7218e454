"""Registry queries on Spark against their DuckDB oracle SQL, compared the
way tools/check.py compares them (row count, column names, value hash)."""

from __future__ import annotations

import importlib.util
import json
import os

import duckdb
import pytest

from variant_load_pipeline_spark import queries as Q

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "oracle_check", os.path.join(ROOT, "tools", "check.py")
)
check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check)


@pytest.mark.parametrize(
    "name",
    [
        "j2_genic_status",
        "emb_hashing_topk",
        # the paper chain: VCF -> CF2 -> VariantLoad3 -> annotation (both
        # FASTA strategies, indels) -> VCF export
        "zygosity_snv",
        "p29_annotate_chunked",
        "p29_annotate_pairs",
        "p29_annotate_indel",
        "vcfconv_pipeline",
        "variantload_pipeline",
        "j4_dedup_upsert_ids",
        "c21_vcf_render",
        "j1_interval_overlap",
        "a1_genotype_counts",
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


def test_protected_queries_are_registered_with_oracle_sql():
    # the driver-recorded correctness set and the headline bench group
    # survive every registry pruning, each with its DuckDB oracle SQL
    import bench

    with open(os.path.join(ROOT, "CORRECTNESS_r14.json")) as f:
        protected = set(json.load(f)) | set(bench.HEADLINE)
    assert len(protected) == 58
    reg = Q.registry()
    missing = sorted(n for n in protected if n not in reg)
    assert not missing, missing
    no_oracle = sorted(n for n in protected if not (reg[n].oracle or "").strip())
    assert not no_oracle, no_oracle
