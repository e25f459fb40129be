"""The BM25 retrieval slugs and DSIR against their DuckDB oracles at
sf0.001, through tools/selfcheck.py's comparison: row count, column
names, canonical column types and order-insensitive values. BM25 and
DSIR scores are integer micro-units, so equal means exact."""

import duckdb
import pytest

from tools.selfcheck import check
from vfs_spark.queries import ORACLES, QUERIES
from vfs_spark.schema import TABLES

SLUGS = [
    "text_bm25_retrieval",
    "pipeline_hybrid_retrieval",
    "pipeline_rag_retrieval",
    "retrieval_eval_mrr",
    "retrieval_eval_ndcg",
    "sample_dsir",
    "sample_dsir_fitsample",
]


@pytest.fixture(scope="module")
def con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("slug", SLUGS)
def test_matches_oracle(spark, con, sf_dir, slug):
    results = {}
    check(spark, con, slug, QUERIES[slug], ORACLES[slug], sf_dir, results)
    assert results[slug]["status"] == "PASS", results[slug]["problems"]
