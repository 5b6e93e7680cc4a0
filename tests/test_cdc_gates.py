"""The CDC oracle gates run the engine: last-writer-wins through
``argmax_rows``, merge-apply and the CDF read through ``SnapshotTable.merge``
(CoW and MoR). Each must equal its DuckDB oracle at the smoke scale."""

import duckdb
import pytest
from test_plans import SF

from debezium_connector_cockroachdb_spark.plans import driver_queries as dq
from tools.check_oracle import canon


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in ("events", "customer"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def assert_matches_oracle(oracle, name, df):
    got, want = canon(df.toPandas()), canon(oracle.sql(dq.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    assert got.astype(str).equals(want.astype(str)), name


@pytest.mark.parametrize("name", ["cdc_last_writer_wins", "cdc_merge_apply"])
def test_cdc_gate_matches_oracle(spark, oracle, name):
    assert_matches_oracle(oracle, name, dq.queries()[name](spark, SF))


def test_table_changes_cdf_back_to_back_results_match_oracle(spark, oracle):
    """Each call applies into its own table: a second call must not remove
    the files the first call's (lazy) result still reads."""
    first = dq.q_table_changes_cdf(spark, SF)
    second = dq.q_table_changes_cdf(spark, SF)
    assert_matches_oracle(oracle, "table_changes_cdf", first)
    assert_matches_oracle(oracle, "table_changes_cdf", second)
