"""The flagship battery against its DuckDB oracle: ``engine_verdicts``
(every transcript check, text equality and exact drift included) is
recomputed in plain SQL over a parquet dump of the same corpus and
compared with ``tools/check_oracle.py``'s comparison.

The query and its oracle read only the corpus they generate (seeded, in
plan), never the sf test tables, so the test needs no test-data
directory: it is handed an empty one, and a future edit that makes the
query read tables fails here instead of silently comparing nothing."""

import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_engine_verdicts_matches_duckdb_oracle(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as entrymod

    compare = _check_oracle().compare
    spark_pdf = entrymod.queries()["engine_verdicts"](
        spark, str(tmp_path)
    ).toPandas()
    con = duckdb.connect()
    try:
        oracle_pdf = con.execute(entrymod.oracle_sql()["engine_verdicts"]).df()
    finally:
        con.close()
    assert "text_equality" in set(spark_pdf["check_id"])
    assert compare("engine_verdicts", spark_pdf, oracle_pdf) == []


SF0001 = "/root/testdata/sf0.001"


def _assert_matches_sf0001_oracle(spark, name):
    """Run ``name`` on Spark and its oracle SQL on DuckDB over the sf0.001
    tables (TESTDATA.md) and require a non-empty, exact match."""
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__ as entrymod

    check_oracle = _check_oracle()
    spark_pdf = entrymod.queries()[name](spark, SF0001).toPandas()
    con = duckdb.connect()
    try:
        for t in check_oracle.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF0001}/{t}.parquet')"
            )
        oracle_pdf = con.execute(entrymod.oracle_sql()[name]).df()
    finally:
        con.close()
    assert len(spark_pdf) > 0
    assert check_oracle.compare(name, spark_pdf, oracle_pdf) == []


needs_sf0001 = pytest.mark.skipif(
    not os.path.isdir(SF0001), reason="sf0.001 test tables not present"
)


@needs_sf0001
@pytest.mark.parametrize("name", ["d5_corr_drift", "stream_corr_drift"])
def test_corr_drift_matches_duckdb_oracle(spark, name):
    """The batch and streaming Pearson drift queries share one moment
    kernel (checks/drift.py:_pearson_moments); both must still reproduce
    their DuckDB oracles bit-for-bit on the sf0.001 tables (TESTDATA.md)."""
    _assert_matches_sf0001_oracle(spark, name)


@needs_sf0001
@pytest.mark.parametrize(
    "name",
    [
        "d2_cat_drift",
        "d6_cond_drift",
        "d7_transition_drift",
        "d10_gap_drift",
        "d11_runlength_drift",
        "stream_cat_drift",
        "stream_cond_drift",
    ],
)
def test_tv_drift_matches_duckdb_oracle(spark, name):
    """Every total-variation drift query — the batch family on the one
    grid kernel (checks/drift.py:_tv_grid) and the stream family on
    stream_conditional_tv — reproduces its DuckDB oracle bit-for-bit on
    the sf0.001 tables."""
    _assert_matches_sf0001_oracle(spark, name)
