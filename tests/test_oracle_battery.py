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
