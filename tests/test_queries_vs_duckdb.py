"""Every oracle-backed catalog query must match DuckDB at sf0.001.

This is the local mirror of the driver's CORRECTNESS gate; rows-only
queries are smoke-checked for non-failure and stable schema instead.
"""

from __future__ import annotations

import pytest

from simple_data_engineering_project_spark.plans import catalog

from .oracle_compare import compare, duck_connection

CATALOG = catalog()
ORACLE_NAMES = sorted(n for n, q in CATALOG.items() if q.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, q in CATALOG.items() if q.oracle is None)


@pytest.fixture(scope="module")
def duck(sf_smoke):
    con = duck_connection(sf_smoke)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, sf_smoke, duck, name):
    q = CATALOG[name]
    df = q.fn(spark, sf_smoke)
    problems = compare(df, duck, q.oracle, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, sf_smoke, name):
    q = CATALOG[name]
    df = q.fn(spark, sf_smoke)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0


def _assert_sink_keeps_null_text(spark, sf_smoke, tmp_path, name):
    """A NULL text hashes to NULL, as in the oracle's sha256(text) and
    strlen(text); the testdata has no NULL text, so the tables are
    copied and a few documents lose theirs."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for path in glob.glob(f"{sf_smoke}/*.parquet"):
        shutil.copy(path, tmp_path)
    docs = pq.read_table(f"{sf_smoke}/documents.parquet")
    drop = pa.array([i % 7 == 0 for i in range(docs.num_rows)])
    text = pc.if_else(drop, pa.scalar(None, pa.string()), docs["text"])
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    pq.write_table(docs, tmp_path / "documents.parquet")
    assert docs["text"].null_count > 0

    q = CATALOG[name]
    con = duck_connection(str(tmp_path))
    try:
        problems = compare(q.fn(spark, str(tmp_path)), con, q.oracle, q.name)
    finally:
        con.close()
    assert not problems, "\n".join(problems)


def test_sink_parquet_pure_keeps_null_text(spark, sf_smoke, tmp_path):
    _assert_sink_keeps_null_text(spark, sf_smoke, tmp_path, "sink_parquet_pure")


@pytest.mark.parametrize(
    "name", ["sink_webdataset", "sink_tar_zst", "sink_arrow_ipc"]
)
def test_sink_keeps_null_text(spark, sf_smoke, tmp_path, name):
    _assert_sink_keeps_null_text(spark, sf_smoke, tmp_path, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"r_name", "revenue", "n_items"}


def test_contract_alignment():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 25
