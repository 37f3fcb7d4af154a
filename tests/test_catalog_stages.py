"""Declared fixture stages and the driver's sample order.

An entry that declares ``stage`` splits into the fixture write and the
read half: ``fn`` runs both, ``query`` only the read. These tests pin
that ``fn`` never serves a fixture it did not write, that ``query``
reads the staged files without touching them, and that the driver's
sample order lives in ``__spark_entry__`` while the library returns
registration order.
"""

from __future__ import annotations

import glob
import os

import pytest

from simple_data_engineering_project_spark import plans
from simple_data_engineering_project_spark.plans.catalog import SCRATCH, _scratch

from .oracle_compare import compare, duck_connection

CATALOG = plans.catalog()
STAGED = sorted(n for n, q in CATALOG.items() if q.stage is not None)


@pytest.fixture(scope="module")
def duck(sf_smoke):
    con = duck_connection(sf_smoke)
    yield con
    con.close()


def _tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def test_exactly_the_reused_fixtures_declare_a_stage():
    assert STAGED == sorted([
        "parquet_footer_stats", "scan_parquet_nested6", "scan_orc_nested6",
        "scan_parquet_pageindex", "scan_parquet_brotli",
        "scan_warc_datasource",
    ])
    for q in CATALOG.values():
        if q.stage is None:
            assert q.query is q.fn, q.name


def test_stale_fixture_is_never_served(spark, sf_smoke, duck, monkeypatch):
    """A leftover fixture with a completion marker and the old
    fixture-reuse variable set: ``fn`` must still restage, so the
    oracle sees every row."""
    q = CATALOG["scan_parquet_nested6"]
    out = _scratch(sf_smoke, "pq_nested6_orders")
    q.fn(spark, sf_smoke)  # a complete fixture on disk
    parts = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(parts) > 1
    for p in parts[1:]:
        os.remove(p)  # stale: most of its rows are gone
    with open(f"{out}/.synth_complete", "w") as f:
        f.write("ok")
    monkeypatch.setenv("SDEP_BENCH_REUSE_FIXTURES", "1")
    problems = compare(q.fn(spark, sf_smoke), duck, q.oracle, q.name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", STAGED)
def test_query_reads_the_staged_fixture_unchanged(spark, sf_smoke, name):
    q = CATALOG[name]
    staged = sorted(map(tuple, q.fn(spark, sf_smoke).collect()))
    before = _tree(SCRATCH)
    assert before, "the stage wrote nothing under SCRATCH"
    read = sorted(map(tuple, q.query(spark, sf_smoke).collect()))
    assert read == staged
    assert _tree(SCRATCH) == before


def test_driver_order_lives_in_the_entry_module():
    import __spark_entry__ as e

    names = list(CATALOG)
    assert list(plans.queries()) == names
    resample = [
        "similarity_topk_lsh", "similarity_topk_ivf", "similarity_topk_pq",
        "events_hll_rollup", "text_compress_ratio", "approx_stats",
    ]
    order = resample + [n for n in names if n not in resample]
    assert list(e.queries()) == order
    oracles = {n: q.oracle for n, q in CATALOG.items() if q.oracle is not None}
    assert list(e.oracle_sql().items()) == [
        (n, oracles[n]) for n in order if n in oracles
    ]


def test_no_library_code_reads_grading_reports():
    import simple_data_engineering_project_spark as pkg

    root = os.path.dirname(pkg.__file__)
    for path in glob.glob(f"{root}/**/*.py", recursive=True):
        with open(path) as f:
            assert "CORRECTNESS_r" not in f.read(), path
