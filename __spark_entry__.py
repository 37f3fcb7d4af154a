"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The real catalog lives in ``simple_data_engineering_project_spark.plans``
and returns registration order; this module is the adapter the driver
imports, and it owns the order in which the driver samples entries.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from simple_data_engineering_project_spark import plans  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Revenue by region over the 5-table dim chain — the testdata
    transposition of the reference's documented dashboard query
    (README.md:150: SELECT region, SUM(shipment_value_usd) ... GROUP BY
    region).
    """
    return plans.queries()["agg_value_by_region"](spark, SMOKE_SF_DIR)


# Entries re-sampled every round (r8 verdict Next #7): rows-only entries
# whose latest driver sample had aged past ~3 rounds. They re-pass
# locally via pytest, but the driver's recorded status should not age.
_WINDOW_RESAMPLE: list[str] = [
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "similarity_topk_pq",
    "events_hll_rollup",
    "text_compress_ratio",
    "approx_stats",
]


def _graded_from_reports(cat: dict[str, plans.CatalogQuery]) -> set[str]:
    """Names cleanly graded by any CORRECTNESS_r*.json beside this file.

    The driver drops one report per round; a query counts as graded only
    at the strength matching its *current* oracle status: an
    oracle-backed entry needs ``hash_match is True``; a rows-only entry
    needs a completed rows check (``err == "no_oracle"`` and
    ``spark_rows > 0``). An entry that gains an oracle after a rows-only
    grade therefore re-enters the window for the strong check, and
    crashed entries never count.
    """
    graded: set[str] = set()
    root = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                report = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(report, dict):
            continue
        for name, row in report.items():
            if not isinstance(row, dict):
                continue
            has_oracle = name in cat and cat[name].oracle is not None
            if row.get("hash_match") is True or (
                not has_oracle
                and row.get("err") == "no_oracle"
                and (row.get("spark_rows") or 0) > 0
            ):
                graded.add(name)
    return graded


def _driver_order() -> list[str]:
    """The driver grades the first 50 names per round, so a fixed order
    would leave the tail unverified: entries no report has graded go
    first (oracle-backed before rows-only), then ``_WINDOW_RESAMPLE`` in
    its own order, then everything already graded; the first and last
    blocks keep registration order."""
    cat = plans.catalog()
    graded = _graded_from_reports(cat)
    fresh = sorted(
        (n for n in cat if n not in graded), key=lambda n: cat[n].oracle is None
    )
    resample = [n for n in _WINDOW_RESAMPLE if n in cat and n not in fresh]
    return fresh + resample + [
        n for n in cat if n in graded and n not in resample
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = plans.queries()
    return {name: qs[name] for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every hash-checked query."""
    sql = plans.oracle_sql()
    return {name: sql[name] for name in _driver_order() if name in sql}
