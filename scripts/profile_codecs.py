"""Offline cProfile of the pure-codec inner loops (no Spark).

Usage: python scripts/profile_codecs.py [entry ...]

Profiles the executor-side work of the pure-format scan/sink family
directly: for every nested shape × format of the catalog's table, the
sink entries' per-batch derive → encode → pyarrow decode+flatten path
on a representative Arrow-batch-sized slice of real orders rows, and
the scan entries' per-file decode+flatten path on the already-staged
fixture files under $SPARK_GRAFT_SCRATCH. Prints the top cumulative
frames per entry so the hot loop is named before anything is rewritten
(guide §1: measure first).
"""

from __future__ import annotations

import cProfile
import glob
import importlib
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq

from simple_data_engineering_project_spark.operators import orc_data, parquet_data
from simple_data_engineering_project_spark.operators.parquet_write import (
    build_parquet_bytes,
)

# the ``plans`` package exports a ``catalog()`` function under the
# module's name, so the module itself comes from the import system
C = importlib.import_module("simple_data_engineering_project_spark.plans.catalog")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = os.path.basename(os.path.normpath(SF_DIR))
SHAPES = (C._NESTED, C._NESTED2, C._NESTED3, C._NESTED4, C._NESTED5, C._NESTED6)
FORMATS = (C._PARQUET, C._ORC)


def _orders_batch(cols, n=20000):
    t = pq.read_table(f"{SF_DIR}/orders.parquet", columns=list(cols))
    return t.slice(0, n).to_pydict()


def _docs_batch(n=5000):
    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "lang", "text"]
    )
    return t.slice(0, n).to_pandas()


def profile(label, fn, runs=1):
    pr = cProfile.Profile()
    t0 = time.time()
    pr.enable()
    for _ in range(runs):
        fn()
    pr.disable()
    wall = time.time() - t0
    print(f"\n===== {label}: {wall:.3f}s ({runs} run) =====")
    st = pstats.Stats(pr)
    st.sort_stats("cumulative").print_stats(18)


def main():
    want = set(sys.argv[1:])

    def on(name):
        return not want or name in want

    # ---- nested sinks: derive, encode, pyarrow decode + flatten ----
    for shape in SHAPES:
        sinks = [
            (f"sink_{fmt.suffix}_{shape.tag}", fmt)
            for fmt in FORMATS
            if on(f"sink_{fmt.suffix}_{shape.tag}")
        ]
        if not sinks:
            continue
        batch = _orders_batch(shape.sink_cols)
        print(f"\n{shape.tag}: {len(batch['o_orderkey'])} orders rows from {SF_DIR}")
        profile(f"{shape.tag} derive (python values)", lambda: shape.values(batch))
        columns = shape.values(batch)
        for name, fmt in sinks:
            profile(f"{name} encode", lambda: fmt.encode(columns, shape.ddl))
            payload = fmt.encode(columns, shape.ddl)
            profile(
                f"{name} decode (pyarrow+flatten)",
                lambda: shape.flatten(
                    C._arrow_columns(fmt.read_back(payload)), decode_bytes=False
                ),
            )

    # ---- scans: pure decode + flatten over staged fixtures ----
    # scan_parquet_nested reads through pure_parquet_scan and flattens
    # in Spark, so it has no table-built read path to profile here.
    scans = {
        f"scan_{fmt.suffix}_{shape.tag}": (
            f"{C.SCRATCH}/{TAG}/{fmt.prefix}_{shape.tag}_orders/part-*.{fmt.suffix}",
            lambda p, fmt=fmt, shape=shape: shape.flatten(
                fmt.read(p, list(shape.ddl)), fmt.decode_bytes
            ),
        )
        for shape in SHAPES
        if shape.frame is not None
        for fmt in FORMATS
        if (fmt, shape) != (C._PARQUET, C._NESTED)
    }
    scans["scan_parquet_pure"] = (
        f"{SF_DIR}/orders.parquet",
        lambda p: parquet_data.read_parquet_nested_columns(
            p,
            ["o_orderkey", "o_custkey", "o_orderstatus",
             "o_totalprice", "o_orderpriority"],
        ),
    )
    scans["scan_orc_pure"] = (
        f"{C.SCRATCH}/{TAG}/orc_pure_orders/part-*.orc",
        lambda p: orc_data.read_orc_columns(
            p,
            ["o_orderkey", "o_custkey", "o_orderstatus",
             "o_totalprice", "o_orderpriority"],
        ),
    )
    for name, (pat, rd) in scans.items():
        if not on(name):
            continue
        paths = sorted(glob.glob(pat))
        if not paths:
            print(f"\n===== {name}: fixture not staged ({pat}) — skip")
            continue
        # profile ~4 files (one task's worth at 32-wide staging)
        sel = paths[: max(1, min(4, len(paths)))]
        profile(
            f"{name} decode x{len(sel)} files",
            lambda sel=sel, rd=rd: [rd(p) for p in sel],
        )

    # ---- pure sink over documents ----
    if on("sink_parquet_pure"):
        b = _docs_batch()
        profile(
            "sink_parquet_pure encode",
            lambda: build_parquet_bytes(
                {
                    "doc_id": [int(x) for x in b["doc_id"]],
                    "lang": list(b["lang"]),
                    "text": list(b["text"]),
                },
                {"doc_id": "bigint", "lang": "string", "text": "string"},
                compression="snappy",
            ),
        )


if __name__ == "__main__":
    main()
