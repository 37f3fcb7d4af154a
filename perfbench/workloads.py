"""The benchmark's workloads.

Each workload is a closed loop of passes run by one client: a pass is a
fixed sequence of operations, and each operation starts when the one
before it has finished. ``run_pass(rec)`` runs one pass and returns the
wall time of each operation; given a :class:`sparkstats.Recorder`, it
also tags every call into a layer's public function and keeps the
readings in ``traces``.

- ``daily_upsert``: a fresh warehouse per pass, a first daily load, then
  a second landing that re-sends half of the stored keys and is merged in
  (the partition-scoped upsert path).
- ``pure_formats``: the pure-Python codec scans and sinks of the catalog,
  each through the ``mapInPandas`` Arrow boundary.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from simple_data_engineering_project_spark.pipeline import (
    land_csv_files,
    run_batch_pipeline,
)
from simple_data_engineering_project_spark.plans.catalog import catalog
from simple_data_engineering_project_spark.sources import read_table
from tests.oracle_compare import compare, duck_connection

from codecbench import CodecBench
from sparkstats import CallStats

SCANS = [
    "scan_parquet_pure", "scan_orc_pure", "scan_parquet_brotli", "avro_read",
    "arrow_ipc_read",
]
SINKS = ["sink_parquet_pure", "sink_orc_pure", "sink_parquet_brotli"]
#: the tables the scan and sink entries read through ``read_table``
FORMAT_TABLES = ["orders", "documents"]


class OpFailed(Exception):
    """An operation finished but its output failed a correctness check."""


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Workload:
    """One named workload: ``run_pass`` plus a once-per-run ``check``."""

    name = ""
    #: end-to-end phase metric -> the operations it times
    phases: dict[str, list[str]] = {}
    #: TPC-H scale factor of the generated tables it reads (None: none)
    scale_factor: float | None = None

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.traces: list[tuple[str, CallStats]] = []
        #: per-pass readings that are not Spark call stats
        self.extra: dict[str, float] = {}

    def call(self, rec, layer: str, tag: str, fn, *args):
        """Run one layer call; returns (result, wall seconds)."""
        if rec is None:
            t0 = time.perf_counter()
            out = fn(*args)
            return out, time.perf_counter() - t0
        out, st = rec.call(f"{layer}:{tag}", fn, *args)
        self.traces.append((layer, st))
        return out, st.wall_s

    def run_pass(self, rec) -> list[tuple[str, float]]:
        raise NotImplementedError

    def probe_layers(self, rec) -> None:
        """Traced calls made apart from the pass (direct layer timings)."""

    def check(self) -> tuple[int, dict[str, str]]:
        """Untimed output checks: (operations checked, failed op -> why)."""
        raise NotImplementedError


class PureFormats(Workload):
    """Catalog scan and sink entries: each built by its ``fn`` and run to
    the ``noop`` sink, as the correctness grader runs them."""

    name = "pure_formats"
    phases = {"scan_mix_s": SCANS, "sink_mix_s": SINKS}
    scale_factor = 0.02

    def __init__(self, *args):
        super().__init__(*args)
        cat = catalog()
        self.queries = [cat[n] for n in SCANS + SINKS]
        self.frames = {}  # the last pass's DataFrame per entry
        self.codec_cases = 0
        self.codec_failures: dict[str, str] = {}

    def run_pass(self, rec):
        ops = []
        for q in self.queries:
            df, build_s = self.call(
                rec, "catalog.build", q.name, q.fn, self.spark, self.data_dir
            )
            _, exec_s = self.call(
                rec, "catalog.exec", q.name,
                lambda: df.write.format("noop").mode("overwrite").save(),
            )
            self.frames[q.name] = df
            ops.append((q.name, build_s + exec_s))
        return ops

    def probe_layers(self, rec):
        for table in FORMAT_TABLES:
            self.call(
                rec, "sources.read_table", table,
                read_table, self.spark, self.data_dir, table,
            )
        if not self.codec_cases:  # fixed inputs: time them once
            codecs = CodecBench(self.data_dir, self.work_dir)
            timings, self.codec_failures = codecs.measure()
            self.codec_cases = len(timings)
            self.extra.update(timings)

    def check(self):
        """Each entry's result from the last pass against its oracle via
        ``tests/oracle_compare.compare``; entries without an oracle must
        return rows. Codec calls made in a traced run were checked
        against pyarrow as they ran."""
        con = duck_connection(self.data_dir)
        failures = dict(self.codec_failures)
        try:
            for q in self.queries:
                try:
                    df = self.frames[q.name]
                    if q.oracle is not None:
                        problems = compare(df, con, q.oracle, q.name)
                    else:
                        problems = ["no rows"] if df.count() == 0 else []
                except Exception:  # an entry that raises fails its check
                    problems = [traceback.format_exc()]
                if problems:
                    failures[q.name] = "; ".join(problems)
        finally:
            con.close()
        return len(self.queries) + self.codec_cases, failures


class DailyUpsert(Workload):
    """Load 6 landed files into a fresh warehouse, then merge 6 more of
    which 3 re-send stored keys (rows identical except ``processed_at``)."""

    name = "daily_upsert"
    phases = {"land_s": ["land"], "load_s": ["load"], "merge_s": ["merge"]}
    files = 6
    rows = 20_000  # per landed file

    def __init__(self, *args):
        super().__init__(*args)
        root = os.path.join(self.work_dir, "pipeline")
        self.dirs = {
            k: os.path.join(root, k)
            for k in ("landing", "staging", "warehouse", "archive")
        }

    def run_pass(self, rec):
        d = self.dirs
        shutil.rmtree(os.path.dirname(d["landing"]), ignore_errors=True)
        ops = []
        for step, seed in (("load", self.seed), ("merge", self.seed + 3)):
            landed, t = self.call(
                rec, "pipeline.land", step, land_csv_files, self.spark,
                d["landing"], self.files, self.rows, seed,
            )
            ops.append(("land", t))
            if len(landed) != self.files:
                raise OpFailed(f"land: {len(landed)} files")
            csv_bytes = sum(os.path.getsize(p) for p in landed)
            res, t = self.call(
                rec, f"pipeline.{step}", step, run_batch_pipeline, self.spark,
                d["landing"], d["staging"], d["warehouse"], d["archive"],
            )
            ops.append((step, t))
            self._check_result(step, res)
        self.extra = {
            "stored_bytes_per_row": _dir_bytes(
                os.path.join(d["warehouse"], "cocoa_shipments")
            ) / res.warehouse_rows,
            "rewritten_partitions": len(res.rewritten_partitions),
        }
        if rec is not None:  # the last trace is the merge call
            self.extra["write_amplification"] = (
                self.traces[-1][1].output_bytes / csv_bytes
            )
        return ops

    def _check_result(self, step: str, res) -> None:
        n = self.rows * self.files
        want = {"load": n, "merge": n + n // 2}[step]
        problems = []
        if res.skipped_files:
            problems.append(f"skipped {res.skipped_files}")
        if len(res.archived_files) != self.files:
            problems.append(f"archived {len(res.archived_files)} files")
        if res.rows_upserted != n:
            problems.append(f"staged {res.rows_upserted} rows, want {n}")
        if res.warehouse_rows != want:
            problems.append(f"warehouse {res.warehouse_rows} rows, want {want}")
        if problems:
            raise OpFailed(f"{step}: {'; '.join(problems)}")

    def check(self):
        """The last pass's warehouse: the merge batch's rows all carry its
        ``processed_at``, and all 12 landed files were archived."""
        d = self.dirs
        wh = self.spark.read.parquet(os.path.join(d["warehouse"], "cocoa_shipments"))
        stamps = sorted(wh.groupBy("processed_at").count().collect())
        n = self.rows * self.files
        problems = []
        if [r[1] for r in stamps] != [n // 2, n]:
            problems.append(f"processed_at counts {[tuple(r) for r in stamps]}")
        for where, want in (("archive", 2 * self.files), ("landing", 0)):
            csvs = [f for f in os.listdir(d[where]) if f.endswith(".csv")]
            if len(csvs) != want:
                problems.append(f"{where} holds {len(csvs)} csv files")
        return 1, {"merge": "; ".join(problems)} if problems else {}


WORKLOADS = {w.name: w for w in (DailyUpsert, PureFormats)}
