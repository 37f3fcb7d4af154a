"""Direct driver-side timings of the pure-Python codecs on fixed inputs.

Inputs come from the generated tables: five ``orders`` columns (the
snappy parquet file itself, the same columns written once as zstd ORC by
pyarrow) and a ~600 KB text payload cut from ``documents``. Every decode
is checked against pyarrow's decode of the same bytes, and every encode
by decoding it with pyarrow.
"""

from __future__ import annotations

import io
import os
import statistics
import time

import pyarrow as pa
import pyarrow.orc as po
import pyarrow.parquet as pq

from simple_data_engineering_project_spark.operators.brotli import (
    brotli_compress,
    brotli_decompress,
)
from simple_data_engineering_project_spark.operators.orc_data import read_orc_columns
from simple_data_engineering_project_spark.operators.orc_write import build_orc_bytes
from simple_data_engineering_project_spark.operators.parquet_data import (
    read_parquet_bytes,
)
from simple_data_engineering_project_spark.operators.parquet_write import (
    build_parquet_bytes,
)
from simple_data_engineering_project_spark.operators.snappy import snappy_decompress
from simple_data_engineering_project_spark.operators.zstd import zstd_decompress

COLUMNS = {
    "o_orderkey": "bigint", "o_custkey": "bigint", "o_orderstatus": "string",
    "o_totalprice": "double", "o_orderpriority": "string",
}
PAYLOAD_BYTES = 600 * 1024
REPEATS = 3


def _as_text(values: list) -> list:
    return [v.decode() if isinstance(v, bytes) else v for v in values]


class CodecBench:
    def __init__(self, data_dir: str, work_dir: str):
        cols = list(COLUMNS)
        with open(os.path.join(data_dir, "orders.parquet"), "rb") as f:
            self.parquet = f.read()
        table = pq.read_table(io.BytesIO(self.parquet), columns=cols)
        self.expected = table.to_pydict()
        orc_path = os.path.join(work_dir, "codec_orders.orc")
        po.write_table(table, orc_path, compression="zstd")
        with open(orc_path, "rb") as f:
            self.orc = f.read()
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
        text = "\n".join(docs.column("text").to_pylist()).encode()
        self.payload = (text * (PAYLOAD_BYTES // len(text) + 1))[:PAYLOAD_BYTES]
        self.packed = {
            name: pa.Codec(name).compress(self.payload, asbytes=True)
            for name in ("brotli", "zstd", "snappy")
        }

    def calls(self) -> dict:
        cols = list(COLUMNS)
        return {
            "parquet_decode": lambda: read_parquet_bytes(self.parquet, cols),
            "orc_decode": lambda: read_orc_columns(self.orc, cols),
            "parquet_encode": lambda: build_parquet_bytes(
                self.expected, COLUMNS, compression="snappy"
            ),
            "orc_encode": lambda: build_orc_bytes(
                self.expected, COLUMNS, compression="zlib"
            ),
            "brotli_decode": lambda: brotli_decompress(
                self.packed["brotli"], len(self.payload)
            ),
            "zstd_decode": lambda: zstd_decompress(self.packed["zstd"]),
            "snappy_decode": lambda: snappy_decompress(self.packed["snappy"]),
            "brotli_encode": lambda: brotli_compress(self.payload),
        }

    def _ok(self, case: str, out) -> bool:
        if case.endswith("_decode") and case.split("_")[0] in self.packed:
            return out == self.payload
        if case == "brotli_encode":
            return pa.Codec("brotli").decompress(
                out, decompressed_size=len(self.payload), asbytes=True
            ) == self.payload
        if case == "parquet_encode":
            out = pq.read_table(io.BytesIO(out)).to_pydict()
        elif case == "orc_encode":
            out = po.ORCFile(io.BytesIO(out)).read().to_pydict()
        return all(
            _as_text(list(out[c])) == self.expected[c] for c in COLUMNS
        )

    def measure(self) -> tuple[dict[str, float], dict[str, str]]:
        """Median seconds per call (``codec.*_s``) for the column codecs
        and MB/s of payload (``codec.*_mb_s``) for the byte codecs, plus
        the cases whose output differed from pyarrow's."""
        timings, failures = {}, {}
        for case, fn in self.calls().items():
            times = []
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                out = fn()
                times.append(time.perf_counter() - t0)
            if not self._ok(case, out):
                failures[f"codec.{case}"] = "output differs from pyarrow"
            t = statistics.median(times)
            if case.split("_")[0] in self.packed:
                timings[f"codec.{case}_mb_s"] = len(self.payload) / 1e6 / t
            else:
                timings[f"codec.{case}_s"] = t
        return timings, failures
