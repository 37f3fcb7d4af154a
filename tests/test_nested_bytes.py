"""File bytes of the pure parquet and ORC writers, pinned for nested shapes.

Each writer plans a column as a flat scalar or as a generic type tree.
The eight shapes below (list, list of lists, list of structs, struct,
struct with a list field, map, map of structs, map of lists) cover
every level pattern the tree writers emit below three levels. The test
writes each shape under every page layout and codec and compares the
sha256 of the file against ``nested_golden_bytes.json``, so any change
to the emitted bytes shows up here and not only in a round trip.

Regenerate the golden file (only for an intended format change) with
``python -m tests.test_nested_bytes``.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

from simple_data_engineering_project_spark.operators.orc_write import build_orc_bytes
from simple_data_engineering_project_spark.operators.parquet_write import (
    build_parquet_bytes,
)

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "nested_golden_bytes.json")
N_ROWS = 90
SEVERAL = 40  # rows per row group / stripe in the multi-group layouts


def _scalar(i: int):
    return None if i % 11 == 3 else i * 7 - 200


def _list(i: int, salt: int = 0):
    if i % 9 == 0:
        return None
    if i % 9 == 4:
        return []
    return [None if (i + k + salt) % 6 == 5 else i * 10 + k for k in range((i + salt) % 4 + 1)]


def _struct(i: int):
    if i % 8 == 2:
        return None
    return {
        "a": _scalar(i),
        "b": None if i % 5 == 1 else f"s{i % 7}",
        "x": None if i % 13 == 6 else (i - 40) / 8.0,
    }


def _keys(i: int) -> list[str]:
    return [f"k{(i + k) % 5}" for k in range(i % 3 + 1)]


SHAPES = {
    "array": ("array<bigint>", _list),
    "array_array": (
        "array<array<bigint>>",
        lambda i: None if i % 10 == 0 else [] if i % 10 == 5
        else [_list(i + k, k) for k in range(i % 3 + 1)],
    ),
    "array_struct": (
        "array<struct<a:bigint,b:string,x:double>>",
        lambda i: None if i % 9 == 0 else [] if i % 9 == 4
        else [_struct(i + k) for k in range(i % 3 + 1)],
    ),
    "struct": ("struct<a:bigint,b:string,x:double>", _struct),
    "struct_list": (
        "struct<a:bigint,v:array<bigint>,b:string>",
        lambda i: None if i % 8 == 2
        else {"a": _scalar(i), "v": _list(i + 1), "b": f"t{i % 4}"},
    ),
    "map": (
        "map<string,bigint>",
        lambda i: None if i % 9 == 0 else {} if i % 9 == 4
        else {k: _scalar(i + j) for j, k in enumerate(_keys(i))},
    ),
    "map_struct": (
        "map<string,struct<a:bigint,b:string,x:double>>",
        lambda i: None if i % 9 == 0 else {} if i % 9 == 4
        else {k: _struct(i + j) for j, k in enumerate(_keys(i))},
    ),
    "map_list": (
        "map<string,array<bigint>>",
        lambda i: None if i % 9 == 0 else {} if i % 9 == 4
        else {k: _list(i + j, j) for j, k in enumerate(_keys(i))},
    ),
}

PARQUET_LAYOUTS = [
    (version, codec, rows)
    for version in (1, 2)
    for codec in ("none", "snappy")
    for rows in (None, SEVERAL)
]
ORC_LAYOUTS = [
    (codec, rows) for codec in ("none", "zlib", "snappy") for rows in (None, SEVERAL)
]


def _columns(shape: str):
    ddl, gen = SHAPES[shape]
    return {"id": list(range(N_ROWS)), "c": [gen(i) for i in range(N_ROWS)]}, {
        "id": "bigint",
        "c": ddl,
    }


def hashes(fmt: str, shape: str) -> dict[str, str]:
    cols, ddl = _columns(shape)
    out = {}
    if fmt == "parquet":
        for version, codec, rows in PARQUET_LAYOUTS:
            blob = build_parquet_bytes(
                cols, ddl, codec, row_group_size=rows, page_version=version
            )
            out[f"v{version}/{codec}/{rows or 'one'}"] = hashlib.sha256(blob).hexdigest()
    else:
        for codec, rows in ORC_LAYOUTS:
            blob = build_orc_bytes(cols, ddl, codec, stripe_rows=rows)
            out[f"{codec}/{rows or 'one'}"] = hashlib.sha256(blob).hexdigest()
    return out


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
@pytest.mark.parametrize("shape", list(SHAPES))
def test_nested_file_bytes_match_golden(fmt, shape):
    with open(GOLDEN) as f:
        golden = json.load(f)
    assert hashes(fmt, shape) == golden[fmt][shape]


if __name__ == "__main__":
    with open(GOLDEN, "w") as f:
        json.dump(
            {fmt: {s: hashes(fmt, s) for s in SHAPES} for fmt in ("parquet", "orc")},
            f,
            indent=1,
        )
        f.write("\n")
