"""Pure-Python ORC reader vs the in-container references.

pyarrow.orc (ORC C++) writes the cross-validation files; Spark's JVM
ORC writer provides a second, independent writer. Coverage: all four
stream codecs, multi-stripe layouts, every RLEv2 sub-encoding
(SHORT_REPEAT / DIRECT / PATCHED_BASE incl. negative bases and the
byte-aligned closest-fixed-bits patch list / DELTA both directions),
boolean-RLE PRESENT bitmaps, DIRECT_V2 + DICTIONARY_V2 strings, and
loud declines for unsupported kinds.
"""

from __future__ import annotations

import io
import random

import pyarrow as pa
import pyarrow.orc as po
import pytest

from simple_data_engineering_project_spark.operators.orc_data import (
    read_orc_columns,
    rlev2_decode,
)


def _assert_matches(blob_or_path, columns=None):
    src = io.BytesIO(blob_or_path) if isinstance(blob_or_path, bytes) else blob_or_path
    f = po.ORCFile(src)
    ref = f.read()
    cols = columns or ref.column_names
    mine = read_orc_columns(blob_or_path, cols)
    for c in cols:
        t = ref.schema.field(c).type
        rv = ref.column(c).to_pylist()
        if pa.types.is_date32(t):
            rv = ref.column(c).cast(pa.int32()).to_pylist()
        assert mine[c] == rv, (c, mine[c][:5], rv[:5])


def _stress_table(n=50000):
    import datetime as dt

    rnd = random.Random(7)
    return pa.table(
        {
            # outliers every ~100 rows force PATCHED_BASE
            "patched": pa.array(
                [rnd.randint(0, 100) if i % 100 else rnd.randint(2**40, 2**45) for i in range(n)],
                pa.int64(),
            ),
            "patched_neg": pa.array(
                [rnd.randint(-100, 0) if i % 90 else -rnd.randint(2**40, 2**45) for i in range(n)],
                pa.int64(),
            ),
            "mono_up": pa.array(range(n), pa.int64()),  # DELTA ascending
            "mono_dn": pa.array(range(n, 0, -1), pa.int64()),  # DELTA desc
            "const": pa.array([42] * n, pa.int64()),  # SHORT_REPEAT
            "rand_wide": pa.array(
                [rnd.randint(-(2**62), 2**62) for _ in range(n)], pa.int64()
            ),  # DIRECT at wide widths
            "with_nulls": pa.array(
                [None if i % 3 else i for i in range(n)], pa.int64()
            ),
            "dict_s": pa.array(
                [None if i % 11 == 0 else f"val-{i % 13}" for i in range(n)]
            ),
            "direct_s": pa.array([f"unique-{i}" for i in range(n)]),
            "d": pa.array([i * 0.5 for i in range(n)], pa.float64()),
            "f": pa.array([i * 0.25 for i in range(n)], pa.float32()),
            "b": pa.array([i % 3 == 0 for i in range(n)], pa.bool_()),
            "date": pa.array(
                [dt.date(2020, 1, 1) + dt.timedelta(days=i % 5000) for i in range(n)],
                pa.date32(),
            ),
        }
    )


@pytest.mark.parametrize("comp", ["UNCOMPRESSED", "ZLIB", "SNAPPY", "ZSTD"])
def test_codecs_and_rlev2_shapes_vs_pyarrow(comp):
    buf = io.BytesIO()
    po.write_table(_stress_table(), buf, compression=comp, stripe_size=64 * 1024)
    blob = buf.getvalue()
    assert po.ORCFile(io.BytesIO(blob)).nstripes > 1  # multi-stripe
    _assert_matches(blob)


def test_spark_written_orc_second_independent_writer(spark, tmp_path):
    import glob

    out = str(tmp_path / "sparkorc")
    spark.range(20000).selectExpr(
        "id",
        "CASE WHEN id % 9 = 0 THEN NULL ELSE concat('cat-', id % 7) END AS s",
        "CAST(id AS DOUBLE) * 1.5 AS v",
        "id % 2 = 0 AS flag",
        "CAST(id % 1000 AS INT) AS small",
    ).coalesce(1).write.mode("overwrite").orc(out)
    (path,) = glob.glob(f"{out}/part-*.orc")
    _assert_matches(path)


def test_timestamps_decode_both_eras():
    """2015-epoch seconds + trailing-zero-compressed nanos, incl. the
    C++ writer's NEGATIVE-nanos pre-1970 convention (a pre-1970
    fractional second stores nanos as a two's-complement negative with
    an arithmetic shift — cross-validated against pyarrow)."""
    import datetime as dt

    t = pa.table(
        {
            "ts": pa.array(
                [
                    dt.datetime(2015, 1, 1),
                    dt.datetime(2015, 1, 1, 0, 0, 1),
                    dt.datetime(2020, 6, 15, 12, 30, 45, 123456),
                    dt.datetime(1969, 12, 31, 23, 59, 59),
                    dt.datetime(1950, 1, 1, 0, 0, 0, 500000),
                    dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
                    None,
                ],
                pa.timestamp("us"),
            )
        }
    )
    for comp in ("UNCOMPRESSED", "ZLIB"):
        buf = io.BytesIO()
        po.write_table(t, buf, compression=comp)
        blob = buf.getvalue()
        ref = po.ORCFile(io.BytesIO(blob)).read().column("ts")
        assert (
            read_orc_columns(blob, ["ts"])["ts"]
            == ref.cast(pa.int64()).to_pylist()
        )


def test_spark_written_timestamps(spark, tmp_path):
    import glob

    out = str(tmp_path / "sparkts")
    spark.sql(
        "SELECT id, timestamp_micros(1577836800000000 + id * 987654321) AS ts "
        "FROM range(5000)"
    ).coalesce(1).write.mode("overwrite").orc(out)
    (path,) = glob.glob(f"{out}/part-*.orc")
    ref = po.ORCFile(path).read()
    assert (
        read_orc_columns(path, ["ts"])["ts"]
        == ref.column("ts").cast(pa.int64()).to_pylist()
    )


def test_decimals_decode():
    import decimal as D

    vals = [
        D.Decimal("123.45"), D.Decimal("-0.01"), None,
        D.Decimal("99999999999999.99"), D.Decimal("0.00"),
        D.Decimal("-8765432.10"),
    ]
    t = pa.table({"dec": pa.array(vals, pa.decimal128(16, 2))})
    for comp in ("UNCOMPRESSED", "ZLIB"):
        buf = io.BytesIO()
        po.write_table(t, buf, compression=comp)
        assert read_orc_columns(buf.getvalue(), ["dec"])["dec"] == vals


def test_unsupported_kinds_fail_loudly(tmp_path):
    t = pa.table(
        {
            "l": pa.array([[1, 2]], pa.list_(pa.int64())),
            "ok": pa.array([1], pa.int64()),
        }
    )
    buf = io.BytesIO()
    po.write_table(t, buf)
    blob = buf.getvalue()
    assert read_orc_columns(blob, ["ok"])["ok"] == [1]
    with pytest.raises((NotImplementedError, ValueError)):
        read_orc_columns(blob, ["l"])
    with pytest.raises(ValueError, match="not in file"):
        read_orc_columns(blob, ["missing"])


def test_tinyint_sign_extension():
    """Review-pass regression (confirmed repro): byte-RLE carries raw
    0..255 bytes; tinyint is SIGNED and must sign-extend."""
    t = pa.table({"b": pa.array([-1, -128, 0, 5, 127], pa.int8())})
    buf = io.BytesIO()
    po.write_table(t, buf)
    assert read_orc_columns(buf.getvalue(), ["b"])["b"] == [-1, -128, 0, 5, 127]


def test_rlev1_011_format_decodes():
    """Round-12 promotion: 0.11-format files (RLEv1 integer encoding,
    column encodings DIRECT=0/DICTIONARY=1) now DECODE — formerly a
    loud decline. Cross-validated against the pyarrow reference
    reader on a pyarrow-written 0.11 file covering int/string/
    timestamp/decimal scalar kinds."""
    import decimal as _dec

    t = pa.table({
        "x": pa.array([0, 1, 2] * 100, pa.int64()),
        "s": pa.array([f"v{i%5}" for i in range(300)]),
        "ts": pa.array([1_000_000 + i for i in range(300)],
                       pa.timestamp("us")),
        "d": pa.array([_dec.Decimal(f"{i}.25") for i in range(300)],
                      pa.decimal128(10, 2)),
    })
    buf = io.BytesIO()
    po.write_table(t, buf, file_version="0.11")
    data = buf.getvalue()
    assert po.ORCFile(io.BytesIO(data)).file_version == "0.11"
    got = read_orc_columns(data, ["x", "s", "ts", "d"])
    assert got["x"] == [0, 1, 2] * 100
    assert got["s"] == [f"v{i%5}" for i in range(300)]
    # reader returns epoch nanoseconds
    assert got["ts"] == [(1_000_000 + i) * 1000 for i in range(300)]
    assert got["d"] == [_dec.Decimal(f"{i}.25") for i in range(300)]


def test_rlev1_synthetic_edges():
    """Hand-checkable RLEv1 blocks + truncation guard."""
    from simple_data_engineering_project_spark.operators.orc_data import (
        rlev1_decode,
    )

    # run: header 2 -> 5 values, delta +3, base varint 7 (unsigned)
    assert rlev1_decode(bytes([0x02, 0x03, 0x07]), 5, signed=False) == \
        [7, 10, 13, 16, 19]
    # negative delta: header 0 -> 3 values, delta -1 (0xFF), base 100
    assert rlev1_decode(bytes([0x00, 0xFF, 0x64]), 3, signed=False) == \
        [100, 99, 98]
    # signed base uses zigzag: zz(-3) = 5
    assert rlev1_decode(bytes([0x00, 0x01, 0x05]), 3, signed=True) == \
        [-3, -2, -1]
    # literals: header 0xFD -> 3 varints; signed zigzag 0,-1,1
    assert rlev1_decode(bytes([0xFD, 0x00, 0x01, 0x02]), 3, signed=True) == \
        [0, -1, 1]
    # multi-byte varint literal: 300 = 0xAC 0x02 (unsigned)
    assert rlev1_decode(bytes([0xFF, 0xAC, 0x02]), 1, signed=False) == [300]
    # truncated stream fails loudly, never silently short
    with pytest.raises(ValueError, match="truncated"):
        rlev1_decode(bytes([0x02, 0x03, 0x07]), 6, signed=False)


def test_rlev2_synthetic_edges():
    # hand-checkable SHORT_REPEAT: width 1 byte, repeat 5, value 7 (zz 14)
    assert rlev2_decode(bytes([0x02, 14]), 5, signed=True) == [7] * 5
    # fixed-delta run (width code 0): base 100, delta -2, length 4
    # header: sub=3(11), wcode=0, len-1=3 -> 0b1100_0000, 0x03
    import struct as _s

    def zz(v):
        return (v << 1) ^ (v >> 63)

    def varint(v):
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    blob = bytes([0xC0, 0x03]) + varint(zz(100)) + varint(zz(-2))
    assert rlev2_decode(blob, 4, signed=True) == [100, 98, 96, 94]


def test_pure_writer_read_by_pyarrow_spark_and_own_reader(spark, tmp_path):
    """Write-side honesty for ORC: files authored byte-for-byte by
    orc_write must be readable by BOTH in-container reference readers
    (pyarrow's ORC C++ and Spark's JVM reader) with values, nulls and
    types intact — and by the repo's own stripe reader."""
    from simple_data_engineering_project_spark.operators.orc_write import (
        write_orc_file,
    )

    cols = {
        "k": [1, None, -3, 2**62, -(2**62)],
        "v": [1.5, None, -0.0, 2.2250738585072014e-308, -1e300],
        "s": ["", None, "δ-utf8 ✓", "x" * 1000, "plain"],
    }
    types = {"k": "bigint", "v": "double", "s": "string"}
    path = str(tmp_path / "own.orc")
    assert write_orc_file(path, cols, types) == 5
    ref = po.ORCFile(path).read()
    assert ref.to_pydict() == cols
    assert pa.types.is_string(ref.schema.field("s").type)
    assert read_orc_columns(path, ["k", "v", "s"]) == cols
    rows = sorted(
        spark.read.orc(path).collect(),
        key=lambda r: (r.k is None, r.k if r.k is not None else 0),
    )
    assert [(r.k, r.v, r.s) for r in rows] == sorted(
        zip(cols["k"], cols["v"], cols["s"]),
        key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0),
    )


def test_pure_writer_multi_run_and_rejects(tmp_path):
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
        write_orc_file,
    )

    cols = {"a": list(range(3000)), "b": [f"r{i % 17}" for i in range(3000)]}
    blob = build_orc_bytes(cols, {"a": "bigint", "b": "string"})
    t = po.ORCFile(io.BytesIO(blob)).read()
    assert t.column("a").to_pylist() == cols["a"]
    assert t.column("b").to_pylist() == cols["b"]
    # boolean became writable in round 11; interval types never are
    with pytest.raises(NotImplementedError, match="not writable"):
        write_orc_file(
            str(tmp_path / "x.orc"), {"f": [1]}, {"f": "interval day"}
        )
    with pytest.raises(ValueError, match="ragged"):
        write_orc_file(
            str(tmp_path / "x.orc"), {"a": [1], "b": [1, 2]},
            {"a": "bigint", "b": "bigint"},
        )


def test_truncation_and_bitflip_never_hang(tmp_path):
    buf = io.BytesIO()
    po.write_table(_stress_table(n=2000), buf, compression="ZLIB")
    blob = buf.getvalue()
    good = read_orc_columns(blob, ["patched", "dict_s"])
    for off in (50, len(blob) // 3, len(blob) // 2):
        dam = bytearray(blob)
        dam[off] ^= 0xFF
        try:
            got = read_orc_columns(bytes(dam), ["patched", "dict_s"])
            # silent success must at least preserve the row count
            assert len(got["patched"]) == len(good["patched"])
        except Exception:
            pass  # any loud error is the accepted contract
    for cut in (len(blob) - 1, len(blob) // 2, 10):
        try:
            read_orc_columns(blob[:cut], ["patched"])
        except Exception:
            pass  # loud errors fine; the test guards against hangs
            # (pytest-level timeout) and silent wrong output above


# ---------------------------------------------------------------------
# Round 10: writer compression framing + TIMESTAMP/DECIMAL write side
# ---------------------------------------------------------------------


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy"])
def test_pure_writer_codecs_read_by_pyarrow_and_own_reader(tmp_path, codec):
    import decimal

    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    D = decimal.Decimal
    cols = {
        "i": [1, None, -77, 123456789012, 5],
        "s": ["alpha", None, "beta", "", "δ ✓"],
        "d": [1.5, -2.25, None, 0.0, 99.0],
        "ts": [
            -14182939876544000,  # 1969-07-20 20:17:40.123456
            1786795200000001000,
            None,
            0,
            1700000000_500_000_000,  # trailing-zero nanos
        ],
        "ts2": [-1000000000, -1500000000, 250000000, -2208988799500000000, 123],
        "dec": [D("12.34"), D("-0.01"), None, D("99999999.99"), D("0.00")],
    }
    ddl = {
        "i": "bigint", "s": "string", "d": "double",
        "ts": "timestamp", "ts2": "timestamp", "dec": "decimal(10,2)",
    }
    path = str(tmp_path / f"w_{codec}.orc")
    open(path, "wb").write(build_orc_bytes(cols, ddl, codec))
    t = po.ORCFile(path).read()
    for c in ("i", "s", "d", "dec"):
        assert t.column(c).to_pylist() == cols[c], (codec, c)
    assert t.column("ts").cast("int64").to_pylist() == cols["ts"]
    assert t.column("ts2").cast("int64").to_pylist() == cols["ts2"]
    mine = read_orc_columns(path, list(cols))
    assert mine == cols, codec


def test_pure_writer_zlib_multiblock_spark_reread(spark, tmp_path):
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    n = 20000
    cols = {
        "x": [i * 37 - 5000 for i in range(n)],
        "y": [f"row-{i % 111}-pad" * 2 for i in range(n)],
    }
    blob = build_orc_bytes(
        cols, {"x": "bigint", "y": "string"}, "zlib", block_size=4096
    )
    blob_none = build_orc_bytes(cols, {"x": "bigint", "y": "string"}, "none")
    # y dictionary-encodes in BOTH files (round-10), so the NONE
    # baseline is already compact; zlib still wins on top of it
    assert len(blob) < len(blob_none)
    path = str(tmp_path / "zlib_multi.orc")
    open(path, "wb").write(blob)
    rows = spark.read.orc(path).orderBy("x").collect()
    assert [r.x for r in rows] == cols["x"]
    assert [r.y for r in rows[:5]] == cols["y"][:5]
    assert read_orc_columns(path, ["x", "y"]) == cols


def test_pure_writer_timestamp_spark_and_decimal_spark_reread(spark, tmp_path):
    import decimal

    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    D = decimal.Decimal
    cols = {
        "ts": [-14182939876544000, 0, 1786795200000001000, None],
        "dec": [D("3.14"), D("-123.45"), None, D("0.01")],
    }
    path = str(tmp_path / "tsdec.orc")
    open(path, "wb").write(
        build_orc_bytes(
            cols, {"ts": "timestamp", "dec": "decimal(9,2)"}, "zlib"
        )
    )
    df = spark.read.orc(path)
    got = df.selectExpr(
        "unix_micros(ts) AS us", "CAST(dec AS STRING) AS ds"
    ).collect()
    exp_us = [
        None if t is None else t // 1000 for t in cols["ts"]
    ]
    assert sorted(
        (r.us for r in got if r.us is not None)
    ) == sorted(u for u in exp_us if u is not None)
    assert {r.ds for r in got} == {
        None if d is None else str(d) for d in cols["dec"]
    }


def test_reader_java_convention_pre1970_fraction_spark_written(spark, tmp_path):
    """Round-10 regression: the Java ORC writer stores trunc-toward-
    zero seconds with positive nanos; readers must subtract one second
    when absolute seconds are negative and a fraction is present.
    Round 9 validated only against pyarrow's C++ WRITER (signed-nanos
    convention), which never exercises that branch — Spark's JVM
    writer here is the genuine Java-convention reference."""
    out = str(tmp_path / "jvm_pre1970")
    spark.sql(
        "SELECT * FROM VALUES "
        "(timestamp'1969-07-20 20:17:40.123456'),"
        "(timestamp'1900-01-01 00:00:00.5'),"
        "(timestamp'2026-08-15 12:00:00.000001'),"
        "(timestamp'1970-01-01 00:00:00.25') AS t(ts)"
    ).coalesce(1).write.mode("overwrite").orc(out)
    import glob

    (path,) = glob.glob(f"{out}/part-*.orc")
    got = sorted(read_orc_columns(path, ["ts"])["ts"])
    assert got == sorted(
        [
            -14182939876544000,
            -2208988799500000000,
            1786795200000001000,
            250000000,
        ]
    ), got


# ---------------------------------------------------------------------
# Round 10: one-level nested (LIST / STRUCT) decode
# ---------------------------------------------------------------------

from simple_data_engineering_project_spark.operators.orc_data import (  # noqa: E402
    read_orc_nested_columns,
)


def _nested_orc_table(n=300):
    def lst(i):
        if i % 7 == 0:
            return None
        return [None if (i + j) % 5 == 0 else i * 100 + j for j in range(i % 4)]

    def lstr(i):
        if i % 11 == 0:
            return None
        return [
            None if j == 1 and i % 3 == 0 else f"s{i}-{j}" for j in range(i % 3)
        ]

    def st(i):
        if i % 13 == 0:
            return None
        return {
            "a": None if i % 6 == 0 else f"a{i}",
            "b": None if i % 9 == 0 else i * 0.25,
        }

    return pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "lst": pa.array([lst(i) for i in range(n)], pa.list_(pa.int64())),
            "lstr": pa.array(
                [lstr(i) for i in range(n)], pa.list_(pa.string())
            ),
            "st": pa.array(
                [st(i) for i in range(n)],
                pa.struct([("a", pa.string()), ("b", pa.float64())]),
            ),
        }
    )


@pytest.mark.parametrize("codec", ["UNCOMPRESSED", "ZLIB", "SNAPPY", "ZSTD"])
def test_nested_list_struct_vs_pyarrow_orc(tmp_path, codec):
    t = _nested_orc_table()
    path = str(tmp_path / f"nested_{codec}.orc")
    po.write_table(t, path, compression=codec)
    got = read_orc_nested_columns(path, ["id", "lst", "lstr", "st"])
    for c in ("id", "lst", "lstr", "st"):
        assert got[c] == t.column(c).to_pylist(), (codec, c)


def test_nested_multi_stripe(tmp_path):
    t = _nested_orc_table(n=2000)
    path = str(tmp_path / "nested_ms.orc")
    po.write_table(t, path, stripe_size=4096)
    got = read_orc_nested_columns(path, ["id", "lst", "st"])
    for c in ("id", "lst", "st"):
        assert got[c] == t.column(c).to_pylist(), c


def test_nested_spark_written_orc(spark, tmp_path):
    from pyspark.sql import functions as F

    out = str(tmp_path / "spark_nested_orc")
    df = spark.range(150).select(
        F.col("id"),
        F.when(F.col("id") % 7 == 0, F.lit(None)).otherwise(
            F.transform(
                F.when(
                    (F.col("id") % 4).cast("int") >= 1,
                    F.sequence(F.lit(1), (F.col("id") % 4).cast("int")),
                ).otherwise(F.expr("array()").cast("array<int>")),
                lambda i: F.when(i == 2, F.lit(None).cast("bigint")).otherwise(
                    (F.col("id") * 10 + i).cast("bigint")
                ),
            )
        ).alias("lst"),
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(
            F.struct(
                F.concat(F.lit("v"), F.col("id").cast("string")).alias("a"),
                (F.col("id") * 0.5).alias("b"),
            )
        ).alias("st"),
    )
    df.coalesce(1).write.mode("overwrite").orc(out)
    import glob

    (path,) = glob.glob(f"{out}/part-*.orc")
    ref = {r["id"]: r for r in df.collect()}
    mine = read_orc_nested_columns(path, ["id", "lst", "st"])
    for i, rid in enumerate(mine["id"]):
        exp = ref[rid]
        assert mine["lst"][i] == exp["lst"], rid
        if exp["st"] is None:
            assert mine["st"][i] is None
        else:
            assert mine["st"][i] == {"a": exp["st"]["a"], "b": exp["st"]["b"]}


def test_nested_deep_shapes_assemble_generically_orc(tmp_path):
    # round 13: the generic recursive node reader takes every former
    # decline — three-deep lists, map<k,map>, struct<map>
    path = str(tmp_path / "deep_lll.orc")
    po.write_table(pa.table({"lll": pa.array(
        [[[[1]]], None, [[[2, None], []], None], [[]], []],
        pa.list_(pa.list_(pa.list_(pa.int64())))
    )}), path)
    assert read_orc_nested_columns(path, ["lll"])["lll"] == [
        [[[1]]], None, [[[2, None], []], None], [[]], [],
    ]
    path = str(tmp_path / "deep_mm.orc")
    po.write_table(pa.table({"mm": pa.array(
        [[("k", [("x", 1)])], None, [("e", [])], []],
        pa.map_(pa.string(), pa.map_(pa.string(), pa.int64())),
    )}), path)
    assert read_orc_nested_columns(path, ["mm"])["mm"] == [
        {"k": {"x": 1}}, None, {"e": {}}, {},
    ]
    path = str(tmp_path / "deep_sm.orc")
    po.write_table(pa.table({"sm": pa.array(
        [{"m": {"k": 1}, "t": 7}, {"m": None, "t": 8}, None],
        pa.struct([
            ("m", pa.map_(pa.string(), pa.int64())), ("t", pa.int64()),
        ]),
    )}), path)
    assert read_orc_nested_columns(path, ["sm"])["sm"] == [
        {"m": {"k": 1}, "t": 7}, {"m": None, "t": 8}, None,
    ]
    # map<k, list> decodes (round 12 specialist path, unchanged)
    path = str(tmp_path / "deep_mv.orc")
    po.write_table(pa.table({"mv": pa.array(
        [[("k", [1, 2])]], pa.map_(pa.string(), pa.list_(pa.int64()))
    )}), path)
    assert read_orc_nested_columns(path, ["mv"])["mv"] == [{"k": [1, 2]}]


def test_nested_truncation_and_bitflip_never_hang_orc(tmp_path):
    t = _nested_orc_table(n=200)
    path = tmp_path / "nvictim.orc"
    po.write_table(t, str(path), compression="ZLIB")
    blob = path.read_bytes()
    good = read_orc_nested_columns(blob, ["lst", "st"])
    for off in (30, len(blob) // 3, len(blob) // 2, 2 * len(blob) // 3):
        dam = bytearray(blob)
        dam[off] ^= 0xFF
        try:
            got = read_orc_nested_columns(bytes(dam), ["lst", "st"])
            assert len(got["lst"]) == len(good["lst"])
        except Exception as exc:
            assert not isinstance(exc, (SystemExit, KeyboardInterrupt))
    for cut in (len(blob) - 7, len(blob) // 2, 20):
        with pytest.raises(Exception):
            read_orc_nested_columns(blob[:cut], ["lst", "st"])


def test_pure_writer_decimal_scale_mismatch_declines(tmp_path):
    import decimal

    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    with pytest.raises(ValueError, match="does not fit scale"):
        build_orc_bytes(
            {"d": [decimal.Decimal("1.234")]}, {"d": "decimal(9,2)"}
        )


def test_stripe_stats_and_pruned_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_pruned_columns,
        read_stripe_stats,
    )

    out = str(tmp_path / "prune")
    (
        spark.range(30000)
        .select(
            F.col("id").alias("x"),
            F.concat(F.lit("r"), F.col("id").cast("string")).alias("y"),
        )
        .repartitionByRange(1, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .option("orc.stripe.size", 65536)
        .orc(out)
    )
    import glob

    (path,) = glob.glob(f"{out}/part-*.orc")
    stats = read_stripe_stats(path)
    assert len(stats) >= 2  # several stripes with tight ranges
    s0 = stats[0][1]  # column id 1 = x
    assert s0["min"] == 0 and s0["max"] < 30000 and not s0["has_null"]
    # range hitting only the tail stripe(s) prunes the head
    data, r, t = read_orc_pruned_columns(
        path, ["x", "y"], "x", lo=29000, hi=29500
    )
    assert r < t, (r, t)
    assert set(range(29000, 29501)) <= set(data["x"])
    # unbounded reads everything
    full, r2, t2 = read_orc_pruned_columns(path, ["x"], "x")
    assert r2 == t2 and full["x"] == list(range(30000))
    # disjoint range decodes nothing
    none, r3, _ = read_orc_pruned_columns(path, ["x"], "x", lo=10**9)
    assert r3 == 0 and none["x"] == []
    # string-keyed pruning via StringStatistics: the r-prefixed keys
    # overlap lexicographically across stripes ("r29990" < "r999"),
    # so conservativeness is the contract here — all requested values
    # present, stripes kept whenever their [min,max] overlaps
    d2, rs, ts = read_orc_pruned_columns(
        path, ["y"], "y", lo="r29990", hi="r29995"
    )
    assert rs <= ts and {"r29990", "r29995"} <= set(d2["y"])
    # a range above every stripe's lexicographic max prunes all
    _d3, rz, _tz = read_orc_pruned_columns(path, ["y"], "y", lo="zzz")
    assert rz == 0


def test_pure_writer_multi_stripe_stats_and_own_pruning(spark, tmp_path):
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )
    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_pruned_columns,
        read_stripe_stats,
    )

    n = 5000
    cols = {
        "x": list(range(n)),
        "s": [f"k{i:06d}" for i in range(n)],
        "d": [None if i % 97 == 0 else i * 0.5 for i in range(n)],
    }
    ddl = {"x": "bigint", "s": "string", "d": "double"}
    path = str(tmp_path / "ms.orc")
    open(path, "wb").write(
        build_orc_bytes(cols, ddl, "zlib", stripe_rows=1000)
    )
    # reference readers: pyarrow AND Spark JVM
    t = po.ORCFile(path).read()
    for c in cols:
        assert t.column(c).to_pylist() == cols[c], c
    rows = spark.read.orc(path).orderBy("x").collect()
    assert [r.x for r in rows] == cols["x"]
    assert [r.s for r in rows[:3]] == cols["s"][:3]
    # our own stats read back exactly what was written
    stats = read_stripe_stats(path)
    assert len(stats) == 5
    assert stats[2][1] == {
        "n": 1000, "min": 2000, "max": 2999, "has_null": False,
    }
    assert stats[0][2]["min"] == "k000000"
    assert stats[0][2]["max"] == "k000999"
    assert stats[3][3]["has_null"] is True  # the d-null stripe rows
    # and our own pruner skips on them
    data, r, tt = read_orc_pruned_columns(
        path, ["x", "s"], "x", lo=3200, hi=3400
    )
    assert (r, tt) == (1, 5)
    assert set(range(3200, 3401)) <= set(data["x"])
    # NaN in a stripe suppresses double min/max but keeps counts
    cols2 = {"d": [1.0, float("nan"), 2.0]}
    p2 = str(tmp_path / "nan.orc")
    open(p2, "wb").write(build_orc_bytes(cols2, {"d": "double"}))
    s2 = read_stripe_stats(p2)
    assert s2[0][1]["min"] is None and s2[0][1]["n"] == 3


def test_pure_writer_dictionary_v2_strings(spark, tmp_path):
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    n = 4000
    cols = {
        "k": list(range(n)),
        "cat": [None if i % 53 == 0 else f"cat{i % 7}" for i in range(n)],
        "uni": [f"u{i}" for i in range(n)],  # high-card stays DIRECT_V2
    }
    ddl = {"k": "bigint", "cat": "string", "uni": "string"}
    path = str(tmp_path / "dict.orc")
    open(path, "wb").write(
        build_orc_bytes(cols, ddl, "zlib", stripe_rows=1500)
    )
    t = po.ORCFile(path).read()
    for c in cols:
        assert t.column(c).to_pylist() == cols[c], c
    assert read_orc_columns(path, list(cols)) == cols
    rows = spark.read.orc(path).orderBy("k").collect()
    assert [r.cat for r in rows] == cols["cat"]
    # the dict variant is genuinely smaller than forced DIRECT_V2
    # (one dict-ineligible unique suffix per value defeats the dict)
    blob_direct = build_orc_bytes(
        {"cat": [None if v is None else v + str(i) for i, v in enumerate(cols["cat"])]},
        {"cat": "string"}, "none",
    )
    blob_dict = build_orc_bytes(
        {"cat": cols["cat"]}, {"cat": "string"}, "none"
    )
    assert len(blob_dict) < len(blob_direct) // 2


def test_writer_high_precision_decimal_no_silent_rounding():
    """Round-11 regression (ADVICE high, confirmed repro): the scale
    shift ran under the DEFAULT decimal context (prec=28), so a
    decimal(38,2) value with >28 significant digits was silently
    ROUNDED before the fit check — which then passed because the
    rounded result is integral. The shift must run at full precision
    and values whose digit count exceeds the declared precision must
    decline loudly."""
    import decimal

    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    D = decimal.Decimal
    big = D("123456789012345678901234567890123456.78")
    blob = build_orc_bytes({"x": [big, D("1.50")]}, {"x": "decimal(38,2)"})
    t = po.ORCFile(io.BytesIO(blob)).read()
    assert t.column("x").to_pylist() == [big, D("1.50")]
    # own reader round-trips the full 38 digits too
    assert read_orc_columns(blob, ["x"])["x"] == [big, D("1.50")]
    # declared-precision overflow declines (was silently truncated)
    with pytest.raises(ValueError, match="precision"):
        build_orc_bytes({"x": [D("12345.67")]}, {"x": "decimal(4,2)"})
    # scale misfit still declines
    with pytest.raises(ValueError, match="scale"):
        build_orc_bytes({"x": [D("1.234")]}, {"x": "decimal(10,2)"})


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy"])
def test_pure_writer_nested_list_struct(codec):
    """Round-11: one-level LIST/STRUCT through the pure ORC writer —
    LIST parent emits PRESENT + unsigned-RLEv2 LENGTH with the child
    column carrying flattened elements; STRUCT parent emits PRESENT
    with per-field child columns sized by the present rows; pre-order
    type-tree ids. Read back by pyarrow (reference) AND the repo's own
    nested reader, multi-stripe, all codecs."""
    import random

    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )
    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )

    rnd = random.Random(5)
    n = 2000
    lists, slists, structs = [], [], []
    for i in range(n):
        if i % 13 == 0:
            lists.append(None)
        elif i % 7 == 0:
            lists.append([])
        else:
            lists.append([
                None if rnd.random() < 0.1 else rnd.randint(-1000, 1000)
                for _ in range(rnd.randint(1, 6))
            ])
        if i % 11 == 0:
            slists.append(None)
        elif i % 5 == 0:
            slists.append([])
        else:
            slists.append([
                None if rnd.random() < 0.1 else f"t{rnd.randint(0, 50)}"
                for _ in range(rnd.randint(1, 4))
            ])
        structs.append(
            None if i % 17 == 0 else {
                "a": None if i % 3 == 0 else i * 7,
                "b": None if i % 4 == 0 else f"s{i % 29}",
            }
        )
    cols = {"id": list(range(n)), "li": lists, "ls": slists, "st": structs}
    ddl = {"id": "bigint", "li": "array<bigint>", "ls": "array<string>",
           "st": "struct<a:bigint,b:string>"}
    blob = build_orc_bytes(cols, ddl, codec, stripe_rows=700)
    t = po.ORCFile(io.BytesIO(blob)).read()
    assert t.column("id").to_pylist() == cols["id"]
    assert t.column("li").to_pylist() == lists
    assert t.column("ls").to_pylist() == slists
    assert t.column("st").to_pylist() == structs
    mine = read_orc_nested_columns(blob, ["li", "st"])
    assert mine["li"] == lists
    assert mine["st"] == structs
    # three-deep lists write through the generic node emitter
    # (round 13) and read back via the reference reader
    deep = build_orc_bytes(
        {"m": [[[[1]]]]}, {"m": "array<array<array<bigint>>>"}, "none"
    )
    assert po.read_table(io.BytesIO(deep)).column("m").to_pylist() == [
        [[[1]]]
    ]


def test_pure_writer_nested_spark_reread(spark, tmp_path):
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    n = 3000
    cols = {
        "id": list(range(n)),
        "li": [None if i % 9 == 0 else [i, i + 1, None][: 1 + i % 3]
               for i in range(n)],
        "st": [None if i % 8 == 0 else {"a": i, "b": f"v{i % 5}"}
               for i in range(n)],
    }
    ddl = {"id": "bigint", "li": "array<bigint>",
           "st": "struct<a:bigint,b:string>"}
    path = str(tmp_path / "nested.orc")
    open(path, "wb").write(build_orc_bytes(cols, ddl, "zlib"))
    rows = spark.read.orc(path).orderBy("id").collect()
    assert [r.li for r in rows] == [
        None if v is None else list(v) for v in cols["li"]
    ]
    assert [
        None if r.st is None else {"a": r.st.a, "b": r.st.b} for r in rows
    ] == cols["st"]


@pytest.mark.parametrize("comp", ["UNCOMPRESSED", "ZLIB", "SNAPPY", "ZSTD"])
def test_nested_list_struct_and_map_decode(comp):
    """Round 11: list<struct<scalars>> (element STRUCT with its own
    PRESENT over all elements, field columns sized by present
    elements) and map<k,v> (LIST layout with key+value children)
    decode against pyarrow-written reference bytes, multi-stripe."""
    import random

    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )

    rnd = random.Random(7)
    n = 3000
    ls_rows, map_rows = [], []
    for i in range(n):
        if i % 13 == 0:
            ls_rows.append(None)
        elif i % 7 == 0:
            ls_rows.append([])
        else:
            ls_rows.append([
                None if rnd.random() < 0.08 else {
                    "a": None if rnd.random() < 0.1 else rnd.randint(-99, 99),
                    "b": None if rnd.random() < 0.1 else f"x{rnd.randint(0, 20)}",
                }
                for _ in range(rnd.randint(1, 5))
            ])
        if i % 11 == 0:
            map_rows.append(None)
        elif i % 5 == 0:
            map_rows.append({})
        else:
            map_rows.append({
                f"k{j}": (None if rnd.random() < 0.1 else j * i)
                for j in range(rnd.randint(1, 4))
            })
    t = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "ls": pa.array(
            ls_rows,
            pa.list_(pa.struct([("a", pa.int64()), ("b", pa.string())])),
        ),
        "m": pa.array(
            [None if r is None else list(r.items()) for r in map_rows],
            pa.map_(pa.string(), pa.int64()),
        ),
    })
    buf = io.BytesIO()
    po.write_table(t, buf, compression=comp, stripe_size=64 * 1024)
    mine = read_orc_nested_columns(buf.getvalue(), ["ls", "m", "id"])
    assert mine["id"] == list(range(n))
    assert mine["ls"] == ls_rows
    assert mine["m"] == map_rows
    # deeper shapes assemble through the generic node reader (round 13)
    t2 = pa.table({
        "lll": pa.array(
            [[[[1]]]], pa.list_(pa.list_(pa.list_(pa.int64())))
        ),
    })
    buf2 = io.BytesIO()
    po.write_table(t2, buf2)
    assert read_orc_nested_columns(buf2.getvalue(), ["lll"])["lll"] == [
        [[[1]]]
    ]


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy"])
def test_pure_writer_list_struct_and_map(codec, tmp_path):
    """Round 11 write-side twin of test_nested_list_struct_and_map_
    decode: the pure ORC writer emits list<struct<scalars>> (LIST
    parent LENGTH → element STRUCT with its own PRESENT → field leaves
    over present elements) and map<k,v> (MAP node with key/value
    children over the summed lengths) — read back by pyarrow and the
    repo's own nested reader, multi-stripe."""
    import random

    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    rnd = random.Random(9)
    n = 1500
    ls_rows, map_rows = [], []
    for i in range(n):
        if i % 13 == 0:
            ls_rows.append(None)
        elif i % 7 == 0:
            ls_rows.append([])
        else:
            ls_rows.append([
                None if rnd.random() < 0.08 else {
                    "a": None if rnd.random() < 0.1 else rnd.randint(-99, 99),
                    "b": None if rnd.random() < 0.1 else f"x{rnd.randint(0, 20)}",
                }
                for _ in range(rnd.randint(1, 5))
            ])
        if i % 11 == 0:
            map_rows.append(None)
        elif i % 5 == 0:
            map_rows.append({})
        else:
            map_rows.append({
                f"k{j}": (None if rnd.random() < 0.1 else j * i)
                for j in range(rnd.randint(1, 4))
            })
    cols = {"id": list(range(n)), "ls": ls_rows, "m": map_rows}
    ddl = {"id": "bigint", "ls": "array<struct<a:bigint,b:string>>",
           "m": "map<string,bigint>"}
    blob = build_orc_bytes(cols, ddl, codec, stripe_rows=600)
    t = po.ORCFile(io.BytesIO(blob)).read()
    assert t.column("id").to_pylist() == cols["id"]
    assert t.column("ls").to_pylist() == ls_rows
    assert [
        None if r is None else dict(r) for r in t.column("m").to_pylist()
    ] == map_rows
    mine = read_orc_nested_columns(blob, ["ls", "m"])
    assert mine["ls"] == ls_rows
    assert mine["m"] == map_rows


def test_pure_writer_list_struct_map_spark_reread(spark, tmp_path):
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    n = 2000
    cols = {
        "id": list(range(n)),
        "ls": [None if i % 9 == 0 else
               [{"a": i, "b": f"v{i % 5}"}, None][: 1 + i % 2]
               for i in range(n)],
        "m": [None if i % 8 == 0 else {"x": i, "y": None}
              for i in range(n)],
    }
    ddl = {"id": "bigint", "ls": "array<struct<a:bigint,b:string>>",
           "m": "map<string,bigint>"}
    path = str(tmp_path / "wn2spark.orc")
    open(path, "wb").write(build_orc_bytes(cols, ddl, "zlib"))
    rows = spark.read.orc(path).orderBy("id").collect()
    assert [
        None if r.ls is None else [
            None if e is None else {"a": e.a, "b": e.b} for e in r.ls
        ]
        for r in rows
    ] == cols["ls"]
    assert [None if r.m is None else dict(r.m) for r in rows] == cols["m"]


def test_rlev2_encoder_run_detection_roundtrip():
    """Round 11: the writer's RLEv2 encoder emits SHORT_REPEAT /
    fixed-delta DELTA / DIRECT by run shape; every emission must
    round-trip through the decoder and pin its wire form."""
    import random as _random

    from simple_data_engineering_project_spark.operators.orc_write import (
        rlev2_encode,
    )

    # SHORT_REPEAT wire form: header (width-1)<<3 | (len-3), BE value
    assert rlev2_encode([7, 7, 7, 7, 7], signed=True) == bytes([0x02, 14])
    # fixed-delta DELTA wire form: 0xC0|len-1 hi, len-1 lo, base, delta
    blob = rlev2_encode([100, 98, 96, 94], signed=True)
    assert blob[:2] == bytes([0xC0, 0x03])
    assert rlev2_decode(blob, 4, signed=True) == [100, 98, 96, 94]
    # mixed shapes round-trip
    rnd = _random.Random(3)
    for signed in (True, False):
        for vals in (
            [], [5], [5, 5], [7] * 11, [7] * 600, list(range(2000)),
            list(range(2000, 0, -1)), [0, 2, 4, 6, 8], [0] * 513,
            [3] * 4 + list(range(100)) + [9] * 20
            + [rnd.randint(0, 50) for _ in range(77)],
            [rnd.randint(0, 2**62) for _ in range(997)],
        ):
            blob = rlev2_encode(vals, signed)
            assert rlev2_decode(blob, len(vals), signed) == vals, (
                signed, vals[:6],
            )
    # size actually shrinks vs all-DIRECT on the shapes the writer hits
    from simple_data_engineering_project_spark.operators.orc_write import (
        rlev2_direct_encode,
    )

    mono = list(range(5000))
    assert len(rlev2_encode(mono, True)) < len(
        rlev2_direct_encode(mono, True)
    ) / 10
    const = [2] * 5000
    assert len(rlev2_encode(const, False)) < len(
        rlev2_direct_encode(const, False)
    ) / 25


def test_pure_writer_deep_shapes_edge_residue_orc():
    """Round-11 adversarial probes pinned: bigint-keyed maps, lists
    whose elements are ALL None, int64-boundary RLEv2 values."""
    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
        rlev2_encode,
    )

    m = [None, {}, {1: 10, 2: None}, {7: 70}]
    blob = build_orc_bytes({"m": m}, {"m": "map<bigint,bigint>"}, "zlib")
    assert [
        None if r is None else dict(r)
        for r in po.ORCFile(io.BytesIO(blob)).read().column("m").to_pylist()
    ] == m
    assert read_orc_nested_columns(blob, ["m"])["m"] == m

    ls = [[None, None], None, [None]]
    blob = build_orc_bytes({"ls": ls}, {"ls": "array<struct<a:bigint>>"}, "none")
    assert po.ORCFile(io.BytesIO(blob)).read().column("ls").to_pylist() == ls
    assert read_orc_nested_columns(blob, ["ls"])["ls"] == ls

    v = [-2**63, 2**63 - 1, -2**63, -2**63, -2**63, 0]
    assert rlev2_decode(rlev2_encode(v, True), len(v), True) == v


# int64 extremes: the true delta between -2^63 and 2^63-1 does not fit
# int64, so a wrapping subtraction would emit a wrong DELTA run
_INT64_EDGES = [-(2**63), 2**63 - 1] + [2**63 - k for k in range(2, 40)] + [
    -(2**63), -(2**63) + 1, -(2**63) + 2, -(2**63) + 3, 0, 2**62, 2**62,
    2**62, 2**62 + 5, 2**62 + 10, 2**62 + 15, 2**62 + 20,
]


def test_rlev2_encode_int64_extremes_roundtrip():
    from simple_data_engineering_project_spark.operators.orc_write import (
        rlev2_encode,
    )

    v = _INT64_EDGES
    assert rlev2_decode(rlev2_encode(v, True), len(v), True) == v
    # mirrored and reversed orders walk the same edges downward
    for w in ([-x - 1 for x in v], v[::-1]):
        assert rlev2_decode(rlev2_encode(w, True), len(w), True) == w


def test_orc_int64_extremes_read_by_pyarrow():
    """The written file holds the values for both readers. pyarrow's
    C++ reader adds deltas in wrapping int64, so it alone would also
    accept a wrapped delta; the own reader adds exactly and does not."""
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    v = _INT64_EDGES
    blob = build_orc_bytes({"x": v}, {"x": "bigint"}, "none")
    assert po.ORCFile(io.BytesIO(blob)).read().column("x").to_pylist() == v
    assert read_orc_columns(blob, ["x"])["x"] == v


def test_rlev2_delta_decode_step_past_int64():
    """A DELTA run (width 64) whose one step is >= 2^63: a monotone
    jump from near -2^63 to near 2^63-1, then 16 unit steps. The
    vectorized prefix sum cannot hold that step; the decode must still
    be exact."""
    from simple_data_engineering_project_spark.operators.orc_write import (
        _WIDTHS,
        _varint,
        _zigzag,
    )

    want = [-(2**63), -(2**63) + 1] + [2**63 - 17 + k for k in range(17)]
    deltas = [b - a for a, b in zip(want[1:], want[2:])]
    assert deltas[0] >= 2**63 and len(deltas) >= 16
    length = len(want)
    wcode = _WIDTHS.index(64)
    blob = bytes([0xC0 | (wcode << 1) | ((length - 1) >> 8),
                  (length - 1) & 0xFF])
    blob += _varint(_zigzag(want[0])) + _varint(_zigzag(want[1] - want[0]))
    blob += b"".join(d.to_bytes(8, "big") for d in deltas)
    assert rlev2_decode(blob, length, True) == want


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy"])
def test_pure_writer_full_scalar_kind_set(codec, spark, tmp_path):
    """Round 11: the writer covers the reader's whole scalar kind set —
    BOOLEAN (bool-RLE DATA), TINYINT (byte-RLE), SMALLINT/INT (signed
    RLEv2), FLOAT (4-byte LE), DATE (epoch-day RLEv2) — read back by
    pyarrow, the own reader, and Spark's JVM reader."""
    import random
    import struct as _st

    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    rnd = random.Random(4)
    n = 3000
    f32 = lambda v: _st.unpack("<f", _st.pack("<f", v))[0]  # noqa: E731
    cols = {
        "b": [None if i % 11 == 0 else (i % 3 == 0) for i in range(n)],
        "t": [None if i % 13 == 0 else (i % 256) - 128 for i in range(n)],
        "s": [None if i % 7 == 0 else (i % 65536) - 32768 for i in range(n)],
        "i": [None if i % 9 == 0 else rnd.randint(-2**31, 2**31 - 1)
              for i in range(n)],
        "f": [None if i % 5 == 0 else f32(rnd.uniform(-1e30, 1e30))
              for i in range(n)],
        "d": [None if i % 17 == 0 else 18000 + (i % 4000) for i in range(n)],
    }
    ddl = {"b": "boolean", "t": "tinyint", "s": "smallint", "i": "int",
           "f": "float", "d": "date"}
    blob = build_orc_bytes(cols, ddl, codec, stripe_rows=700)
    t = po.ORCFile(io.BytesIO(blob)).read()
    for c in ("b", "t", "s", "i", "f"):
        assert t.column(c).to_pylist() == cols[c], (codec, c)
    assert t.column("d").cast("int32").to_pylist() == cols["d"]
    assert read_orc_columns(blob, list(cols)) == cols
    path = str(tmp_path / f"kinds_{codec}.orc")
    open(path, "wb").write(blob)
    df = spark.read.orc(path)
    got = df.selectExpr(
        "b", "CAST(t AS INT) t", "CAST(s AS INT) s", "i", "f",
        "CAST(d - DATE'1970-01-01' AS INT) AS dd",
    ).collect()
    assert sorted(
        (r.i for r in got if r.i is not None)
    ) == sorted(v for v in cols["i"] if v is not None)
    assert sorted(
        (r.dd for r in got if r.dd is not None)
    ) == sorted(v for v in cols["d"] if v is not None)


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy"])
def test_struct_list_both_directions_orc(codec, tmp_path, spark):
    """Round 11: struct<scalar, array<scalar>> reads from pyarrow-
    written ORC (list kid's PRESENT/LENGTH over present struct rows)
    AND writes through the pure writer — pyarrow, Spark-JVM and own
    reader read-backs."""
    import random

    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    rnd = random.Random(13)
    n = 1500
    rows = []
    for i in range(n):
        if i % 17 == 0:
            rows.append(None)
        else:
            v = (
                None if i % 7 == 0 else
                [] if i % 5 == 0 else
                [None if rnd.random() < 0.1 else rnd.randint(-99, 99)
                 for _ in range(rnd.randint(1, 4))]
            )
            rows.append({
                "a": None if i % 3 == 0 else i * 7,
                "v": v,
                "s": None if i % 4 == 0 else f"x{i % 9}",
            })
    # READ side: pyarrow-written
    t = pa.table({"st": pa.array(rows, pa.struct([
        ("a", pa.int64()), ("v", pa.list_(pa.int64())), ("s", pa.string()),
    ]))})
    buf = io.BytesIO()
    po.write_table(t, buf, compression="ZLIB", stripe_size=64 * 1024)
    assert read_orc_nested_columns(buf.getvalue(), ["st"])["st"] == rows
    # WRITE side
    blob = build_orc_bytes(
        {"st": rows}, {"st": "struct<a:bigint,v:array<bigint>,s:string>"},
        codec, stripe_rows=600,
    )
    assert po.ORCFile(io.BytesIO(blob)).read().column("st").to_pylist() == rows
    assert read_orc_nested_columns(blob, ["st"])["st"] == rows
    path = str(tmp_path / f"sl_{codec}.orc")
    open(path, "wb").write(blob)
    srows = spark.read.orc(path).collect()
    assert sorted(
        (r.st.a for r in srows if r.st is not None and r.st.a is not None)
    ) == sorted(
        r["a"] for r in rows if r is not None and r["a"] is not None
    )


def test_round11_review_findings_regressions(tmp_path):
    """Round-11 code-review findings, each a confirmed repro before
    the fix: (1) tinyint/smallint/int silently wrapped out-of-range
    values through byte-RLE masking / full-width RLEv2 streams;
    (2) FLOAT statistics were computed on unrounded doubles so the
    declared min could exceed the stored float32 minimum — a
    stats-trusting pruner would skip stripes holding matching rows;
    (3) struct<list> kid LENGTH streams mishandled 0.11 RLEv1 files
    (declined in r11, decoded since r12); (4) DDL comma splits broke
    decimal(p,s) struct fields."""
    import decimal as _dec
    import struct as _st

    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
        read_stripe_stats,
    )
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    # (1) narrow-type overflow declines loudly
    for t, bad in (("tinyint", 300), ("smallint", 100000), ("int", 2**40)):
        with pytest.raises(ValueError, match="out of range"):
            build_orc_bytes({"x": [bad]}, {"x": t})

    # (2) float stats match the stored float32 values exactly
    blob = build_orc_bytes({"f": [1.3, 2.7]}, {"f": "float"})
    f32 = lambda v: _st.unpack("<f", _st.pack("<f", v))[0]  # noqa: E731
    st = read_stripe_stats(blob)
    assert st[0][1]["min"] == f32(1.3) and st[0][1]["max"] == f32(2.7)

    # (3) 0.11-era struct<list> kid LENGTH streams route through the
    # RLEv1 decoder (round-12 promotion; formerly a loud decline)
    t = pa.table({"st": pa.array(
        [{"v": [1.5, 2.5]}, {"v": []}, None],
        pa.struct([("v", pa.list_(pa.float64()))])
    )})
    buf = io.BytesIO()
    po.write_table(t, buf, file_version="0.11")
    got = read_orc_nested_columns(buf.getvalue(), ["st"])["st"]
    assert got == [{"v": [1.5, 2.5]}, {"v": []}, None]

    # (4) decimal(p,s) struct fields parse and round-trip
    D = _dec.Decimal
    rows = [None, {"a": D("1.25"), "b": 7}, {"a": None, "b": None}]
    blob = build_orc_bytes(
        {"st": rows}, {"st": "struct<a:decimal(10,2),b:int>"}, "none"
    )
    assert po.ORCFile(io.BytesIO(blob)).read().column("st").to_pylist() == rows
    assert read_orc_nested_columns(blob, ["st"])["st"] == rows


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy"])
def test_list_list_both_directions_orc(codec, tmp_path, spark):
    """Round 11: list<list<scalar>> through ORC — inner LIST node with
    its own PRESENT/LENGTH over the outer elements — both
    directions."""
    import random

    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    rnd = random.Random(21)
    n = 1200
    rows = []
    for i in range(n):
        if i % 13 == 0:
            rows.append(None)
        elif i % 7 == 0:
            rows.append([])
        else:
            outer = []
            for _oi in range(rnd.randint(1, 4)):
                rr = rnd.random()
                if rr < 0.1:
                    outer.append(None)
                elif rr < 0.2:
                    outer.append([])
                else:
                    outer.append([
                        None if rnd.random() < 0.1 else rnd.randint(-99, 99)
                        for _ in range(rnd.randint(1, 3))
                    ])
            rows.append(outer)
    # READ side: pyarrow-written
    t = pa.table({"ll": pa.array(rows, pa.list_(pa.list_(pa.int64())))})
    buf = io.BytesIO()
    po.write_table(t, buf, compression="ZLIB", stripe_size=64 * 1024)
    assert read_orc_nested_columns(buf.getvalue(), ["ll"])["ll"] == rows
    # WRITE side
    blob = build_orc_bytes(
        {"id": list(range(n)), "ll": rows},
        {"id": "bigint", "ll": "array<array<bigint>>"}, codec,
        stripe_rows=500,
    )
    assert po.ORCFile(io.BytesIO(blob)).read().column("ll").to_pylist() == rows
    assert read_orc_nested_columns(blob, ["ll"])["ll"] == rows
    path = str(tmp_path / f"ll_{codec}.orc")
    open(path, "wb").write(blob)
    # Spark-JVM read-back: FULL value/structure comparison keyed by id
    srows = spark.read.orc(path).orderBy("id").collect()
    assert [
        None if r.ll is None else [
            None if x is None else list(x) for x in r.ll
        ]
        for r in srows
    ] == rows


def test_deep_nested_truncation_and_bitflip_never_hang_orc(tmp_path):
    """Adversarial-input sweep over the round-11 deep shapes written
    by the PURE ORC WRITER — same malformed-input contract."""
    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    n = 300
    cols = {
        "ls": [None if i % 13 == 0 else
               [{"a": i, "b": f"v{i % 5}"}, None][: 1 + i % 2]
               for i in range(n)],
        "m": [None if i % 11 == 0 else {"x": i, "y": None}
              for i in range(n)],
        "st": [None if i % 9 == 0 else {"a": i, "v": [i, None][: 1 + i % 2]}
               for i in range(n)],
        "ll": [None if i % 7 == 0 else [[i], None, []][: 1 + i % 3]
               for i in range(n)],
    }
    ddl = {"ls": "array<struct<a:bigint,b:string>>",
           "m": "map<string,bigint>",
           "st": "struct<a:bigint,v:array<bigint>>",
           "ll": "array<array<bigint>>"}
    blob = build_orc_bytes(cols, ddl, "zlib")
    good = read_orc_nested_columns(blob, list(cols))
    for off in (30, len(blob) // 3, len(blob) // 2, 2 * len(blob) // 3):
        dam = bytearray(blob)
        dam[off] ^= 0xFF
        try:
            got = read_orc_nested_columns(bytes(dam), list(cols))
            assert len(got["ls"]) == len(good["ls"])
        except Exception as exc:
            assert not isinstance(exc, (SystemExit, KeyboardInterrupt))
    for cut in (len(blob) - 6, len(blob) // 2, 40):
        with pytest.raises(Exception):
            read_orc_nested_columns(blob[:cut], list(cols))


def test_struct_mixed_decimal_and_array_fields():
    """Round-11 second-review regression (confirmed repro): the
    struct_mixed DDL branch still used a raw comma split, so a struct
    mixing decimal(p,s) with array fields declined with a garbage
    type name."""
    import decimal as _dec

    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    D = _dec.Decimal
    rows = [None, {"a": D("1.25"), "b": [1, 2]}, {"a": None, "b": None}]
    blob = build_orc_bytes(
        {"st": rows}, {"st": "struct<a:decimal(10,2),b:array<bigint>>"},
        "none",
    )
    assert po.ORCFile(io.BytesIO(blob)).read().column("st").to_pylist() == rows
    assert read_orc_nested_columns(blob, ["st"])["st"] == rows


def test_rlev1_randomized_cross_validation():
    """Round-12: randomized RLEv1 (file_version=0.11) fixtures across
    three codecs and multi-stripe layouts, cross-validated against the
    pyarrow reference reader — int runs/literals, dictionary and
    direct strings, timestamps, decimals, dates, list LENGTH streams,
    null mixes."""
    import datetime as _dt
    import decimal as _dec
    import random as _rnd

    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )

    _rnd.seed(1205)
    n = 6000
    epoch = _dt.date(1970, 1, 1)
    runs = []
    v = 0
    while len(runs) < n:
        v += _rnd.randint(-3, 3)
        runs.extend([v] * _rnd.randint(1, 60))
    runs = runs[:n]
    cols = {
        "i": pa.array(
            [_rnd.randint(-10**12, 10**12) if _rnd.random() > 0.1
             else None for _ in range(n)], pa.int64()),
        "r": pa.array(runs, pa.int32()),
        "s": pa.array(
            [_rnd.choice(["alpha", "beta", "gamma"])
             if _rnd.random() > 0.1 else None for _ in range(n)]),
        "u": pa.array(
            ["s%d-%s" % (i, "x" * _rnd.randint(0, 9))
             if _rnd.random() > 0.1 else None for i in range(n)]),
        "ts": pa.array(
            [_dt.datetime(2020, 1, 1)
             + _dt.timedelta(seconds=_rnd.randint(0, 10**8),
                             microseconds=_rnd.randint(0, 999999))
             if _rnd.random() > 0.1 else None for _ in range(n)],
            pa.timestamp("us")),
        "dc": pa.array(
            [_dec.Decimal(_rnd.randint(-10**10, 10**10)).scaleb(-4)
             if _rnd.random() > 0.1 else None for _ in range(n)],
            pa.decimal128(18, 4)),
        "l": pa.array(
            [[_rnd.randint(-100, 100)
              for _ in range(_rnd.randint(0, 5))]
             if _rnd.random() > 0.15 else None for _ in range(n)],
            pa.list_(pa.int32())),
        "d": pa.array(
            [epoch + _dt.timedelta(days=_rnd.randint(0, 20000))
             if _rnd.random() > 0.1 else None for _ in range(n)],
            pa.date32()),
    }
    t = pa.table(cols)
    for codec in ("uncompressed", "zlib", "snappy"):
        buf = io.BytesIO()
        po.write_table(t, buf, file_version="0.11", compression=codec,
                       stripe_size=64 * 1024)
        data = buf.getvalue()
        ref = po.ORCFile(io.BytesIO(data))
        assert ref.file_version == "0.11"
        if codec == "uncompressed":
            assert ref.nstripes > 1  # multi-stripe coverage
        ref_t = ref.read()
        got = read_orc_columns(data, ["i", "r", "s", "u", "d", "ts", "dc"])
        assert got["i"] == ref_t["i"].to_pylist()
        assert got["r"] == ref_t["r"].to_pylist()
        assert got["s"] == ref_t["s"].to_pylist()
        assert got["u"] == ref_t["u"].to_pylist()
        assert got["d"] == [
            None if x is None else (x - epoch).days
            for x in ref_t["d"].to_pylist()]
        assert got["ts"] == [
            None if x is None else
            ((x - _dt.datetime(1970, 1, 1)).days * 86400
             + (x - _dt.datetime(1970, 1, 1)).seconds) * 10**9
            + (x - _dt.datetime(1970, 1, 1)).microseconds * 1000
            for x in ref_t["ts"].to_pylist()]
        assert got["dc"] == ref_t["dc"].to_pylist()
        assert read_orc_nested_columns(data, ["l"])["l"] == \
            ref_t["l"].to_pylist()


def test_scan_orc_rle1_entry_stages_011_files(spark, sf_smoke):
    """The graded scan_orc_rle1 entry must actually exercise RLEv1: a
    silent fallback to 0.12 staging would leave the new decode path
    ungraded. Pin the staged files' version AND a spot row."""
    from simple_data_engineering_project_spark.plans import catalog as _cat
    from simple_data_engineering_project_spark.plans.catalog import _scratch

    import glob as _glob

    q = _cat()["scan_orc_rle1"]
    df = q.fn(spark, sf_smoke)
    rows = {r["o_orderkey"]: r for r in df.collect()}
    paths = sorted(
        _glob.glob(f"{_scratch(sf_smoke, 'orc_rle1_orders')}/part-*.orc")
    )
    assert paths, "entry staged no ORC files"
    for p in paths:
        assert po.ORCFile(p).file_version == "0.11"
    # spot-check derivations on one non-residue key
    k = next(k for k in sorted(rows) if k % 9 and k % 7 and k % 5 == 3)
    r = rows[k]
    assert r["tag"] == f"t-{k}"
    assert r["dte_days"] == 9131 + k % 2000
    assert r["dc_tenk"] == k * 625
    assert r["arr_len"] == 3
    assert r["arr_sum"] == 3 * k * 10 + 6


def test_orc_map_cell_shape_and_none_key_decline_descriptively():
    """Round-12 advice-fix twin of the parquet writer check."""
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    ddl = {"m": "map<string,bigint>"}
    with pytest.raises(ValueError, match="mapping"):
        build_orc_bytes({"m": [[("a", 1)]]}, ddl, "none")
    with pytest.raises(ValueError, match="None"):
        build_orc_bytes({"m": [{None: 1}]}, ddl, "none")
    rows = [{"a": 1, "b": None}, None, {}]
    blob = build_orc_bytes({"m": rows}, ddl, "none")
    got = po.ORCFile(io.BytesIO(blob)).read().column("m").to_pylist()
    assert [None if v is None else dict(v) for v in got] == rows


def _map_nested_fixture(n=2000):
    def mk_ms(i):
        if i % 7 == 0:
            return None
        if i % 5 == 0:
            return {}
        out = {}
        for k in range(i % 3 + 1):
            if (i + k) % 11 == 0:
                out[f"k{k}"] = None
            else:
                out[f"k{k}"] = {
                    "a": None if (i + k) % 13 == 0 else i * 10 + k,
                    "b": None if (i + k) % 17 == 0 else f"v{(i+k)%9}",
                }
        return out

    def mk_ml(i):
        if i % 7 == 0:
            return None
        if i % 5 == 0:
            return {}
        out = {}
        for k in range(i % 3 + 1):
            if (i + k) % 11 == 0:
                out[f"k{k}"] = None
            elif (i + k) % 13 == 0:
                out[f"k{k}"] = []
            else:
                out[f"k{k}"] = [
                    None if (j == 1 and (i + k) % 3 == 0)
                    else i * 100 + k * 10 + j
                    for j in range((i + k) % 4 + 1)
                ]
        return out

    return [mk_ms(i) for i in range(n)], [mk_ml(i) for i in range(n)]


@pytest.mark.parametrize("codec", ["uncompressed", "zlib", "snappy"])
def test_orc_map_nested_values_pyarrow_written(codec):
    """Round 12: map<string,struct> and map<string,list> decode from
    pyarrow-written ORC across codecs and multi-stripe layouts."""
    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )

    ms, ml = _map_nested_fixture()
    n = len(ms)
    t = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "ms": pa.array(
            [None if m is None else list(m.items()) for m in ms],
            pa.map_(pa.string(), pa.struct(
                [("a", pa.int64()), ("b", pa.string())]
            )),
        ),
        "ml": pa.array(
            [None if m is None else list(m.items()) for m in ml],
            pa.map_(pa.string(), pa.list_(pa.int64())),
        ),
    })
    buf = io.BytesIO()
    po.write_table(t, buf, compression=codec, stripe_size=64 * 1024)
    data = buf.getvalue()
    if codec == "uncompressed":
        assert po.ORCFile(io.BytesIO(data)).nstripes > 1
    got = read_orc_nested_columns(data, ["id", "ms", "ml"])
    assert got["id"] == list(range(n))
    assert got["ms"] == ms
    assert got["ml"] == ml


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy"])
def test_orc_map_nested_values_write_read(codec):
    """Own writer → pyarrow (reference) + own reader."""
    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    ms, ml = _map_nested_fixture(800)
    n = len(ms)
    blob = build_orc_bytes(
        {"id": list(range(n)), "ms": ms, "ml": ml},
        {
            "id": "bigint",
            "ms": "map<string,struct<a:bigint,b:string>>",
            "ml": "map<string,array<bigint>>",
        },
        codec,
    )
    t = po.ORCFile(io.BytesIO(blob)).read()
    assert [
        None if m is None else dict(m) for m in t.column("ms").to_pylist()
    ] == ms
    assert [
        None if m is None else dict(m) for m in t.column("ml").to_pylist()
    ] == ml
    own = read_orc_nested_columns(blob, ["id", "ms", "ml"])
    assert own["ms"] == ms and own["ml"] == ml


def test_orc_map_nested_values_spark_reads_our_file(spark, tmp_path):
    """Spark's JVM ORC reader is the second independent reader for the
    pure writer's map-with-nested-values layout."""
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    ms, ml = _map_nested_fixture(300)
    n = len(ms)
    blob = build_orc_bytes(
        {"id": list(range(n)), "ms": ms, "ml": ml},
        {
            "id": "bigint",
            "ms": "map<string,struct<a:bigint,b:string>>",
            "ml": "map<string,array<bigint>>",
        },
        "zlib",
    )
    p = tmp_path / "map5.orc"
    p.write_bytes(blob)
    rows = (
        spark.read.orc(str(p))
        .orderBy("id")
        .collect()
    )
    assert len(rows) == n
    for r in rows:
        i = r["id"]
        got_ms = None if r["ms"] is None else {
            k: (None if v is None else v.asDict()) for k, v in r["ms"].items()
        }
        got_ml = None if r["ml"] is None else dict(r["ml"])
        assert got_ms == ms[i], i
        assert got_ml == ml[i], i


def test_orc_map_nested_values_truncation_sweep():
    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    ms, ml = _map_nested_fixture(120)
    blob = build_orc_bytes(
        {"id": list(range(120)), "ms": ms, "ml": ml},
        {
            "id": "bigint",
            "ms": "map<string,struct<a:bigint,b:string>>",
            "ml": "map<string,array<bigint>>",
        },
        "none",
    )
    assert len(read_orc_nested_columns(blob, ["ms", "ml"])["ms"]) == 120
    for cut in (len(blob) - 6, len(blob) // 2, 40):
        with pytest.raises(Exception):
            read_orc_nested_columns(blob[:cut], ["ms", "ml"])
    rnd = random.Random(6)
    for _ in range(60):
        pos = rnd.randrange(len(blob))
        mut = bytearray(blob)
        mut[pos] ^= 1 << rnd.randrange(8)
        try:
            got = read_orc_nested_columns(bytes(mut), ["ms", "ml"])
            assert len(got["ms"]) == len(got["ml"])
        except Exception as exc:
            assert not isinstance(exc, (SystemExit, KeyboardInterrupt))


def test_rlev1_nested_shapes_decode():
    """Round-12: every nested LENGTH chain routes RLEv1 when the file
    is 0.11-era — map, list<struct>, list<list>, struct<list> all
    cross-validated against pyarrow on pyarrow-written 0.11 files."""
    from simple_data_engineering_project_spark.operators.orc_data import (
        read_orc_nested_columns,
    )

    n = 400
    rows_m = [
        None if i % 7 == 0 else
        {f"k{j}": (None if (i + j) % 5 == 0 else i * 10 + j)
         for j in range(i % 3)}
        for i in range(n)
    ]
    rows_ls = [
        None if i % 6 == 0 else
        [None if (i + j) % 7 == 0 else
         {"a": i + j, "b": f"s{j}"} for j in range(i % 4)]
        for i in range(n)
    ]
    rows_ll = [
        None if i % 5 == 0 else
        [None if (i + j) % 9 == 0 else
         [i * 10 + j * 2 + e for e in range(j % 3)]
         for j in range(i % 4)]
        for i in range(n)
    ]
    rows_sl = [
        None if i % 8 == 0 else
        {"v": None if i % 9 == 0 else [i + j for j in range(i % 3)]}
        for i in range(n)
    ]
    t = pa.table({
        "m": pa.array(
            [None if r is None else list(r.items()) for r in rows_m],
            pa.map_(pa.string(), pa.int64())),
        "ls": pa.array(rows_ls, pa.list_(
            pa.struct([("a", pa.int64()), ("b", pa.string())]))),
        "ll": pa.array(rows_ll, pa.list_(pa.list_(pa.int64()))),
        "sl": pa.array(rows_sl, pa.struct(
            [("v", pa.list_(pa.int64()))])),
    })
    buf = io.BytesIO()
    po.write_table(t, buf, file_version="0.11")
    data = buf.getvalue()
    assert po.ORCFile(io.BytesIO(data)).file_version == "0.11"
    got = read_orc_nested_columns(data, ["m", "ls", "ll", "sl"])
    assert got["m"] == rows_m
    assert got["ls"] == rows_ls
    assert got["ll"] == rows_ll
    assert got["sl"] == rows_sl


_GENERIC_WRITE_CASES_ORC = [
    ("array<array<array<bigint>>>",
     [[[[1, 2], [3]], [[4]]], None, [[[5], None], []], [[]], []]),
    ("map<string,map<string,bigint>>",
     [{"a": {"x": 1, "y": 2}, "b": {}}, None, {"c": {"z": None}}, {},
      {"d": None}]),
    ("map<string,array<struct<u:bigint,s:string>>>",
     [{"a": [{"u": 1, "s": "p"}, None], "b": []},
      {"c": [{"u": None, "s": "q"}]}, None, {}, None]),
    ("struct<m:map<string,bigint>,t:bigint>",
     [{"m": {"k": 1}, "t": 7}, {"m": None, "t": 8}, None,
      {"m": {}, "t": None}, {"m": {"z": 9}, "t": 1}]),
    ("array<map<string,bigint>>",
     [[{"a": 1}, {}, None], [], None, [{"b": 2, "c": 3}], None]),
    ("array<array<struct<f:double,g:array<bigint>>>>",
     [[[{"f": 1.5, "g": [1, 2]}, None]], [[]], None,
      [[{"f": None, "g": []}], [{"f": 2.0, "g": None}]], []]),
    ("map<string,struct<i:map<string,boolean>>>",
     [{"a": {"i": {"x": True}}}, None, {"b": {}}, {"c": {"i": None}},
      {}]),
]


def _canon_tree_orc(v, tree):
    """Canonical value per writer type tree (missing struct fields
    seat as None; ORC strings stay str in both readers)."""
    kind, det = tree
    if v is None:
        return None
    if kind == "scalar":
        return v
    if kind == "list":
        return [_canon_tree_orc(x, det) for x in v]
    if kind == "map":
        return {k: _canon_tree_orc(x, det[1]) for k, x in v.items()}
    return {n: _canon_tree_orc(v.get(n), sub) for n, sub in det}


@pytest.mark.parametrize("codec", ["none", "zlib", "snappy"])
@pytest.mark.parametrize("srows", [None, 2])
def test_generic_writer_deep_shapes_vs_pyarrow_orc(codec, srows):
    """Round 13 write side (ORC twin of the parquet battery): the
    recursive node emitter writes every formerly-declined composition;
    pyarrow.orc (reference reader) and the own generic node reader
    both read the files back value-exact across codecs and stripe
    splits."""
    from simple_data_engineering_project_spark.operators.orc_write import (
        _parse_ddl_tree,
        build_orc_bytes,
    )

    def pan(v, typ):
        if v is None:
            return None
        if pa.types.is_map(typ):
            return {k: pan(x, typ.item_type) for k, x in v}
        if pa.types.is_list(typ):
            return [pan(x, typ.value_type) for x in v]
        if pa.types.is_struct(typ):
            return {f.name: pan(v[f.name], f.type) for f in typ}
        return v

    for ddl, rows in _GENERIC_WRITE_CASES_ORC:
        tree = _parse_ddl_tree(ddl)
        data = build_orc_bytes(
            {"c": rows}, {"c": ddl}, compression=codec, stripe_rows=srows
        )
        want = [_canon_tree_orc(r, tree) for r in rows]
        tbl = po.read_table(io.BytesIO(data))
        got_pa = [
            pan(v, tbl.schema.field("c").type)
            for v in tbl.column("c").to_pylist()
        ]
        assert got_pa == want, (ddl, codec, srows)
        got_own = read_orc_nested_columns(data, ["c"])["c"]
        assert got_own == want, (ddl, codec, srows)


def test_generic_writer_validates_cells_orc():
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    with pytest.raises(ValueError, match="map key is None"):
        build_orc_bytes(
            {"c": [{None: {"x": 1}}]},
            {"c": "map<string,map<string,bigint>>"}, "none",
        )
    with pytest.raises(ValueError, match="list cell must be a sequence"):
        build_orc_bytes(
            {"c": [{"k": 5}]},
            {"c": "array<array<array<bigint>>>"}, "none",
        )


def test_generic_reader_composite_map_keys_orc(tmp_path):
    """Round 14 (formerly a loud decline): ORC map<composite,v>
    decodes as a LIST of {"key","value"} structs through the generic
    path, value-equal to pyarrow's tuple-list representation of the
    same file. Covers list keys, struct keys, and null/empty residue."""
    path = str(tmp_path / "listkey.orc")
    lk = pa.array(
        [
            [([1, 2], 5), ([3], 6)],
            [],
            None,
            [([None, 4], None)],
        ],
        pa.map_(pa.list_(pa.int64()), pa.int64()),
    )
    sk = pa.array(
        [
            [({"a": 1, "b": "x"}, [10, 11])],
            [({"a": None, "b": "y"}, [])],
            [],
            None,
        ],
        pa.map_(
            pa.struct([("a", pa.int64()), ("b", pa.string())]),
            pa.list_(pa.int64()),
        ),
    )
    po.write_table(pa.table({"lk": lk, "sk": sk}), path)
    got = read_orc_nested_columns(path, ["lk", "sk"])
    ref = po.ORCFile(path).read()

    def pairs(col):
        return [
            None if row is None else [
                {"key": k, "value": v} for k, v in row
            ]
            for row in col.to_pylist()
        ]

    assert got["lk"] == pairs(ref.column("lk"))
    assert got["sk"] == pairs(ref.column("sk"))


def test_generic_writer_validates_struct_cells_orc():
    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    with pytest.raises(ValueError, match="struct cell must be a dict"):
        build_orc_bytes(
            {"c": [[1, 2]]},
            {"c": "struct<m:map<string,bigint>,t:bigint>"}, "none",
        )


def test_generic_reader_union_columns_orc(spark, tmp_path):
    """Round 15 (formerly the LAST pure-format loud decline): ORC
    uniontype decodes through the generic path to the plain value per
    row — exactly pyarrow's to_pylist() for the same files. The
    fixture is staged by the in-container reference WRITER (the Java
    ORC library via py4j; neither pyarrow nor Spark SQL can author
    uniontype), covering three variants incl. two same-typed ones
    (tag-routing is positional, not type-driven), nulls, and variant
    values interleaved across row groups."""
    from py4j.java_gateway import get_field, set_field

    jvm = spark._jvm
    td = jvm.org.apache.orc.TypeDescription.fromString(
        "struct<u:uniontype<int,string,int>,w:int>"
    )
    p = str(tmp_path / "union.orc")
    path = jvm.org.apache.hadoop.fs.Path(p)
    w = jvm.org.apache.orc.OrcFile.createWriter(
        path,
        jvm.org.apache.orc.OrcFile.writerOptions(
            spark._jsc.hadoopConfiguration()
        ).setSchema(td),
    )
    batch = td.createRowBatch()
    cols = get_field(batch, "cols")
    u, wcol = cols[0], cols[1]
    tags = get_field(u, "tags")
    fields = get_field(u, "fields")
    set_field(u, "noNulls", False)
    isnull = get_field(u, "isNull")
    iv0 = get_field(fields[0], "vector")
    sv = fields[1]
    iv2 = get_field(fields[2], "vector")
    wv = get_field(wcol, "vector")
    n = 31
    expect = []
    for i in range(n):
        wv[i] = i
        if i % 7 == 3:
            isnull[i] = True
            expect.append(None)
            continue
        t = i % 3
        tags[i] = t
        if t == 0:
            iv0[i] = 1000 + i
            expect.append(1000 + i)
        elif t == 1:
            sv.setVal(i, bytearray(f"v-{i}".encode()))
            expect.append(f"v-{i}")
        else:
            iv2[i] = -2000 - i
            expect.append(-2000 - i)
    set_field(batch, "size", n)
    w.addRowBatch(batch)
    w.close()

    import pyarrow.orc as po

    ref = po.ORCFile(p).read()
    assert ref.column("u").to_pylist() == expect  # Java->pyarrow sanity
    got = read_orc_nested_columns(p, ["u", "w"])
    assert got["u"] == expect
    assert got["w"] == list(range(n))


def test_generic_writer_union_columns_orc(spark, tmp_path):
    """Round-15 write twin of the union decode: the generic writer
    emits UNION columns ((tag, value) cells → tag byte-RLE + variant
    children), and ALL THREE reference readers accept them — the Java
    ORC reader (the only in-container union WRITER, here re-reading),
    pyarrow's ORC C++, and the repo's own reader. Covers nulls,
    same-typed variants, a struct variant, multi-stripe layouts and
    zlib framing."""
    from py4j.java_gateway import get_field

    from simple_data_engineering_project_spark.operators.orc_write import (
        build_orc_bytes,
    )

    cells = [
        (0, 100), (1, "a"), None, (2, {"x": 7, "y": "p"}),
        (0, 200), None, (1, "ß-str"), (0, 0), (2, {"x": None, "y": "q"}),
    ]
    expect = [None if c is None else c[1] for c in cells]
    for codec in ("none", "zlib"):
        buf = build_orc_bytes(
            {"u": cells, "k": list(range(len(cells)))},
            {"u": "uniontype<bigint,string,struct<x:int,y:string>>",
             "k": "bigint"},
            compression=codec, stripe_rows=4,
        )
        got = read_orc_nested_columns(buf, ["u", "k"])
        assert got["u"] == expect, codec
        ref = po.ORCFile(io.BytesIO(buf)).read()
        pa_rows = ref.column("u").to_pylist()
        assert pa_rows == expect, codec

    # Java reader leg: schema accepted AND per-row tag/value content
    # decoded from the UnionColumnVector (review finding: a count-only
    # check would pass a writer bug Java interprets differently from
    # pyarrow's C++ reader)
    p = str(tmp_path / "own_union.orc")
    jcells = [(0, 5), (1, "z"), None, (0, -9), (1, "ß")]
    buf = build_orc_bytes(
        {"u": jcells, "k": list(range(len(jcells)))},
        {"u": "uniontype<bigint,string>", "k": "bigint"},
    )
    open(p, "wb").write(buf)
    jvm = spark._jvm
    reader = jvm.org.apache.orc.OrcFile.createReader(
        jvm.org.apache.hadoop.fs.Path(p),
        jvm.org.apache.orc.OrcFile.readerOptions(
            spark._jsc.hadoopConfiguration()
        ),
    )
    assert "uniontype<bigint,string>" in reader.getSchema().toString()
    rr = reader.rows()
    batch = reader.getSchema().createRowBatch()
    java_vals = []
    while rr.nextBatch(batch):
        u = get_field(batch, "cols")[0]
        tags = get_field(u, "tags")
        isnull = get_field(u, "isNull")
        nonulls = get_field(u, "noNulls")
        flds = get_field(u, "fields")
        iv = get_field(flds[0], "vector")
        sv = flds[1]
        svec = get_field(sv, "vector")
        sstart = get_field(sv, "start")
        slen = get_field(sv, "length")
        for r in range(get_field(batch, "size")):
            if not nonulls and isnull[r]:
                java_vals.append(None)
            elif tags[r] == 0:
                java_vals.append(iv[r])
            else:
                b = svec[r]
                java_vals.append(
                    bytes(b[sstart[r]:sstart[r] + slen[r]]).decode()
                )
    rr.close()
    assert java_vals == [None if c is None else c[1] for c in jcells]

    # validation gates
    with pytest.raises(ValueError, match="tag, value"):
        build_orc_bytes(
            {"u": [5]}, {"u": "uniontype<bigint,string>"}, "none"
        )
    with pytest.raises(ValueError, match="out of range"):
        build_orc_bytes(
            {"u": [(7, 5)]}, {"u": "uniontype<bigint,string>"}, "none"
        )


def test_null_composite_map_keys_java_fixture(spark, tmp_path):
    """Round-15 closure of the r14 review target 'map<composite,...>
    with null composite keys': the Java ORC writer (via py4j) CAN
    stage one — keys are a child column with its own PRESENT, so a
    null key is spec-legal — and the generic reader decodes it as a
    {'key': None, 'value': v} pair. pyarrow is deliberately NOT run
    on this fixture: its C++ reader hard-aborts the process (Check
    failed: 'Map array keys array should have no nulls'), so the own
    reader is strictly more robust than the reference here."""
    from py4j.java_gateway import get_field, set_field

    jvm = spark._jvm
    td = jvm.org.apache.orc.TypeDescription.fromString(
        "struct<m:map<struct<a:int>,int>>"
    )
    p = str(tmp_path / "nullkey.orc")
    w = jvm.org.apache.orc.OrcFile.createWriter(
        jvm.org.apache.hadoop.fs.Path(p),
        jvm.org.apache.orc.OrcFile.writerOptions(
            spark._jsc.hadoopConfiguration()
        ).setSchema(td),
    )
    batch = td.createRowBatch()
    m = get_field(batch, "cols")[0]
    offs = get_field(m, "offsets")
    lens = get_field(m, "lengths")
    keys = get_field(m, "keys")
    vals = get_field(m, "values")
    set_field(keys, "noNulls", False)
    kn = get_field(keys, "isNull")
    ka = get_field(get_field(keys, "fields")[0], "vector")
    vv = get_field(vals, "vector")
    offs[0] = 0
    lens[0] = 2
    ka[0] = 7
    vv[0] = 70
    kn[1] = True
    vv[1] = 71
    offs[1] = 2
    lens[1] = 1
    ka[2] = 9
    vv[2] = 90
    set_field(batch, "size", 2)
    w.addRowBatch(batch)
    w.close()

    got = read_orc_nested_columns(p, ["m"])
    assert got["m"] == [
        [{"key": {"a": 7}, "value": 70}, {"key": None, "value": 71}],
        [{"key": {"a": 9}, "value": 90}],
    ]
