"""Pure-Python parquet data-page reader vs the in-container references.

Every decode path is validated against pyarrow reading the SAME bytes
(codecs, encodings, page versions, nulls, multi-row-group layouts),
plus a Spark-written file (a second independent writer) and the
driver-generated testdata. Truncation/bit-flip sweeps pin the
fail-loudly contract for malformed inputs.
"""

from __future__ import annotations

import io

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from simple_data_engineering_project_spark.operators.parquet_data import (
    read_parquet_bytes,
    read_parquet_columns,
)


def _assert_matches(path, columns=None):
    ref = pq.read_table(path, columns=columns)
    cols = columns or ref.column_names
    mine = read_parquet_columns(str(path), cols)
    for c in cols:
        field = ref.schema.field(c)
        rv = ref.column(c).to_pylist()
        mv = mine[c]
        t = field.type
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            mv = [None if v is None else v.decode("utf-8") for v in mv]
        elif pa.types.is_timestamp(t):
            rv = ref.column(c).cast(pa.int64()).to_pylist()
        elif pa.types.is_date32(t):
            rv = ref.column(c).cast(pa.int32()).to_pylist()
        elif pa.types.is_decimal(t):
            # FLBA big-endian unscaled int
            rv = [
                None
                if v is None
                else int(v.scaleb(t.scale))
                for v in rv
            ]
            mv = [
                None
                if v is None
                else int.from_bytes(v, "big", signed=True)
                for v in mv
            ]
        assert mv == rv, (path, c, mv[:5], rv[:5])


def _table(n=500, with_nulls=True):
    import itertools

    rng = itertools.cycle([None, 1, 2, 3, 4, 5, 6, 7]) if with_nulls else None
    return pa.table(
        {
            "i32": pa.array(
                [None if with_nulls and i % 11 == 0 else i - 50 for i in range(n)],
                pa.int32(),
            ),
            "i64": pa.array(
                [None if with_nulls and i % 13 == 0 else i * 977 for i in range(n)],
                pa.int64(),
            ),
            "f64": pa.array(
                [None if with_nulls and i % 7 == 0 else i * 0.37 for i in range(n)],
                pa.float64(),
            ),
            "f32": pa.array(
                [None if with_nulls and i % 17 == 0 else float(i) for i in range(n)],
                pa.float32(),
            ),
            "s": pa.array(
                [
                    None
                    if with_nulls and i % 19 == 0
                    else (f"val-{i % 23}" if i % 2 else f"unique-{i}")
                    for i in range(n)
                ],
                pa.string(),
            ),
            "b": pa.array(
                [None if with_nulls and i % 29 == 0 else i % 3 == 0 for i in range(n)],
                pa.bool_(),
            ),
        }
    )


@pytest.mark.parametrize("codec", ["none", "snappy", "gzip", "zstd", "lz4"])
def test_codecs_cross_validated_vs_pyarrow(tmp_path, codec):
    t = _table()
    path = tmp_path / f"{codec}.parquet"
    pq.write_table(t, path, compression=codec)
    _assert_matches(path)


@pytest.mark.parametrize("dictionary", [True, False])
@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_encodings_and_page_versions(tmp_path, dictionary, page_version):
    t = _table()
    path = tmp_path / f"enc-{dictionary}-{page_version}.parquet"
    pq.write_table(
        t,
        path,
        compression="snappy",
        use_dictionary=dictionary,
        data_page_version=page_version,
    )
    _assert_matches(path)


def test_multi_row_group_multi_page(tmp_path):
    t = _table(n=5000)
    path = tmp_path / "multi.parquet"
    pq.write_table(
        t, path, compression="zstd", row_group_size=700, data_page_size=1024
    )
    assert pq.ParquetFile(path).metadata.num_row_groups > 1
    _assert_matches(path)


def test_required_columns_no_def_levels(tmp_path):
    t = _table(with_nulls=False)
    # an all-non-null pyarrow column is still OPTIONAL; force REQUIRED
    schema = pa.schema([pa.field(f.name, f.type, nullable=False) for f in t.schema])
    t = t.cast(schema)
    path = tmp_path / "req.parquet"
    pq.write_table(t, path, compression="snappy")
    _assert_matches(path)


def test_dictionary_fallback_to_plain_mid_chunk(tmp_path):
    # high-cardinality strings make the writer fall back from dictionary
    # to PLAIN pages inside one chunk — both page kinds must decode
    t = pa.table({"s": pa.array([f"u-{i}-{'x' * (i % 50)}" for i in range(20000)])})
    path = tmp_path / "fallback.parquet"
    pq.write_table(
        t, path, compression="snappy", dictionary_pagesize_limit=4096,
        data_page_size=2048,
    )
    _assert_matches(path)


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_delta_and_byte_stream_split_encodings(tmp_path, page_version):
    """Round-9 second pass: the DELTA family and BYTE_STREAM_SPLIT
    decode against pyarrow-WRITTEN reference bytes — including
    negative jumps, shared prefixes, nulls, and multi-page streams."""
    import random

    rnd = random.Random(9)
    n = 4000
    t = pa.table(
        {
            "i64": pa.array(
                [None if i % 13 == 0 else rnd.randint(-(2**62), 2**62) for i in range(n)],
                pa.int64(),
            ),
            "i32": pa.array(
                [None if i % 7 == 0 else rnd.randint(-(2**31), 2**31 - 1) for i in range(n)],
                pa.int32(),
            ),
            "mono": pa.array(range(n), pa.int64()),
            "s_pref": pa.array(
                [None if i % 11 == 0 else f"common/prefix/{i % 17}/doc-{i}" for i in range(n)]
            ),
            "s_len": pa.array([f"v{i}" * (i % 9) for i in range(n)]),
            "f64": pa.array(
                [None if i % 19 == 0 else rnd.uniform(-1e300, 1e300) for i in range(n)],
                pa.float64(),
            ),
            "f32": pa.array([float(i) * 0.25 for i in range(n)], pa.float32()),
        }
    )
    path = tmp_path / f"delta-{page_version}.parquet"
    pq.write_table(
        t,
        path,
        compression="snappy",
        use_dictionary=False,
        data_page_size=2048,  # force multiple pages per chunk
        data_page_version=page_version,
        column_encoding={
            "i64": "DELTA_BINARY_PACKED",
            "i32": "DELTA_BINARY_PACKED",
            "mono": "DELTA_BINARY_PACKED",
            "s_pref": "DELTA_BYTE_ARRAY",
            "s_len": "DELTA_LENGTH_BYTE_ARRAY",
            "f64": "BYTE_STREAM_SPLIT",
            "f32": "BYTE_STREAM_SPLIT",
        },
    )
    encs = {
        pq.ParquetFile(path).metadata.row_group(0).column(i).path_in_schema:
        pq.ParquetFile(path).metadata.row_group(0).column(i).encodings
        for i in range(7)
    }
    assert "DELTA_BINARY_PACKED" in encs["i64"]
    assert "DELTA_BYTE_ARRAY" in encs["s_pref"]
    assert "BYTE_STREAM_SPLIT" in encs["f64"]
    _assert_matches(path)


def test_temporal_and_decimal_physical_values(tmp_path):
    import datetime as dt

    t = pa.table(
        {
            "d": pa.array(
                [None if i % 5 == 0 else dt.date(2020, 1, 1) + dt.timedelta(days=i) for i in range(200)],
                pa.date32(),
            ),
            "ts": pa.array(
                [None if i % 7 == 0 else dt.datetime(2021, 1, 1) + dt.timedelta(seconds=i * 991) for i in range(200)],
                pa.timestamp("us"),
            ),
            "dec": pa.array(
                [None if i % 9 == 0 else __import__("decimal").Decimal(i * 13) / 100 for i in range(200)],
                pa.decimal128(18, 2),
            ),
        }
    )
    path = tmp_path / "temporal.parquet"
    pq.write_table(t, path, compression="snappy")
    _assert_matches(path)


def test_spark_written_file_second_independent_writer(spark, tmp_path):
    out = str(tmp_path / "sparkfile")
    spark.range(3000).selectExpr(
        "id",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE concat('cat-', id % 7) END AS s",
        "CAST(id AS DOUBLE) * 1.5 AS v",
        "id % 2 = 0 AS flag",
    ).coalesce(1).write.mode("overwrite").parquet(out)
    import glob

    (path,) = glob.glob(f"{out}/part-*.parquet")
    _assert_matches(path)


def test_driver_testdata_files(sf_smoke):
    for t, cols in [
        ("lineitem", ["l_orderkey", "l_partkey", "l_quantity", "l_shipdate"]),
        ("orders", ["o_orderkey", "o_totalprice", "o_orderstatus"]),
        ("embeddings", ["vec_id", "label"]),
    ]:
        _assert_matches(f"{sf_smoke}/{t}.parquet", cols)


def test_nested_and_unknown_fail_loudly(tmp_path):
    t = pa.table({"l": pa.array([[1, 2], [3]], pa.list_(pa.int64()))})
    path = tmp_path / "nested.parquet"
    pq.write_table(t, path)
    with pytest.raises((NotImplementedError, ValueError)):
        read_parquet_columns(str(path), ["l.list.element"])
    with pytest.raises(ValueError, match="not in file"):
        read_parquet_columns(str(path), ["missing_col"])


def test_pure_writer_read_by_pyarrow_duckdb_and_own_reader(tmp_path):
    """Write-side honesty: files authored byte-for-byte by
    parquet_write must be readable by BOTH in-container reference
    readers (pyarrow, DuckDB) with values, nulls, and logical string
    types intact — and by the repo's own page reader."""
    import duckdb

    from simple_data_engineering_project_spark.operators.parquet_write import (
        write_parquet_file,
    )

    cols = {
        "k": [1, None, -3, 2**31 - 1, -(2**31)],
        "big": [None, 2**62, -(2**62), 0, 7],
        "v": [1.5, float("-0.0"), None, 2.2250738585072014e-308, -1e300],
        "s": ["", None, "δ-utf8 ✓", "x" * 1000, "plain"],
    }
    types = {"k": "int", "big": "bigint", "v": "double", "s": "string"}
    for comp in ("none", "snappy"):
        path = str(tmp_path / f"w-{comp}.parquet")
        assert write_parquet_file(path, cols, types, compression=comp) == 5
        t = pq.read_table(path)
        assert t.to_pydict() == cols
        assert pa.types.is_string(t.schema.field("s").type)
        got = duckdb.sql(f"SELECT * FROM '{path}'").fetchall()
        assert [r[0] for r in got] == cols["k"]
        assert [r[3] for r in got] == cols["s"]
        mine = read_parquet_columns(path, ["k", "big", "v", "s"])
        assert mine["k"] == cols["k"]
        assert [None if x is None else x.decode() for x in mine["s"]] == cols["s"]


def test_pure_writer_all_null_and_single_row(tmp_path):
    from simple_data_engineering_project_spark.operators.parquet_write import (
        write_parquet_file,
    )

    path = str(tmp_path / "nulls.parquet")
    write_parquet_file(
        path,
        {"a": [None, None, None], "b": ["only", None, None]},
        {"a": "bigint", "b": "string"},
    )
    assert pq.read_table(path).to_pydict() == {
        "a": [None, None, None],
        "b": ["only", None, None],
    }
    path2 = str(tmp_path / "one.parquet")
    write_parquet_file(path2, {"x": [42]}, {"x": "int"})
    assert pq.read_table(path2).to_pydict() == {"x": [42]}


def test_pure_writer_rejects_unsupported(tmp_path):
    from simple_data_engineering_project_spark.operators.parquet_write import (
        write_parquet_file,
    )

    with pytest.raises(NotImplementedError, match="not writable"):
        write_parquet_file(
            str(tmp_path / "x.parquet"),
            {"a": [b"\x00"]},
            {"a": "binary"},
        )
    # brotli became WRITABLE in round 12 (own RFC 7932 encoder);
    # lzo remains the declined codec
    with pytest.raises(NotImplementedError, match="codec"):
        write_parquet_file(
            str(tmp_path / "x.parquet"), {"a": [1]}, {"a": "int"},
            compression="lzo",
        )
    with pytest.raises(ValueError, match="ragged"):
        write_parquet_file(
            str(tmp_path / "x.parquet"), {"a": [1], "b": [1, 2]},
            {"a": "int", "b": "int"},
        )


def test_v2_page_is_compressed_false_is_honored():
    """Review-pass regression: DataPageHeaderV2.is_compressed (field 7
    of the V2 header, NOT of the PageHeader) may be false while the
    chunk codec is snappy — the values region must then be used raw.
    pyarrow never writes this combination, so the page is hand-built
    with the writer's own thrift helpers."""
    import struct as _struct

    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_column_chunk,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        _i32_field,
        _struct_field,
    )

    values = [7, -3, 42]
    body = _struct.pack("<3i", *values)  # REQUIRED column: no levels
    # DataPageHeaderV2: 1=num_values 2=num_nulls 3=num_rows 4=encoding
    # 5=dl_byte_len 6=rl_byte_len 7=is_compressed(false)
    dph = bytearray()
    last = 0
    last = _i32_field(dph, last, 1, 3)
    last = _i32_field(dph, last, 2, 0)
    last = _i32_field(dph, last, 3, 3)
    last = _i32_field(dph, last, 4, 0)  # PLAIN
    last = _i32_field(dph, last, 5, 0)
    last = _i32_field(dph, last, 6, 0)
    from simple_data_engineering_project_spark.operators.parquet_write import (
        _field,
    )

    last = _field(dph, last, 7, 2)  # compact BOOL FALSE wire type
    dph.append(0)
    hdr = bytearray()
    last = 0
    last = _i32_field(hdr, last, 1, 3)  # DATA_PAGE_V2
    last = _i32_field(hdr, last, 2, len(body))
    last = _i32_field(hdr, last, 3, len(body))
    last = _struct_field(hdr, last, 8, bytes(dph))
    hdr.append(0)
    buf = bytes(hdr) + body
    col_meta = {1: 1, 4: 1, 5: 3, 9: 0}  # INT32, SNAPPY codec, 3 values
    leaf = {"type": 1, "type_length": 0, "max_def": 0, "max_rep": 0}
    assert read_column_chunk(buf, col_meta, leaf) == values


def test_truncation_and_bitflip_never_hang_or_lie(tmp_path):
    t = _table(n=300)
    path = tmp_path / "victim.parquet"
    pq.write_table(t, path, compression="snappy")
    blob = open(path, "rb").read()
    good = read_parquet_columns(str(path), ["i64", "s"])
    hurt = tmp_path / "hurt.parquet"
    # tail-preserving data corruption: flip bytes in the page region
    for off in (100, len(blob) // 3, len(blob) // 2):
        dam = bytearray(blob)
        dam[off] ^= 0xFF
        hurt.write_bytes(bytes(dam))
        try:
            got = read_parquet_columns(str(hurt), ["i64", "s"])
            # silent success must at least not corrupt the row count
            assert len(got["i64"]) == len(good["i64"])
        except Exception as exc:  # any loud error is acceptable
            assert not isinstance(exc, (SystemExit, KeyboardInterrupt))


# ---------------------------------------------------------------------
# Round 10: one-level nested (LIST / STRUCT) Dremel assembly + INT96
# ---------------------------------------------------------------------

from simple_data_engineering_project_spark.operators.parquet_data import (  # noqa: E402
    read_parquet_nested_columns,
)


def _nested_table(n=200):
    def lst(i):
        if i % 7 == 0:
            return None
        return [None if (i + j) % 5 == 0 else i * 100 + j for j in range(i % 4)]

    def lstr(i):
        if i % 11 == 0:
            return None
        return [None if j == 1 and i % 3 == 0 else f"s{i}-{j}" for j in range(i % 3)]

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
            "lstr": pa.array([lstr(i) for i in range(n)], pa.list_(pa.string())),
            "ld": pa.array(
                [None if i % 17 == 0 else [i + 0.5] * (i % 3) for i in range(n)],
                pa.list_(pa.float64()),
            ),
            "st": pa.array(
                [st(i) for i in range(n)],
                pa.struct([("a", pa.string()), ("b", pa.float64())]),
            ),
        }
    )


def _assert_nested_matches(path, columns):
    ref = pq.read_table(path, columns=columns)
    mine = read_parquet_nested_columns(str(path), columns)

    def dec(v):
        if isinstance(v, bytes):
            return v.decode("utf-8")
        if isinstance(v, list):
            return [dec(x) for x in v]
        if isinstance(v, dict):
            return {k: dec(x) for k, x in v.items()}
        return v

    for c in columns:
        rv = ref.column(c).to_pylist()
        mv = [dec(v) for v in mine[c]]
        assert mv == rv, (path, c, mv[:6], rv[:6])


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
@pytest.mark.parametrize("dictionary", [True, False])
@pytest.mark.parametrize("codec", ["none", "snappy", "zstd", "gzip"])
def test_nested_list_struct_vs_pyarrow(tmp_path, page_version, dictionary, codec):
    t = _nested_table()
    path = tmp_path / "nested.parquet"
    pq.write_table(
        t,
        path,
        data_page_version=page_version,
        use_dictionary=dictionary,
        compression=codec,
    )
    _assert_nested_matches(path, ["id", "lst", "lstr", "ld", "st"])


def test_nested_multi_row_group_and_page_spill(tmp_path):
    # Small row groups + tiny pages: lists span page boundaries inside
    # a chunk (levels continue across pages) but never row groups.
    t = _nested_table(n=500)
    path = tmp_path / "nested_rg.parquet"
    pq.write_table(
        t, path, row_group_size=64, data_page_size=256, use_dictionary=False
    )
    _assert_nested_matches(path, ["id", "lst", "lstr", "st"])


def test_nested_spark_written_second_independent_writer(spark, tmp_path):
    from pyspark.sql import functions as F

    out = str(tmp_path / "spark_nested")
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
    df.coalesce(1).write.mode("overwrite").parquet(out)
    import glob

    (path,) = glob.glob(f"{out}/part-*.parquet")
    ref = {r["id"]: r for r in df.collect()}
    mine = read_parquet_nested_columns(path, ["id", "lst", "st"])
    for i, rid in enumerate(mine["id"]):
        exp = ref[rid]
        got_lst = mine["lst"][i]
        assert got_lst == exp["lst"], (rid, got_lst, exp["lst"])
        got_st = mine["st"][i]
        if exp["st"] is None:
            assert got_st is None
        else:
            assert got_st["a"].decode("utf-8") == exp["st"]["a"]
            assert got_st["b"] == exp["st"]["b"]


def test_int96_timestamps_pyarrow_both_eras(tmp_path):
    import datetime

    ts = [
        datetime.datetime(1969, 7, 20, 20, 17, 40, 123456),
        datetime.datetime(2026, 8, 15, 12, 0, 0, 1),
        None,
        datetime.datetime(1900, 1, 1, 0, 0, 0, 500000),
        datetime.datetime(1970, 1, 1),
        datetime.datetime(2262, 4, 11, 23, 47, 16, 854775),
    ]
    exp = []
    for x in ts:
        if x is None:
            exp.append(None)
            continue
        d = x - datetime.datetime(1970, 1, 1)
        exp.append((d.days * 86400 + d.seconds) * 10**9 + d.microseconds * 1000)
    t = pa.table({"ts": pa.array(ts, pa.timestamp("us"))})
    for dic in (False, True):
        path = tmp_path / f"int96_{dic}.parquet"
        pq.write_table(
            t, path, use_deprecated_int96_timestamps=True, use_dictionary=dic
        )
        got = read_parquet_columns(str(path), ["ts"])["ts"]
        assert got == exp, (dic, got, exp)


def test_int96_spark_written_java_convention(spark, tmp_path):
    # Spark's INT96 writer uses the Java/Impala convention (true Julian
    # day + non-negative nanos-of-day) — the other of the two layouts
    # the signed-nanos decode must cover.
    from pyspark.sql import functions as F

    out = str(tmp_path / "spark_int96")
    old = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        df = spark.sql(
            "SELECT * FROM VALUES "
            "(timestamp'1969-07-20 20:17:40.123456'),"
            "(timestamp'2026-08-15 12:00:00.000001'),"
            "(CAST(NULL AS timestamp)),"
            "(timestamp'1970-01-01 00:00:00') AS t(ts)"
        )
        df.coalesce(1).write.mode("overwrite").parquet(out)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    import glob

    (path,) = glob.glob(f"{out}/part-*.parquet")
    got = read_parquet_columns(path, ["ts"])["ts"]
    exp = [
        -14182939876544000,
        1786795200000001000,
        None,
        0,
    ]
    # session TZ is UTC in tests, so literals are UTC wall-clock
    assert sorted(
        (x for x in got if x is not None)
    ) == sorted(x for x in exp if x is not None)
    assert got.count(None) == 1


def test_nested_deeper_shapes_assemble_generically(tmp_path):
    # round 13: the generic Dremel assembler takes every former
    # decline — three-deep lists, map<k,map>, struct<map>, list<map>
    path = tmp_path / "deep_lll.parquet"
    pq.write_table(pa.table({"lll": pa.array(
        [[[[1]]], None, [[[2, None], []], None], [[]], []],
        pa.list_(pa.list_(pa.list_(pa.int64())))
    )}), path)
    got = read_parquet_nested_columns(str(path), ["lll"])["lll"]
    assert got == [
        [[[1]]], None, [[[2, None], []], None], [[]], [],
    ]
    path = tmp_path / "deep_mm.parquet"
    pq.write_table(pa.table({"mm": pa.array(
        [[("k", [("x", 1)])], None, [("e", [])], []],
        pa.map_(pa.string(), pa.map_(pa.string(), pa.int64())),
    )}), path)
    got = read_parquet_nested_columns(str(path), ["mm"])["mm"]
    assert got == [{b"k": {b"x": 1}}, None, {b"e": {}}, {}]
    path = tmp_path / "deep_sm.parquet"
    pq.write_table(pa.table({"sm": pa.array(
        [{"m": {"k": 1}, "t": 7}, {"m": None, "t": 8}, None],
        pa.struct([
            ("m", pa.map_(pa.string(), pa.int64())), ("t", pa.int64()),
        ]),
    )}), path)
    got = read_parquet_nested_columns(str(path), ["sm"])["sm"]
    assert got == [
        {"m": {b"k": 1}, "t": 7}, {"m": None, "t": 8}, None,
    ]
    # map<k, list> decodes (round 12 specialist path, unchanged)
    path = tmp_path / "deep_mv.parquet"
    pq.write_table(pa.table({"mv": pa.array(
        [[("k", [1, 2])]], pa.map_(pa.string(), pa.list_(pa.int64()))
    )}), path)
    got = read_parquet_nested_columns(str(path), ["mv"])["mv"]
    assert got == [{b"k": [1, 2]}]


@pytest.mark.parametrize("pv", ["1.0", "2.0"])
@pytest.mark.parametrize("dic", [True, False])
def test_nested_list_struct_and_map(tmp_path, pv, dic):
    """Round 11: list<struct<scalars>> and map<k,v> assemble through
    the shared repeated-group Dremel pass — null list/empty list/null
    element/null field/null value residue, vs pyarrow-written files
    across page versions and dictionary modes."""
    import random

    rnd = random.Random(7)
    n = 1200
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
        "ls": pa.array(
            ls_rows,
            pa.list_(pa.struct([("a", pa.int64()), ("b", pa.string())])),
        ),
        "m": pa.array(
            [None if r is None else list(r.items()) for r in map_rows],
            pa.map_(pa.string(), pa.int64()),
        ),
    })
    path = tmp_path / f"lsmap-{pv}-{dic}.parquet"
    pq.write_table(
        t, path, compression="snappy", data_page_version=pv,
        use_dictionary=dic, row_group_size=500,
    )
    mine = read_parquet_nested_columns(str(path), ["ls", "m"])
    got_ls = [
        None if r is None else [
            None if e is None else {
                "a": e["a"],
                "b": None if e["b"] is None else e["b"].decode(),
            }
            for e in r
        ]
        for r in mine["ls"]
    ]
    assert got_ls == ls_rows
    got_m = [
        None if r is None else {k.decode(): v for k, v in r.items()}
        for r in mine["m"]
    ]
    assert got_m == map_rows


def test_nested_truncation_and_bitflip_never_hang_or_lie(tmp_path):
    t = _nested_table(n=150)
    path = tmp_path / "nvictim.parquet"
    pq.write_table(t, path, compression="snappy")
    blob = open(path, "rb").read()
    good = read_parquet_nested_columns(str(path), ["lst", "st"])
    hurt = tmp_path / "nhurt.parquet"
    for off in (120, len(blob) // 3, len(blob) // 2, 2 * len(blob) // 3):
        dam = bytearray(blob)
        dam[off] ^= 0xFF
        hurt.write_bytes(bytes(dam))
        try:
            got = read_parquet_nested_columns(str(hurt), ["lst", "st"])
            assert len(got["lst"]) == len(good["lst"])
        except Exception as exc:
            assert not isinstance(exc, (SystemExit, KeyboardInterrupt))
    for cut in (len(blob) - 9, len(blob) // 2, 60):
        hurt.write_bytes(blob[:cut])
        with pytest.raises(Exception):
            read_parquet_nested_columns(str(hurt), ["lst", "st"])


# ---------------------------------------------------------------------
# Round 10: writer dictionary pages + column statistics + row groups
# ---------------------------------------------------------------------


def test_pure_writer_dictionary_pages_read_by_all_three(tmp_path):
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    import duckdb

    n = 1200
    cols = {
        "k": [None if i % 97 == 0 else i % 5 for i in range(n)],
        "v": [None if i % 53 == 0 else f"cat{i % 7}" for i in range(n)],
        "hi": list(range(n)),  # high cardinality stays PLAIN
    }
    ddl = {"k": "bigint", "v": "string", "hi": "bigint"}
    for codec in ("none", "snappy"):
        path = tmp_path / f"dict_{codec}.parquet"
        path.write_bytes(build_parquet_bytes(cols, ddl, codec))
        md = pq.ParquetFile(path).metadata.row_group(0)
        by_name = {
            md.column(i).path_in_schema: md.column(i)
            for i in range(md.num_columns)
        }
        assert "PLAIN_DICTIONARY" in by_name["k"].encodings
        assert "PLAIN_DICTIONARY" in by_name["v"].encodings
        assert "PLAIN_DICTIONARY" not in by_name["hi"].encodings
        # reference reader
        t = pq.read_table(path)
        for c in cols:
            assert t.column(c).to_pylist() == cols[c], (codec, c)
        # second independent reference reader
        rows = duckdb.sql(
            f"SELECT count(*), count(k), count(v) FROM read_parquet('{path}')"
        ).fetchone()
        assert rows[0] == n
        # own page reader
        mine = read_parquet_columns(str(path), ["k", "v", "hi"])
        assert mine["k"] == cols["k"] and mine["hi"] == cols["hi"]
        assert [
            None if x is None else x.decode() for x in mine["v"]
        ] == cols["v"]


def test_pure_writer_statistics_cross_validated(tmp_path):
    from simple_data_engineering_project_spark.operators.parquet_meta import (
        read_footer_stats,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    import duckdb

    cols = {
        "i": [5, None, -3, 12, 7, None],
        "s": ["mango", "apple", None, "zebra", "kiwi", "apple"],
        "d": [0.0, -2.5, 3.75, None, 0.0, 1.0],
        "b": [True, True, None, False, True, True],
    }
    ddl = {"i": "bigint", "s": "string", "d": "double", "b": "boolean"}
    path = tmp_path / "stats.parquet"
    path.write_bytes(build_parquet_bytes(cols, ddl, "snappy"))
    # pyarrow honors min/max only when column_orders is present
    md = pq.ParquetFile(path).metadata.row_group(0)
    st = {
        md.column(i).path_in_schema: md.column(i).statistics
        for i in range(md.num_columns)
    }
    assert st["i"].has_min_max and (st["i"].min, st["i"].max) == (-3, 12)
    assert st["i"].null_count == 2
    assert (st["s"].min, st["s"].max) == ("apple", "zebra")
    assert (st["d"].min, st["d"].max) == (-2.5, 3.75)
    assert (st["b"].min, st["b"].max) == (False, True)
    # the -0.0 min convention is visible through DuckDB's raw view
    dk = {
        r[0]: r[1:]
        for r in duckdb.sql(
            f"SELECT path_in_schema, stats_min_value, stats_max_value, "
            f"stats_null_count FROM parquet_metadata('{path}')"
        ).fetchall()
    }
    assert dk["i"] == ("-3", "12", 2)
    assert dk["s"] == ("apple", "zebra", 1)
    assert dk["d"] == ("-2.5", "3.75", 1)
    # the IEEE zero convention: a chunk whose extremes are zeros writes
    # -0.0 as min and +0.0 as max
    pathz = tmp_path / "zeros.parquet"
    pathz.write_bytes(
        build_parquet_bytes({"z": [0.0, None, 0.0]}, {"z": "double"}, "none")
    )
    dkz = duckdb.sql(
        f"SELECT stats_min_value, stats_max_value "
        f"FROM parquet_metadata('{pathz}')"
    ).fetchone()
    assert dkz == ("-0.0", "0.0")
    # the repo's own footer walker sees the same null counts
    own = {r["column"]: r for r in read_footer_stats(str(path))}
    assert own["i"]["null_count"] == 2 and own["s"]["null_count"] == 1

    # NaN in a double chunk suppresses min/max but keeps null_count
    cols2 = {"d": [1.0, float("nan"), None, 2.0]}
    path2 = tmp_path / "nan.parquet"
    path2.write_bytes(build_parquet_bytes(cols2, {"d": "double"}, "none"))
    st2 = pq.ParquetFile(path2).metadata.row_group(0).column(0).statistics
    assert not st2.has_min_max
    assert st2.null_count == 1


def test_pure_writer_row_group_skipping_actually_prunes(tmp_path):
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    n = 3000
    cols = {"x": list(range(n)), "y": [f"r{i}" for i in range(n)]}
    path = tmp_path / "skip.parquet"
    path.write_bytes(
        build_parquet_bytes(
            cols, {"x": "bigint", "y": "string"}, "snappy",
            row_group_size=1000,
        )
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == 3
    frag = list(ds.dataset(str(path), format="parquet").get_fragments())[0]
    kept = list(frag.split_by_row_group(pc.field("x") >= 2500))
    assert len(kept) == 1  # stats pruned 2 of 3 groups
    kept_all = list(frag.split_by_row_group(pc.field("x") >= 0))
    assert len(kept_all) == 3
    # values still complete through a filtered dataset read
    t = ds.dataset(str(path), format="parquet").to_table(
        filter=pc.field("x") >= 2500
    )
    assert sorted(t.column("x").to_pylist()) == list(range(2500, n))


def test_pure_writer_boolean_round_trip(tmp_path):
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    vals = [True, False, None, True] * 13 + [False, None]
    blob = build_parquet_bytes({"b": vals}, {"b": "boolean"}, "snappy")
    import io

    assert pq.read_table(io.BytesIO(blob)).column("b").to_pylist() == vals
    assert read_parquet_bytes(blob, ["b"])["b"] == vals


def test_pruned_scan_skips_groups_both_writers(tmp_path):
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_pruned_columns,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    n = 3000
    cols = {"x": list(range(n)), "y": [f"r{i}" for i in range(n)]}
    own = tmp_path / "own.parquet"
    own.write_bytes(
        build_parquet_bytes(
            cols, {"x": "bigint", "y": "string"}, "snappy",
            row_group_size=500,
        )
    )
    ref = tmp_path / "ref.parquet"
    pq.write_table(pa.table(cols), ref, row_group_size=500)
    for path in (own, ref):
        data, r, t = read_parquet_pruned_columns(
            str(path), ["x", "y"], "x", lo=2200, hi=2600
        )
        assert t == 6 and r == 2, (path, r, t)  # 4 of 6 groups skipped
        assert set(range(2200, 2601)) <= set(data["x"])
        assert all(2000 <= v < 3000 for v in data["x"])  # conservative
        # unbounded reads everything
        full, r2, t2 = read_parquet_pruned_columns(str(path), ["x"], "x")
        assert (r2, t2) == (6, 6) and full["x"] == cols["x"]
        # disjoint range decodes nothing
        none, r3, _ = read_parquet_pruned_columns(
            str(path), ["x"], "x", lo=10**9
        )
        assert r3 == 0 and none["x"] == []
    # string-keyed pruning uses unsigned byte-wise order
    scols = {"s": sorted(f"k{i:05d}" for i in range(1000))}
    sp = tmp_path / "s.parquet"
    sp.write_bytes(
        build_parquet_bytes(scols, {"s": "string"}, "none", row_group_size=250)
    )
    d, r, t = read_parquet_pruned_columns(
        str(sp), ["s"], "s", lo=b"k00900", hi=b"k00950"
    )
    assert r == 1 and t == 4
    # round-11 (ADVICE low): natural str bounds utf-8-encode instead of
    # raising TypeError against the bytes-typed BYTE_ARRAY stats —
    # matching the ORC twin's str semantics
    d2, r2, t2 = read_parquet_pruned_columns(
        str(sp), ["s"], "s", lo="k00900", hi="k00950"
    )
    assert (r2, t2) == (1, 4) and d2 == d


def test_pure_writer_dictionary_multi_run_indices(tmp_path):
    # >512 present values exercises the capped bit-packed run chain
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    import io

    vals = [f"c{i % 9}" for i in range(5000)]
    blob = build_parquet_bytes({"v": vals}, {"v": "string"}, "snappy")
    assert pq.read_table(io.BytesIO(blob)).column("v").to_pylist() == vals
    got = read_parquet_bytes(blob, ["v"])["v"]
    assert [x.decode() for x in got] == vals


def test_pure_writer_timestamp_and_date_types(tmp_path):
    import io

    import duckdb

    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    cols = {
        "ts": [0, 1700000000_123456, None, 86399_999999, 1786795200_000001],
        "d": [0, 19000, None, 1, 20321],
    }
    blob = build_parquet_bytes(cols, {"ts": "timestamp", "d": "date"}, "snappy")
    t = pq.read_table(io.BytesIO(blob))
    assert str(t.schema.field("ts").type).startswith("timestamp[us")
    assert str(t.schema.field("d").type) == "date32[day]"
    assert t.column("ts").cast("int64").to_pylist() == cols["ts"]
    assert t.column("d").cast("int32").to_pylist() == cols["d"]
    path = tmp_path / "typed.parquet"
    path.write_bytes(blob)
    got = duckdb.sql(
        f"SELECT CAST(epoch_us(ts) AS BIGINT), CAST(d - DATE '1970-01-01' AS BIGINT) "
        f"FROM read_parquet('{path}') ORDER BY 1 NULLS LAST"
    ).fetchall()
    exp = sorted(
        ((u, dd) for u, dd in zip(cols["ts"], cols["d"]) if u is not None)
    ) + [(None, None)]
    assert got == exp
    assert read_parquet_bytes(blob, ["ts", "d"]) == cols


# ---------------------------------------------------------------------
# Round 11: v2/DELTA data pages + nested LIST/STRUCT write side
# ---------------------------------------------------------------------


@pytest.mark.parametrize("codec", ["none", "snappy"])
def test_pure_writer_v2_delta_pages_three_readers(tmp_path, codec):
    """DataPageV2 with DELTA_BINARY_PACKED ints, DELTA_LENGTH_BYTE_ARRAY
    strings, BYTE_STREAM_SPLIT doubles — the write-side twin of the
    round-9 reader paths, cross-validated against pyarrow, DuckDB and
    the repo's own reader."""
    import random

    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    rnd = random.Random(11)
    n = 4000
    cols = {
        "i32": [None if i % 17 == 0 else rnd.randint(-2**31, 2**31 - 1)
                for i in range(n)],
        "i64": [None if i % 13 == 0 else rnd.randint(-2**62, 2**62)
                for i in range(n)],
        "mono": list(range(n)),
        "s": [None if i % 11 == 0 else f"doc-{i % 97}-" + "x" * (i % 7)
              for i in range(n)],
        "d": [None if i % 19 == 0 else rnd.random() * 1e6 - 5e5
              for i in range(n)],
        "b": [None if i % 23 == 0 else (i % 3 == 0) for i in range(n)],
        "ts": [None if i % 29 == 0 else 1700000000_000000 + i * 987654
               for i in range(n)],
    }
    ddl = {"i32": "int", "i64": "bigint", "mono": "bigint", "s": "string",
           "d": "double", "b": "boolean", "ts": "timestamp"}
    blob = build_parquet_bytes(
        cols, ddl, codec, row_group_size=1024, page_version=2
    )
    t = pq.read_table(io.BytesIO(blob))
    for c in ("i32", "i64", "mono", "s", "d", "b"):
        assert t.column(c).to_pylist() == cols[c], (codec, c)
    assert t.column("ts").cast("int64").to_pylist() == cols["ts"]
    path = tmp_path / "v2.parquet"
    path.write_bytes(blob)
    got = duckdb.sql(
        f"SELECT count(*), sum(i64), min(s), max(s) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert got[0] == n
    assert got[1] == sum(v for v in cols["i64"] if v is not None)
    mine = read_parquet_bytes(blob, ["i64", "mono", "d", "b"])
    assert mine["i64"] == cols["i64"] and mine["mono"] == cols["mono"]
    assert mine["d"] == cols["d"] and mine["b"] == cols["b"]


def test_pure_writer_v2_delta_edge_shapes():
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    # all-null, single value, empty, and wrap-around deltas (the
    # reader accumulates modularly in the physical width; the writer
    # must produce wrapped deltas or the zigzag varints explode)
    blob = build_parquet_bytes(
        {"x": [None] * 10}, {"x": "bigint"}, "none", page_version=2
    )
    assert pq.read_table(io.BytesIO(blob)).column("x").to_pylist() == [None] * 10
    blob = build_parquet_bytes({"x": [7]}, {"x": "bigint"}, "none", page_version=2)
    assert pq.read_table(io.BytesIO(blob)).column("x").to_pylist() == [7]
    blob = build_parquet_bytes({"x": []}, {"x": "bigint"}, "none", page_version=2)
    assert pq.read_table(io.BytesIO(blob)).column("x").to_pylist() == []
    ext = [0, 2**62, -2**62, 2**62, 0, -2**60, 2**62 + 2**61]
    blob = build_parquet_bytes({"x": ext}, {"x": "bigint"}, "none", page_version=2)
    assert pq.read_table(io.BytesIO(blob)).column("x").to_pylist() == ext
    assert read_parquet_bytes(blob, ["x"])["x"] == ext
    # exactly one full block + one value (block-boundary handling)
    vals = [i * i for i in range(129)]
    blob = build_parquet_bytes({"x": vals}, {"x": "bigint"}, "none", page_version=2)
    assert read_parquet_bytes(blob, ["x"])["x"] == vals


@pytest.mark.parametrize("pv", [1, 2])
def test_pure_writer_nested_list_struct_three_readers(tmp_path, pv):
    """One-level LIST + STRUCT through the pure writer (round-11 ask):
    real repetition/definition levels, 3-level LIST shape, per-field
    struct chunks — read back by pyarrow, DuckDB, and the repo's own
    nested reader, on both page versions."""
    import random

    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )

    rnd = random.Random(pv)
    n = 1500
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
    blob = build_parquet_bytes(
        cols, ddl, "snappy", row_group_size=600, page_version=pv
    )
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("li").to_pylist() == lists
    assert t.column("ls").to_pylist() == slists
    assert t.column("st").to_pylist() == structs
    path = tmp_path / f"nested_v{pv}.parquet"
    path.write_bytes(blob)
    got = duckdb.sql(
        f"SELECT count(*), sum(len(li)), sum(st.a) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert got == (
        n,
        sum(len(x) for x in lists if x is not None),
        sum(s["a"] for s in structs if s is not None and s["a"] is not None),
    )
    mine = read_parquet_nested_bytes(blob, ["li", "st"])
    assert mine["li"] == lists
    assert [
        None if s is None else {
            k: (v.decode() if isinstance(v, bytes) else v)
            for k, v in s.items()
        }
        for s in mine["st"]
    ] == structs
    # three-deep lists write through the generic level generator
    # (round 13) and read back via the reference reader
    deep = build_parquet_bytes(
        {"m": [[[[1]]]]}, {"m": "array<array<array<bigint>>>"}, "none"
    )
    assert pq.read_table(io.BytesIO(deep)).column("m").to_pylist() == [
        [[[1]]]
    ]


def test_pure_writer_v2_and_nested_spark_reread(spark, tmp_path):
    """Spark's JVM reader is the fourth independent reader over the
    v2/nested files — values and logical types."""
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    n = 3000
    cols = {
        "id": list(range(n)),
        "li": [None if i % 9 == 0 else [i, i + 1, None][: 1 + i % 3]
               for i in range(n)],
        "st": [None if i % 8 == 0 else {"a": i, "b": f"v{i % 5}"}
               for i in range(n)],
        "s": [f"name-{i % 41}" for i in range(n)],
    }
    ddl = {"id": "bigint", "li": "array<bigint>",
           "st": "struct<a:bigint,b:string>", "s": "string"}
    path = str(tmp_path / "sparkback.parquet")
    open(path, "wb").write(
        build_parquet_bytes(cols, ddl, "snappy", page_version=2)
    )
    df = spark.read.parquet(path)
    assert df.count() == n
    rows = df.orderBy("id").collect()
    assert [r.li for r in rows] == [
        None if v is None else list(v) for v in cols["li"]
    ]
    assert [
        None if r.st is None else {"a": r.st.a, "b": r.st.b} for r in rows
    ] == cols["st"]
    assert [r.s for r in rows] == cols["s"]


@pytest.mark.parametrize("pv", [1, 2])
def test_pure_writer_list_struct_and_map(tmp_path, pv):
    """Round 11 write-side twin of test_nested_list_struct_and_map:
    array<struct<scalars>> and map<k,v> through the pure writer —
    5-deep definition levels, required map keys — read back by
    pyarrow, DuckDB and the repo's own nested reader."""
    import random

    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    rnd = random.Random(9)
    n = 1200
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
    blob = build_parquet_bytes(
        cols, ddl, "snappy", row_group_size=500, page_version=pv
    )
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("ls").to_pylist() == ls_rows
    assert [
        None if r is None else dict(r) for r in t.column("m").to_pylist()
    ] == map_rows
    path = tmp_path / f"wn2-{pv}.parquet"
    path.write_bytes(blob)
    got = duckdb.sql(
        f"SELECT count(*), sum(len(ls)), sum(cardinality(m)) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert got == (
        n,
        sum(len(x) for x in ls_rows if x is not None),
        sum(len(x) for x in map_rows if x is not None),
    )
    mine = read_parquet_nested_bytes(blob, ["ls", "m"])
    assert [
        None if r is None else [
            None if e is None else {
                "a": e["a"],
                "b": None if e["b"] is None else e["b"].decode(),
            }
            for e in r
        ]
        for r in mine["ls"]
    ] == ls_rows
    assert [
        None if r is None else {k.decode(): v for k, v in r.items()}
        for r in mine["m"]
    ] == map_rows


def test_pure_writer_list_struct_map_spark_reread(spark, tmp_path):
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
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
    path = str(tmp_path / "wn2spark.parquet")
    open(path, "wb").write(
        build_parquet_bytes(cols, ddl, "snappy", page_version=2)
    )
    rows = spark.read.parquet(path).orderBy("id").collect()
    assert [
        None if r.ls is None else [
            None if e is None else {"a": e.a, "b": e.b} for e in r.ls
        ]
        for r in rows
    ] == cols["ls"]
    assert [None if r.m is None else dict(r.m) for r in rows] == cols["m"]


def test_pure_writer_deep_shapes_edge_residue():
    """Round-11 adversarial probes pinned: bigint-keyed maps, unicode/
    empty string keys, all-empty lists, all-None struct elements,
    int32 wrap-around deltas, constant columns through v2 DELTA."""
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    m = [None, {}, {1: 10, 2: None}, {7: 70}]
    blob = build_parquet_bytes(
        {"m": m}, {"m": "map<bigint,bigint>"}, "snappy", page_version=2
    )
    assert [
        None if r is None else dict(r)
        for r in pq.read_table(io.BytesIO(blob)).column("m").to_pylist()
    ] == m
    assert read_parquet_nested_bytes(blob, ["m"])["m"] == m

    m2 = [{"é": 1.5, "": 2.0}, None]
    blob = build_parquet_bytes(
        {"m": m2}, {"m": "map<string,double>"}, "none", page_version=2
    )
    assert [
        None if r is None else dict(r)
        for r in pq.read_table(io.BytesIO(blob)).column("m").to_pylist()
    ] == m2

    blob = build_parquet_bytes(
        {"ls": [[], [], []]}, {"ls": "array<struct<a:bigint>>"}, "none"
    )
    assert pq.read_table(io.BytesIO(blob)).column("ls").to_pylist() == [
        [], [], [],
    ]

    vals = [2**31 - 1, -2**31, 0, -1, 2**31 - 1, None]
    blob = build_parquet_bytes({"x": vals}, {"x": "int"}, "none", page_version=2)
    assert pq.read_table(io.BytesIO(blob)).column("x").to_pylist() == vals
    assert read_parquet_bytes(blob, ["x"])["x"] == vals

    blob = build_parquet_bytes({"x": [5] * 1000}, {"x": "bigint"}, "none",
                               page_version=2)
    assert read_parquet_bytes(blob, ["x"])["x"] == [5] * 1000


@pytest.mark.parametrize("pv", [1, 2])
def test_struct_list_both_directions(tmp_path, pv, spark):
    """Round 11: struct<scalar, array<scalar>> reads from pyarrow-
    written files (mixed-struct Dremel assembly distinguishing null
    struct / null field / empty list / null element) AND writes
    through the pure writer — read back by pyarrow, DuckDB, Spark's
    JVM reader and the own reader."""
    import random

    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
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
            rows.append({"a": None if i % 3 == 0 else i * 7, "v": v})
    ddl = {"st": "struct<a:bigint,v:array<bigint>>"}
    # READ side: pyarrow-written reference bytes
    t = pa.table({"st": pa.array(
        rows, pa.struct([("a", pa.int64()), ("v", pa.list_(pa.int64()))])
    )})
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy",
                   data_page_version=f"{pv}.0", row_group_size=600)
    assert read_parquet_nested_bytes(buf.getvalue(), ["st"])["st"] == rows
    # WRITE side: own bytes through all four readers
    blob = build_parquet_bytes(
        {"st": rows}, ddl, "snappy", row_group_size=600, page_version=pv
    )
    assert pq.read_table(io.BytesIO(blob)).column("st").to_pylist() == rows
    assert read_parquet_nested_bytes(blob, ["st"])["st"] == rows
    path = str(tmp_path / f"sl{pv}.parquet")
    open(path, "wb").write(blob)
    got = duckdb.sql(
        f"SELECT count(*), sum(st.a), sum(len(st.v)) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert got == (
        n,
        sum(r["a"] for r in rows if r is not None and r["a"] is not None),
        sum(len(r["v"]) for r in rows
            if r is not None and r["v"] is not None),
    )
    srows = spark.read.parquet(path).collect()
    assert sorted(
        (r.st.a for r in srows if r.st is not None and r.st.a is not None)
    ) == sorted(
        r["a"] for r in rows if r is not None and r["a"] is not None
    )


@pytest.mark.parametrize("pv", [1, 2])
def test_list_list_both_directions(tmp_path, pv, spark):
    """Round 11: list<list<scalar>> — TWO repeated levels — reads from
    pyarrow-written files and writes through the pure writer; pyarrow,
    DuckDB, Spark-JVM and own-reader read-backs."""
    import random

    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
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
    # READ side
    t = pa.table({"ll": pa.array(rows, pa.list_(pa.list_(pa.int64())))})
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy",
                   data_page_version=f"{pv}.0", row_group_size=500)
    assert read_parquet_nested_bytes(buf.getvalue(), ["ll"])["ll"] == rows
    # WRITE side
    blob = build_parquet_bytes(
        {"id": list(range(n)), "ll": rows},
        {"id": "bigint", "ll": "array<array<bigint>>"}, "snappy",
        row_group_size=500, page_version=pv,
    )
    assert pq.read_table(io.BytesIO(blob)).column("ll").to_pylist() == rows
    assert read_parquet_nested_bytes(blob, ["ll"])["ll"] == rows
    path = str(tmp_path / f"ll{pv}.parquet")
    open(path, "wb").write(blob)
    assert duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}')"
    ).fetchone()[0] == n
    # Spark-JVM read-back: FULL value/structure comparison keyed by id
    srows = spark.read.parquet(path).orderBy("id").collect()
    assert [
        None if r.ll is None else [
            None if x is None else list(x) for x in r.ll
        ]
        for r in srows
    ] == rows


def test_deep_nested_truncation_and_bitflip_never_hang(tmp_path):
    """Adversarial-input sweep over the round-11 deep shapes written
    by the PURE WRITER: any exception is fine, hangs and silent wrong
    output are not (the malformed-input contract every parser in this
    repo carries)."""
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
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
    blob = build_parquet_bytes(cols, ddl, "snappy", page_version=2)
    good = read_parquet_nested_bytes(blob, list(cols))
    for off in (80, len(blob) // 3, len(blob) // 2, 2 * len(blob) // 3):
        dam = bytearray(blob)
        dam[off] ^= 0xFF
        try:
            got = read_parquet_nested_bytes(bytes(dam), list(cols))
            assert len(got["ls"]) == len(good["ls"])
        except Exception as exc:
            assert not isinstance(exc, (SystemExit, KeyboardInterrupt))
    for cut in (len(blob) - 9, len(blob) // 2, 60):
        with pytest.raises(Exception):
            read_parquet_nested_bytes(blob[:cut], list(cols))


@pytest.mark.parametrize("codec", ["none", "snappy"])
def test_pure_writer_v2_rle_dictionary(tmp_path, codec, spark):
    """Round 11 (late): v2 pages dictionary-encode when the distinct
    count earns it — PLAIN dictionary page + RLE_DICTIONARY (enc 8)
    data page, the modern convention — falling back to the DELTA
    family for high-cardinality columns. pyarrow/DuckDB/Spark/own
    reader read-backs; signed zeros keep their identities via
    bit-pattern dictionary keys."""
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    import struct as _st

    n = 4000
    cols = {
        "cat": [None if i % 17 == 0 else f"c{i % 9}" for i in range(n)],
        "num": [None if i % 13 == 0 else (i % 40) * 7 for i in range(n)],
        "fz": [(-0.0 if i % 2 else 0.0) for i in range(n)],
        "uni": [f"u-{i}" for i in range(n)],
    }
    ddl = {"cat": "string", "num": "bigint", "fz": "double",
           "uni": "string"}
    blob = build_parquet_bytes(
        cols, ddl, codec, row_group_size=1200, page_version=2
    )
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("cat").to_pylist() == cols["cat"]
    assert t.column("num").to_pylist() == cols["num"]
    assert [
        _st.pack("<d", v) for v in t.column("fz").to_pylist()
    ] == [_st.pack("<d", v) for v in cols["fz"]]
    assert t.column("uni").to_pylist() == cols["uni"]
    pf = pq.ParquetFile(io.BytesIO(blob))
    encs = {
        pf.metadata.row_group(0).column(i).path_in_schema:
        pf.metadata.row_group(0).column(i).encodings
        for i in range(4)
    }
    assert "RLE_DICTIONARY" in encs["cat"]
    assert "DELTA_LENGTH_BYTE_ARRAY" in encs["uni"]
    path = str(tmp_path / f"v2d_{codec}.parquet")
    open(path, "wb").write(blob)
    got = duckdb.sql(
        f"SELECT count(*), count(DISTINCT cat), sum(num) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert got == (n, 9, sum(v for v in cols["num"] if v is not None))
    mine = read_parquet_bytes(blob, ["cat", "num"])
    assert [
        None if v is None else v.decode() for v in mine["cat"]
    ] == cols["cat"]
    assert mine["num"] == cols["num"]
    rows = spark.read.parquet(path).collect()
    assert sorted(
        (r.num for r in rows if r.num is not None)
    ) == sorted(v for v in cols["num"] if v is not None)


def test_v2_dict_chunk_encodings_include_plain():
    """Round-12 advice regression: ColumnMetaData.encodings is the set
    of ALL encodings used in the chunk; a v2 dictionary chunk's
    dictionary page is PLAIN (0), so [RLE_DICTIONARY, RLE] alone
    under-declares it. pyarrow's metadata surface is the reference
    check."""
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    blob = build_parquet_bytes(
        {"s": [f"v{i % 4}" for i in range(200)]},
        {"s": "string"}, "snappy", page_version=2,
    )
    md = pq.ParquetFile(io.BytesIO(blob)).metadata
    col = md.row_group(0).column(0)
    assert "RLE_DICTIONARY" in col.encodings
    assert "PLAIN" in col.encodings  # the dictionary page's encoding
    # values still round-trip through the reference reader
    t = pq.read_table(io.BytesIO(blob))
    assert t.column("s").to_pylist() == [f"v{i % 4}" for i in range(200)]


def test_map_cell_shape_and_none_key_decline_descriptively():
    """Round-12 advice regression: a Spark-style list-of-pairs map cell
    or a None key must decline with a descriptive error, not a bare
    AttributeError/TypeError mid-encode."""
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    ddl = {"m": "map<string,bigint>"}
    with pytest.raises(ValueError, match="mapping"):
        build_parquet_bytes({"m": [[("a", 1), ("b", 2)]]}, ddl, "none")
    with pytest.raises(ValueError, match="REQUIRED"):
        build_parquet_bytes({"m": [{None: 1}]}, ddl, "none")
    # well-formed dict rows still encode
    rows = [{"a": 1, "b": None}, None, {}]
    blob = build_parquet_bytes({"m": rows}, ddl, "none")
    t = pq.read_table(io.BytesIO(blob))
    got = [None if v is None else dict(v) for v in t.column("m").to_pylist()]
    assert got == rows


def _nested5_fixture(n=800):
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


@pytest.mark.parametrize("codec", ["none", "snappy"])
@pytest.mark.parametrize("pv", [1, 2])
def test_map_nested_values_write_read(codec, pv):
    """Round 12: map<string,struct<scalars>> and map<string,
    array<bigint>> through the pure writer, cross-validated against
    pyarrow AND DuckDB, plus the own-reader round trip — v1+v2 pages,
    multi-row-group, full null/empty residue."""
    import duckdb

    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    ms, ml = _nested5_fixture()
    n = len(ms)
    cols = {"id": list(range(n)), "ms": ms, "ml": ml}
    ddl = {
        "id": "bigint",
        "ms": "map<string,struct<a:bigint,b:string>>",
        "ml": "map<string,array<bigint>>",
    }
    blob = build_parquet_bytes(
        cols, ddl, codec, row_group_size=300, page_version=pv
    )
    t = pq.read_table(io.BytesIO(blob))
    assert [
        None if m is None else dict(m) for m in t.column("ms").to_pylist()
    ] == ms
    assert [
        None if m is None else dict(m) for m in t.column("ml").to_pylist()
    ] == ml
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".parquet") as f:
        f.write(blob)
        f.flush()
        r = duckdb.connect().execute(
            f"SELECT id, ms, ml FROM '{f.name}' ORDER BY id"
        ).fetchall()
    dconv = lambda m: None if m is None else dict(  # noqa: E731
        zip(m["key"], m["value"])
    )
    assert [dconv(x[1]) for x in r] == ms
    assert [dconv(x[2]) for x in r] == ml

    def conv(v):
        if isinstance(v, bytes):
            return v.decode()
        if isinstance(v, dict):
            return {conv(k): conv(x) for k, x in v.items()}
        if isinstance(v, list):
            return [conv(x) for x in v]
        return v

    own = read_parquet_nested_bytes(blob, ["id", "ms", "ml"])
    assert [conv(x) for x in own["ms"]] == ms
    assert [conv(x) for x in own["ml"]] == ml


def test_map_nested_values_spark_written(spark, tmp_path):
    """Spark's JVM writer is the second independent writer for the
    map-with-nested-values read path."""
    import glob

    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_columns,
    )

    out = str(tmp_path / "pqmap5")
    (
        spark.range(2000)
        .selectExpr(
            "id",
            "CASE WHEN id % 7 = 0 THEN NULL WHEN id % 5 = 0 THEN map() "
            "ELSE map_from_arrays("
            "  transform(sequence(1, CAST(id % 3 AS INT) + 1),"
            "            i -> concat('k', i)),"
            "  transform(sequence(1, CAST(id % 3 AS INT) + 1), i ->"
            "    CASE WHEN (id + i) % 11 = 0 THEN NULL"
            "    ELSE named_struct("
            "      'a', CASE WHEN (id+i) % 13 = 0 THEN CAST(NULL AS "
            "BIGINT) ELSE id * 10 + i END,"
            "      'b', CASE WHEN (id+i) % 17 = 0 THEN CAST(NULL AS "
            "STRING) ELSE concat('v', (id+i) % 9) END) END)) END AS ms",
            "CASE WHEN id % 7 = 0 THEN NULL WHEN id % 5 = 0 THEN map() "
            "ELSE map_from_arrays("
            "  transform(sequence(1, CAST(id % 3 AS INT) + 1),"
            "            i -> concat('k', i)),"
            "  transform(sequence(1, CAST(id % 3 AS INT) + 1), i ->"
            "    CASE WHEN (id + i) % 11 = 0 THEN NULL"
            "    WHEN (id + i) % 13 = 0 THEN CAST(array() AS "
            "ARRAY<BIGINT>)"
            "    ELSE transform(sequence(1, CAST((id + i) % 4 AS INT)),"
            "      j -> CASE WHEN j = 2 AND (id+i) % 3 = 0 THEN CAST("
            "NULL AS BIGINT) ELSE id * 100 + i * 10 + j END) END)) "
            "END AS ml",
        )
        .coalesce(2)
        .write.mode("overwrite")
        .parquet(out)
    )

    def conv(v):
        if isinstance(v, bytes):
            return v.decode()
        if isinstance(v, dict):
            return {conv(k): conv(x) for k, x in v.items()}
        if isinstance(v, list):
            return [conv(x) for x in v]
        return v

    for p in sorted(glob.glob(out + "/part-*.parquet")):
        ref = pq.read_table(p)
        got = read_parquet_nested_columns(p, ["id", "ms", "ml"])
        for col in ("ms", "ml"):
            exp = [
                None if m is None else dict(m)
                for m in ref.column(col).to_pylist()
            ]
            assert [conv(x) for x in got[col]] == exp, col


def test_map_nested_values_truncation_and_bitflips():
    """Fail-loudly contract: truncated/corrupted map-nested files must
    raise, never hang or silently return wrong shapes."""
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    ms, ml = _nested5_fixture(120)
    blob = build_parquet_bytes(
        {"id": list(range(120)), "ms": ms, "ml": ml},
        {
            "id": "bigint",
            "ms": "map<string,struct<a:bigint,b:string>>",
            "ml": "map<string,array<bigint>>",
        },
        "none",
    )
    good = read_parquet_nested_bytes(blob, ["ms", "ml"])
    assert len(good["ms"]) == 120
    for cut in (len(blob) - 9, len(blob) // 2, 60):
        with pytest.raises(Exception):
            read_parquet_nested_bytes(blob[:cut], ["ms", "ml"])
    import random as _random

    rnd = _random.Random(5)
    for _ in range(60):
        pos = rnd.randrange(len(blob))
        mut = bytearray(blob)
        mut[pos] ^= 1 << rnd.randrange(8)
        try:
            got = read_parquet_nested_bytes(bytes(mut), ["ms", "ml"])
            assert len(got["ms"]) == len(got["ml"])
        except Exception as exc:
            assert not isinstance(exc, (SystemExit, KeyboardInterrupt))


def test_map_assemblers_tolerate_optional_keys():
    """Round-12 review regression: the spec requires REQUIRED map
    keys, but a spec-odd OPTIONAL key must surface as a None key —
    never silently misalign every later entry (the first cut consumed
    the key iterator unconditionally). Driven through the generic
    assembler with map<string, struct<f>> and map<string, list>
    values over hand-written level streams."""
    from simple_data_engineering_project_spark.operators.parquet_data import (
        _assemble_generic,
        _build_column_tree,
        _GenLeaf,
    )

    def assemble(levels: dict, streams: dict) -> list:
        # levels: leaf path -> cumulative (def, rep, repetition,
        # converted) per path element, as _parse_schema records them
        schema = {p: {"levels": lv} for p, lv in levels.items()}
        tree = _build_column_tree("m", sorted(levels), schema)
        curs = {
            p: _GenLeaf(reps, defs, present, levels[p][-1][0])
            for p, (reps, defs, present) in streams.items()
        }
        return _assemble_generic(tree, curs)

    # two rows, two entries each; second entry of row 1 has a NULL key
    # (def 2 < max_def 3 — an optional-key layout)
    m, kv = (1, 0, 1, 1), (2, 1, 2, None)  # optional MAP, repeated pair
    key_lv = [m, kv, (3, 1, 1, 0)]  # OPTIONAL key leaf
    key = ([0, 1, 0, 1], [3, 2, 3, 3], ["a", "b", "c"])
    got = assemble(
        {
            "m.key_value.key": key_lv,
            "m.key_value.value.f": [m, kv, (3, 1, 1, None), (4, 1, 1, None)],
        },
        {
            "m.key_value.key": key,
            "m.key_value.value.f": ([0, 1, 0, 1], [4, 4, 4, 3], [1, 2, 3]),
        },
    )
    assert got == [
        {"a": {"f": 1}, None: {"f": 2}},
        {"b": {"f": 3}, "c": {"f": None}},
    ]
    got = assemble(
        {
            "m.key_value.key": key_lv,
            "m.key_value.value.list.element": [
                m, kv, (3, 1, 1, 3), (4, 2, 2, None), (5, 2, 1, None),
            ],
        },
        {
            "m.key_value.key": key,
            "m.key_value.value.list.element": (
                [0, 1, 0, 1], [5, 5, 5, 4], [10, 20, 30],
            ),
        },
    )
    assert got == [
        {"a": [10], None: [20]},
        {"b": [30], "c": [None]},
    ]


def _pa_to_reader_convention(v, typ):
    """pyarrow pylist value -> the pure reader's convention: maps as
    Python dicts, strings as raw utf-8 bytes (type conversion is the
    downstream converter's job)."""
    if v is None:
        return None
    if pa.types.is_map(typ):
        return {
            _pa_to_reader_convention(k, typ.key_type):
                _pa_to_reader_convention(x, typ.item_type)
            for k, x in v
        }
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return [_pa_to_reader_convention(x, typ.value_type) for x in v]
    if pa.types.is_struct(typ):
        return {
            f.name: _pa_to_reader_convention(v[f.name], f.type)
            for f in typ
        }
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return v.encode() if isinstance(v, str) else v
    return v


@pytest.mark.parametrize("row_group_size", [None, 2])
def test_generic_assembler_vs_pyarrow(tmp_path, row_group_size):
    """Round 13: the generic Dremel assembler, cross-validated against
    pyarrow on every formerly-declined composition — three-deep lists,
    map<k,map<k,v>>, map<k,list<struct>>, struct<map>, list<map>,
    list<list<struct<scalar,list>>>, map<k,struct<map>> — with
    null/empty residue at every level and row-group splits."""
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )

    cases = {
        "l3": pa.array(
            [[[[1, 2], [3]], [[4]]], None, [[[5], None], []], [[]], []],
            type=pa.list_(pa.list_(pa.list_(pa.int64()))),
        ),
        "mm": pa.array(
            [{"a": {"x": 1, "y": 2}, "b": {}}, None, {"c": {"z": None}}, {}],
            type=pa.map_(pa.string(), pa.map_(pa.string(), pa.int64())),
        ),
        "mls": pa.array(
            [
                {"a": [{"u": 1, "s": "p"}, None], "b": []},
                {"c": [{"u": None, "s": "q"}]},
                None,
                {},
            ],
            type=pa.map_(
                pa.string(),
                pa.list_(
                    pa.struct([("u", pa.int64()), ("s", pa.string())])
                ),
            ),
        ),
        "sm": pa.array(
            [
                {"m": {"k": 1}, "t": 7},
                {"m": None, "t": 8},
                None,
                {"m": {}, "t": None},
            ],
            type=pa.struct(
                [("m", pa.map_(pa.string(), pa.int64())), ("t", pa.int64())]
            ),
        ),
        "lm": pa.array(
            [[{"a": 1}, {}, None], [], None, [{"b": 2, "c": 3}]],
            type=pa.list_(pa.map_(pa.string(), pa.int64())),
        ),
        "lls": pa.array(
            [
                [[{"f": 1.5, "g": [1, 2]}, None]],
                [[]],
                None,
                [[{"f": None, "g": []}], [{"f": 2.0, "g": None}]],
            ],
            type=pa.list_(
                pa.list_(
                    pa.struct(
                        [("f", pa.float64()), ("g", pa.list_(pa.int64()))]
                    )
                )
            ),
        ),
        "msm": pa.array(
            [{"a": {"i": {"x": True}}}, None, {"b": {}}],
            type=pa.map_(
                pa.string(),
                pa.struct([("i", pa.map_(pa.string(), pa.bool_()))]),
            ),
        ),
    }
    n = max(len(a) for a in cases.values())
    cols = {}
    for name, arr in cases.items():
        if len(arr) < n:
            arr = pa.concat_arrays(
                [arr, pa.array([None] * (n - len(arr)), type=arr.type)]
            )
        cols[name] = arr
    tbl = pa.table(cols)
    buf = io.BytesIO()
    pq.write_table(
        tbl, buf, compression="snappy",
        row_group_size=row_group_size or n,
    )
    got = read_parquet_nested_bytes(buf.getvalue(), list(cols))
    for name in cols:
        typ = tbl.schema.field(name).type
        want = [
            _pa_to_reader_convention(v, typ)
            for v in tbl.column(name).to_pylist()
        ]
        assert got[name] == want, name


_GENERIC_WRITE_CASES = [
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


def _canon_tree(v, tree, as_bytes):
    """Canonical value per writer type tree: missing struct fields
    seat as None; strings to bytes under the own-reader convention."""
    kind, det = tree
    if v is None:
        return None
    if kind == "scalar":
        if det == "string" and as_bytes and isinstance(v, str):
            return v.encode()
        return v
    if kind == "list":
        return [_canon_tree(x, det, as_bytes) for x in v]
    if kind == "map":
        kt, vt = det
        return {
            (k.encode() if as_bytes and kt == "string"
             and isinstance(k, str) else k): _canon_tree(x, vt, as_bytes)
            for k, x in v.items()
        }
    return {n: _canon_tree(v.get(n), sub, as_bytes) for n, sub in det}


@pytest.mark.parametrize("pv", [1, 2])
@pytest.mark.parametrize("rgs", [None, 2])
def test_generic_writer_deep_shapes_vs_pyarrow(pv, rgs):
    """Round 13 write side: the generic level generator emits every
    formerly-declined composition; pyarrow (reference reader) and the
    own generic assembler both read the files back value-exact, across
    page versions, codecs and row-group splits."""
    from simple_data_engineering_project_spark.operators.parquet_write import (
        _parse_ddl_tree,
        build_parquet_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )

    for codec in ("none", "snappy"):
        for ddl, rows in _GENERIC_WRITE_CASES:
            tree = _parse_ddl_tree(ddl)
            data = build_parquet_bytes(
                {"c": rows}, {"c": ddl}, compression=codec,
                row_group_size=rgs, page_version=pv,
            )
            tbl = pq.read_table(io.BytesIO(data))
            typ = tbl.schema.field("c").type
            got_pa = [
                _pa_to_reader_convention(v, typ)
                for v in tbl.column("c").to_pylist()
            ]
            assert got_pa == [
                _canon_tree(r, tree, True) for r in rows
            ], (ddl, pv, codec, rgs)
            got_own = read_parquet_nested_bytes(data, ["c"])["c"]
            assert got_own == [
                _canon_tree(r, tree, True) for r in rows
            ], (ddl, pv, codec, rgs)


def test_generic_writer_validates_cells():
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    with pytest.raises(ValueError, match="map keys must be non-None"):
        build_parquet_bytes(
            {"c": [{None: {"x": 1}}]},
            {"c": "map<string,map<string,bigint>>"}, "none",
        )
    with pytest.raises(ValueError, match="list cell must be a sequence"):
        build_parquet_bytes(
            {"c": [{"k": 5}]},
            {"c": "array<array<array<bigint>>>"}, "none",
        )
    with pytest.raises(ValueError, match="struct cell must be a dict"):
        build_parquet_bytes(
            {"c": [[1, 2]]},
            {"c": "struct<m:map<string,bigint>,t:bigint>"}, "none",
        )


def test_generic_assembler_composite_map_keys(tmp_path):
    """Round 14 (formerly a loud decline): map<composite,v> is legal
    parquet that a Python dict cannot seat — the generic assembler
    now decodes it as a LIST of {"key","value"} structs, value-equal
    to pyarrow's tuple-list representation of the same file. Covers
    list keys, struct keys, null/empty residue, and a nested value."""
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_columns,
    )

    path = tmp_path / "listkey.parquet"
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
    pq.write_table(pa.table({"lk": lk, "sk": sk}), path)
    got = read_parquet_nested_columns(str(path), ["lk", "sk"])
    ref = pq.read_table(path)

    def _enc(v):
        # the pure reader returns BYTE_ARRAY as raw bytes (utf-8
        # decode lives in the DDL conversion layer)
        if isinstance(v, str):
            return v.encode("utf-8")
        if isinstance(v, dict):
            return {k: _enc(x) for k, x in v.items()}
        if isinstance(v, list):
            return [_enc(x) for x in v]
        return v

    def pairs(col):
        return [
            None if row is None else [
                {"key": _enc(k), "value": _enc(v)} for k, v in row
            ]
            for row in col.to_pylist()
        ]

    assert got["lk"] == pairs(ref.column("lk"))
    assert got["sk"] == pairs(ref.column("sk"))


@pytest.mark.parametrize("pv", ["1.0", "2.6"])
@pytest.mark.parametrize("codec", ["snappy", "none"])
def test_page_index_scan_vs_pyarrow_files(pv, codec):
    """Round 13: page-level skipping via the parquet PAGE INDEX
    (ColumnIndex + OffsetIndex) on PYARROW-written multi-page files —
    nulls in the prune column, dictionary-encoded strings, v1+v2
    pages, multi-row-group, string bounds, unbounded ranges. Pruning
    (pages_decoded < pages_total) is asserted, and results equal the
    exact row filter."""
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_pages_pruned_bytes,
    )

    n = 50000
    t = pa.table({
        "k": pa.array(
            [None if i % 97 == 0 else i for i in range(n)], pa.int64()
        ),
        "v": pa.array([float(i % 1000) for i in range(n)]),
        "s": pa.array([f"s{i % 50:02d}" for i in range(n)]),
    })
    buf = io.BytesIO()
    pq.write_table(
        t, buf, write_page_index=True, data_page_size=2048,
        row_group_size=20000, compression=codec, version=pv,
    )
    data = buf.getvalue()
    cols, got_read, got_tot = read_parquet_pages_pruned_bytes(
        data, ["k", "v", "s"], "k", 10_000, 12_000
    )
    want = [
        (i, float(i % 1000), f"s{i % 50:02d}".encode())
        for i in range(10_000, 12_001)
        if i % 97 != 0
    ]
    assert list(zip(cols["k"], cols["v"], cols["s"])) == want
    assert got_read < got_tot
    # unbounded hi
    cols2, _r2, _t2 = read_parquet_pages_pruned_bytes(
        data, ["k"], "k", 49_900, None
    )
    assert cols2["k"] == [i for i in range(49_900, n) if i % 97 != 0]
    # string prune column (unsigned lexicographic bounds)
    cols3, _r3, _t3 = read_parquet_pages_pruned_bytes(
        data, ["s", "k"], "s", "s10", "s11"
    )
    exp3 = [
        f"s{i % 50:02d}".encode()
        for i in range(n)
        if b"s10" <= f"s{i % 50:02d}".encode() <= b"s11"
    ]
    assert sorted(cols3["s"]) == sorted(exp3)
    # files without an index read conservatively (same rows)
    buf2 = io.BytesIO()
    pq.write_table(
        t, buf2, write_page_index=False, data_page_size=2048,
        row_group_size=20000, compression=codec, version=pv,
    )
    cols4, r4, t4 = read_parquet_pages_pruned_bytes(
        buf2.getvalue(), ["k", "v", "s"], "k", 10_000, 12_000
    )
    assert list(zip(cols4["k"], cols4["v"], cols4["s"])) == want
    assert r4 == t4


@pytest.mark.parametrize("pv", [1, 2])
def test_page_index_writer_three_readers(pv):
    """Round 13 write side: page_rows splits flat chunks into pages
    and emits ColumnIndex/OffsetIndex; pyarrow confirms the index
    placement (has_column_index/has_offset_index) and reads values
    exactly, DuckDB reads the same file, and the repo's own page-index
    scan prunes pages on the written index."""
    import duckdb
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_pages_pruned_bytes,
    )

    n = 20000
    cols = {
        "k": [None if i % 53 == 0 else i for i in range(n)],
        "v": [float(i % 877) for i in range(n)],
        "s": [f"s{i % 40:02d}" for i in range(n)],
    }
    ddl = {"k": "bigint", "v": "double", "s": "string"}
    for codec in ("none", "snappy"):
        for rgs in (None, 8000):
            data = build_parquet_bytes(
                cols, ddl, compression=codec, row_group_size=rgs,
                page_version=pv, page_rows=500,
            )
            pf = pq.ParquetFile(io.BytesIO(data))
            cc = pf.metadata.row_group(0).column(0)
            assert cc.has_column_index and cc.has_offset_index
            t = pf.read()
            assert t.column("k").to_pylist() == cols["k"]
            assert t.column("v").to_pylist() == cols["v"]
            assert t.column("s").to_pylist() == cols["s"]
            con = duckdb.connect()
            import os
            import tempfile
            fd, path = tempfile.mkstemp(suffix=".parquet")
            os.write(fd, data)
            os.close(fd)
            try:
                dk = con.execute(
                    f"SELECT count(*), sum(k) FROM read_parquet('{path}')"
                ).fetchone()
            finally:
                os.remove(path)
            assert dk[0] == n
            assert dk[1] == sum(x for x in cols["k"] if x is not None)
            got, r, tot = read_parquet_pages_pruned_bytes(
                data, ["k", "s"], "k", 5000, 5400
            )
            want_k = [i for i in range(5000, 5401) if i % 53 != 0]
            assert got["k"] == want_k
            assert got["s"] == [f"s{i % 40:02d}".encode() for i in want_k]
            assert r < tot


def test_page_index_all_null_pages():
    """Round-14 ADVICE regression: ColumnIndex min/max blobs are EMPTY
    (b'') for all-null pages — this repo's own writer, pyarrow, and
    parquet-mr all emit them that way — and decoding them eagerly
    struct.errors on fixed-width types. Null pages must be seated as
    None bounds (kept conservatively by the range test, skipped only
    when a bound is required), on both own-written and pyarrow-written
    files, for numeric and string prune columns."""
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_pages_pruned_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    # the exact ADVICE reproducer: page_rows=2 makes pages (1,2) (None,
    # None) (5,6) — the middle page is all-null with empty stat blobs
    data = build_parquet_bytes(
        {"a": [1, 2, None, None, 5, 6]}, {"a": "bigint"}, page_rows=2
    )
    got, r, tot = read_parquet_pages_pruned_bytes(data, ["a"], "a", 1, 6)
    assert got["a"] == [1, 2, 5, 6]
    assert r < tot  # the all-null page is skipped for a range test
    # unbounded range: null PRUNE values never satisfy the range
    # predicate (SQL semantics), but every non-null row survives and
    # the null page is still skipped without decoding its empty stats
    got2, _r2, _t2 = read_parquet_pages_pruned_bytes(
        data, ["a"], "a", None, None
    )
    assert got2["a"] == [1, 2, 5, 6]

    # pyarrow-written twin, numeric + string prune columns, larger file
    n = 4000
    t = pa.table({
        "k": pa.array(
            [None if (i // 100) % 3 == 1 else i for i in range(n)],
            pa.int64(),
        ),
        "s": pa.array(
            [None if (i // 100) % 3 == 2 else f"s{i:05d}" for i in range(n)]
        ),
    })
    buf = io.BytesIO()
    pq.write_table(t, buf, write_page_index=True, data_page_size=512)
    blob = buf.getvalue()
    gk, rk, tk = read_parquet_pages_pruned_bytes(blob, ["k", "s"], "k", 600, 900)
    want = [
        i for i in range(600, 901) if (i // 100) % 3 != 1
    ]
    assert gk["k"] == want
    assert gk["s"] == [
        (None if (i // 100) % 3 == 2 else f"s{i:05d}".encode()) for i in want
    ]
    assert rk < tk
    gs, _rs, _ts = read_parquet_pages_pruned_bytes(
        blob, ["s", "k"], "s", "s00600", "s00900"
    )
    assert sorted(x for x in gs["s"]) == sorted(
        f"s{i:05d}".encode()
        for i in range(600, 901)
        if (i // 100) % 3 != 2
    )


def test_page_index_truncation_and_bitflips_never_hang():
    """Hardening sweep for the page-index parser (the repo convention
    for every new walk loop). What this test actually enforces, per
    corruption region: (a) NOTHING hangs — every call runs under a
    signal alarm; (b) flips at or after the index/footer region never
    touch data pages, so any surviving output must be a SUBSET of the
    exact unpruned filter result (flipped index stats may legally
    drop pages — the stats-trust contract shared with row-group zone
    maps — but can never fabricate rows); (c) flips in the DATA
    region may corrupt decoded values (parquet pages carry no
    checksum; any reader returns flipped bytes as-is), so those
    survivors are only required to raise-or-return. Truncations may
    raise anything."""
    import signal

    from simple_data_engineering_project_spark.operators.parquet_data import (
        _parse_file,
        read_parquet_pages_pruned_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    n = 3000
    cols = {"k": list(range(n)), "v": [float(i % 97) for i in range(n)]}
    data = build_parquet_bytes(
        cols, {"k": "bigint", "v": "double"},
        compression="snappy", page_version=2, page_rows=250,
    )
    full = [(i, float(i % 97)) for i in range(1000, 1200 + 1)]

    def guarded(blob):
        signal.alarm(30)  # a hang fails the test loudly, not CI-wedge
        try:
            return read_parquet_pages_pruned_bytes(
                blob, ["k", "v"], "k", 1000, 1200
            )
        finally:
            signal.alarm(0)

    got, _r, _t = guarded(data)
    assert list(zip(got["k"], got["v"])) == full
    # first index block offset = start of the post-data region
    meta, _schema = _parse_file(data)
    index_start = min(
        cc[6]
        for rg in meta.get(4, [])
        for cc in rg.get(1, [])
        if cc.get(6) is not None
    )
    for cut in (50, len(data) // 3, len(data) // 2, len(data) - 9):
        try:
            guarded(data[:cut])
        except Exception:
            pass  # any exception is fine; hangs are not
    import random

    rnd = random.Random(3)
    flips = [rnd.randrange(len(data)) for _ in range(40)]
    # make sure the headline region (index/footer) is well covered
    flips += [
        index_start + rnd.randrange(len(data) - index_start)
        for _ in range(40)
    ]
    for i in flips:
        mut = bytearray(data)
        mut[i] ^= 1 << rnd.randrange(8)
        try:
            g2, _r2, _t2 = guarded(bytes(mut))
        except Exception:
            continue
        if i >= index_start:
            # data pages untouched: survivors may PRUNE more (flipped
            # stats) but can never fabricate or corrupt rows
            assert set(zip(g2["k"], g2["v"])) <= set(full), i
        else:
            # data-region flip: values may legally decode corrupted;
            # raise-or-return is the whole contract here
            pass


def test_struct_fields_read_back_in_schema_order():
    # the nested reader builds a struct from its leaves in schema
    # (depth-first) order, so the fields come back in declared order,
    # as pyarrow and the pure ORC reader return them
    from simple_data_engineering_project_spark.operators.parquet_data import (
        read_parquet_nested_bytes,
    )
    from simple_data_engineering_project_spark.operators.parquet_write import (
        build_parquet_bytes,
    )

    blob = build_parquet_bytes(
        {"s": [{"b": 1, "a": 2}]}, {"s": "struct<b:bigint,a:bigint>"}
    )
    (cell,) = read_parquet_nested_bytes(blob, ["s"])["s"]
    (want,) = pq.read_table(io.BytesIO(blob)).column("s").to_pylist()
    assert list(want) == ["b", "a"]
    assert list(cell) == list(want)
    assert cell == want
