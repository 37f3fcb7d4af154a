"""Parquet FILE WRITING in pure Python (SURVEY §2 C12, round 9).

The write-side twin of :mod:`parquet_data` — the repo authors the whole
format: thrift COMPACT-protocol encoding (field-delta headers, zigzag
varints, length-prefixed binaries, size|type list headers) for
PageHeader / SchemaElement / RowGroup / ColumnChunk / FileMetaData,
v1 data pages with RLE/bit-packed definition levels, PLAIN value
encoding, and page bodies optionally compressed with the repo's OWN
snappy encoder (operators/snappy.py).

Honesty rule (symmetric for write paths): a writer is verifiable when
a reference READER ships in-container — pyarrow and DuckDB both read
these files in the tests and the graded entry, values AND logical
types (UTF8 converted type), and the repo's own :mod:`parquet_data`
round-trips them too.

Scope: BOOLEAN/INT32/INT64/FLOAT/DOUBLE/BYTE_ARRAY(utf8) physical
types (FLOAT round 11, incl. BYTE_STREAM_SPLIT v2 pages and
bit-pattern dictionary keys so -0.0/+0.0 survive)
plus the TIMESTAMP_MICROS and DATE converted types over integer
physicals (round 10 — epoch micros / epoch days in, real
timestamp[us]/date32 logical types back out of pyarrow and DuckDB),
OPTIONAL fields with null def-levels, LIST / MAP / STRUCT columns
composed to any depth (one Dremel level stream per leaf, see
:func:`_generic_levels`), codecs UNCOMPRESSED, SNAPPY and BROTLI,
PLAIN_DICTIONARY pages when a column's distinct count earns them
(round 10), per-chunk column STATISTICS (null_count + min_value/
max_value in the modern signed/byte-wise column order, the IEEE
-0.0/+0.0 zero convention, omitted entirely when a double chunk
contains NaN — round 10), and multi-row-group layouts via
``row_group_size`` so the statistics actually enable row-group
SKIPPING in downstream readers (proven in tests: pyarrow dataset
fragments prune on our stats, and the repo's own
:mod:`parquet_meta` + DuckDB ``parquet_metadata()`` read them back).

Scale shape: file-per-task — each executor task writes whole files
independently (the sink_webdataset/sink_arrow_ipc posture), so the
writer parallelizes embarrassingly and never shuffles.
"""

from __future__ import annotations

import struct

from .ddl import split_top as _split_top

_MAGIC = b"PAR1"

# thrift compact wire types
_T_I32, _T_I64, _T_BINARY, _T_LIST, _T_STRUCT = 5, 6, 8, 9, 12

_PT_BOOLEAN = 0
_PT_INT32, _PT_INT64, _PT_FLOAT, _PT_DOUBLE, _PT_BYTE_ARRAY = 1, 2, 4, 5, 6
_SPARK_TO_PHYSICAL = {
    "boolean": _PT_BOOLEAN,
    "int": _PT_INT32,
    "bigint": _PT_INT64,
    "float": _PT_FLOAT,
    "double": _PT_DOUBLE,
    "string": _PT_BYTE_ARRAY,
    # round 10: temporal logical types over integer physicals —
    # values are epoch MICROSECONDS (timestamp) / epoch DAYS (date)
    "timestamp": _PT_INT64,
    "date": _PT_INT32,
}
# SchemaElement.converted_type (field 6) per parquet.thrift
_CONVERTED = {"string": 0, "date": 6, "timestamp": 10}  # UTF8/DATE/TIMESTAMP_MICROS
# columns whose distinct count stays at or below half the present
# values (and within the 16-bit index budget) get a dictionary page
_DICT_MAX_CARD = 65536


def _page_compress(codec_id: int, raw: bytes) -> bytes:
    """Compress one page body for the chunk codec (0 none, 1 snappy,
    4 brotli — round 12 adds brotli via the repo's own RFC 7932
    literals+Huffman encoder, validated against pyarrow's reference
    decoder)."""
    if codec_id == 1:
        from .snappy import snappy_compress

        return snappy_compress(raw)
    if codec_id == 4:
        from .brotli import brotli_compress

        return brotli_compress(raw)
    return raw


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> bytes:
    return _varint((v << 1) ^ (v >> 63))


def _field(out: bytearray, last_fid: int, fid: int, wtype: int) -> int:
    """Emit a compact field header; returns the new last-field-id."""
    delta = fid - last_fid
    if 0 < delta <= 15:
        out.append((delta << 4) | wtype)
    else:
        out.append(wtype)
        out += _zigzag(fid)
    return fid


def _i32_field(out: bytearray, last: int, fid: int, v: int) -> int:
    last = _field(out, last, fid, _T_I32)
    out += _zigzag(v)
    return last


def _i64_field(out: bytearray, last: int, fid: int, v: int) -> int:
    last = _field(out, last, fid, _T_I64)
    out += _zigzag(v)
    return last


def _bin_field(out: bytearray, last: int, fid: int, v: bytes) -> int:
    last = _field(out, last, fid, _T_BINARY)
    out += _varint(len(v))
    out += v
    return last


def _list_field(out: bytearray, last: int, fid: int, etype: int, items: list[bytes]) -> int:
    last = _field(out, last, fid, _T_LIST)
    n = len(items)
    if n < 15:
        out.append((n << 4) | etype)
    else:
        out.append(0xF0 | etype)
        out += _varint(n)
    for it in items:
        out += it
    return last


def _struct_field(out: bytearray, last: int, fid: int, body: bytes) -> int:
    last = _field(out, last, fid, _T_STRUCT)
    out += body
    return last


def _rle_runs(levels: list[int]) -> bytes:
    """Def/rep levels as RLE runs of the RLE/bit-packed hybrid (run
    value stored in ceil(bit_width/8) = 1 byte for any level ≤ 255 —
    valid for every max_def/max_rep this writer emits), UNframed.
    Run boundaries come from one numpy diff instead of a Python
    compare per level (round-16, guide §4.2); the per-RUN emit loop
    stays Python (runs ≪ levels on real level streams)."""
    n = len(levels)
    if not n:
        return b""
    if n >= 32:
        import numpy as np

        arr = np.asarray(levels, dtype=np.uint8)
        bounds = np.flatnonzero(arr[1:] != arr[:-1]) + 1
        starts = [0, *bounds.tolist(), n]
    else:
        starts = [0]
        for i in range(1, n):
            if levels[i] != levels[i - 1]:
                starts.append(i)
        starts.append(n)
    body = bytearray()
    for i, j in zip(starts, starts[1:]):
        h = (j - i) << 1  # RLE run header
        if h < 0x80:
            body.append(h)
        else:
            body += _varint(h)
        body.append(levels[i])
    return bytes(body)


def _rle_levels(levels: list[int]) -> bytes:
    """V1 framing: 4-byte LE byte length prefixes the hybrid stream."""
    body = _rle_runs(levels)
    return struct.pack("<I", len(body)) + body


def _plain(values: list, ptype: int) -> bytes:
    present = [v for v in values if v is not None]
    if ptype == _PT_BOOLEAN:
        out = bytearray((len(present) + 7) // 8)
        for i, v in enumerate(present):
            if v:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)
    if ptype == _PT_INT32:
        return struct.pack(f"<{len(present)}i", *present)
    if ptype == _PT_INT64:
        return struct.pack(f"<{len(present)}q", *present)
    if ptype == _PT_FLOAT:
        return struct.pack(f"<{len(present)}f", *present)
    if ptype == _PT_DOUBLE:
        return struct.pack(f"<{len(present)}d", *present)
    out = bytearray()
    for v in present:
        b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        out += struct.pack("<I", len(b))
        out += b
    return bytes(out)


def _bitpacked_indices(idxs: list[int], bit_width: int) -> bytes:
    """Dictionary indices as bit-packed RLE/bit-packed-hybrid runs
    (groups of 8, LSB-first; trailing pad indices are ignored by
    readers, which track the value count from the page header). Runs
    are capped at 512 values so the accumulator integer stays small —
    one giant run would make the shift-or loop quadratic in the chunk
    size."""
    import numpy as np

    out = bytearray()
    shifts = np.arange(bit_width, dtype=np.uint32)
    for start in range(0, len(idxs), 512):
        chunk = idxs[start : start + 512]
        groups = (len(chunk) + 7) // 8
        padded = np.zeros(groups * 8, dtype=np.uint32)
        padded[: len(chunk)] = chunk
        # LSB-first bit matrix → packbits(bitorder="little") is the
        # same layout the shift-or accumulator built one value at a
        # time (round-16, guide §4.2)
        bits = ((padded[:, None] >> shifts) & 1).astype(np.uint8)
        out += _varint((groups << 1) | 1)
        out += np.packbits(bits.ravel(), bitorder="little").tobytes()
    return bytes(out)


def _delta_binary_packed(values: list[int], width: int) -> bytes:
    """DELTA_BINARY_PACKED (parquet-format Encodings.md §Delta):
    ``<block size> <miniblocks per block> <total count> <first value>``
    then per 128-value block ``<min delta (zigzag)> <4 miniblock bit
    widths> <bit-packed adjusted deltas>``. Deltas wrap in the physical
    ``width`` (32/64) exactly like the reader's modular accumulation;
    miniblocks holding no values get bit width 0 and no data;
    partially-filled miniblocks pad with zeros (readers stop at the
    declared count). Bit packing is LSB-first little-endian — the same
    layout as the RLE hybrid's bit-packed runs."""
    BLOCK, NMB = 128, 4
    MB = BLOCK // NMB  # 32 values per miniblock
    out = bytearray()
    out += _varint(BLOCK)
    out += _varint(NMB)
    out += _varint(len(values))
    out += _zigzag(values[0] if values else 0)
    if len(values) <= 1:
        return bytes(out)
    import numpy as np

    half = 1 << (width - 1)
    full = 1 << width
    deltas = [
        ((values[i] - values[i - 1] + half) % full) - half
        for i in range(1, len(values))
    ]
    for bs in range(0, len(deltas), BLOCK):
        block = deltas[bs : bs + BLOCK]
        mind = min(block)
        out += _zigzag(mind)
        adj = [d - mind for d in block]
        widths = []
        packed = []
        for m in range(NMB):
            mb = adj[m * MB : (m + 1) * MB]
            if not mb:
                widths.append(0)
                continue
            mx = max(mb)
            bw = mx.bit_length()
            widths.append(bw)
            if bw == 0:
                continue
            if bw <= 32:
                # LSB-first bit matrix + packbits == the shift-or
                # accumulator byte-for-byte (round-16, guide §4.2)
                arr = np.zeros(MB, dtype=np.uint64)
                arr[: len(mb)] = mb
                bits = (
                    (arr[:, None] >> np.arange(bw, dtype=np.uint64)) & 1
                ).astype(np.uint8)
                packed.append(
                    np.packbits(bits.ravel(), bitorder="little").tobytes()
                )
            else:
                mb = mb + [0] * (MB - len(mb))
                acc = 0
                for i, v in enumerate(mb):
                    acc |= v << (i * bw)
                packed.append(acc.to_bytes(MB * bw // 8, "little"))
        out += bytes(widths)
        for p in packed:
            out += p
    return bytes(out)


def _delta_length_byte_array(present: list) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY: DELTA_BINARY_PACKED int32 lengths, then
    the concatenated byte-array data."""
    enc = [
        v.encode("utf-8") if isinstance(v, str) else bytes(v)
        for v in present
    ]
    return _delta_binary_packed([len(b) for b in enc], 32) + b"".join(enc)


def _byte_stream_split(present: list, width: int = 8) -> bytes:
    """BYTE_STREAM_SPLIT for floats/doubles: stream k holds byte k of
    every value — transposed IEEE bytes, the layout that makes the
    codec's job easy on slowly-varying floats."""
    fmt = "d" if width == 8 else "f"
    raw = struct.pack(f"<{len(present)}{fmt}", *present)
    # strided slices do the transpose at C speed (a per-byte Python
    # generator costs n*width interpreter ops on the hot write path)
    return b"".join(raw[k::width] for k in range(width))


def _stat_bytes(v, ptype: int) -> bytes:
    """PLAIN encoding of one statistics value (no length prefix for
    BYTE_ARRAY, per parquet.thrift Statistics)."""
    if ptype == _PT_BOOLEAN:
        return b"\x01" if v else b"\x00"
    if ptype == _PT_INT32:
        return struct.pack("<i", v)
    if ptype == _PT_INT64:
        return struct.pack("<q", v)
    if ptype == _PT_FLOAT:
        return struct.pack("<f", v)
    if ptype == _PT_DOUBLE:
        return struct.pack("<d", v)
    return v.encode("utf-8") if isinstance(v, str) else bytes(v)


def _statistics(present: list, null_count: int, ptype: int) -> bytes:
    """Thrift Statistics struct: 3=null_count, 5=max_value, 6=min_value
    (the modern fields with well-defined column order — signed for
    ints, byte-wise unsigned for UTF8, IEEE for doubles; the legacy
    1/2 min/max with undefined BYTE_ARRAY order are deliberately not
    written). min/max are omitted when the chunk has no present values
    or a double chunk contains NaN (the spec's only safe choice)."""
    st = bytearray()
    last = 0
    last = _i64_field(st, last, 3, null_count)
    write_minmax = bool(present)
    if write_minmax and ptype in (_PT_FLOAT, _PT_DOUBLE):
        write_minmax = not any(v != v for v in present)  # NaN check
    if write_minmax:
        if ptype == _PT_BYTE_ARRAY:
            # unsigned byte-wise order == Python bytes comparison
            enc = [
                v.encode("utf-8") if isinstance(v, str) else bytes(v)
                for v in present
            ]
            mn, mx = min(enc), max(enc)
        else:
            mn, mx = min(present), max(present)
            if ptype in (_PT_FLOAT, _PT_DOUBLE):
                # IEEE zero convention: -0.0 as min, +0.0 as max
                if mn == 0.0:
                    mn = -0.0
                if mx == 0.0:
                    mx = 0.0
        last = _bin_field(st, last, 5, _stat_bytes(mx, ptype))
        last = _bin_field(st, last, 6, _stat_bytes(mn, ptype))
    st.append(0)
    return bytes(st)


def write_parquet_file(
    path: str,
    columns: dict[str, list],
    ddl_types: dict[str, str],
    compression: str = "snappy",
) -> int:
    """Write one single-row-group parquet file; returns num_rows."""
    blob = build_parquet_bytes(columns, ddl_types, compression)
    with open(path, "wb") as f:
        f.write(blob)
    return len(columns[next(iter(columns))]) if columns else 0


def _page_header(page_type: int, raw_len: int, comp_len: int, inner_fid: int, inner: bytes) -> bytes:
    hdr = bytearray()
    last = 0
    last = _i32_field(hdr, last, 1, page_type)
    last = _i32_field(hdr, last, 2, raw_len)
    last = _i32_field(hdr, last, 3, comp_len)
    last = _struct_field(hdr, last, inner_fid, inner)
    hdr.append(0)
    return bytes(hdr)


def _write_column_chunk(body: bytearray, vals: list, ptype: int, codec_id: int):
    """Append the pages of one column chunk; returns the thrift fields
    the ColumnMetaData needs: (encodings, dict_offset, data_offset,
    comp_size, uncomp_size, stats_bytes)."""
    def pack(raw: bytes) -> bytes:
        return _page_compress(codec_id, raw)

    n = len(vals)
    levels = [0 if v is None else 1 for v in vals]
    present = [v for v in vals if v is not None]
    stats = _statistics(present, n - len(present), ptype)

    # Doubles dedup by their IEEE BIT PATTERN, not Python equality:
    # -0.0 == 0.0 would merge the two zeros and rewrite later-seen
    # values with the first-seen sign bit (round-10 review finding);
    # bit keys also collapse identical NaNs instead of giving every
    # NaN its own slot.
    if ptype in (_PT_FLOAT, _PT_DOUBLE):
        _fmt = "<f" if ptype == _PT_FLOAT else "<d"

        def _key(v):
            return struct.pack(_fmt, v)
    else:
        def _key(v):
            return v

    uniq: dict = {}
    dict_vals: list = []
    for v in present:
        k = _key(v)
        if k not in uniq:
            uniq[k] = len(uniq)
            dict_vals.append(v)
    use_dict = (
        ptype != _PT_BOOLEAN  # booleans bit-pack tighter PLAIN
        and 0 < len(uniq) <= _DICT_MAX_CARD
        and 2 * len(uniq) <= len(present)
    )

    dict_offset = None
    comp_size = uncomp_size = 0
    if use_dict:
        draw = _plain(dict_vals, ptype)
        dcomp = pack(draw)
        dph = bytearray()
        last = 0
        last = _i32_field(dph, last, 1, len(uniq))
        last = _i32_field(dph, last, 2, 2)  # PLAIN_DICTIONARY
        dph.append(0)
        hdr = _page_header(2, len(draw), len(dcomp), 7, bytes(dph))
        dict_offset = len(body)
        body += hdr
        body += dcomp
        comp_size += len(hdr) + len(dcomp)
        uncomp_size += len(hdr) + len(draw)
        bw = max(1, (len(uniq) - 1).bit_length())
        values_region = bytes([bw]) + _bitpacked_indices(
            [uniq[_key(v)] for v in present], bw
        )
        enc = 2  # PLAIN_DICTIONARY data page (v1 convention)
    else:
        values_region = _plain(vals, ptype)
        enc = 0  # PLAIN

    raw = _rle_levels(levels) + values_region
    comp = pack(raw)
    dph = bytearray()
    last = 0
    last = _i32_field(dph, last, 1, n)
    last = _i32_field(dph, last, 2, enc)
    last = _i32_field(dph, last, 3, 3)  # RLE def levels
    last = _i32_field(dph, last, 4, 3)  # RLE rep levels (absent)
    dph.append(0)
    hdr = _page_header(0, len(raw), len(comp), 5, bytes(dph))
    data_offset = len(body)
    body += hdr
    body += comp
    comp_size += len(hdr) + len(comp)
    uncomp_size += len(hdr) + len(raw)
    encodings = [2, 3] if use_dict else [0, 3]
    return encodings, dict_offset, data_offset, comp_size, uncomp_size, stats


def _parse_ddl_tree(ddl: str):
    """Type tree of one column's Spark DDL type: ``('scalar', t)`` /
    ``('list', subtree)`` / ``('map', (key_t, value_subtree))`` /
    ``('struct', [(name, subtree), ...])`` with unbounded depth. A
    ``scalar`` root is a flat column; any other root is written by the
    level generator. Scalar leaves are restricted to the physical set
    of :data:`_SPARK_TO_PHYSICAL`; map keys must be scalar (the parquet
    MAP convention)."""
    s = ddl.strip()
    low = s.lower()
    if low.startswith("array<") and s.endswith(">"):
        return ("list", _parse_ddl_tree(s[6:-1]))
    if low.startswith("map<") and s.endswith(">"):
        kv = _split_top(s[4:-1])
        if len(kv) != 2:
            raise NotImplementedError(f"type {ddl} not writable")
        kt = kv[0].strip().lower()
        if kt not in _SPARK_TO_PHYSICAL:
            raise NotImplementedError(
                f"map key type {kv[0]!r} not writable (scalar keys only)"
            )
        return ("map", (kt, _parse_ddl_tree(kv[1])))
    if low.startswith("struct<") and s.endswith(">"):
        fields = []
        for part in _split_top(s[7:-1]):
            name, _, t = part.partition(":")
            if not name.strip() or not t.strip():
                raise NotImplementedError(f"type {ddl} not writable")
            fields.append((name.strip(), _parse_ddl_tree(t)))
        if not fields:
            raise NotImplementedError(f"type {ddl} not writable")
        return ("struct", fields)
    if low in _SPARK_TO_PHYSICAL:
        return ("scalar", low)
    raise NotImplementedError(f"type {ddl} not writable")


class _WLeaf:
    """Per-leaf write stream for the generic level generator."""

    __slots__ = ("path", "stype", "max_rep", "defs", "reps", "present")

    def __init__(self, path, stype, max_rep):
        self.path = path
        self.stype = stype
        self.max_rep = max_rep
        self.defs: list[int] = []
        self.reps: list[int] = []
        self.present: list = []


def _emitter(tree, path, d, r, leaves):
    """Compile one type-tree node into ``emit(value, rep)``, which
    appends the node's level entries to its subtree's leaves. ``d`` is
    the cumulative def level BEFORE this node's own increments and
    ``r`` the cumulative rep level, both fixed per node, so they are
    bound here once with each leaf's streams. Leaves append in
    depth-first order (the column-chunk emission order). Every non-key
    node is written OPTIONAL (the writer's convention); map keys are
    REQUIRED per the parquet MAP shape."""
    kind, detail = tree
    lo = len(leaves)
    if kind == "scalar":
        leaf = _WLeaf(path, detail, r)
        leaves.append(leaf)
        reps, defs = leaf.reps.append, leaf.defs.append
        present = leaf.present.append

        def emit_scalar(value, rep):
            reps(rep)
            if value is None:
                defs(d)
            else:
                defs(d + 1)
                present(value)

        return emit_scalar

    r_next = r + 1
    if kind == "list":
        child = _emitter(
            detail, path + ["list", "element"], d + 2, r_next, leaves
        )

        def emit_list(value, rep):
            if value is None:
                cut(rep, d)
                return
            if not isinstance(value, (list, tuple)):
                raise ValueError(
                    f"list cell must be a sequence, got {type(value).__name__}"
                )
            if not value:
                cut(rep, d + 1)
                return
            it = iter(value)
            child(next(it), rep)
            for item in it:
                child(item, r_next)

        emit = emit_list
    elif kind == "map":
        kt, vt = detail
        key_leaf = _WLeaf(path + ["key_value", "key"], kt, r_next)
        leaves.append(key_leaf)
        key_reps, key_defs = key_leaf.reps.append, key_leaf.defs.append
        key_present = key_leaf.present.append
        vchild = _emitter(
            vt, path + ["key_value", "value"], d + 2, r_next, leaves
        )

        def emit_map(value, rep):
            if value is None:
                cut(rep, d)
                return
            if not hasattr(value, "items"):
                raise ValueError(
                    "map cell must be a dict/mapping, got "
                    f"{type(value).__name__} (convert list-of-pairs rows "
                    "with dict(...) before encoding)"
                )
            if len(value) == 0:
                cut(rep, d + 1)
                return
            rr = rep
            for k, v in value.items():
                if k is None:
                    raise ValueError(
                        "map keys must be non-None: the parquet schema "
                        "declares map keys REQUIRED"
                    )
                key_reps(rr)
                key_defs(d + 2)
                key_present(k)
                vchild(v, rr)
                rr = r_next

        emit = emit_map
    else:  # struct
        fields = [
            (fname, _emitter(sub, path + [fname], d + 1, r, leaves))
            for fname, sub in detail
        ]

        def emit_struct(value, rep):
            if value is None:
                cut(rep, d)
                return
            if not isinstance(value, dict):
                raise ValueError(
                    f"struct cell must be a dict, got {type(value).__name__}"
                )
            for fname, sub in fields:
                sub(value.get(fname), rep)

        emit = emit_struct
    subtree = leaves[lo:]

    def cut(rep, level):
        # a null or empty node: one entry in EVERY subtree leaf
        for leaf in subtree:
            leaf.reps.append(rep)
            leaf.defs.append(level)

    return emit

def _generic_levels(vals: list, tree) -> list:
    """Per-leaf ``_WLeaf`` streams for an arbitrarily nested column —
    the exact inverse of the reader's generic Dremel assembler. One
    entry lands in EVERY subtree leaf when a node is null/empty (the
    cutoff marker); repeated nodes emit one entry set per element with
    the repetition level of the deepest continuing node. Cells are
    validated as they are met: a list cell must be a sequence, a map
    cell any mapping with non-None keys, a struct cell a dict."""
    leaves: list[_WLeaf] = []
    emit = _emitter(tree, [], 0, 0, leaves)
    for cell in vals:
        emit(cell, 0)
    return leaves



def _tree_leaf_count(tree) -> int:
    kind, detail = tree
    if kind == "scalar":
        return 1
    if kind == "list":
        return _tree_leaf_count(detail)
    if kind == "map":
        return 1 + _tree_leaf_count(detail[1])
    return sum(_tree_leaf_count(sub) for _n, sub in detail)


# v2 value encodings by physical type: the DELTA family for ints and
# strings, BYTE_STREAM_SPLIT for doubles, PLAIN (bit-packed) booleans
_V2_ENC = {
    _PT_INT32: 5,  # DELTA_BINARY_PACKED
    _PT_INT64: 5,
    _PT_BYTE_ARRAY: 6,  # DELTA_LENGTH_BYTE_ARRAY
    _PT_FLOAT: 9,  # BYTE_STREAM_SPLIT (4 streams)
    _PT_DOUBLE: 9,  # BYTE_STREAM_SPLIT
    _PT_BOOLEAN: 0,  # PLAIN
}


def _write_column_chunk_v2(body: bytearray, vals: list, ptype: int, codec_id: int):
    """V2 data page: def/rep levels live OUTSIDE the compressed region
    (unframed RLE; their byte lengths are header fields), only the
    values region compresses, and the value encodings are the modern
    ones — RLE_DICTIONARY when a column's distinct count earns it
    (the v2 convention: PLAIN dictionary page + encoding-8 data page,
    round 11), else the _V2_ENC family (DELTA ints/strings,
    BYTE_STREAM_SPLIT floats/doubles) — the write-side twin of the
    reader's decode paths. Returns the same tuple shape as the v1
    writer."""
    n = len(vals)
    levels = [0 if v is None else 1 for v in vals]
    present = [v for v in vals if v is not None]
    stats = _statistics(present, n - len(present), ptype)

    # dictionary eligibility mirrors the v1 writer (bit-pattern keys
    # for floats/doubles so -0.0/+0.0 and NaNs keep their identities)
    if ptype in (_PT_FLOAT, _PT_DOUBLE):
        _fmt = "<f" if ptype == _PT_FLOAT else "<d"

        def _key(v):
            return struct.pack(_fmt, v)
    else:
        def _key(v):
            return v

    uniq: dict = {}
    dict_vals: list = []
    for v in present:
        k = _key(v)
        if k not in uniq:
            uniq[k] = len(uniq)
            dict_vals.append(v)
    use_dict = (
        ptype != _PT_BOOLEAN
        and 0 < len(uniq) <= _DICT_MAX_CARD
        and 2 * len(uniq) <= len(present)
    )

    dict_offset = None
    dict_hdr_comp = dict_hdr_raw = 0
    if use_dict:
        draw = _plain(dict_vals, ptype)
        dcomp = _page_compress(codec_id, draw)
        dph = bytearray()
        last = 0
        last = _i32_field(dph, last, 1, len(uniq))
        last = _i32_field(dph, last, 2, 0)  # PLAIN dictionary page (v2)
        dph.append(0)
        hdr = _page_header(2, len(draw), len(dcomp), 7, bytes(dph))
        dict_offset = len(body)
        body += hdr
        body += dcomp
        dict_hdr_comp = len(hdr) + len(dcomp)
        dict_hdr_raw = len(hdr) + len(draw)
        bw = max(1, (len(uniq) - 1).bit_length())
        raw_vals = bytes([bw]) + _bitpacked_indices(
            [uniq[_key(v)] for v in present], bw
        )
        enc = 8  # RLE_DICTIONARY
    else:
        enc = _V2_ENC[ptype]
        if ptype in (_PT_INT32, _PT_INT64):
            raw_vals = _delta_binary_packed(
                [int(v) for v in present],
                32 if ptype == _PT_INT32 else 64,
            )
        elif ptype == _PT_BYTE_ARRAY:
            raw_vals = _delta_length_byte_array(present)
        elif ptype in (_PT_FLOAT, _PT_DOUBLE):
            raw_vals = _byte_stream_split(
                present, 4 if ptype == _PT_FLOAT else 8
            )
        else:
            raw_vals = _plain(present, ptype)
    comp_vals = _page_compress(codec_id, raw_vals)
    def_bytes = _rle_runs(levels)

    dph = bytearray()
    last = 0
    last = _i32_field(dph, last, 1, n)  # num_values
    last = _i32_field(dph, last, 2, n - len(present))  # num_nulls
    last = _i32_field(dph, last, 3, n)  # num_rows (flat: 1 per value)
    last = _i32_field(dph, last, 4, enc)
    last = _i32_field(dph, last, 5, len(def_bytes))
    last = _i32_field(dph, last, 6, 0)  # no rep levels (flat)
    # is_compressed: compact bool lives in the field header itself
    last = _field(dph, last, 7, 1 if codec_id else 2)
    dph.append(0)
    hdr = _page_header(
        3,
        len(def_bytes) + len(raw_vals),
        len(def_bytes) + len(comp_vals),
        8,
        bytes(dph),
    )
    data_offset = len(body)
    body += hdr
    body += def_bytes
    body += comp_vals
    comp_size = dict_hdr_comp + len(hdr) + len(def_bytes) + len(comp_vals)
    uncomp_size = dict_hdr_raw + len(hdr) + len(def_bytes) + len(raw_vals)
    # ColumnMetaData.encodings is the set of ALL encodings used in the
    # chunk: the v2 dictionary page itself is PLAIN (0), so it must be
    # listed alongside RLE_DICTIONARY (8) and RLE (3) — the v1 path's
    # PLAIN_DICTIONARY (2) covers both pages, the v2 split does not
    # (round-12 advice fix).
    return (
        [0, enc, 3] if use_dict else [enc, 3],
        dict_offset,
        data_offset,
        comp_size,
        uncomp_size,
        stats,
    )


def _encode_values(present: list, ptype: int, page_version: int) -> tuple[bytes, int]:
    """(raw value bytes, encoding id) for a NESTED leaf chunk — PLAIN
    on v1 pages, the _V2_ENC family on v2 (nested chunks skip the
    dictionary path; the flat writers keep theirs)."""
    if page_version == 2:
        enc = _V2_ENC[ptype]
        if ptype in (_PT_INT32, _PT_INT64):
            return _delta_binary_packed(
                [int(v) for v in present],
                32 if ptype == _PT_INT32 else 64,
            ), enc
        if ptype == _PT_BYTE_ARRAY:
            return _delta_length_byte_array(present), enc
        if ptype in (_PT_FLOAT, _PT_DOUBLE):
            return _byte_stream_split(
                present, 4 if ptype == _PT_FLOAT else 8
            ), enc
        return _plain(present, ptype), 0
    return _plain(present, ptype), 0


def _write_nested_chunk(
    body: bytearray,
    defs: list[int],
    reps: list[int] | None,
    present: list,
    n_rows: int,
    ptype: int,
    codec_id: int,
    page_version: int,
):
    """One LEAF chunk under a LIST or STRUCT column: caller supplies
    the already-computed def/rep level streams; this emits the page in
    the requested layout (v1: prefixed-RLE rep + def levels inside the
    compressed region; v2: unframed levels outside it). Returns the
    same tuple shape as the flat chunk writers."""
    def pack(raw: bytes) -> bytes:
        return _page_compress(codec_id, raw)

    n = len(defs)
    stats = _statistics(present, n - len(present), ptype)
    raw_vals, enc = _encode_values(present, ptype, page_version)

    if page_version == 2:
        rep_bytes = _rle_runs(reps) if reps is not None else b""
        def_bytes = _rle_runs(defs)
        comp_vals = pack(raw_vals)
        dph = bytearray()
        last = 0
        last = _i32_field(dph, last, 1, n)
        last = _i32_field(dph, last, 2, n - len(present))
        last = _i32_field(dph, last, 3, n_rows)
        last = _i32_field(dph, last, 4, enc)
        last = _i32_field(dph, last, 5, len(def_bytes))
        last = _i32_field(dph, last, 6, len(rep_bytes))
        last = _field(dph, last, 7, 1 if codec_id else 2)
        dph.append(0)
        hdr = _page_header(
            3,
            len(rep_bytes) + len(def_bytes) + len(raw_vals),
            len(rep_bytes) + len(def_bytes) + len(comp_vals),
            8,
            bytes(dph),
        )
        data_offset = len(body)
        body += hdr
        body += rep_bytes
        body += def_bytes
        body += comp_vals
        comp_size = len(hdr) + len(rep_bytes) + len(def_bytes) + len(comp_vals)
        uncomp_size = len(hdr) + len(rep_bytes) + len(def_bytes) + len(raw_vals)
        return [enc, 3], None, data_offset, comp_size, uncomp_size, stats

    raw = b""
    if reps is not None:
        raw += _rle_levels(reps)
    raw += _rle_levels(defs) + raw_vals
    comp = pack(raw)
    dph = bytearray()
    last = 0
    last = _i32_field(dph, last, 1, n)
    last = _i32_field(dph, last, 2, enc)
    last = _i32_field(dph, last, 3, 3)  # RLE def levels
    last = _i32_field(dph, last, 4, 3)  # RLE rep levels
    dph.append(0)
    hdr = _page_header(0, len(raw), len(comp), 5, bytes(dph))
    data_offset = len(body)
    body += hdr
    body += comp
    return (
        [enc, 3],
        None,
        data_offset,
        len(hdr) + len(comp),
        len(hdr) + len(raw),
        stats,
    )


def _write_column_chunk_paged(
    body: bytearray, vals: list, ptype: int, codec_id: int,
    page_version: int, page_rows: int,
):
    """A FLAT OPTIONAL chunk split into ``page_rows``-row data pages
    (PLAIN-family encodings, no dictionary) with per-page statistics
    collected for the PAGE INDEX. Returns the usual chunk tuple plus a
    ``pageinfo`` dict (locs / null_pages / mins / maxs / null_counts —
    the ColumnIndex + OffsetIndex ingredients)."""
    n = len(vals)
    locs: list[tuple[int, int, int]] = []
    null_pages: list[bool] = []
    mins: list[bytes] = []
    maxs: list[bytes] = []
    null_counts: list[int] = []
    total_comp = total_uncomp = 0
    first_off = None
    encodings = None
    for start in range(0, max(n, 1), page_rows):
        pv = vals[start: start + page_rows]
        defs = [1 if v is not None else 0 for v in pv]
        present = [v for v in pv if v is not None]
        off = len(body)
        enc_list, _d, _data_off, comp, uncomp, _st = _write_nested_chunk(
            body, defs, None, present, len(pv), ptype, codec_id,
            page_version,
        )
        if first_off is None:
            first_off = off
            encodings = enc_list
        locs.append((off, comp, start))
        total_comp += comp
        total_uncomp += uncomp
        null_counts.append(len(pv) - len(present))
        # NaN never enters min/max (the Statistics convention)
        cmp_vals = [
            v for v in present
            if not (isinstance(v, float) and v != v)
        ]
        if cmp_vals:
            null_pages.append(False)
            mins.append(_stat_bytes(min(cmp_vals), ptype))
            maxs.append(_stat_bytes(max(cmp_vals), ptype))
        else:
            null_pages.append(True)
            mins.append(b"")
            maxs.append(b"")
        if n == 0:
            break
    present_all = [v for v in vals if v is not None]
    stats = _statistics(present_all, n - len(present_all), ptype)
    chunk = (
        encodings or [0, 3], None, first_off or len(body),
        total_comp, total_uncomp, stats,
    )
    pageinfo = {
        "locs": locs, "null_pages": null_pages, "mins": mins,
        "maxs": maxs, "null_counts": null_counts,
    }
    return chunk, pageinfo


def _column_index_bytes(pageinfo: dict) -> bytes:
    """parquet.thrift ColumnIndex (compact): 1 null_pages, 2/3
    min/max_values, 4 boundary_order (UNORDERED), 5 null_counts."""
    out = bytearray()
    last = 0
    last = _list_field(
        out, last, 1, 1,
        [b"\x01" if b else b"\x02" for b in pageinfo["null_pages"]],
    )
    last = _list_field(
        out, last, 2, _T_BINARY,
        [_varint(len(v)) + v for v in pageinfo["mins"]],
    )
    last = _list_field(
        out, last, 3, _T_BINARY,
        [_varint(len(v)) + v for v in pageinfo["maxs"]],
    )
    last = _i32_field(out, last, 4, 0)  # boundary_order UNORDERED
    last = _list_field(
        out, last, 5, _T_I64,
        [_zigzag(c) for c in pageinfo["null_counts"]],
    )
    out.append(0)
    return bytes(out)


def _offset_index_bytes(pageinfo: dict) -> bytes:
    """parquet.thrift OffsetIndex: list of PageLocation{offset,
    compressed_page_size, first_row_index}."""
    pls = []
    for off, size, first in pageinfo["locs"]:
        pl = bytearray()
        last = 0
        last = _i64_field(pl, last, 1, off)
        last = _i32_field(pl, last, 2, size)
        last = _i64_field(pl, last, 3, first)
        pl.append(0)
        pls.append(bytes(pl))
    out = bytearray()
    _list_field(out, 0, 1, _T_STRUCT, pls)
    out.append(0)
    return bytes(out)


def _sbbf_bitset(hashes: list[int], fpp: float) -> bytes:
    """Build one split-block bloom filter bitset over 64-bit value
    hashes (XXH64 of plain encodings — parquet-format BloomFilter.md).
    Sizing follows parquet-mr's BlockSplitBloomFilter.optimalNumOfBits
    for the fixed-k=8 split-block shape — bits = -8n / ln(1 -
    fpp^(1/8)), NOT the classical k-free bloom formula (which
    undersizes this shape and can land a power-of-two bucket short) —
    rounded UP to a power of two, clamped to a 32-byte minimum.
    Insertion is the same 8-salt block math the read path probes
    (operators/parquet_bloom.py)."""
    import math

    from .parquet_bloom import _SALT

    n = max(1, len(hashes))
    bits = -8.0 * n / math.log(1.0 - fpp ** 0.125)
    num_bytes = max(32, 1 << max(0, math.ceil(math.log2(max(bits, 1) / 8))))
    bitset = bytearray(num_bytes)
    num_blocks = num_bytes >> 5
    for h in hashes:
        block = (((h >> 32) & 0xFFFFFFFF) * num_blocks) >> 32
        base = block << 5
        x = h & 0xFFFFFFFF
        for i in range(8):
            bit = ((x * _SALT[i]) & 0xFFFFFFFF) >> 27
            word_off = base + 4 * i
            (word,) = struct.unpack_from("<I", bitset, word_off)
            struct.pack_into("<I", bitset, word_off, word | (1 << bit))
    return bytes(bitset)


def _bloom_blob(bitset: bytes) -> bytes:
    """thrift-compact BloomFilterHeader + the bitset: numBytes,
    then the three unions (BLOCK / XXHASH / UNCOMPRESSED) each as a
    one-field struct holding an empty struct — the wire shape
    parquet-mr emits and the pure reader decodes."""
    empty_union = bytearray()
    _field(empty_union, 0, 1, _T_STRUCT)
    empty_union.append(0)  # inner empty struct stop
    empty_union.append(0)  # union stop
    hb = bytearray()
    last = 0
    last = _i32_field(hb, last, 1, len(bitset))
    for fid in (2, 3, 4):
        last = _struct_field(hb, last, fid, bytes(empty_union))
    hb.append(0)
    return bytes(hb) + bitset


def build_parquet_bytes(
    columns: dict[str, list],
    ddl_types: dict[str, str],
    compression: str = "snappy",
    row_group_size: int | None = None,
    page_version: int = 1,
    page_rows: int | None = None,
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01,
) -> bytes:
    """One parquet FILE as bytes.

    ``ddl_types`` maps column name → Spark DDL type. Each column takes
    one of two paths. A FLAT scalar column (boolean / int / bigint /
    float / double / string / date / timestamp) goes through the flat
    chunk writers: columns whose distinct count earns it get
    PLAIN_DICTIONARY pages, and only flat columns take the page index
    and bloom filters below. Any other type (``array<…>``, ``map<…>``,
    ``struct<…>``, composed to any depth) is parsed into a type tree;
    :func:`_generic_levels` turns its cells into one Dremel level
    stream per leaf and every leaf is written as its own chunk (3-level
    LIST, ``key_value`` MAP with REQUIRED keys, the parquet-format
    LogicalTypes conventions). All nodes but map keys are written
    OPTIONAL with real definition levels, so None round-trips as null.
    Every chunk carries null_count + min_value/max_value statistics,
    and ``row_group_size`` splits rows into multiple row groups so
    those statistics drive row-group skipping in readers.

    ``page_version=2`` (round 11) writes DataPageV2 instead: levels
    outside the compressed region, DELTA_BINARY_PACKED ints/temporals,
    DELTA_LENGTH_BYTE_ARRAY strings, BYTE_STREAM_SPLIT doubles —
    closing the read/write asymmetry left by the round-9 reader, which
    already decodes all of these.

    ``page_rows`` (round 13) splits every FLAT scalar chunk into
    pages of that many rows and emits the parquet PAGE INDEX
    (ColumnIndex + OffsetIndex between data and footer, ColumnChunk
    fields 4-7 locating them) — per-page min/max/null stats that let
    readers (this repo's page-index scan; any parquet-mr-family
    engine) eliminate pages, not just row groups. Dictionary encoding
    is skipped for paged chunks.

    ``bloom_cols`` (round 14) emits a SPLIT-BLOCK BLOOM FILTER per
    row group for the named FLAT scalar columns (thrift
    BloomFilterHeader + SBBF bitset after the data region,
    ColumnMetaData fields 14/15 locating it) — the point-lookup
    I/O-elimination structure zone maps cannot provide. Sized for the
    chunk's distinct count at ``bloom_fpp`` per parquet-mr's
    BlockSplitBloomFilter policy; validated against parquet-mr's own
    BloomFilterReader (via the Spark JVM) plus a Spark end-to-end
    filtered read and this repo's bloom-pruned scan.
    """
    names = list(columns)
    num_rows = len(columns[names[0]]) if names else 0

    # one type tree per column: a ('scalar', t) root is a flat column
    plans = {c: _parse_ddl_tree(ddl_types[c]) for c in names}
    n_leaves = sum(_tree_leaf_count(p) for p in plans.values())
    for c in bloom_cols or ():
        if c not in plans or plans[c][0] != "scalar" or plans[c][1] == "boolean":
            raise NotImplementedError(
                "bloom filters are emitted for FLAT non-boolean scalar "
                f"columns only; {c!r} is not one"
            )
    for c in names:
        if len(columns[c]) != num_rows:
            raise ValueError("ragged columns")
    if compression not in ("none", "snappy", "brotli"):
        raise NotImplementedError(f"codec {compression} not writable")
    codec_id = {"none": 0, "snappy": 1, "brotli": 4}[compression]
    rg_size = row_group_size or max(num_rows, 1)

    def _leaf_metadata(
        path: list[str], ptype: int, n_values: int, chunk,
        index_offsets: tuple[int, int, int, int] | None = None,
        bloom: tuple[int, int] | None = None,
    ) -> bytes:
        encodings, dict_off, data_off, comp_size, uncomp_size, stats = chunk
        md = bytearray()
        last = 0
        last = _i32_field(md, last, 1, ptype)
        last = _list_field(
            md, last, 2, _T_I32, [_zigzag(e) for e in encodings]
        )
        last = _list_field(
            md, last, 3, _T_BINARY,
            [_varint(len(p.encode())) + p.encode() for p in path],
        )
        last = _i32_field(md, last, 4, codec_id)
        last = _i64_field(md, last, 5, n_values)
        last = _i64_field(md, last, 6, uncomp_size)
        last = _i64_field(md, last, 7, comp_size)
        last = _i64_field(md, last, 9, data_off)
        if dict_off is not None:
            last = _i64_field(md, last, 11, dict_off)
        last = _struct_field(md, last, 12, stats)
        if bloom is not None:
            # 14 = bloom_filter_offset, 15 = bloom_filter_length
            # (header + bitset, parquet.thrift)
            last = _i64_field(md, last, 14, bloom[0])
            last = _i32_field(md, last, 15, bloom[1])
        md.append(0)
        cc = bytearray()
        last = 0
        last = _i64_field(
            cc, last, 2, dict_off if dict_off is not None else data_off
        )
        last = _struct_field(cc, last, 3, bytes(md))
        if index_offsets is not None:
            # ColumnChunk 4/5 = offset index, 6/7 = column index —
            # field ids pinned against pyarrow/Spark-written files
            oi_off, oi_len, ci_off, ci_len = index_offsets
            last = _i64_field(cc, last, 4, oi_off)
            last = _i32_field(cc, last, 5, oi_len)
            last = _i64_field(cc, last, 6, ci_off)
            last = _i32_field(cc, last, 7, ci_len)
        cc.append(0)
        return bytes(cc)

    body = bytearray(_MAGIC)
    row_groups = []
    flat_writer = (
        _write_column_chunk_v2 if page_version == 2 else _write_column_chunk
    )
    for start in range(0, max(num_rows, 1), rg_size):
        n_rg = min(rg_size, num_rows - start) if num_rows else 0
        col_chunks = []
        total_uncomp = 0
        for c in names:
            kind, detail = plans[c]
            vals = columns[c][start : start + n_rg]
            if kind == "scalar":
                ptype = _SPARK_TO_PHYSICAL[detail]
                bitset = None
                if bloom_cols and c in bloom_cols:
                    from .parquet_bloom import plain_encode, xxhash64

                    tl = 0  # flat scalars here are never FLBA
                    # dedup by PLAIN ENCODING, not by Python value:
                    # 0.0 and -0.0 compare equal but encode (and
                    # hash) differently — a value-level set would
                    # drop one variant's hash and turn a physically
                    # present value into a bloom false negative
                    # (round-14 review)
                    bitset = _sbbf_bitset(
                        [
                            xxhash64(e)
                            for e in {
                                plain_encode(x, ptype, tl)
                                for x in vals
                                if x is not None
                            }
                        ],
                        bloom_fpp,
                    )
                if page_rows is not None:
                    chunk, pageinfo = _write_column_chunk_paged(
                        body, vals, ptype, codec_id, page_version,
                        page_rows,
                    )
                    # deferred: the ColumnChunk thrift needs the index
                    # block offsets, which are only known after every
                    # row group's data is written
                    col_chunks.append(
                        ("defer", [c], ptype, n_rg, chunk, pageinfo, bitset)
                    )
                elif bitset is not None:
                    # bloom blobs also land after the data region, so
                    # the chunk metadata defers the same way
                    chunk = flat_writer(body, vals, ptype, codec_id)
                    col_chunks.append(
                        ("defer", [c], ptype, n_rg, chunk, None, bitset)
                    )
                else:
                    chunk = flat_writer(body, vals, ptype, codec_id)
                    col_chunks.append(
                        _leaf_metadata([c], ptype, n_rg, chunk)
                    )
                total_uncomp += chunk[4]
            else:
                # nested column: one chunk per leaf from the level
                # generator, leaves in depth-first (schema) order
                for leaf in _generic_levels(vals, plans[c]):
                    ptype = _SPARK_TO_PHYSICAL[leaf.stype]
                    chunk = _write_nested_chunk(
                        body, leaf.defs,
                        leaf.reps if leaf.max_rep else None,
                        leaf.present, n_rg, ptype, codec_id,
                        page_version,
                    )
                    col_chunks.append(
                        _leaf_metadata(
                            [c] + leaf.path, ptype, len(leaf.defs), chunk
                        )
                    )
                    total_uncomp += chunk[4]
        row_groups.append((col_chunks, total_uncomp, n_rg))
        if num_rows == 0:
            break

    # BLOOM FILTER section (round 14, bloom_cols set): after the data,
    # before the page indexes — parquet-mr's layout order.
    bloom_offsets: dict[tuple[int, int], tuple[int, int]] = {}
    for ri, (col_chunks, _tu, _nr) in enumerate(row_groups):
        for ci_, entry in enumerate(col_chunks):
            if isinstance(entry, tuple) and entry[6] is not None:
                blob = _bloom_blob(entry[6])
                bloom_offsets[(ri, ci_)] = (len(body), len(blob))
                body += blob

    # PAGE INDEX section (round 13, page_rows set): after the data,
    # before the footer — all ColumnIndex structs (per row group, per
    # deferred chunk), then all OffsetIndex structs (the layout
    # pyarrow and parquet-mr emit). Deferred ColumnChunk thrift is
    # then built with the recorded offsets.
    index_offsets: dict[tuple[int, int], list] = {}
    for ri, (col_chunks, _tu, _nr) in enumerate(row_groups):
        for ci_, entry in enumerate(col_chunks):
            if isinstance(entry, tuple) and entry[5] is not None:
                blob = _column_index_bytes(entry[5])
                off = len(body)
                body += blob
                index_offsets[(ri, ci_)] = [None, None, off, len(blob)]
    for ri, (col_chunks, _tu, _nr) in enumerate(row_groups):
        for ci_, entry in enumerate(col_chunks):
            if isinstance(entry, tuple) and entry[5] is not None:
                blob = _offset_index_bytes(entry[5])
                off = len(body)
                body += blob
                index_offsets[(ri, ci_)][0] = off
                index_offsets[(ri, ci_)][1] = len(blob)

    serialized_rgs: list[bytes] = []
    for ri, (col_chunks, total_uncomp, n_rg) in enumerate(row_groups):
        final_chunks: list[bytes] = []
        for ci_, entry in enumerate(col_chunks):
            if isinstance(entry, tuple):
                _tag, path, ptype, n_values, chunk, _pi, _bs = entry
                idx = index_offsets.get((ri, ci_))
                final_chunks.append(
                    _leaf_metadata(
                        path, ptype, n_values, chunk,
                        index_offsets=tuple(idx) if idx else None,
                        bloom=bloom_offsets.get((ri, ci_)),
                    )
                )
            else:
                final_chunks.append(entry)
        rg = bytearray()
        last = 0
        last = _list_field(rg, last, 1, _T_STRUCT, final_chunks)
        # RowGroup.total_byte_size is the UNCOMPRESSED data size per
        # parquet.thrift — consumers size splits/memory from it
        last = _i64_field(rg, last, 2, total_uncomp)
        last = _i64_field(rg, last, 3, n_rg)
        rg.append(0)
        serialized_rgs.append(bytes(rg))
    row_groups = serialized_rgs

    # schema elements: root, then the (pre-order) tree per column
    root = bytearray()
    last = 0
    last = _bin_field(root, last, 4, b"root")
    last = _i32_field(root, last, 5, len(names))
    root.append(0)
    schema_elems = [bytes(root)]

    def _leaf_elem(name: str, t: str, repetition: int = 1) -> bytes:
        el = bytearray()
        last = 0
        last = _i32_field(el, last, 1, _SPARK_TO_PHYSICAL[t])
        last = _i32_field(el, last, 3, repetition)
        last = _bin_field(el, last, 4, name.encode("utf-8"))
        if t in _CONVERTED:
            last = _i32_field(el, last, 6, _CONVERTED[t])
        el.append(0)
        return bytes(el)

    def _group_elem(
        name: str, num_children: int, repetition: int,
        converted: int | None = None,
    ) -> bytes:
        el = bytearray()
        last = 0
        last = _i32_field(el, last, 3, repetition)
        last = _bin_field(el, last, 4, name.encode("utf-8"))
        last = _i32_field(el, last, 5, num_children)
        if converted is not None:
            last = _i32_field(el, last, 6, converted)
        el.append(0)
        return bytes(el)

    def _emit_tree(name, tree, repetition=1):
        # 3-level LIST: optional group (LIST) { repeated group list
        # { optional element } }; MAP: optional group (MAP) { repeated
        # group key_value { required key; optional value } }
        tkind, tdetail = tree
        if tkind == "scalar":
            schema_elems.append(_leaf_elem(name, tdetail, repetition))
        elif tkind == "list":
            schema_elems.append(_group_elem(name, 1, repetition, converted=3))
            schema_elems.append(_group_elem("list", 1, 2))
            _emit_tree("element", tdetail)
        elif tkind == "map":
            kt, vt = tdetail
            schema_elems.append(_group_elem(name, 1, repetition, converted=1))
            schema_elems.append(_group_elem("key_value", 2, 2))
            schema_elems.append(_leaf_elem("key", kt, repetition=0))
            _emit_tree("value", vt)
        else:  # struct
            schema_elems.append(_group_elem(name, len(tdetail), repetition))
            for fname, sub in tdetail:
                _emit_tree(fname, sub)

    for c in names:
        _emit_tree(c, plans[c])

    fmd = bytearray()
    last = 0
    last = _i32_field(fmd, last, 1, page_version)  # format version
    last = _list_field(fmd, last, 2, _T_STRUCT, schema_elems)
    last = _i64_field(fmd, last, 3, num_rows)
    last = _list_field(fmd, last, 4, _T_STRUCT, row_groups)
    # column_orders (FileMetaData field 7): one TYPE_ORDER per leaf.
    # Without this list the spec tells readers to IGNORE
    # min_value/max_value — pyarrow does exactly that, so the stats
    # only enable row-group skipping once these are present.
    # ColumnOrder is a thrift union whose field 1 (TYPE_ORDER) is the
    # empty TypeDefinedOrder struct: 0x1C (field 1, struct) 0x00
    # (empty struct stop) 0x00 (union stop).
    last = _list_field(
        fmd, last, 7, _T_STRUCT, [b"\x1c\x00\x00"] * n_leaves
    )
    fmd.append(0)

    body += fmd
    body += struct.pack("<I", len(fmd))
    body += _MAGIC
    return bytes(body)
