"""Parquet DATA PAGE reading in pure Python (SURVEY §2 C12, round 9).

:mod:`parquet_meta` stops at the footer — the planner's view. This
module reads the pages themselves: the full column-chunk walk the way
the format defines it (parquet-format/README + parquet.thrift), built
on the repo's own codec stack (snappy.py, zstd.py, stdlib zlib) so a
shard processor can materialize parquet values with no JVM and no
pyarrow on the worker:

- column chunks start at ``dictionary_page_offset`` (when present) or
  ``data_page_offset``; each page is a thrift-compact ``PageHeader``
  followed by ``compressed_page_size`` bytes;
- v1 data pages carry ``<4-byte len><RLE/bit-packed definition
  levels>`` (only when the column is optional) then the values; v2
  pages carry uncompressed level runs of declared byte length before a
  values region that is compressed independently;
- values decode from PLAIN (fixed-width LE scalars, bit-packed
  booleans, length-prefixed byte arrays) or PLAIN_/RLE_DICTIONARY
  (one leading bit-width byte, then RLE/bit-packed hybrid indices into
  the chunk's PLAIN dictionary page);
- definition levels re-seat nulls in flat columns; for every other
  column, repetition and definition levels drive one Dremel record
  assembly (Melnik et al., VLDB 2010) that handles LIST, MAP and
  STRUCT composed to any depth — see :func:`read_parquet_nested_bytes`.

Honesty per the repo rule: every path is cross-validated against a
reference READER in-container — pyarrow reads the same bytes in the
unit tests, and the graded catalog entry decodes the driver-generated
testdata files and hash-matches DuckDB's independent parquet reader
over the same files.

Scale shape: one file per task (the file-per-task DataSource posture);
a column chunk decodes sequentially but chunks/files decode in
parallel across executors. Pure-Python throughput is MB/s-constant —
this is the no-JVM fallback/audit path, not a replacement for the
vectorized scan.

Round-9 second pass: the DELTA family (DELTA_BINARY_PACKED with
modular accumulation in the physical width, DELTA_LENGTH_BYTE_ARRAY,
DELTA_BYTE_ARRAY prefix sharing) and BYTE_STREAM_SPLIT decode too —
pyarrow can WRITE all four (column_encoding / use_byte_stream_split),
so each is cross-validated against reference-written bytes.

Round-10 additions: INT96 timestamps decode to epoch nanoseconds
(signed nanos-of-day handles both the Java/Impala positive convention
and pyarrow's negative pre-1970 fractions), and the nested shapes
above. Round 12 adds BROTLI page decode (operators/brotli.py — full
RFC 7932, validated against pyarrow's bundled reference both as a
codec fuzz target and via hand-built transform-selecting streams).
Unsupported by documented decision: the LZO codec (no reference
in-container). The pure WRITER compresses none/snappy/brotli (the
brotli encoder is the repo's own literals+Huffman RFC 7932 encoder,
every stream validated against pyarrow's reference decoder).
"""

from __future__ import annotations

import struct
import zlib

from .parquet_meta import _Compact

# physical types (parquet.thrift Type)
_BOOLEAN, _INT32, _INT64, _INT96 = 0, 1, 2, 3
_FLOAT, _DOUBLE, _BYTE_ARRAY, _FLBA = 4, 5, 6, 7

_PLAIN, _PLAIN_DICT, _RLE, _RLE_DICT = 0, 2, 3, 8
_DELTA_BINARY, _DELTA_LENGTH_BA, _DELTA_BA, _BYTE_STREAM_SPLIT = 5, 6, 7, 9

_PAGE_DATA, _PAGE_DICT, _PAGE_DATA_V2 = 0, 2, 3


def _decompress(codec: int, payload: bytes, uncompressed_size: int) -> bytes:
    if codec == 0:  # UNCOMPRESSED
        return payload
    if codec == 1:  # SNAPPY
        from .snappy import snappy_decompress

        return snappy_decompress(payload)
    if codec == 2:  # GZIP
        return zlib.decompress(payload, wbits=31)
    if codec == 4:  # BROTLI (round 12: RFC 7932 decoder, promoted
        # from a decline now that pyarrow's bundled brotli provides
        # the in-container reference to validate against)
        from .brotli import brotli_decompress

        return brotli_decompress(payload, expected_size=uncompressed_size)
    if codec == 6:  # ZSTD
        from .zstd import zstd_decompress

        return zstd_decompress(payload, max_output=uncompressed_size)
    if codec == 7:  # LZ4_RAW: one raw lz4 block, size known from header
        from .arrow_ipc import lz4_block_decompress

        out = bytearray()
        lz4_block_decompress(payload, out)
        return bytes(out)
    raise NotImplementedError(f"parquet codec {codec} not supported")


def _rle_bp_hybrid(data: bytes, pos: int, bit_width: int, count: int) -> tuple[list[int], int]:
    """RLE/bit-packed hybrid (parquet-format Encodings.md): varint
    header ``(len << 1) | is_bit_packed``; RLE runs carry one value in
    ceil(bit_width/8) LE bytes, bit-packed runs carry len*8 values
    LSB-first. Returns (values[:count], new_pos)."""
    out: list[int] = []
    width_bytes = (bit_width + 7) // 8
    n = len(data)
    while len(out) < count:
        if pos >= n:
            raise ValueError("truncated RLE/bit-packed run")
        header = 0
        shift = 0
        while True:
            b = data[pos]
            pos += 1
            header |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        if header & 1:  # bit-packed: (header >> 1) groups of 8 values
            groups = header >> 1
            nbytes = groups * bit_width  # == groups*8*bit_width/8 bits
            if pos + nbytes > n:
                raise ValueError("bit-packed run past page end")
            chunk = data[pos : pos + nbytes]
            pos += nbytes
            if bit_width == 0:
                out.extend([0] * (groups * 8))
            elif groups * 8 >= 64 and bit_width <= 56:
                # vectorized LSB-first unpack (guide §4.2: batch work
                # to numpy instead of a per-value genexpr — round-16;
                # 56-bit cap keeps the power-of-two dot exact in int64)
                import numpy as _np

                bits = _np.unpackbits(
                    _np.frombuffer(chunk, _np.uint8), bitorder="little"
                )
                vals = bits.reshape(-1, bit_width) @ (
                    _np.int64(1) << _np.arange(bit_width, dtype=_np.int64)
                )
                out.extend(vals.tolist())
            else:
                acc = int.from_bytes(chunk, "little")
                mask = (1 << bit_width) - 1
                out.extend(
                    (acc >> (i * bit_width)) & mask for i in range(groups * 8)
                )
        else:  # RLE run
            run_len = header >> 1
            if bit_width == 0:
                v = 0
            else:
                if pos + width_bytes > n:
                    raise ValueError("RLE run value past page end")
                v = int.from_bytes(data[pos : pos + width_bytes], "little")
                pos += width_bytes
            out.extend([v] * run_len)
    return out[:count], pos


def _delta_binary_packed(
    data: bytes, pos: int, count: int, bits: int = 64
) -> tuple[list[int], int]:
    """DELTA_BINARY_PACKED (parquet-format Encodings.md §Delta): header
    <block size><miniblocks per block><total count><first value>, then
    per block <min delta><one bit width per miniblock><packed deltas>.
    Per spec the accumulation is MODULAR in the physical width
    (``bits``), so extreme int32/int64 ranges wrap exactly like the
    reference writers produced them. Returns (values, new_pos)."""
    mask_w = (1 << bits) - 1
    sign = 1 << (bits - 1)

    def wrap(v: int) -> int:
        v &= mask_w
        return v - (1 << bits) if v & sign else v

    def varint():
        nonlocal pos
        v = 0
        shift = 0
        while True:
            b = data[pos]
            pos += 1
            v |= (b & 0x7F) << shift
            if not b & 0x80:
                return v
            shift += 7

    def zz():
        u = varint()
        return (u >> 1) ^ -(u & 1)

    block_size = varint()
    n_mini = varint()
    total = varint()
    first = zz()
    if total == 0:
        return [], pos
    out = [first]
    per_mini = block_size // n_mini
    while len(out) < total:
        min_delta = zz()
        widths = data[pos : pos + n_mini]
        pos += n_mini
        for m in range(n_mini):
            if len(out) >= total:
                # trailing miniblocks of the last block are still
                # PRESENT in the stream (writers pad); skip their bytes
                pos += per_mini * widths[m] // 8
                continue
            w = widths[m]
            nbytes = per_mini * w // 8
            chunk = data[pos : pos + nbytes]
            pos += nbytes
            if w == 0:
                deltas = [0] * per_mini
            else:
                acc = int.from_bytes(chunk, "little")
                mask = (1 << w) - 1
                deltas = [(acc >> (i * w)) & mask for i in range(per_mini)]
            for d in deltas:
                if len(out) >= total:
                    break
                out.append(wrap(out[-1] + min_delta + d))
    return out[:count], pos


def _delta_length_byte_array(data: bytes, pos: int, count: int) -> tuple[list[bytes], int]:
    lengths, pos = _delta_binary_packed(data, pos, count)
    vals = []
    for ln in lengths:
        vals.append(bytes(data[pos : pos + ln]))
        pos += ln
    return vals, pos


def _delta_byte_array(data: bytes, pos: int, count: int) -> tuple[list[bytes], int]:
    prefixes, pos = _delta_binary_packed(data, pos, count)
    suffixes, pos = _delta_length_byte_array(data, pos, count)
    vals: list[bytes] = []
    prev = b""
    for p, s in zip(prefixes, suffixes):
        prev = prev[:p] + s
        vals.append(prev)
    return vals, pos


def _byte_stream_split(data: bytes, pos: int, ptype: int, count: int, type_length: int):
    width = {_INT32: 4, _INT64: 8, _FLOAT: 4, _DOUBLE: 8, _FLBA: type_length}.get(ptype)
    if not width:
        raise NotImplementedError(f"BYTE_STREAM_SPLIT for type {ptype}")
    streams = [data[pos + k * count : pos + (k + 1) * count] for k in range(width)]
    raw = bytes(
        b for i in range(count) for b in (s[i] for s in streams)
    )
    if ptype == _FLBA:
        return [raw[i * width : (i + 1) * width] for i in range(count)], pos + width * count
    fmt = {_INT32: "i", _INT64: "q", _FLOAT: "f", _DOUBLE: "d"}[ptype]
    return list(struct.unpack(f"<{count}{fmt}", raw)), pos + width * count


def _plain_values(data: bytes, pos: int, ptype: int, count: int, type_length: int = 0):
    """Decode ``count`` PLAIN values of physical type ``ptype`` starting
    at ``pos``; returns (values, new_pos)."""
    if ptype == _BOOLEAN:
        vals = []
        for i in range(count):
            vals.append(bool((data[pos + (i >> 3)] >> (i & 7)) & 1))
        return vals, pos + ((count + 7) >> 3)
    if ptype in (_INT32, _INT64, _FLOAT, _DOUBLE):
        fmt, size = {
            _INT32: ("i", 4),
            _INT64: ("q", 8),
            _FLOAT: ("f", 4),
            _DOUBLE: ("d", 8),
        }[ptype]
        end = pos + size * count
        if end > len(data):
            raise ValueError("PLAIN values past page end")
        return list(struct.unpack_from(f"<{count}{fmt}", data, pos)), end
    if ptype == _BYTE_ARRAY:
        vals = []
        for _ in range(count):
            (ln,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if pos + ln > len(data):
                raise ValueError("BYTE_ARRAY past page end")
            vals.append(bytes(data[pos : pos + ln]))
            pos += ln
        return vals, pos
    if ptype == _FLBA:
        vals = []
        for _ in range(count):
            vals.append(bytes(data[pos : pos + type_length]))
            pos += type_length
        return vals, pos
    if ptype == _INT96:
        # Legacy Spark/Impala/Hive timestamp: 8-byte LE nanos-of-day
        # followed by 4-byte LE Julian day number. Decoded to epoch
        # NANOSECONDS (int) — same convention as the ORC timestamp
        # decoder; 2440588 is the Julian day of 1970-01-01. The nanos
        # field is read as SIGNED int64: the Java/Impala convention
        # keeps it in [0, 86400e9) (sign bit never set, so signed ==
        # unsigned), while pyarrow pins pre-1970 stamps to the epoch
        # Julian day with NEGATIVE two's-complement nanos — an
        # arithmetic read decodes both. Cross-validated against
        # pyarrow-written use_deprecated_int96_timestamps files for
        # both eras (round-10).
        vals = []
        for _ in range(count):
            if pos + 12 > len(data):
                raise ValueError("INT96 past page end")
            nanos_of_day = int.from_bytes(
                data[pos : pos + 8], "little", signed=True
            )
            julian_day = int.from_bytes(data[pos + 8 : pos + 12], "little")
            vals.append((julian_day - 2440588) * 86_400_000_000_000 + nanos_of_day)
            pos += 12
        return vals, pos
    raise NotImplementedError(f"physical type {ptype}")


def _parse_schema(meta: dict) -> dict[str, dict]:
    """Flatten FileMetaData.schema (field 2, depth-first SchemaElement
    list) into {dotted leaf path: {type, type_length, max_def, max_rep,
    converted, levels}}. ``levels`` holds the cumulative (def, rep,
    repetition, converted type) after each path element; the generic
    assembler builds a column's node tree from it, and a flat column
    is a single leaf with max_rep 0."""
    elems = meta.get(2, [])
    if not elems:
        raise ValueError("parquet footer carries no schema")
    out: dict[str, dict] = {}
    # walk the flattened tree depth-first, tracking def/rep levels
    idx = 0

    def walk(children: int, max_def: int, max_rep: int, prefix: str, levels):
        nonlocal idx
        for _ in range(children):
            el = elems[idx]
            idx += 1
            # SchemaElement: 1=type 2=type_length 3=repetition_type
            # 4=name 5=num_children 6=converted_type
            rep = el.get(3, 0)
            d = max_def + (1 if rep == 1 else 0) + (1 if rep == 2 else 0)
            r = max_rep + (1 if rep == 2 else 0)
            name = el.get(4, b"").decode("utf-8")
            path = f"{prefix}{name}"
            kids = el.get(5, 0)
            # cumulative (def, rep, repetition_code, converted_type)
            # after each path element — the generic assembler's node
            # thresholds come from the first three, LIST/MAP shaping
            # from the fourth
            lv = levels + [(d, r, rep, el.get(6))]
            if kids:
                walk(kids, d, r, f"{path}.", lv)
            else:
                out[path] = {
                    "type": el.get(1),
                    "type_length": el.get(2, 0),
                    "max_def": d,
                    "max_rep": r,
                    "converted": el.get(6),
                    "levels": lv,
                }

    root = elems[0]
    idx = 1  # elems[0] IS the root; its children follow depth-first
    walk(root.get(5, 0), 0, 0, "", [])
    return out


def _parse_file(buf: bytes) -> tuple[dict, dict]:
    """Shared magic check + footer parse: (FileMetaData thrift map,
    parsed schema) — one copy for the flat, nested, and pruned
    readers."""
    if buf[:4] != b"PAR1" or buf[-4:] != b"PAR1":
        raise ValueError("not a parquet file")
    (flen,) = struct.unpack("<I", buf[-8:-4])
    meta = _Compact(buf[len(buf) - 8 - flen : len(buf) - 8]).struct()
    return meta, _parse_schema(meta)


def _read_page_header(buf: bytes, pos: int) -> tuple[dict, int]:
    c = _Compact(buf, pos)
    return c.struct(), c.pos


def _decode_values(
    page, p, enc, ptype, n_present, type_length, dictionary
):
    """The shared per-page VALUE-region decode dispatch (v1 and v2
    pages, whole-chunk and page-selective readers)."""
    if enc in (_PLAIN_DICT, _RLE_DICT):
        if dictionary is None:
            raise ValueError("dictionary-encoded page before dictionary")
        bw = page[p]
        idxs, _ = _rle_bp_hybrid(page, p + 1, bw, n_present)
        return [dictionary[i] for i in idxs]
    if enc == _PLAIN:
        present, _ = _plain_values(page, p, ptype, n_present, type_length)
        return present
    if enc == _RLE and ptype == _BOOLEAN:
        # RLE as a VALUE encoding exists only for booleans
        # (bit-width 1), prefixed by a 4-byte LE run length
        bits, _ = _rle_bp_hybrid(page, p + 4, 1, n_present)
        return [bool(b) for b in bits]
    if enc == _DELTA_BINARY and ptype in (_INT32, _INT64):
        present, _ = _delta_binary_packed(
            page, p, n_present, bits=32 if ptype == _INT32 else 64
        )
        return present
    if enc == _DELTA_LENGTH_BA and ptype == _BYTE_ARRAY:
        present, _ = _delta_length_byte_array(page, p, n_present)
        return present
    if enc == _DELTA_BA and ptype in (_BYTE_ARRAY, _FLBA):
        present, _ = _delta_byte_array(page, p, n_present)
        return present
    if enc == _BYTE_STREAM_SPLIT:
        present, _ = _byte_stream_split(
            page, p, ptype, n_present, type_length
        )
        return present
    raise NotImplementedError(f"encoding {enc} not supported")


def read_column_chunk(buf: bytes, col_meta: dict, leaf: dict) -> list:
    """All values (None for nulls) of one FLAT column chunk.

    ``col_meta`` is the raw ColumnMetaData thrift dict (field ids per
    parquet.thrift): 1=type 4=codec 5=num_values 9=data_page_offset
    11=dictionary_page_offset. ``leaf`` comes from :func:`_parse_schema`.
    Nested (repeated) leaves go through :func:`read_chunk_levels` +
    :func:`_assemble_generic` instead.
    """
    if leaf["max_rep"] > 0:
        raise NotImplementedError("nested (repeated) columns not supported")
    max_def = leaf["max_def"]
    _reps, defs, present = read_chunk_levels(buf, col_meta, leaf)
    if len(present) == len(defs):
        return present  # no nulls — skip the per-row null re-seat
    it = iter(present)
    return [next(it) if l == max_def else None for l in defs]


def read_chunk_levels(
    buf: bytes, col_meta: dict, leaf: dict
) -> tuple[list[int], list[int], list]:
    """One column chunk as ``(rep_levels, def_levels, present_values)``
    — the Dremel triple. ``present_values`` carries one entry per level
    position whose definition level equals ``max_def``; flat readers
    re-seat nulls from ``def_levels``, nested readers additionally
    split rows/lists on ``rep_levels`` (a repetition level of 0 starts
    a new record). ``num_values`` in the chunk metadata counts LEVEL
    positions, not records."""
    ptype = col_meta.get(1)
    codec = col_meta.get(4, 0)
    num_values = col_meta.get(5, 0)
    max_def = leaf["max_def"]
    max_rep = leaf["max_rep"]
    dl_width = max(max_def, 1).bit_length() if max_def else 0
    rl_width = max(max_rep, 1).bit_length() if max_rep else 0
    pos = col_meta.get(11) or col_meta.get(9)
    dictionary: list | None = None
    out_reps: list[int] = []
    out_defs: list[int] = []
    out: list = []
    while len(out_defs) < num_values:
        header, pos = _read_page_header(buf, pos)
        page_type = header.get(1)
        comp_size = header.get(3, 0)
        raw = buf[pos : pos + comp_size]
        pos += comp_size
        if page_type == _PAGE_DICT:
            dph = header.get(7, {})
            page = _decompress(codec, raw, header.get(2, 0))
            dictionary, _ = _plain_values(
                page, 0, ptype, dph.get(1, 0), leaf["type_length"]
            )
            continue
        if page_type == _PAGE_DATA:
            dph = header.get(5, {})
            n = dph.get(1, 0)
            enc = dph.get(2, _PLAIN)
            page = _decompress(codec, raw, header.get(2, 0))
            p = 0
            # v1 level regions each carry a 4-byte LE length prefix;
            # repetition levels come FIRST when the column is repeated
            if max_rep:
                (rl,) = struct.unpack_from("<I", page, p)
                reps, _ = _rle_bp_hybrid(page, p + 4, rl_width, n)
                p += 4 + rl
            else:
                reps = [0] * n
            if max_def:
                (ll,) = struct.unpack_from("<I", page, p)
                levels, _ = _rle_bp_hybrid(page, p + 4, dl_width, n)
                p += 4 + ll
            else:
                levels = [max_def] * n
        elif page_type == _PAGE_DATA_V2:
            dph = header.get(8, {})
            n = dph.get(1, 0)
            enc = dph.get(4, _PLAIN)
            dl_len = dph.get(5, 0)
            rl_len = dph.get(6, 0)
            # v2 level regions are uncompressed, unprefixed RLE runs of
            # declared byte length: repetition first, then definition
            if max_rep:
                reps, _ = _rle_bp_hybrid(raw, 0, rl_width, n)
            else:
                reps = [0] * n
            if max_def:
                levels, _ = _rle_bp_hybrid(raw, rl_len, dl_width, n)
            else:
                levels = [max_def] * n
            body = raw[rl_len + dl_len :]
            # is_compressed is DataPageHeaderV2 field 7 (NOT PageHeader
            # field 7, which is dictionary_page_header) and defaults
            # TRUE; a writer may legally store an incompressible page
            # raw even when the chunk codec is set. Levels are never
            # compressed in v2, only the values region.
            page = (
                _decompress(codec, body, header.get(2, 0) - dl_len - rl_len)
                if dph.get(7, True)
                else body
            )
            p = 0
        else:
            # index or unknown page: skip its body
            continue
        n_present = levels.count(max_def)
        present = _decode_values(
            page, p, enc, ptype, n_present, leaf["type_length"],
            dictionary,
        )
        out_reps.extend(reps)
        out_defs.extend(levels)
        out.extend(present)
    return out_reps[:num_values], out_defs[:num_values], out


class _GenLeaf:
    """Per-leaf cursor for the generic Dremel assembler: seated values
    (positionally aligned with the level streams — None where the def
    level is below the leaf's max), rep/def streams, and a position."""

    __slots__ = ("reps", "defs", "seated", "pos", "n")

    def __init__(self, reps, defs, present, max_def):
        self.reps = reps
        self.defs = defs
        it = iter(present)
        self.seated = [
            next(it) if d == max_def else None for d in defs
        ]
        self.pos = 0
        self.n = len(defs)


def _build_column_tree(col: str, leaves: list[str], schema: dict) -> dict:
    """Node tree for one top-level column from its leaves' cumulative
    ``levels``. Node: {name, d, r, rep, converted, children, path}
    where ``d``/``r`` are the cumulative def/rep levels AT the node,
    ``rep`` its repetition code (0 required / 1 optional / 2 repeated),
    and ``path`` the dotted leaf path for leaf nodes (None for groups).
    Children follow the order of ``leaves`` (field order only affects
    dict key order, and the row converter looks fields up by name)."""
    root: dict = {"name": col, "children": [], "path": None}
    for p in leaves:
        segs = p.split(".")
        lv = schema[p]["levels"]
        node = root
        for i, seg in enumerate(segs):
            d, r, rep = lv[i][0], lv[i][1], lv[i][2]
            conv = lv[i][3] if len(lv[i]) > 3 else None
            if i == 0:
                node.update(d=d, r=r, rep=rep, converted=conv)
                continue
            nxt = None
            for ch in node["children"]:
                if ch["name"] == seg:
                    nxt = ch
                    break
            if nxt is None:
                nxt = {
                    "name": seg, "d": d, "r": r, "rep": rep,
                    "converted": conv, "children": [], "path": None,
                }
                node["children"].append(nxt)
            node = nxt
        node["path"] = p
    return root


def _gen_node_leaves(node: dict, out: list) -> None:
    if node["path"] is not None:
        out.append(node["path"])
    for ch in node["children"]:
        _gen_node_leaves(ch, out)


def _assemble_generic(tree: dict, curs: dict[str, "_GenLeaf"]) -> list:
    """Record assembly for ARBITRARY nesting depth (Dremel): LIST and
    MAP annotated groups, structs, and repeated nodes compose freely —
    a one-level list or struct and three-deep lists, map<k, map<k, v>>,
    list<map>, struct<map<...>> all reconstruct through the same
    recursion. Spec refs: Dremel (Melnik et al., VLDB 2010) record
    assembly; parquet-format LogicalTypes.md nested-shape conventions
    (3-level LIST, key_value MAP with REQUIRED keys).

    Each node is compiled once into a reader closure with its leaf
    cursors and def/rep thresholds bound, so the per-value work is the
    closure call and the cursor step."""

    def leaves_of(node):
        paths: list = []
        _gen_node_leaves(node, paths)
        return [curs[p] for p in paths]

    def take(node):
        c = curs[node["path"]]
        seated = c.seated

        def take_one():
            p = c.pos
            c.pos = p + 1
            return seated[p]

        return take_one

    def field(node):
        # a struct field that is itself REPEATED (legacy 2-level list)
        return repeated(node) if node["rep"] == 2 else value(node)

    def value(node):
        """Reader of one value for ``node``, all ancestors defined.
        Consumes one slot from every leaf in the subtree (possibly more
        for repeated descendants)."""
        children = node["children"]
        if not children:  # leaf
            return take(node)
        if len(children) == 1 and children[0]["rep"] == 2:
            # LIST/MAP annotated group: single repeated child drives a list
            rep_node = children[0]
            items = repeated(rep_node)
            kids = rep_node["children"]
            is_map = (
                len(kids) == 2
                and {k["name"] for k in kids} == {"key", "value"}
                and (
                    node["converted"] in (1, 2)
                    or rep_node["name"] == "key_value"
                )
            )
            if is_map and not next(
                k for k in kids if k["name"] == "key"
            )["children"]:

                def build():
                    return {e["key"]: e["value"] for e in items()}
            else:
                # composite map keys (legal parquet) cannot seat as
                # Python dict keys: the map decodes as a LIST of
                # {"key","value"} structs — value-equal to the pair
                # list pyarrow's to_pylist() gives these files
                # (pyarrow yields (key, value) TUPLES)
                build = items
        else:
            fields = [(ch["name"], field(ch)) for ch in children]

            def build():
                return {name: f() for name, f in fields}

        if node["rep"] != 1:
            return build
        sub = leaves_of(node)
        first = sub[0]
        d = node["d"]

        def optional():
            if first.defs[first.pos] < d:
                for c in sub:
                    c.pos += 1
                return None
            return build()

        return optional

    def instance(node):
        """Reader of one element of a repeated node (its own def level
        already established >= node.d by the caller's loop)."""
        kids = node["children"]
        if not kids:  # repeated primitive
            return take(node)
        if len(kids) == 1 and (
            node["name"] in ("list", "bag", "key_value")
            or kids[0]["name"] in ("element", "item", "array_element")
        ):
            # standard 3-level shape: repeated group wrapping the
            # element node (parquet-format back-compat rules; a
            # repeated group NOT matching these names is itself the
            # element — legacy 2-level list<struct<one field>>)
            return value(kids[0])
        fields = [(ch["name"], field(ch)) for ch in kids]

        def build():
            return {name: f() for name, f in fields}

        return build

    def repeated(node):
        inst = instance(node)
        sub = leaves_of(node)
        drv = sub[0]
        d, r = node["d"], node["r"]
        reps, defs, n = drv.reps, drv.defs, drv.n

        def run():
            if defs[drv.pos] < d:
                for c in sub:
                    c.pos += 1
                return []
            items = [inst()]
            while drv.pos < n and reps[drv.pos] == r:
                items.append(inst())
            return items

        return run

    top = field(tree)
    drv = leaves_of(tree)[0]
    rows: list = []
    while drv.pos < drv.n:
        rows.append(top())
    for c in curs.values():
        if c.pos != c.n:
            raise ValueError(
                "generic assembly desync: leaf stream not fully consumed"
            )
    return rows


def read_parquet_nested_columns(path: str, columns: list[str]) -> dict[str, list]:
    """:func:`read_parquet_nested_bytes` over a file path."""
    with open(path, "rb") as f:
        return read_parquet_nested_bytes(f.read(), columns)


def read_parquet_nested_bytes(buf: bytes, columns: list[str]) -> dict[str, list]:
    """Decode TOP-LEVEL columns. A flat column (one non-repeated leaf)
    takes the flat chunk decode; every other column — lists (3-level
    LIST, legacy 2-level or a bare repeated primitive), maps, structs,
    composed to any depth — assembles through :func:`_assemble_generic`.
    Lists come back as Python lists (None for null lists/elements),
    structs as dicts (None for null structs/fields), maps as Python
    dicts (a LIST of {"key", "value"} structs when the keys are
    composite). Only shapes with no Spark analogue (thrift unions)
    remain out of envelope."""
    meta, schema = _parse_file(buf)
    out: dict[str, list] = {c: [] for c in columns}
    for rg in meta.get(4, []):
        _decode_row_group(buf, rg, schema, columns, out)
    return out


def _decode_generic_column(
    buf: bytes, c: str, leaves: list[str], schema: dict, by_path: dict
) -> list:
    """One column of one row group through the generic assembler."""
    tree = _build_column_tree(c, leaves, schema)
    curs = {}
    for p in leaves:
        leaf = schema[p]
        reps, defs, present = read_chunk_levels(buf, by_path[p], leaf)
        curs[p] = _GenLeaf(reps, defs, present, leaf["max_def"])
    return _assemble_generic(tree, curs)


def _decode_row_group(
    buf: bytes, rg: dict, schema: dict, columns: list[str], out: dict
) -> None:
    """Append one row group's values of ``columns`` to ``out``: a flat
    column (one non-repeated leaf) through the flat chunk decode, any
    other column through the generic assembler."""
    by_path: dict[str, dict] = {}
    for cc in rg.get(1, []):
        md = cc.get(3)
        if md is None:
            continue
        path_parts = [p.decode("utf-8") for p in md.get(3, [])]
        by_path[".".join(path_parts)] = md
    for c in columns:
        # schema order (depth-first), so struct fields keep their order
        leaves = [p for p in schema if p == c or p.startswith(c + ".")]
        if not leaves:
            raise ValueError(f"column {c!r} not in file")
        if leaves == [c] and schema[c]["max_rep"] == 0:
            out[c].extend(read_column_chunk(buf, by_path[c], schema[c]))
        else:
            out[c].extend(
                _decode_generic_column(buf, c, leaves, schema, by_path)
            )


def _read_chunk_page_index(buf: bytes, cc: dict, ptype: int):
    """Decode one column chunk's PAGE INDEX (parquet.thrift
    ColumnIndex + OffsetIndex; ColumnChunk fields 6/7 and 4/5 locate
    them — pinned against pyarrow- and Spark-written files). Returns
    ``{null_pages, mins, maxs, locs}`` with stats decoded to
    comparable Python values and ``locs`` as (offset,
    compressed_page_size, first_row_index) triples, or None when the
    chunk carries no index."""
    from .parquet_meta import decode_stat_value

    cio, oio = cc.get(6), cc.get(4)
    if cio is None or oio is None:
        return None
    ci = _Compact(buf, cio).struct()
    oi = _Compact(buf, oio).struct()
    null_pages = [bool(b) for b in ci.get(1, [])]
    # All-null pages carry EMPTY min/max blobs (this repo's own
    # _write_column_chunk_paged emits b'' for them, as do pyarrow and
    # parquet-mr) — decoding them would struct.error on fixed-width
    # types. Seat None instead; the keep-loop already treats a None
    # bound as "no information" and keeps the page conservatively.
    def _stat(i, v):
        blob = bytes(v)
        if (i < len(null_pages) and null_pages[i]) or not blob:
            return None
        return decode_stat_value(blob, ptype)

    mins = [_stat(i, v) for i, v in enumerate(ci.get(2, []))]
    maxs = [_stat(i, v) for i, v in enumerate(ci.get(3, []))]
    locs = [
        (pl.get(1, 0), pl.get(2, 0), pl.get(3, 0))
        for pl in oi.get(1, [])
    ]
    if not locs or len(null_pages) != len(locs):
        return None
    return {
        "null_pages": null_pages, "mins": mins, "maxs": maxs,
        "locs": locs,
    }


def _decode_one_data_page(buf, off, leaf, codec, dictionary):
    """Decode the single FLAT-column data page whose PageHeader starts
    at ``off`` (an OffsetIndex page location), seating nulls from the
    definition levels. The page-selective leg of the page-index scan —
    shares the level and value decoders with the sequential chunk
    walk."""
    ptype_len = leaf["type_length"]
    max_def = leaf["max_def"]
    dl_width = max(max_def, 1).bit_length() if max_def else 0
    header, pos = _read_page_header(buf, off)
    page_type = header.get(1)
    comp_size = header.get(3, 0)
    raw = buf[pos: pos + comp_size]
    codec_id = codec
    if page_type == _PAGE_DATA:
        dph = header.get(5, {})
        n = dph.get(1, 0)
        enc = dph.get(2, _PLAIN)
        page = _decompress(codec_id, raw, header.get(2, 0))
        p = 0
        if max_def:
            (ll,) = struct.unpack_from("<I", page, p)
            levels, _ = _rle_bp_hybrid(page, p + 4, dl_width, n)
            p += 4 + ll
        else:
            levels = [max_def] * n
    elif page_type == _PAGE_DATA_V2:
        dph = header.get(8, {})
        n = dph.get(1, 0)
        enc = dph.get(4, _PLAIN)
        dl_len = dph.get(5, 0)
        rl_len = dph.get(6, 0)
        if max_def:
            levels, _ = _rle_bp_hybrid(raw, rl_len, dl_width, n)
        else:
            levels = [max_def] * n
        body = raw[rl_len + dl_len:]
        page = (
            _decompress(codec_id, body, header.get(2, 0) - dl_len - rl_len)
            if dph.get(7, True)
            else body
        )
        p = 0
    else:
        raise ValueError("offset-index location is not a data page")
    n_present = levels.count(max_def)
    present = _decode_values(
        page, p, enc, leaf["type"], n_present, ptype_len, dictionary
    )
    it = iter(present)
    return [next(it) if l == max_def else None for l in levels]


def _chunk_dictionary(buf, md, leaf):
    """Decode a chunk's dictionary page (if any) for the
    page-selective reader."""
    dict_off = md.get(11)
    if dict_off is None:
        return None
    codec = md.get(4, 0)
    header, pos = _read_page_header(buf, dict_off)
    if header.get(1) != _PAGE_DICT:
        return None
    raw = buf[pos: pos + header.get(3, 0)]
    page = _decompress(codec, raw, header.get(2, 0))
    dictionary, _ = _plain_values(
        page, 0, leaf["type"], header.get(7, {}).get(1, 0),
        leaf["type_length"],
    )
    return dictionary


def read_parquet_pages_pruned_bytes(
    buf: bytes,
    columns: list[str],
    prune_col: str,
    lo=None,
    hi=None,
) -> tuple[dict[str, list], int, int]:
    """PAGE-level skipping scan via the parquet PAGE INDEX
    (ColumnIndex + OffsetIndex): pages of ``prune_col`` whose
    [min, max] interval misses [lo, hi] are eliminated BEFORE any
    page decode, and every other requested column decodes only the
    pages whose row ranges intersect the survivors — the
    finer-grained sibling of :func:`read_parquet_pruned_bytes`'s
    row-group zone maps, and the I/O-elimination mechanism that makes
    a selective scan of a 100 TB table touch kilobytes per file
    instead of whole row groups. Row-synchronized pruning: surviving
    ROW ranges come from the prune column's page boundaries
    (first_row_index), other columns map those ranges onto their own
    page grids. Surviving rows still pass through the exact row
    filter. Returns ``(columns dict, pages_decoded, pages_total)``
    counted over the requested columns. Chunks without an index (or
    null-page slots without stats) read conservatively. FLAT scalar
    columns only — the shapes page indexes are built for.
    """
    if isinstance(lo, str):
        lo = lo.encode("utf-8")
    if isinstance(hi, str):
        hi = hi.encode("utf-8")
    meta, schema = _parse_file(buf)
    for c in set(columns) | {prune_col}:
        if c not in schema or schema[c]["max_rep"] > 0 or "." in c:
            raise NotImplementedError(
                f"page-index scan supports flat scalar columns; {c!r} "
                "is nested"
            )
    out: dict[str, list] = {c: [] for c in columns}
    pages_total = pages_read = 0
    for rg in meta.get(4, []):
        n_rows = rg.get(3, 0)
        ccs: dict[str, dict] = {}
        mds: dict[str, dict] = {}
        for cc in rg.get(1, []):
            md = cc.get(3)
            if md is None:
                continue
            path = ".".join(p.decode("utf-8") for p in md.get(3, []))
            ccs[path] = cc
            mds[path] = md
        pidx = _read_chunk_page_index(
            buf, ccs[prune_col], schema[prune_col]["type"]
        )
        indexes = {
            c: _read_chunk_page_index(buf, ccs[c], schema[c]["type"])
            for c in columns
        }
        for c in columns:
            pages_total += (
                len(indexes[c]["locs"]) if indexes[c] else 1
            )
        if pidx is None:
            # no index on the prune column: conservative full decode
            stores = {
                c: read_column_chunk(buf, mds[c], schema[c])
                for c in columns
            }
            prune_vals = (
                stores[prune_col]
                if prune_col in stores
                else read_column_chunk(
                    buf, mds[prune_col], schema[prune_col]
                )
            )
            for c in columns:
                pages_read += (
                    len(indexes[c]["locs"]) if indexes[c] else 1
                )
            for r in range(n_rows):
                v = prune_vals[r]
                if v is None:
                    continue
                if (lo is not None and v < lo) or (
                    hi is not None and v > hi
                ):
                    continue
                for c in columns:
                    out[c].append(stores[c][r])
            continue
        locs = pidx["locs"]
        starts = [loc[2] for loc in locs] + [n_rows]
        keep_ranges: list[tuple[int, int]] = []
        for i in range(len(locs)):
            if pidx["null_pages"][i]:
                continue  # all-null page cannot satisfy a range test
            mn = pidx["mins"][i] if i < len(pidx["mins"]) else None
            mx = pidx["maxs"][i] if i < len(pidx["maxs"]) else None
            if mn is None or mx is None:
                keep = True  # no stats for this page: conservative
            else:
                keep = not (
                    (hi is not None and mn > hi)
                    or (lo is not None and mx < lo)
                )
            if keep:
                if keep_ranges and keep_ranges[-1][1] == starts[i]:
                    keep_ranges[-1] = (keep_ranges[-1][0], starts[i + 1])
                else:
                    keep_ranges.append((starts[i], starts[i + 1]))
        if not keep_ranges:
            continue

        def _col_store(c):
            """{row_index: value} over pages intersecting the keep
            ranges."""
            idx = indexes[c]
            nonlocal pages_read
            if idx is None:
                pages_read += 1
                vals = read_column_chunk(buf, mds[c], schema[c])
                return dict(enumerate(vals))
            clocs = idx["locs"]
            cstarts = [loc[2] for loc in clocs] + [n_rows]
            dictionary = _chunk_dictionary(buf, mds[c], schema[c])
            codec = mds[c].get(4, 0)
            store: dict[int, object] = {}
            for i, (off, _sz, first) in enumerate(clocs):
                nxt = cstarts[i + 1]
                if not any(a < nxt and first < b for a, b in keep_ranges):
                    continue
                pages_read += 1
                vals = _decode_one_data_page(
                    buf, off, schema[c], codec, dictionary
                )
                for j, v in enumerate(vals):
                    store[first + j] = v
            return store

        stores = {c: _col_store(c) for c in columns}
        prune_store = (
            stores[prune_col] if prune_col in stores else _col_store(prune_col)
        )
        for a, b in keep_ranges:
            for r in range(a, b):
                v = prune_store.get(r)
                if v is None:
                    continue
                if (lo is not None and v < lo) or (
                    hi is not None and v > hi
                ):
                    continue
                for c in columns:
                    out[c].append(stores[c].get(r))
    return out, pages_read, pages_total


def read_parquet_pages_pruned_columns(
    path: str,
    columns: list[str],
    prune_col: str,
    lo=None,
    hi=None,
) -> tuple[dict[str, list], int, int]:
    """:func:`read_parquet_pages_pruned_bytes` over a file path."""
    with open(path, "rb") as f:
        return read_parquet_pages_pruned_bytes(
            f.read(), columns, prune_col, lo, hi
        )


def read_parquet_pruned_columns(
    path: str,
    columns: list[str],
    prune_col: str,
    lo=None,
    hi=None,
) -> tuple[dict[str, list], int, int]:
    """:func:`read_parquet_pruned_bytes` over a file path."""
    with open(path, "rb") as f:
        return read_parquet_pruned_bytes(f.read(), columns, prune_col, lo, hi)


def read_parquet_pruned_bytes(
    buf: bytes,
    columns: list[str],
    prune_col: str,
    lo=None,
    hi=None,
) -> tuple[dict[str, list], int, int]:
    """Row-group-SKIPPING scan: decode only the row groups whose
    ``prune_col`` statistics interval [min_value, max_value] intersects
    [lo, hi] (either bound may be None = unbounded). Returns
    ``(columns dict, groups_decoded, groups_total)``.

    This is footer-driven planning on the reader side: the min/max
    zone maps land in the footer (parquet_meta reads them; the repo's
    own writer emits them), and a range predicate eliminates row
    groups BEFORE any page decode — the I/O-elimination move that
    makes a 100 TB range scan touch only the files and groups that
    can match. Row groups whose chunk lacks statistics are read
    conservatively. NOTE: surviving rows still need the row-level
    filter applied downstream — group elimination is necessarily
    conservative.

    Bound types: numeric prune columns take numeric lo/hi; BYTE_ARRAY
    prune columns take ``bytes`` or ``str`` bounds — str bounds are
    utf-8 encoded before comparison (utf-8 byte order equals
    code-point order, so the comparison matches the ORC twin's str
    semantics)."""
    from .parquet_meta import decode_stat_value

    if isinstance(lo, str):
        lo = lo.encode("utf-8")
    if isinstance(hi, str):
        hi = hi.encode("utf-8")

    meta, schema = _parse_file(buf)
    out: dict[str, list] = {c: [] for c in columns}
    n_total = n_read = 0
    for rg in meta.get(4, []):
        n_total += 1
        keep = True
        for cc in rg.get(1, []):
            md = cc.get(3)
            if md is None:
                continue
            pathname = ".".join(
                p.decode("utf-8") for p in md.get(3, [])
            )
            if pathname != prune_col:
                continue
            stats = md.get(12, {})
            mn = decode_stat_value(stats.get(6), md.get(1))
            mx = decode_stat_value(stats.get(5), md.get(1))
            if mn is None or mx is None:
                break  # no stats: conservative read
            if (hi is not None and mn > hi) or (
                lo is not None and mx < lo
            ):
                keep = False
            break
        if not keep:
            continue
        n_read += 1
        _decode_row_group(buf, rg, schema, columns, out)
    return out, n_read, n_total


def pure_parquet_scan(spark, paths: list[str], columns: list[str], schema: str):
    """Distributed scan through this module's pure-Python reader:
    FILE-PER-TASK over ``paths`` (the DataSource posture — at 100 TB the
    path list is itself a distributed listing and each executor task
    decodes whole files independently; no shuffle anywhere). ``schema``
    is the Spark DDL of the output; byte-array values are utf-8 decoded
    wherever the DDL says string — including inside ``array<string>``
    and struct fields — and one level of LIST/STRUCT nesting decodes
    through :func:`read_parquet_nested_bytes`."""
    from pyspark.sql.types import (
        ArrayType, MapType, StringType, StructType,
    )

    out_schema = StructType.fromDDL(schema)

    def _converter(dt):
        if isinstance(dt, StringType):
            return lambda v: None if v is None else v.decode("utf-8")
        if isinstance(dt, ArrayType):
            el = _converter(dt.elementType)
            if el is None:
                return None
            return lambda v: (
                None if v is None else [el(x) for x in v]
            )
        if isinstance(dt, MapType):
            kc = _converter(dt.keyType)
            vc = _converter(dt.valueType)
            if kc is None and vc is None:
                return None
            return lambda v: (
                None
                if v is None
                else {
                    (kc(k) if kc else k): (vc(x) if vc else x)
                    for k, x in v.items()
                }
            )
        if isinstance(dt, StructType):
            fs = {f.name: _converter(f.dataType) for f in dt.fields}
            if not any(fs.values()):
                return None
            return lambda v: (
                None
                if v is None
                else {
                    k: (fs[k](x) if fs[k] else x) for k, x in v.items()
                }
            )
        return None

    convs = {f.name: _converter(f.dataType) for f in out_schema.fields}
    pdf = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(max(len(paths), 1))

    def gen(batches):
        import pandas as pd

        for b in batches:
            for path in b["path"]:
                cols = read_parquet_nested_columns(path, columns)
                data = {}
                for c in columns:
                    v = cols[c]
                    conv = convs.get(c)
                    if conv is not None:
                        v = [conv(x) for x in v]
                    data[c] = v
                yield pd.DataFrame(data)

    return pdf.mapInPandas(gen, schema=out_schema)


def read_parquet_columns(path: str, columns: list[str]) -> dict[str, list]:
    """Decode the requested FLAT columns of one parquet file into
    Python lists (None for nulls), all row groups concatenated in file
    order. Raises on nested columns and unsupported encodings."""
    with open(path, "rb") as f:
        return read_parquet_bytes(f.read(), columns)


def read_parquet_bytes(buf: bytes, columns: list[str]) -> dict[str, list]:
    """:func:`read_parquet_columns` over an in-memory file image: the
    nested reader, after refusing any column that is not one flat
    leaf."""
    _meta, schema = _parse_file(buf)
    for c in columns:
        if c not in schema:
            raise ValueError(f"column {c!r} not in file")
        if schema[c]["max_rep"] > 0:
            raise NotImplementedError("nested (repeated) columns not supported")
    return read_parquet_nested_bytes(buf, columns)
