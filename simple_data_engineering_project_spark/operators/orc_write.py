"""ORC file writing in pure Python (SURVEY §2 C12, round 9).

The write-side twin of :mod:`orc_data`, completing the third columnar
format the repo authors in both directions (parquet_data/parquet_write,
arrow_ipc read+write, orc_data + this). Scope is the shard-exporter
subset, every piece hand-built per the ORC v1 spec:

- protobuf wire encoding (varints, length-delimited messages, packed
  repeated varints) for Type/StripeInformation/StripeFooter/Footer/
  PostScript — no protobuf dependency;
- single- or multi-stripe; codecs NONE, ZLIB (raw deflate via stdlib) and SNAPPY
  (the repo's own encoder) — round 10: compressed files carry ORC's
  3-byte chunk framing ((length << 1) | isOriginal, little-endian) on
  every stream, the stripe footer, and the file footer, with the
  block size declared in the PostScript; incompressible chunks store
  original bytes with the isOriginal bit;
- the reader's full scalar kind set writes (round 11): BOOLEAN
  (bool-RLE DATA), TINYINT (byte-RLE), SMALLINT/INT/BIGINT/DATE
  (signed RLEv2), FLOAT/DOUBLE (LE streams), plus
  TIMESTAMP/DECIMAL/STRING below;
- integer streams as RLEv2 with run detection (round 11,
  :func:`rlev2_encode`): SHORT_REPEAT for 3-10 value constant runs,
  fixed-delta DELTA for longer constant runs and arithmetic
  sequences, DIRECT otherwise (<=512 values, zigzag, the closed
  bit-width table, MSB-first packing — the same sub-encoding set and
  bit order orc_data decodes; ~2x smaller uncompressed stripes on
  id/dictionary/scale-stream shapes);
- strings as DIRECT_V2 (RLEv2 LENGTH + concatenated DATA) or — when
  the distinct count earns it (round 10) — DICTIONARY_V2: unsigned
  RLEv2 indices into a SORTED dictionary (the Java writer's
  convention) with dictionarySize in the ColumnEncoding; doubles as
  LE streams, OPTIONAL nulls via boolean-RLE PRESENT bitmaps
  (literal-form byte-RLE);
- TIMESTAMP (round 10): DATA = signed RLEv2 seconds relative to
  2015-01-01 UTC, SECONDARY = non-negative nanos under the
  trailing-zero compression (value << 3 | z, z>0 meaning x10^(z+1)).
  The JAVA writer convention: floor-decompose, then store seconds+1
  when absolute seconds are negative and a fraction is present
  (readers subtract one second in exactly that case — the only
  encoding Spark's JVM reader, pyarrow's C++ AND orc_data all decode
  identically; t in (-1s, 0) is the convention's representational
  hole and declines loudly). Input values are epoch NANOSECONDS;
- DECIMAL (round 10): DATA = unbounded zigzag varints of unscaled
  values, SECONDARY = signed RLEv2 per-value scales, precision/scale
  in the Type message;
- multi-stripe layouts via ``stripe_rows`` with per-stripe
  ColumnStatistics in the METADATA section and merged file-level
  statistics in the footer (round 10): IntegerStatistics as sint64
  zigzag min/max/sum (sum omitted on int64 overflow), DoubleStatistics
  as fixed64 (omitted when the stripe contains NaN), StringStatistics
  as byte-wise min/max + total length — the zone maps
  orc_data.read_orc_pruned_columns skips stripes on, round-tripped
  through the repo's own stats reader and proven prunable;
- no row indexes (indexLength 0) — readers treat them as optional.

Honesty per the write-path rule: pyarrow.orc (ORC C++) is the
in-container reference READER — the unit battery and the graded
`sink_orc_pure` round trip read every file this writer emits through
it, values, nulls, and types; the repo's own :mod:`orc_data` re-reads
them as a second check.

Scale shape: file-per-task (the export-sink posture) — embarrassingly
parallel, no shuffle, MB/s-constant pure-Python encode by design.
"""

from __future__ import annotations

import re
import struct
import zlib

from .ddl import split_top as _split_top

_MAGIC = b"ORC"

_K_BOOLEAN, _K_BYTE, _K_SHORT, _K_INT, _K_LONG = 0, 1, 2, 3, 4
_K_FLOAT, _K_DOUBLE, _K_STRING, _K_STRUCT = 5, 6, 7, 12
_K_TIMESTAMP, _K_DECIMAL, _K_DATE = 9, 14, 15
_DDL_TO_KIND = {
    "boolean": _K_BOOLEAN,
    "tinyint": _K_BYTE,
    "smallint": _K_SHORT,
    "int": _K_INT,
    "bigint": _K_LONG,
    "float": _K_FLOAT,
    "double": _K_DOUBLE,
    "string": _K_STRING,
    "timestamp": _K_TIMESTAMP,
    "date": _K_DATE,
}
_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")
_TS_EPOCH_SECONDS = 1420070400  # 2015-01-01 00:00:00 UTC
_CODECS = {"none": 0, "zlib": 1, "snappy": 2}

_WIDTHS = [
    1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
    17, 18, 19, 20, 21, 22, 23, 24, 26, 28, 30, 32, 40, 48, 56, 64,
]


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


def _tag(fid: int, wire: int) -> bytes:
    return _varint((fid << 3) | wire)


def _pb_varint(fid: int, v: int) -> bytes:
    return _tag(fid, 0) + _varint(v)


def _pb_bytes(fid: int, b: bytes) -> bytes:
    return _tag(fid, 2) + _varint(len(b)) + b


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


class _BitWriter:
    """MSB-first bit packing (the layout orc_data._BitReader reads)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, v: int, width: int) -> None:
        self.acc = (self.acc << width) | (v & ((1 << width) - 1))
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def done(self) -> bytes:
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def rlev2_direct_encode(values: list[int], signed: bool) -> bytes:
    """All values as RLEv2 DIRECT runs of <=512 — always legal, never
    the densest choice; the decoder side proves the framing."""
    out = bytearray()
    for i in range(0, len(values), 512):
        chunk = values[i : i + 512]
        enc = [_zigzag(v) if signed else v for v in chunk]
        need = max(1, max(enc).bit_length())
        code = next(k for k, w in enumerate(_WIDTHS) if w >= need)
        width = _WIDTHS[code]
        n = len(chunk) - 1
        out.append(0x40 | (code << 1) | (n >> 8))  # sub-encoding 1 = DIRECT
        out.append(n & 0xFF)
        if n >= 15:
            # MSB-first bit matrix + packbits == _BitWriter.put per
            # value byte-for-byte, including done()'s zero pad
            # (round-16, guide §4.2); zigzag keeps every value in
            # [0, 2^64) so uint64 is exact at any legal width. Tiny
            # groups (the literal flushes interleaving short runs)
            # stay on the scalar writer — numpy setup costs more than
            # it saves below ~16 values.
            import numpy as np

            arr = np.array(enc, dtype=np.uint64)
            bits = (
                (arr[:, None]
                 >> np.arange(width - 1, -1, -1, dtype=np.uint64))
                & 1
            ).astype(np.uint8)
            out += np.packbits(bits.ravel()).tobytes()
        else:
            bw = _BitWriter()
            for e in enc:
                bw.put(e, width)
            out += bw.done()
    return bytes(out)


def _varint_signed(v: int, signed: bool) -> bytes:
    return _varint(_zigzag(v) if signed else v)


def rlev2_encode(values: list[int], signed: bool) -> bytes:
    """Integer RLEv2 with run detection (round 11): constant runs of
    3-10 emit SHORT_REPEAT (1 header byte + big-endian minimal-width
    value), longer constant runs and arithmetic sequences emit
    fixed-delta DELTA runs (wcode 0: 2-byte header + base + delta
    varints, <=512 values), everything else falls back to DIRECT —
    the exact sub-encoding set orc_data.rlev2_decode round-trips,
    cross-validated against pyarrow's and Spark's JVM readers. Wins
    are real on the streams this writer emits: per-value decimal
    scale streams and dictionary LENGTH streams collapse ~512x,
    monotonic ids ~30x."""
    out = bytearray()
    lits: list[int] = []
    n = len(values)

    def flush_lits():
        if lits:
            out.extend(rlev2_direct_encode(lits, signed))
            lits.clear()

    # Maximal constant-delta segments located with one numpy diff pass
    # (round-16, guide §4.2): the per-VALUE compare loop plus a tiny
    # direct-encode flush per 1-2 interleaved literals dominated the
    # ORC sink profile (7k flush frames / 20k rows). seg_end[k] = last
    # delta index of the equal-delta run starting at delta k; a failed
    # segment's values become literals IN BULK except its last value,
    # which seeds the next run — byte-identical to the greedy
    # one-value-at-a-time walk (literal flushes stay at exactly 512).
    #
    # int64 subtraction wraps once some |v| >= 2^62, so such inputs take
    # the exact Python-int walk instead; there a delta outside int64
    # never becomes a DELTA run (readers hold deltas in int64).
    if n >= 2:
        import numpy as np

        try:
            arr = np.asarray(values, dtype=np.int64)
            exact = -(2**62) < arr.min() and arr.max() < 2**62
        except OverflowError:
            exact = False
        if exact:
            darr = arr[1:] - arr[:-1]
            bounds = np.flatnonzero(darr[1:] != darr[:-1]) + 1
            seg_start = np.concatenate(([0], bounds))
            seg_last = np.concatenate((bounds - 1, [len(darr) - 1]))
            # seg_end_at[k] = seg_last of the segment containing delta k
            seg_end_at = np.repeat(seg_last, seg_last - seg_start + 1)
            deltas = darr.tolist()
            seg_end_at = seg_end_at.tolist()
        else:
            deltas = [b - a for a, b in zip(values, values[1:])]
            seg_end_at = deltas[:]
            seg_end_at[-1] = len(deltas) - 1
            for k in range(len(deltas) - 2, -1, -1):
                seg_end_at[k] = (
                    seg_end_at[k + 1] if deltas[k] == deltas[k + 1] else k
                )
    i = 0
    while i < n:
        if i == n - 1:
            lits.append(values[i])
            if len(lits) >= 512:
                flush_lits()
            i += 1
            continue
        d = deltas[i]
        length = min(seg_end_at[i] - i + 2, 512)
        if 3 <= length <= 10 and d == 0:
            flush_lits()
            v = values[i]
            u = _zigzag(v) if signed else v
            width = max(1, (u.bit_length() + 7) // 8)
            out.append(((width - 1) << 3) | (length - 3))
            out += u.to_bytes(width, "big")
            i += length
        elif (d == 0 and length > 10) or (
            d != 0 and length >= 4 and -(2**63) <= d < 2**63
        ):
            flush_lits()
            # fixed-delta DELTA run: header sub=3, wcode=0, 9-bit
            # length-1; base (zigzag when signed), delta ALWAYS zigzag
            out.append(0xC0 | ((length - 1) >> 8))
            out.append((length - 1) & 0xFF)
            out += _varint_signed(values[i], signed)
            out += _varint(_zigzag(d))
            i += length
        else:
            # failed segment: all but its last value are literals; the
            # last value seeds the next segment's run (the greedy walk
            # reaches it with the NEXT delta)
            take = length - 1
            lits.extend(values[i : i + take])
            while len(lits) >= 512:
                out.extend(rlev2_direct_encode(lits[:512], signed))
                del lits[:512]
            i += take
    flush_lits()
    return bytes(out)


def _byte_rle_encode(vals: list[int]) -> bytes:
    """Byte-RLE LITERAL groups (header 256-n, n<=128) — always legal;
    the decoder side (orc_data._byte_rle) proves the framing."""
    out = bytearray()
    for i in range(0, len(vals), 128):
        group = vals[i : i + 128]
        out.append(256 - len(group))
        out += bytes(v & 0xFF for v in group)
    return bytes(out)


def _bool_rle_encode(bits: list[bool]) -> bytes:
    """Boolean RLE: bit-pack MSB-first into bytes (one numpy packbits
    — zero-padding the tail byte exactly like the manual loop), then
    frame the bytes through the shared byte-RLE literal-group
    encoder."""
    import numpy as np

    packed = np.packbits(np.asarray(bits, dtype=np.uint8))
    return _byte_rle_encode(packed.tolist())


def _kind_of(ddl: str) -> tuple[int, int | None, int | None]:
    """(type kind, precision, scale) for a scalar DDL type string."""
    m = _DECIMAL_RE.match(ddl)
    if m:
        return _K_DECIMAL, int(m.group(1)), int(m.group(2))
    if ddl in _DDL_TO_KIND:
        return _DDL_TO_KIND[ddl], None, None
    raise NotImplementedError(f"type {ddl} not writable")


def _parse_ddl_tree(ddl: str):
    """Type tree of one column's DDL type (the parquet_write twin):
    ``('scalar', kps)`` / ``('list', subtree)`` / ``('map', (key_kps,
    value_subtree))`` / ``('struct', [(name, subtree), ...])`` /
    ``('union', [subtree, ...])`` — unbounded depth. A ``scalar`` root
    is a flat column; any other root is written by the recursive node
    emitter. Map keys must be scalar (the ORC MAP layout)."""
    s = ddl.strip()
    low = s.lower()
    if low.startswith("array<") and s.endswith(">"):
        return ("list", _parse_ddl_tree(s[6:-1]))
    if low.startswith("map<") and s.endswith(">"):
        kv = _split_top(s[4:-1])
        if len(kv) != 2:
            raise NotImplementedError(f"type {ddl} not writable")
        return (
            "map",
            (_kind_of(kv[0].strip().lower()), _parse_ddl_tree(kv[1])),
        )
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
    if low.startswith("uniontype<") and s.endswith(">"):
        # round 15 (write twin of the round-15 union decode): Hive
        # DDL uniontype<t0,t1,...>; cells are (tag, value) 2-tuples
        variants = [_parse_ddl_tree(t) for t in _split_top(s[10:-1])]
        if not variants:
            raise NotImplementedError(f"type {ddl} not writable")
        return ("union", variants)
    return ("scalar", _kind_of(low))


def _tree_node_count(tree) -> int:
    """ORC type ids consumed by a generic subtree (pre-order)."""
    kind, detail = tree
    if kind == "scalar":
        return 1
    if kind == "list":
        return 1 + _tree_node_count(detail)
    if kind == "map":
        return 2 + _tree_node_count(detail[1])  # map + key + value…
    if kind == "union":
        return 1 + sum(_tree_node_count(sub) for sub in detail)
    return 1 + sum(_tree_node_count(sub) for _n, sub in detail)


def _zigzag_unbounded(v: int) -> int:
    """Zigzag for arbitrary-precision ints (decimal unscaled values) —
    the inverse of orc_data's (u >> 1) ^ -(u & 1)."""
    return (v << 1) if v >= 0 else ((-v) << 1) - 1


def _encode_nanos(n: int) -> int:
    """ORC timestamp SECONDARY trailing-zero compression: value << 3,
    or (value / 10^(z+1)) << 3 | z when at least two trailing zeros
    can be stripped (z in 1..7 → multiplier 10^2..10^8)."""
    if n == 0:
        return 0
    tz = 0
    m = n
    while m % 10 == 0 and tz < 8:
        m //= 10
        tz += 1
    if tz >= 2:
        return (m << 3) | (tz - 1)
    return n << 3


def _frame(raw: bytes, codec_id: int, block: int) -> bytes:
    """ORC chunked stream framing: 3-byte little-endian header
    ``(length << 1) | isOriginal`` per chunk; incompressible chunks
    keep their original bytes. NONE has no framing at all."""
    if codec_id == 0:
        return raw
    out = bytearray()
    for i in range(0, len(raw), block):
        chunk = raw[i : i + block]
        if codec_id == 1:  # ZLIB = raw deflate
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            comp = co.compress(chunk) + co.flush()
        else:  # SNAPPY
            from .snappy import snappy_compress

            comp = snappy_compress(chunk)
        if len(comp) < len(chunk):
            h = len(comp) << 1
            payload = comp
        else:
            h = (len(chunk) << 1) | 1
            payload = chunk
        out += bytes((h & 0xFF, (h >> 8) & 0xFF, (h >> 16) & 0xFF))
        out += payload
    return bytes(out)


def build_orc_bytes(
    columns: dict[str, list],
    ddl_types: dict[str, str],
    compression: str = "none",
    block_size: int = 262144,
    stripe_rows: int | None = None,
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.05,
    row_index_stride: int = 10000,
) -> bytes:
    """One ORC file as bytes. All columns are OPTIONAL (None
    round-trips as null). ``compression`` ∈ none/zlib/snappy;
    timestamp values are epoch NANOSECONDS ints, decimal values are
    ``decimal.Decimal`` (or anything Decimal() accepts);
    ``stripe_rows`` splits rows into multiple stripes (round 10), and
    every stripe's per-column statistics land in the METADATA section
    plus merged file-level statistics in the footer — the zone maps
    :func:`orc_data.read_orc_pruned_columns` skips stripes on.

    ``bloom_cols`` (round 15) switches on INDEX MODE: every stripe
    gains a real index region — ``ROW_INDEX`` streams with per-row-
    group positions + statistics for every column, and a
    ``BLOOM_FILTER_UTF8`` stream (one Java-parity split filter per
    row group, sized by Java's BloomFilter policy at ``bloom_fpp``)
    for each listed column — and the PostScript declares writer
    version ORC-135 so readers trust the utf8 filters on string
    columns. Gates (each a loud decline, not silent fallback): flat
    scalar columns of the int/date/float/double/string kinds only,
    ``compression='none'`` (compressed seek positions need
    compressed-block/decompressed-offset pairs the whole-stream
    framer doesn't track), and a stride multiple of 8 (PRESENT chunks
    must be bit-aligned at row-group boundaries). Validated in the
    battery by Spark's own JVM ORC reader — values back exactly, and
    a SearchArgument read observes genuine row-group skips driven by
    our filters — plus pyarrow and this repo's own
    :func:`orc_bloom.read_orc_bloom_pruned_bytes` prober."""
    if compression not in _CODECS:
        raise NotImplementedError(f"codec {compression} not writable")
    codec_id = _CODECS[compression]
    if bloom_cols is not None:
        if codec_id != 0:
            raise NotImplementedError(
                "ORC index mode writes uncompressed files only: "
                "compressed streams need compressed-block seek "
                "positions this writer does not track"
            )
        if row_index_stride <= 0 or row_index_stride % 8:
            raise ValueError(
                "row_index_stride must be a positive multiple of 8 "
                "(PRESENT row-group chunks are bit-packed)"
            )
        for c in bloom_cols:
            if c not in columns:
                raise ValueError(f"bloom column {c!r} not in columns")
    names = list(columns)
    num_rows = len(columns[names[0]]) if names else 0
    # one type tree per column; type ids are handed out in pre-order
    # (0 = the root struct)
    plans: dict[str, tuple] = {}
    ids: dict[str, int] = {}
    next_id = 1
    for c in names:
        plans[c] = _parse_ddl_tree(ddl_types[c])
        ids[c] = next_id
        next_id += _tree_node_count(plans[c])
        if len(columns[c]) != num_rows:
            raise ValueError("ragged columns")
    n_nodes = next_id - 1

    def frame(raw: bytes) -> bytes:
        return _frame(raw, codec_id, block_size)

    def assemble_stripe_footer(meta, encs) -> bytes:
        sfb = bytearray()
        for col, skind, ln in meta:
            sfb += _pb_bytes(
                1,
                _pb_varint(1, skind) + _pb_varint(2, col) + _pb_varint(3, ln),
            )
        for enc, dsize in encs:
            emsg = _pb_varint(1, enc)
            if dsize is not None:
                emsg += _pb_varint(2, dsize)
            sfb += _pb_bytes(2, emsg)
        sfb += _pb_bytes(3, b"UTC")  # writerTimezone
        return frame(bytes(sfb))

    def emit_stripe(start: int, n_s: int):
        """(bodies, framed stripe footer, per-column-id stats dicts)
        for rows [start, start+n_s)."""
        # streams per column (ids: 0 = root struct, 1.. = leaves)
        stream_meta: list[tuple[int, int, int]] = []
        bodies = bytearray()
        # (ColumnEncoding kind, dictionarySize or None)
        encodings: list[tuple[int, int | None]] = [(0, None)]  # root
        stats: list[dict] = [
            {"n": n_s, "has_null": False, "kind": None, "present": []}
        ]
        def emit_present(idx: int, present: list[bool]) -> None:
            if not all(present):
                pb = frame(_bool_rle_encode(present))
                stream_meta.append((idx, 0, len(pb)))  # PRESENT
                bodies.extend(pb)

        def emit_leaf(idx: int, vals: list, kps: tuple) -> None:
            kind, prec, scale = kps
            present = [v is not None for v in vals]
            nn = [v for v in vals if v is not None]
            emit_present(idx, present)
            if kind in (_K_SHORT, _K_INT, _K_LONG, _K_DATE):
                # DATE rides the same signed-RLEv2 DATA stream as the
                # int family (values are epoch days)
                nn = [int(v) for v in nn]
                # decline loudly on narrow-type overflow — the stream
                # carries the full value, so a reader would silently
                # wrap/truncate it (round-11 review finding; parquet's
                # struct.pack twin raises for the same inputs)
                if kind == _K_SHORT and nn and not (
                    -(2**15) <= min(nn) and max(nn) < 2**15
                ):
                    raise ValueError("smallint value out of range")
                if kind == _K_INT and nn and not (
                    -(2**31) <= min(nn) and max(nn) < 2**31
                ):
                    raise ValueError("int value out of range")
                data = frame(rlev2_encode(nn, signed=True))
                stream_meta.append((idx, 1, len(data)))
                bodies.extend(data)
                encodings.append((2, None))  # DIRECT_V2
            elif kind == _K_BYTE:
                nn = [int(v) for v in nn]
                if nn and not (-128 <= min(nn) and max(nn) < 128):
                    raise ValueError("tinyint value out of range")
                data = frame(_byte_rle_encode(nn))
                stream_meta.append((idx, 1, len(data)))
                bodies.extend(data)
                encodings.append((0, None))  # DIRECT
            elif kind == _K_BOOLEAN:
                nn = [bool(v) for v in nn]
                data = frame(_bool_rle_encode(nn))
                stream_meta.append((idx, 1, len(data)))
                bodies.extend(data)
                encodings.append((0, None))  # DIRECT
            elif kind == _K_FLOAT:
                # round through float32 BEFORE stats: DATA stores the
                # rounded value, so stats computed on unrounded doubles
                # could declare min > stored-min and let stats-trusting
                # readers prune stripes that match (round-11 review
                # finding)
                raw = struct.pack(f"<{len(nn)}f", *[float(v) for v in nn])
                nn = list(struct.unpack(f"<{len(nn)}f", raw))
                data = frame(raw)
                stream_meta.append((idx, 1, len(data)))
                bodies.extend(data)
                encodings.append((0, None))  # DIRECT
            elif kind == _K_DOUBLE:
                nn = [float(v) for v in nn]
                data = frame(struct.pack(f"<{len(nn)}d", *nn))
                stream_meta.append((idx, 1, len(data)))
                bodies.extend(data)
                encodings.append((0, None))  # DIRECT
            elif kind == _K_TIMESTAMP:
                # The JAVA writer convention — the one ALL THREE
                # in-container readers (Spark's JVM/Hive vectorized
                # reader, pyarrow's ORC C++, orc_data) decode
                # identically: floor-decompose into (seconds,
                # positive nanos), then store seconds+1 when the
                # absolute seconds are negative and a fraction is
                # present, because readers subtract one second in
                # exactly that case (verified against hand-built
                # fixtures through all three readers, round 10). The
                # C++ writer's alternative — signed nanos — makes
                # Spark's JVM reader throw ('nanos > 999999999 or
                # < 0'), so it is not usable for files that claim
                # all-reference-reader readability. The convention's
                # one representational hole, t in (-1s, 0) — where
                # the stored seconds would be 0 and the rule cannot
                # fire — declines loudly instead of silently flipping
                # the fraction's sign.
                secs, nanos = [], []
                for v in nn:
                    t = int(v)
                    sv, nv = divmod(t, 1_000_000_000)
                    if sv < 0 and nv > 0:
                        if sv == -1:
                            raise ValueError(
                                "ORC Java timestamp convention cannot "
                                "represent values in (-1s, 0) "
                                f"exclusive; got {t} ns"
                            )
                        sv += 1
                    secs.append(sv)
                    nanos.append(nv)
                data = frame(
                    rlev2_encode(
                        [sv - _TS_EPOCH_SECONDS for sv in secs],
                        signed=True,
                    )
                )
                sec_stream = frame(
                    rlev2_encode(
                        [_encode_nanos(nv) for nv in nanos], signed=False
                    )
                )
                stream_meta.append((idx, 1, len(data)))  # DATA
                bodies.extend(data)
                stream_meta.append((idx, 5, len(sec_stream)))  # SECONDARY
                bodies.extend(sec_stream)
                encodings.append((2, None))  # DIRECT_V2
            elif kind == _K_DECIMAL:
                import decimal as _dec

                unscaled = []
                for v in nn:
                    # scale shift under full precision: the default
                    # decimal context (prec=28) would silently round
                    # >28-digit values BEFORE the fit check below,
                    # letting corrupted-but-integral results through
                    with _dec.localcontext() as ctx:
                        ctx.prec = _dec.MAX_PREC
                        sc = _dec.Decimal(v).scaleb(scale)
                        if sc != sc.to_integral_value():
                            # silent rounding here would corrupt values
                            # claiming to fit the declared scale —
                            # decline loudly per the repo rule
                            raise ValueError(
                                f"decimal value {v} does not fit scale "
                                f"{scale}"
                            )
                        u = int(sc)
                    if len(str(abs(u))) > prec:
                        raise ValueError(
                            f"decimal value {v} exceeds declared "
                            f"precision {prec}"
                        )
                    unscaled.append(u)
                data = frame(
                    b"".join(
                        _varint(_zigzag_unbounded(u)) for u in unscaled
                    )
                )
                sec_stream = frame(
                    rlev2_encode([scale] * len(nn), signed=True)
                )
                stream_meta.append((idx, 1, len(data)))  # DATA
                bodies.extend(data)
                stream_meta.append((idx, 5, len(sec_stream)))  # SECONDARY
                bodies.extend(sec_stream)
                encodings.append((2, None))  # DIRECT_V2
            else:  # STRING
                nn = [
                    v.encode("utf-8") if isinstance(v, str) else bytes(v)
                    for v in nn
                ]
                entries = sorted(set(nn))
                if 0 < len(entries) and 2 * len(entries) <= len(nn):
                    # DICTIONARY_V2 (round 10): DATA = unsigned RLEv2
                    # indices into the SORTED dictionary (the Java
                    # writer's convention), LENGTH = dict entry
                    # lengths, DICTIONARY_DATA = concatenated entries;
                    # dictionarySize rides in the ColumnEncoding
                    index_of = {r: i for i, r in enumerate(entries)}
                    data = frame(
                        rlev2_encode(
                            [index_of[r] for r in nn], signed=False
                        )
                    )
                    lens = frame(
                        rlev2_encode(
                            [len(r) for r in entries], signed=False
                        )
                    )
                    dict_data = frame(b"".join(entries))
                    stream_meta.append((idx, 1, len(data)))  # DATA
                    bodies.extend(data)
                    stream_meta.append((idx, 2, len(lens)))  # LENGTH
                    bodies.extend(lens)
                    stream_meta.append((idx, 3, len(dict_data)))  # DICT
                    bodies.extend(dict_data)
                    encodings.append((3, len(entries)))  # DICTIONARY_V2
                else:
                    data = frame(b"".join(nn))
                    lens = frame(
                        rlev2_encode(
                            [len(r) for r in nn], signed=False
                        )
                    )
                    stream_meta.append((idx, 1, len(data)))  # DATA
                    bodies.extend(data)
                    stream_meta.append((idx, 2, len(lens)))  # LENGTH
                    bodies.extend(lens)
                    encodings.append((2, None))  # DIRECT_V2
            # statistics families: the int family shares
            # IntegerStatistics, FLOAT shares DoubleStatistics;
            # DATE/BOOLEAN have their own messages (DateStatistics /
            # BucketStatistics) this writer does not emit — they get
            # count+hasNull only, which readers treat as "no zone map"
            stats_kind = kind
            if kind in (_K_SHORT, _K_INT, _K_BYTE):
                stats_kind = _K_LONG
            elif kind == _K_FLOAT:
                stats_kind = _K_DOUBLE
            elif kind in (_K_DATE, _K_BOOLEAN):
                stats_kind = None
            stats.append(
                {
                    "n": len(nn),
                    "has_null": not all(present),
                    "kind": stats_kind,
                    "present": nn,
                }
            )

        def emit_lengths(idx: int, vals: list) -> list:
            """Parent PRESENT + unsigned-RLEv2 LENGTH streams for a
            LIST/MAP node; returns the present rows (lists or dicts)."""
            present = [v is not None for v in vals]
            emit_present(idx, present)
            rows_p = [v for v in vals if v is not None]
            ls = frame(
                rlev2_encode([len(v) for v in rows_p], signed=False)
            )
            stream_meta.append((idx, 2, len(ls)))  # LENGTH
            bodies.extend(ls)
            encodings.append((2, None))  # DIRECT_V2
            stats.append({
                "n": len(rows_p),
                "has_null": not all(present),
                "kind": None,
                "present": [],
            })
            return rows_p

        def emit_node(idx: int, vals: list, tree) -> int:
            """Stripe emission for one column's type tree (a scalar
            root is a flat column): returns the next free type id.
            Streams, encodings and statistics land in pre-order =
            type-id order, which the stripe footer and file
            statistics rely on."""
            nk, nd = tree
            if nk == "scalar":
                emit_leaf(idx, vals, nd)
                return idx + 1
            if nk == "list":
                for v in vals:
                    if v is not None and not isinstance(v, (list, tuple)):
                        raise ValueError(
                            "list cell must be a sequence, got "
                            f"{type(v).__name__}"
                        )
                rows_p = emit_lengths(idx, vals)
                return emit_node(
                    idx + 1, [e for v in rows_p for e in v], nd
                )
            if nk == "map":
                for v in vals:
                    if v is None:
                        continue
                    if not hasattr(v, "keys"):
                        raise ValueError(
                            "map cell must be a dict/mapping, got "
                            f"{type(v).__name__}"
                        )
                    if any(k is None for k in v.keys()):
                        raise ValueError(
                            "map key is None but ORC map keys are "
                            "non-nullable in this writer"
                        )
                rows_p = emit_lengths(idx, vals)
                emit_leaf(
                    idx + 1, [k for v in rows_p for k in v.keys()], nd[0]
                )
                return emit_node(
                    idx + 2, [x for v in rows_p for x in v.values()], nd[1]
                )
            if nk == "union":
                # cells are (tag, value) 2-tuples; layout: PRESENT (if
                # nulls) + DATA byte-RLE of tags over present rows +
                # one child column per variant sized by its tag count
                # (round 15 — the write twin of the union decode; the
                # reader returns plain values, matching pyarrow)
                for v in vals:
                    if v is None:
                        continue
                    if not (isinstance(v, tuple) and len(v) == 2):
                        raise ValueError(
                            "union cell must be a (tag, value) tuple, "
                            f"got {type(v).__name__}"
                        )
                    if not (0 <= int(v[0]) < len(nd)):
                        raise ValueError(
                            f"union tag {v[0]} out of range for "
                            f"{len(nd)} variants"
                        )
                present = [v is not None for v in vals]
                emit_present(idx, present)
                rows_p = [v for v in vals if v is not None]
                tag_bytes = frame(
                    _byte_rle_encode([int(t) for t, _v in rows_p])
                )
                stream_meta.append((idx, 1, len(tag_bytes)))  # DATA
                bodies.extend(tag_bytes)
                encodings.append((0, None))  # DIRECT
                stats.append({
                    "n": len(rows_p),
                    "has_null": not all(present),
                    "kind": None,
                    "present": [],
                })
                kid = idx + 1
                for t, sub in enumerate(nd):
                    tvals = [v for tg, v in rows_p if int(tg) == t]
                    kid = emit_node(kid, tvals, sub)
                return kid
            # struct
            for v in vals:
                if v is not None and not (
                    isinstance(v, dict) or hasattr(v, "__fields__")
                ):
                    raise ValueError(
                        "struct cell must be a dict/Row, got "
                        f"{type(v).__name__}"
                    )
            present = [v is not None for v in vals]
            emit_present(idx, present)
            encodings.append((0, None))  # DIRECT
            stats.append({
                "n": sum(present),
                "has_null": not all(present),
                "kind": None,
                "present": [],
            })
            rows_p = [v for v in vals if v is not None]
            kid = idx + 1
            for fname, sub in nd:
                fvals = [
                    v.get(fname) if isinstance(v, dict)
                    else getattr(v, fname)
                    for v in rows_p
                ]
                kid = emit_node(kid, fvals, sub)
            return kid

        for c in names:
            emit_node(ids[c], columns[c][start : start + n_s], plans[c])
        return bodies, assemble_stripe_footer(stream_meta, encodings), stats

    index_mode = bloom_cols is not None
    if index_mode:
        kinds: dict[str, int] = {}
        for c in names:
            pk, detail = plans[c]
            if pk != "scalar" or detail[0] not in _INDEXED_KINDS:
                raise NotImplementedError(
                    "ORC index mode supports flat int/date/float/"
                    f"double/string columns; {c!r} is {ddl_types[c]!r}"
                )
            kinds[c] = detail[0]
        for c in bloom_cols:
            if kinds[c] not in _BLOOMABLE_KINDS:
                raise NotImplementedError(
                    "ORC bloom filters are written for int-family and "
                    f"string columns; {c!r} is {ddl_types[c]!r}"
                )

    body = bytearray(_MAGIC)
    rows_per = stripe_rows or max(num_rows, 1)
    stripe_infos: list[bytes] = []
    per_stripe_stats: list[list[dict]] = []
    for start in range(0, max(num_rows, 1), rows_per):
        n_s = min(rows_per, num_rows - start) if num_rows else 0
        if index_mode:
            idx, idx_meta, bodies, data_meta, encs, stats = (
                _emit_indexed_stripe(
                    columns, names, kinds, set(bloom_cols), start, n_s,
                    row_index_stride, bloom_fpp,
                )
            )
            sf = assemble_stripe_footer(idx_meta + data_meta, encs)
        else:
            bodies, sf, stats = emit_stripe(start, n_s)
            idx = b""
        stripe_offset = len(body)
        body += idx
        body += bodies
        body += sf
        stripe_infos.append(
            _pb_varint(1, stripe_offset)
            + _pb_varint(2, len(idx))  # indexLength
            + _pb_varint(3, len(bodies))
            + _pb_varint(4, len(sf))
            + _pb_varint(5, n_s)
        )
        per_stripe_stats.append(stats)
        if num_rows == 0:
            break

    # Footer.contentLength covers header + stripes only — the METADATA
    # section (per-stripe ColumnStatistics, the stripe-pruning zone
    # maps orc_data.read_stripe_stats decodes) sits after the content,
    # before the footer, with its length declared in the PostScript.
    content_length = len(body)
    metadata = b"".join(
        _pb_bytes(
            1,
            b"".join(
                _pb_bytes(1, _column_statistics_pb(cs)) for cs in stats
            ),
        )
        for stats in per_stripe_stats
    )
    metadata = frame(metadata)
    body += metadata

    # types: root struct + the (pre-order) subtree per column
    def _scalar_type_pb(kps: tuple) -> bytes:
        kind, prec, scale = kps
        t = _pb_varint(1, kind)
        if kind == _K_DECIMAL:
            t += _pb_varint(5, prec)
            t += _pb_varint(6, scale)
        return t

    root = _pb_varint(1, _K_STRUCT)
    root += _pb_bytes(2, b"".join(_varint(ids[c]) for c in names))
    for c in names:
        root += _pb_bytes(3, c.encode("utf-8"))
    types = [_pb_bytes(4, root)]
    def _tree_types(tree, tid: int) -> tuple[list[bytes], int]:
        """Pre-order footer Type protobufs for a generic subtree
        rooted at type id ``tid``; returns (messages, next id)."""
        nk, nd = tree
        if nk == "scalar":
            return [_pb_bytes(4, _scalar_type_pb(nd))], tid + 1
        if nk == "list":
            subs, nxt = _tree_types(nd, tid + 1)
            t = _pb_varint(1, 10) + _pb_bytes(2, _varint(tid + 1))
            return [_pb_bytes(4, t)] + subs, nxt
        if nk == "map":
            key_pb = _pb_bytes(4, _scalar_type_pb(nd[0]))
            vsubs, nxt = _tree_types(nd[1], tid + 2)
            t = _pb_varint(1, 11) + _pb_bytes(
                2, _varint(tid + 1) + _varint(tid + 2)
            )
            return [_pb_bytes(4, t), key_pb] + vsubs, nxt
        if nk == "union":
            kid_ids = []
            subs = []
            kid = tid + 1
            for sub in nd:
                kid_ids.append(kid)
                s, kid = _tree_types(sub, kid)
                subs += s
            t = _pb_varint(1, 13)  # UNION
            t += _pb_bytes(2, b"".join(_varint(k) for k in kid_ids))
            return [_pb_bytes(4, t)] + subs, kid
        # struct
        kid_ids: list[int] = []
        subs = []
        kid = tid + 1
        for _fname, sub in nd:
            kid_ids.append(kid)
            s, kid = _tree_types(sub, kid)
            subs += s
        t = _pb_varint(1, _K_STRUCT)
        t += _pb_bytes(2, b"".join(_varint(k) for k in kid_ids))
        for fname, _sub in nd:
            t += _pb_bytes(3, fname.encode("utf-8"))
        return [_pb_bytes(4, t)] + subs, kid

    for c in names:
        types.extend(_tree_types(plans[c], ids[c])[0])

    # file-level statistics (Footer field 7): the per-stripe stats
    # merged column-wise
    file_stats: list[dict] = []
    for ci in range(n_nodes + 1):
        merged = {
            "n": sum(st[ci]["n"] for st in per_stripe_stats),
            "has_null": any(st[ci]["has_null"] for st in per_stripe_stats),
            "kind": per_stripe_stats[0][ci]["kind"],
            "present": [
                v for st in per_stripe_stats for v in st[ci]["present"]
            ],
        }
        file_stats.append(merged)

    footer = (
        _pb_varint(1, 3)  # headerLength ("ORC")
        + _pb_varint(2, content_length)
        + b"".join(_pb_bytes(3, si) for si in stripe_infos)
        + b"".join(types)
        + _pb_varint(6, num_rows)
        + b"".join(
            _pb_bytes(7, _column_statistics_pb(cs)) for cs in file_stats
        )
        # index mode declares the REAL stride its row groups use; the
        # index-less path keeps the Java default it has always declared
        + _pb_varint(8, row_index_stride if index_mode else 10000)
    )
    footer = frame(footer)
    body += footer

    postscript = (
        _pb_varint(1, len(footer))
        + _pb_varint(2, codec_id)  # CompressionKind
        + (_pb_varint(3, block_size) if codec_id else b"")
        + _pb_bytes(4, _varint(0) + _varint(12))  # version 0.12 (packed)
        + _pb_varint(5, len(metadata))  # metadataLength
        # writerVersion: ORC-135 (6) in index mode so readers trust
        # BLOOM_FILTER_UTF8 on string columns (hadBadBloomFilters
        # ignores utf8 string filters below ORC-101); the index-less
        # path keeps its long-standing declaration
        + _pb_varint(6, 6 if index_mode else 1)  # writerVersion
        + _pb_bytes(8000, b"ORC")
    )
    body += postscript
    if len(postscript) > 255:
        raise ValueError("postscript too long")
    body.append(len(postscript))
    return bytes(body)


_INDEXED_KINDS = (
    _K_SHORT, _K_INT, _K_LONG, _K_DATE, _K_FLOAT, _K_DOUBLE, _K_STRING,
)
_BLOOMABLE_KINDS = (_K_SHORT, _K_INT, _K_LONG, _K_DATE, _K_STRING)


def _bloom_filter_pb(values, kind: int, expected: int, fpp: float) -> bytes:
    """One orc_proto ``BloomFilter`` message over a row group's
    non-null values: ``numHashFunctions`` + ``utf8bitset``
    (little-endian uint64 words).

    Sizing mirrors Java's ``org.apache.orc.util.BloomFilter`` exactly:
    ``optimalNumOfBits = (int)(-n·ln p / ln²2)`` then rounded UP past
    the next 64-bit boundary (Java adds ``64 - nb%64`` — a full extra
    word when nb is already aligned), ``k = max(1, round(m/n·ln 2))``
    with Java's ``Math.round`` (floor(x+0.5), not banker's), and
    ``expected`` = the row-index stride regardless of actual row-group
    rows — all pinned against a Spark-written file in the unit battery
    (stride 10000 / fpp 0.01 → k=7, 11984-byte bitset). Value hashing
    and bit placement reuse :mod:`orc_bloom`'s READ-side primitives
    (Thomas Wang for the int family, the ORC Murmur3 64-bit variant
    for strings, Java signed double-hash probing) — the constants
    already pinned bit-exactly against Spark-written filters, so the
    write twin cannot drift from the prober."""
    import math

    from .orc_bloom import bloom_positions, murmur3_hash64, wang_long_hash

    nb = int(-expected * math.log(fpp) / (math.log(2) ** 2))
    num_bits = nb + (64 - (nb % 64))
    n_words = num_bits >> 6
    k = max(1, int(math.floor(float(num_bits) / expected * math.log(2) + 0.5)))
    words = [0] * n_words
    for v in values:
        if kind in (_K_SHORT, _K_INT, _K_LONG, _K_DATE):
            h = wang_long_hash(int(v))
        else:
            e = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            h = murmur3_hash64(e)
        for pos in bloom_positions(h, k, num_bits):
            words[pos >> 6] |= 1 << (pos & 63)
    return _pb_varint(1, k) + _pb_bytes(
        3, struct.pack(f"<{n_words}Q", *words)
    )


def _row_index_entry_pb(positions: list[int] | None, cs: dict) -> bytes:
    """One ``RowIndexEntry``: packed uint64 positions (omitted for the
    streamless root, as Java does) + the row group's ColumnStatistics."""
    msg = b""
    if positions is not None:
        pk = b"".join(_varint(p) for p in positions)
        msg += _tag(1, 2) + _varint(len(pk)) + pk
    msg += _pb_bytes(2, _column_statistics_pb(cs))
    return msg


def _emit_indexed_stripe(
    columns: dict[str, list],
    names: list[str],
    kinds: dict[str, int],
    bloom_set: set[str],
    start: int,
    n_s: int,
    stride: int,
    fpp: float,
):
    """One stripe WITH a real index region: a ``ROW_INDEX`` (kind 6)
    stream per column — one ``RowIndexEntry`` per row group carrying
    seek positions and row-group statistics — plus a
    ``BLOOM_FILTER_UTF8`` (kind 8) stream per requested column, one
    :func:`_bloom_filter_pb` per row group.

    Multi-row-group stripes work by CHUNKED encoding: every value
    stream restarts its encoder at each row-group boundary, so entry
    positions are exact ``(chunk byte offset, 0 run offset)`` pairs —
    spec-legal positions a seeking reader can consume, without
    tracking mid-run state the monolithic encoders don't expose.
    Position layouts are pinned against a Java-written uncompressed
    file in the unit battery: int family ``(data, run)``, string
    DIRECT ``(data)+(length, run)``, float/double ``(data)``, root =
    no positions, nullable columns prepend ``(present, run, bit)``.
    Uncompressed only (compressed positions need compressed-block +
    decompressed-offset pairs the whole-stream framer doesn't track —
    the documented gate in :func:`build_orc_bytes`).

    Returns ``(index_bytes, index_meta, bodies, data_meta, encodings,
    stats)`` with ``*_meta`` as (col_id, stream_kind, length) rows in
    physical order.
    """
    n_rg = max(1, -(-n_s // stride)) if n_s else 1
    index = bytearray()
    index_meta: list[tuple[int, int, int]] = []
    bodies = bytearray()
    data_meta: list[tuple[int, int, int]] = []
    encodings: list[tuple[int, int | None]] = [(0, None)]  # root
    stats: list[dict] = [
        {"n": n_s, "has_null": False, "kind": None, "present": []}
    ]

    # root ROW_INDEX: stats only (numberOfValues = rows in row group)
    root_entries = b"".join(
        _pb_bytes(
            1,
            _row_index_entry_pb(
                None,
                {
                    "n": min(stride, n_s - rg * stride) if n_s else 0,
                    "has_null": False,
                    "kind": None,
                    "present": [],
                },
            ),
        )
        for rg in range(n_rg)
    )
    index_meta.append((0, 6, len(root_entries)))
    index += root_entries

    for ci, c in enumerate(names):
        kind = kinds[c]
        cid = ci + 1
        vals = columns[c][start : start + n_s]
        has_null = any(v is None for v in vals)
        p_chunks: list[bytes] = []
        d_chunks: list[bytes] = []
        l_chunks: list[bytes] = []
        rg_stats: list[dict] = []
        col_nn: list = []
        for rg in range(n_rg):
            rv = vals[rg * stride : (rg + 1) * stride]
            present = [v is not None for v in rv]
            nn = [v for v in rv if v is not None]
            if has_null:
                p_chunks.append(_bool_rle_encode(present))
            if kind in (_K_SHORT, _K_INT, _K_LONG, _K_DATE):
                nn = [int(v) for v in nn]
                if kind == _K_SHORT and nn and not (
                    -(2**15) <= min(nn) and max(nn) < 2**15
                ):
                    raise ValueError("smallint value out of range")
                if kind == _K_INT and nn and not (
                    -(2**31) <= min(nn) and max(nn) < 2**31
                ):
                    raise ValueError("int value out of range")
                d_chunks.append(rlev2_encode(nn, signed=True))
            elif kind == _K_FLOAT:
                # round through float32 BEFORE stats (round-11 rule:
                # stats must describe the stored values)
                raw = struct.pack(f"<{len(nn)}f", *[float(v) for v in nn])
                nn = list(struct.unpack(f"<{len(nn)}f", raw))
                d_chunks.append(raw)
            elif kind == _K_DOUBLE:
                nn = [float(v) for v in nn]
                d_chunks.append(struct.pack(f"<{len(nn)}d", *nn))
            else:  # string family, DIRECT_V2 always in index mode
                nn = [
                    v.encode("utf-8") if isinstance(v, str) else bytes(v)
                    for v in nn
                ]
                d_chunks.append(b"".join(nn))
                l_chunks.append(
                    rlev2_encode([len(r) for r in nn], signed=False)
                )
            stats_kind = kind
            if kind in (_K_SHORT, _K_INT):
                stats_kind = _K_LONG
            elif kind == _K_FLOAT:
                stats_kind = _K_DOUBLE
            elif kind == _K_DATE:
                stats_kind = None
            rg_stats.append(
                {
                    "n": len(nn),
                    "has_null": not all(present),
                    "kind": stats_kind,
                    "present": nn,
                }
            )
            col_nn.extend(nn)

        # entry positions from cumulative chunk offsets
        entries = b""
        p_off = d_off = l_off = 0
        blooms = b""
        for rg in range(n_rg):
            positions: list[int] = []
            if has_null:
                positions += [p_off, 0, 0]
                p_off += len(p_chunks[rg])
            if kind in (_K_SHORT, _K_INT, _K_LONG, _K_DATE):
                positions += [d_off, 0]
            elif kind in (_K_FLOAT, _K_DOUBLE):
                positions += [d_off]
            else:
                positions += [d_off, l_off, 0]
                l_off += len(l_chunks[rg])
            d_off += len(d_chunks[rg])
            entries += _pb_bytes(
                1, _row_index_entry_pb(positions, rg_stats[rg])
            )
            if c in bloom_set:
                blooms += _pb_bytes(
                    1,
                    _bloom_filter_pb(
                        rg_stats[rg]["present"], kind, stride, fpp
                    ),
                )
        index_meta.append((cid, 6, len(entries)))
        index += entries
        if c in bloom_set:
            index_meta.append((cid, 8, len(blooms)))
            index += blooms

        # data region streams (physical order PRESENT, DATA, LENGTH —
        # same as the generic emitter)
        if has_null:
            pb = b"".join(p_chunks)
            data_meta.append((cid, 0, len(pb)))
            bodies += pb
        db = b"".join(d_chunks)
        data_meta.append((cid, 1, len(db)))
        bodies += db
        if l_chunks:
            lb = b"".join(l_chunks)
            data_meta.append((cid, 2, len(lb)))
            bodies += lb
        encodings.append(
            (0, None) if kind in (_K_FLOAT, _K_DOUBLE) else (2, None)
        )
        stats_kind = rg_stats[0]["kind"]
        stats.append(
            {
                "n": len(col_nn),
                "has_null": any(s["has_null"] for s in rg_stats),
                "kind": stats_kind,
                "present": col_nn,
            }
        )
    return bytes(index), index_meta, bytes(bodies), data_meta, encodings, stats


def _column_statistics_pb(cs: dict) -> bytes:
    """One protobuf ColumnStatistics: numberOfValues + typed min/max
    (+sum) + hasNull. IntegerStatistics carry sint64 ZIGZAG varints —
    the encoding orc_data.read_stripe_stats round-trips; the sum is
    omitted when it overflows int64 range (the Java writer's rule).
    Doubles omit min/max when the stripe contains NaN; strings record
    byte-wise min/max and total length."""
    msg = _pb_varint(1, cs["n"])
    kind = cs["kind"]
    present = cs["present"]
    if present and kind == _K_LONG:
        sm = sum(present)
        ints = _pb_varint(1, _zigzag(min(present))) + _pb_varint(
            2, _zigzag(max(present))
        )
        if -(2**63) <= sm < 2**63:
            ints += _pb_varint(3, _zigzag(sm))
        msg += _pb_bytes(2, ints)
    elif present and kind == _K_DOUBLE and not any(v != v for v in present):
        dbl = (
            _tag(1, 1)
            + struct.pack("<d", min(present))
            + _tag(2, 1)
            + struct.pack("<d", max(present))
            + _tag(3, 1)
            + struct.pack("<d", sum(present))
        )
        msg += _pb_bytes(3, dbl)
    elif present and kind == _K_STRING:
        st = (
            _pb_bytes(1, min(present))
            + _pb_bytes(2, max(present))
            + _pb_varint(3, _zigzag(sum(len(v) for v in present)))
        )
        msg += _pb_bytes(4, st)
    msg += _pb_varint(10, 1 if cs["has_null"] else 0)
    return msg


def write_orc_file(
    path: str,
    columns: dict[str, list],
    ddl_types: dict[str, str],
    compression: str = "none",
) -> int:
    blob = build_orc_bytes(columns, ddl_types, compression)
    with open(path, "wb") as f:
        f.write(blob)
    return len(columns[next(iter(columns))]) if columns else 0
