"""Brotli (RFC 7932) codec in pure Python (SURVEY §2 C12, round 12).

DECODER: the full bit stream (below). ENCODER
(:func:`brotli_compress`): a greedy LZ77 parse (hash-chain matcher,
window 2^22-16) emitting per-meta-block Huffman codes over literals,
insert-and-copy commands (implicit-last-distance cells when the
distance repeats) and distance codes (short code 0 + long-form),
through the complex prefix-code header form (exact package-merge
length-limited codes, chain-free 16/17 repeat-run emission) with a
store-path uncompressed meta-block when entropy coding does not pay
— ~0.40x on text. No static-dictionary references or context
modeling on the write side (documented capability bound, not an
honesty decline). Every encoder stream is validated against
pyarrow's reference DECODER.

Closes the last promotable parquet-codec decline: pyarrow writes
BROTLI-compressed parquet pages in-container, so a reference
implementation exists to validate against (the repo's honesty rule).
The decoder implements the full RFC 7932 bit stream:

- stream header (WBITS), meta-block headers (MNIBBLES/MLEN, metadata
  skip blocks, uncompressed blocks);
- prefix codes in both forms: simple (1/2/3/4 symbols with the spec's
  fixed length sets and tree-select) and complex (the 4-bit-peek fixed
  code over code-length code lengths in kCodeLengthCodeOrder, then
  symbol lengths with repeat codes 16/17 until the 32768 space fills);
- block switching for the three categories (L/I/D: block type codes
  over NBLTYPES+2 with prev/next semantics, block count codes over the
  26-entry count table);
- context modeling: the four literal context modes (LSB6/MSB6/UTF8/
  SIGNED, the 2048-byte context lookup extracted from the reference
  library), distance contexts by copy length, context maps with RLE
  zero runs and inverse move-to-front;
- the 704-symbol insert-and-copy code, the distance ring buffer with
  the 16 short codes, NPOSTFIX/NDIRECT parameterized distance codes;
- static dictionary references (distances beyond max_distance) with
  the RFC's word-length bit table and the 121 word transforms
  (identity / ferment-first / ferment-all / omit-first-N /
  omit-last-N with prefixes and suffixes, UTF-8-aware ferment).

Reference-derived constants, per the repo's derive-don't-transcribe
rule for large spec tables: the 122 784-byte static dictionary and the
2048-byte context lookup table are extracted at import time from the
in-container reference implementation's shared library (pyarrow's
libarrow bundles the brotli C library; both blobs are located by
their spec-defined self-identifying patterns and shape-checked). The
121-transform table was DERIVED empirically: hand-built streams
selecting every transform id were decoded through pyarrow's brotli
(tests/test_brotli.py re-runs that derivation and compares), so every
row is pinned to the reference decoder's observable behavior, not to
recall. Randomized cross-validation (pyarrow compress → this decoder)
covers text/binary/incompressible/highly-repetitive payloads at
multiple quality levels plus truncation/bit-flip sweeps.

Bomb guards: output is capped by the caller-declared expected size
(parquet pages declare uncompressed_page_size); streams that exceed
it fail loudly.

Scale shape: a per-page scalar decode inside file-per-task scans —
embarrassingly parallel, no shuffle (same posture as the zstd/snappy
decoders).
"""

from __future__ import annotations

import os

# ---------------------------------------------------------------- bits


class _Bits:
    """LSB-first bit reader (deflate bit order)."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        got = 0
        while got < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated brotli stream")
            byte = self.data[self.pos]
            avail = 8 - self.bit
            take = min(avail, n - got)
            v |= ((byte >> self.bit) & ((1 << take) - 1)) << got
            got += take
            self.bit += take
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1

    def read_bytes(self, n: int) -> bytes:
        if self.bit:
            raise ValueError("unaligned byte read")
        if self.pos + n > len(self.data):
            raise ValueError("truncated brotli stream")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out


class _Prefix:
    """Canonical prefix decoder read LSB-first.

    Codes are assigned deflate-style (symbols sorted by (length,
    symbol), codes increase within a length, shift left between
    lengths) but — as in the reference decoder's table build — the
    code's bits appear in the stream LOW bit first, so the table keys
    store the bit-reversed code and decode composes LSB-first."""

    __slots__ = ("table", "max_len")

    def __init__(self, lengths: dict[int, int]) -> None:
        # lengths: symbol -> code length (>0)
        syms = sorted(
            ((ln, s) for s, ln in lengths.items() if ln > 0)
        )
        self.table: dict[tuple[int, int], int] = {}
        code = 0
        prev_len = 0
        for ln, s in syms:
            code <<= ln - prev_len
            prev_len = ln
            self.table[(ln, code)] = s
            code += 1
        self.max_len = prev_len

    def decode(self, br: _Bits) -> int:
        code = 0
        ln = 0
        while ln <= self.max_len:
            code = (code << 1) | br.read(1)
            ln += 1
            s = self.table.get((ln, code))
            if s is not None:
                return s
        raise ValueError("invalid brotli prefix code word")


class _Const:
    """Single-symbol 'code': zero bits per decode."""

    __slots__ = ("sym",)

    def __init__(self, sym: int) -> None:
        self.sym = sym

    def decode(self, _br: _Bits) -> int:
        return self.sym


# ------------------------------------------------- reference constants

_DICT_SIZE = 122784
_DICT_PROBE = b"timedownlifeleftbackcodedatashow"
_CTX_SIZE = 2048
# The context lookup's LSB6 section is self-identifying: 256 bytes of
# (i & 0x3f) followed by 256 zero bytes.
_CTX_PROBE = bytes(i & 0x3F for i in range(256)) + bytes(256)

_dictionary: bytes | None = None
_context_lut: bytes | None = None


def _reference_library_paths() -> list[str]:
    import glob as _glob

    try:
        import pyarrow as _pa

        base = os.path.dirname(_pa.__file__)
        return sorted(_glob.glob(os.path.join(base, "libarrow.so*")))
    except ImportError:
        return []


def _load_reference_blobs() -> None:
    global _dictionary, _context_lut
    if _dictionary is not None and _context_lut is not None:
        return
    for path in _reference_library_paths():
        try:
            with open(path, "rb") as f:
                blob = f.read()
        except OSError:
            continue
        di = blob.find(_DICT_PROBE)
        ci = blob.find(_CTX_PROBE)
        if di >= 0 and ci >= 0:
            _dictionary = blob[di : di + _DICT_SIZE]
            _context_lut = blob[ci : ci + _CTX_SIZE]
            if len(_dictionary) == _DICT_SIZE and len(_context_lut) == _CTX_SIZE:
                return
            _dictionary = _context_lut = None
    raise NotImplementedError(
        "brotli static dictionary/context tables not found in the "
        "in-container reference library (pyarrow libarrow) — decline "
        "rather than decode dictionary references incorrectly"
    )


# word-count bits per word length 4..24 (RFC 7932 §8); index by length
_NDBITS = [0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8,
           7, 7, 8, 7, 7, 6, 6, 5, 5]
_DOFFSET = [0] * 25
for _l in range(5, 25):
    # lengths 0-3 carry no words (NDBITS 0 means zero words there,
    # not 2^0) — offsets accumulate from the length-4 section at 0
    _DOFFSET[_l] = _DOFFSET[_l - 1] + (_l - 1) * (1 << _NDBITS[_l - 1])

# 121 word transforms: (prefix, op, suffix). op: 0 identity,
# 1 ferment-first, 2 ferment-all, 10+k omit-first-k, 20+k omit-last-k.
# DERIVED from the reference decoder (pyarrow's bundled brotli) by
# decoding hand-built streams that select each transform id —
# tests/test_brotli.py::test_transform_table_matches_reference re-runs
# the derivation and compares row by row.
_TRANSFORMS: list[tuple[bytes, int, bytes]] = [
    (b"", 0, b""), (b"", 0, b" "), (b" ", 0, b" "), (b"", 10 + 1, b""),
    (b"", 1, b" "), (b"", 0, b" the "), (b" ", 0, b""), (b"s ", 0, b" "),
    (b"", 0, b" of "), (b"", 1, b""), (b"", 0, b" and "),
    (b"", 10 + 2, b""), (b"", 20 + 1, b""), (b", ", 0, b" "),
    (b"", 0, b", "), (b" ", 1, b" "), (b"", 0, b" in "),
    (b"", 0, b" to "), (b"e ", 0, b" "), (b"", 0, b"\""),
    (b"", 0, b"."), (b"", 0, b"\">"), (b"", 0, b"\n"),
    (b"", 20 + 3, b""), (b"", 0, b"]"), (b"", 0, b" for "),
    (b"", 10 + 3, b""), (b"", 20 + 2, b""), (b"", 0, b" a "),
    (b"", 0, b" that "), (b" ", 1, b""), (b"", 0, b". "),
    (b".", 0, b""), (b" ", 0, b", "), (b"", 10 + 4, b""),
    (b"", 0, b" with "), (b"", 0, b"'"), (b"", 0, b" from "),
    (b"", 0, b" by "), (b"", 10 + 5, b""), (b"", 10 + 6, b""),
    (b" the ", 0, b""), (b"", 20 + 4, b""), (b"", 0, b". The "),
    (b"", 2, b""), (b"", 0, b" on "), (b"", 0, b" as "),
    (b"", 0, b" is "), (b"", 20 + 7, b""), (b"", 20 + 1, b"ing "),
    (b"", 0, b"\n\t"), (b"", 0, b":"), (b" ", 0, b". "),
    (b"", 0, b"ed "), (b"", 10 + 9, b""), (b"", 10 + 7, b""),
    (b"", 20 + 6, b""), (b"", 0, b"("), (b"", 1, b", "),
    (b"", 20 + 8, b""), (b"", 0, b" at "), (b"", 0, b"ly "),
    (b" the ", 0, b" of "), (b"", 20 + 5, b""), (b"", 20 + 9, b""),
    (b" ", 1, b", "), (b"", 1, b"\""), (b".", 0, b"("),
    (b"", 2, b" "), (b"", 1, b"\">"), (b"", 0, b"=\""),
    (b" ", 0, b"."), (b".com/", 0, b""), (b" the ", 0, b" of the "),
    (b"", 1, b"'"), (b"", 0, b". This "), (b"", 0, b","),
    (b".", 0, b" "), (b"", 1, b"("), (b"", 1, b"."),
    (b"", 0, b" not "), (b" ", 0, b"=\""), (b"", 0, b"er "),
    (b" ", 2, b" "), (b"", 0, b"al "), (b" ", 2, b""),
    (b"", 0, b"='"), (b"", 2, b"\""), (b"", 1, b". "),
    (b" ", 0, b"("), (b"", 0, b"ful "), (b" ", 1, b". "),
    (b"", 0, b"ive "), (b"", 0, b"less "), (b"", 2, b"'"),
    (b"", 0, b"est "), (b" ", 1, b"."), (b"", 2, b"\">"),
    (b" ", 0, b"='"), (b"", 1, b","), (b"", 0, b"ize "),
    (b"", 2, b"."), (b"\xc2\xa0", 0, b""), (b" ", 0, b","),
    (b"", 1, b"=\""), (b"", 2, b"=\""), (b"", 0, b"ous "),
    (b"", 2, b", "), (b"", 1, b"='"), (b" ", 1, b","),
    (b" ", 2, b"=\""), (b" ", 2, b", "), (b"", 2, b","),
    (b"", 2, b"("), (b"", 2, b". "), (b" ", 2, b"."),
    (b"", 2, b"='"), (b" ", 2, b". "), (b" ", 1, b"=\""),
    (b" ", 2, b"='"), (b" ", 1, b"='"),
]


def _ferment(word: bytearray, start: int) -> int:
    """Uppercase one 'character' at start (UTF-8 aware per RFC 7932
    §8.2); returns the number of bytes consumed."""
    c = word[start]
    if c < 0x80:
        if 0x61 <= c <= 0x7A:  # a-z
            word[start] = c ^ 32
        return 1
    if c < 0xE0:
        if start + 1 < len(word):
            word[start + 1] ^= 32
        return 2
    if start + 2 < len(word):
        word[start + 2] ^= 5
    return 3


def _apply_transform(word: bytes, tid: int) -> bytes:
    prefix, op, suffix = _TRANSFORMS[tid]
    w = word
    if 10 <= op < 20:  # omit-first-k
        k = op - 10
        w = w[k:] if k < len(w) else b""
    elif op >= 20:  # omit-last-k
        k = op - 20
        w = w[:-k] if k < len(w) else b""
    if op == 1 or op == 2:
        wb = bytearray(w)
        i = 0
        while i < len(wb):
            i += _ferment(wb, i)
            if op == 1:
                break
        w = bytes(wb)
    return prefix + w + suffix


# ------------------------------------------------------ fixed tables

# 4-bit-peek fixed code for the code-length code (RFC 7932 §3.5)
_CLC_LEN = [2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2, 2, 4]
_CLC_VAL = [0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4, 3, 5]
_CLC_ORDER = [1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# insert length codes: (offset, extra bits)
_INSERT = [
    (0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (6, 1), (8, 1),
    (10, 2), (14, 2), (18, 3), (26, 3), (34, 4), (50, 4), (66, 5),
    (98, 5), (130, 6), (194, 7), (322, 8), (578, 9), (1090, 10),
    (2114, 12), (6210, 14), (22594, 24),
]
# copy length codes
_COPY = [
    (2, 0), (3, 0), (4, 0), (5, 0), (6, 0), (7, 0), (8, 0), (9, 0),
    (10, 1), (12, 1), (14, 2), (18, 2), (22, 3), (30, 3), (38, 4),
    (54, 4), (70, 5), (102, 5), (134, 6), (198, 7), (326, 8),
    (582, 9), (1094, 10), (2118, 24),
]
# insert-and-copy cell decomposition (RFC 7932 §5)
_INS_RANGE = [0, 0, 8, 8, 0, 16, 8, 16, 16]
_CPY_RANGE = [0, 8, 0, 8, 16, 0, 16, 8, 16]

# block count codes (26): (offset, extra bits)
_BLOCK_COUNT = [
    (1, 2), (5, 2), (9, 2), (13, 2), (17, 3), (25, 3), (33, 3),
    (41, 3), (49, 4), (65, 4), (81, 4), (97, 4), (113, 5), (145, 5),
    (177, 5), (209, 5), (241, 6), (305, 6), (369, 7), (497, 8),
    (753, 9), (1265, 10), (2289, 11), (4337, 12), (8433, 13),
    (16625, 24),
]

# distance short codes: (ring index offset, value delta)
_DIST_SHORT = [
    (0, 0), (1, 0), (2, 0), (3, 0),
    (0, -1), (0, 1), (0, -2), (0, 2), (0, -3), (0, 3),
    (1, -1), (1, 1), (1, -2), (1, 2), (1, -3), (1, 3),
]


def _read_prefix_code(br: _Bits, alphabet: int):
    """One prefix code per RFC 7932 §3.4/3.5 (simple or complex)."""
    two = br.read(2)
    if two == 1:  # simple
        nsym = br.read(2) + 1
        abits = max((alphabet - 1).bit_length(), 1)
        syms = [br.read(abits) for _ in range(nsym)]
        for s in syms:
            if s >= alphabet:
                raise ValueError("brotli simple code symbol out of range")
        if len(set(syms)) != nsym:
            raise ValueError("brotli simple code repeats a symbol")
        if nsym == 1:
            return _Const(syms[0])
        if nsym == 2:
            syms.sort()
            return _Prefix({syms[0]: 1, syms[1]: 1})
        if nsym == 3:
            if syms[1] > syms[2]:
                syms[1], syms[2] = syms[2], syms[1]
            return _Prefix({syms[0]: 1, syms[1]: 2, syms[2]: 2})
        tree_select = br.read(1)
        if tree_select:
            if syms[2] > syms[3]:
                syms[2], syms[3] = syms[3], syms[2]
            return _Prefix(
                {syms[0]: 1, syms[1]: 2, syms[2]: 3, syms[3]: 3}
            )
        syms.sort()
        return _Prefix({s: 2 for s in syms})
    # complex: `two` is HSKIP
    hskip = two
    cl_lens: dict[int, int] = {}
    space = 0
    nonzero = 0
    for sym in _CLC_ORDER[hskip:]:
        # peek 4 bits through the fixed code (LSB-first)
        save_pos, save_bit = br.pos, br.bit
        v = 0
        for k in range(4):
            if br.pos < len(br.data):
                v |= br.read(1) << k
            else:
                break
        ln = _CLC_LEN[v & 15]
        val = _CLC_VAL[v & 15]
        br.pos, br.bit = save_pos, save_bit
        br.read(ln)
        if val:
            cl_lens[sym] = val
            space += 32 >> val
            nonzero += 1
            if space >= 32:
                break
    if space > 32 and nonzero > 1:
        raise ValueError("brotli code length code over-subscribed")
    # degenerate single-length CLC (e.g. every literal 8 bits): a
    # 0-bit constant code — the symbol-length loop below then fills
    # the space with that one length and the space==32768 check
    # still guards termination
    clc = _Const(next(iter(cl_lens))) if nonzero == 1 else _Prefix(cl_lens)
    lens: dict[int, int] = {}
    sym = 0
    space = 0
    prev_len = 8
    prev_repeat_len = 0
    repeat = 0
    while sym < alphabet and space < 32768:
        cl = clc.decode(br)
        if cl < 16:
            repeat = 0
            if cl:
                lens[sym] = cl
                space += 32768 >> cl
                prev_len = cl
            sym += 1
        elif cl == 16:
            extra = br.read(2)
            new_len = prev_len
            if prev_repeat_len != new_len:
                repeat = 0
                prev_repeat_len = new_len
            old = repeat
            if repeat:
                repeat = ((repeat - 2) << 2) + extra + 3
            else:
                repeat = extra + 3
            n = repeat - old
            for _ in range(n):
                if sym >= alphabet:
                    raise ValueError("brotli repeat past alphabet")
                lens[sym] = new_len
                space += 32768 >> new_len
                sym += 1
        else:  # 17: zeros
            extra = br.read(3)
            if prev_repeat_len != 0:
                repeat = 0
                prev_repeat_len = 0
            old = repeat
            if repeat:
                repeat = ((repeat - 2) << 3) + extra + 3
            else:
                repeat = extra + 3
            sym += repeat - old
            if sym > alphabet:
                raise ValueError("brotli zero-repeat past alphabet")
    if space != 32768:
        raise ValueError("brotli prefix code space not filled")
    return _Prefix(lens)


def _read_count(br: _Bits) -> int:
    """NBLTYPES / NTREES variable-length value (1..256)."""
    if br.read(1) == 0:
        return 1
    n = br.read(3)
    return (1 << n) + br.read(n) + 1


def _read_context_map(br: _Bits, ntrees: int, size: int) -> list[int]:
    if ntrees == 1:
        return [0] * size
    rlemax = 0
    if br.read(1):
        rlemax = br.read(4) + 1
    code = _read_prefix_code(br, ntrees + rlemax)
    cmap: list[int] = []
    while len(cmap) < size:
        s = code.decode(br)
        if s == 0:
            cmap.append(0)
        elif s <= rlemax:
            run = (1 << s) + br.read(s)
            if len(cmap) + run > size:
                raise ValueError("brotli context map RLE overrun")
            cmap.extend([0] * run)
        else:
            cmap.append(s - rlemax)
    if br.read(1):  # inverse move-to-front
        mtf = list(range(256))
        for i, v in enumerate(cmap):
            val = mtf[v]
            if v:
                del mtf[v]
                mtf.insert(0, val)
            cmap[i] = val
    for v in cmap:
        if v >= ntrees:
            raise ValueError("brotli context map value out of range")
    return cmap


class _BlockState:
    """Block type/count state for one category."""

    __slots__ = ("ntypes", "type_code", "count_code", "btype",
                 "prev_type", "count")

    def __init__(self, br: _Bits) -> None:
        self.ntypes = _read_count(br)
        self.btype = 0
        self.prev_type = 1
        if self.ntypes >= 2:
            self.type_code = _read_prefix_code(br, self.ntypes + 2)
            self.count_code = _read_prefix_code(br, 26)
            self.count = self._read_cnt(br)
        else:
            self.type_code = None
            self.count_code = None
            self.count = 1 << 60

    def _read_cnt(self, br: _Bits) -> int:
        c = self.count_code.decode(br)
        off, extra = _BLOCK_COUNT[c]
        return off + br.read(extra)

    def tick(self, br: _Bits) -> None:
        """Consume one element; switch blocks when the count runs out."""
        if self.count == 0:
            s = self.type_code.decode(br)
            if s == 0:
                t = self.prev_type
            elif s == 1:
                t = (self.btype + 1) % self.ntypes
            else:
                t = s - 2
            self.prev_type = self.btype
            self.btype = t
            self.count = self._read_cnt(br)
        self.count -= 1


def brotli_decompress(data: bytes, expected_size: int | None = None) -> bytes:
    """Decode one brotli stream. ``expected_size`` doubles as the bomb
    guard: output beyond it fails loudly (parquet pages declare it)."""
    _load_reference_blobs()
    br = _Bits(data)
    # window bits
    if br.read(1) == 0:
        wbits = 16
    else:
        n = br.read(3)
        if n != 0:
            wbits = 17 + n
        else:
            n = br.read(3)
            if n == 0:
                wbits = 17
            elif n == 1:
                raise ValueError("invalid brotli WBITS")
            else:
                wbits = 8 + n
    window = (1 << wbits) - 16
    cap = expected_size if expected_size is not None else 1 << 31
    out = bytearray()
    # ring buffer, most recent first: the spec initializes the buffer
    # with 16, 15, 11, 4 stored oldest-first, so the initial LAST
    # distance is 4 (verified against the reference decoder on
    # "aaa..."-style streams whose first copy uses short code 8 = last
    # minus 3 to mean distance 1)
    dists = [4, 11, 15, 16]

    while True:
        islast = br.read(1)
        if islast and br.read(1):  # ISLASTEMPTY
            break
        mnib = br.read(2)
        if mnib == 3:  # metadata block
            if br.read(1):
                raise ValueError("brotli metadata reserved bit set")
            mskipbytes = br.read(2)
            mskiplen = 0
            for k in range(mskipbytes):
                b = br.read(8)
                if k == mskipbytes - 1 and mskipbytes and b == 0:
                    raise ValueError("brotli metadata length padding")
                mskiplen |= b << (8 * k)
            if mskipbytes:
                mskiplen += 1
            br.align()
            br.read_bytes(mskiplen)
            if islast:
                break
            continue
        nibbles = 4 + mnib
        mlen = 0
        for k in range(nibbles):
            nib = br.read(4)
            if k == nibbles - 1 and nibbles > 4 and nib == 0:
                raise ValueError("brotli MLEN nibble padding")
            mlen |= nib << (4 * k)
        mlen += 1
        if len(out) + mlen > cap:
            raise ValueError("brotli output exceeds declared size")
        if not islast and br.read(1):  # ISUNCOMPRESSED
            br.align()
            out += br.read_bytes(mlen)
            continue

        bsl = _BlockState(br)
        bsi = _BlockState(br)
        bsd = _BlockState(br)
        npostfix = br.read(2)
        ndirect = br.read(4) << npostfix
        cmodes = [br.read(2) for _ in range(bsl.ntypes)]
        ntreesl = _read_count(br)
        cmap_l = _read_context_map(br, ntreesl, 64 * bsl.ntypes)
        ntreesd = _read_count(br)
        cmap_d = _read_context_map(br, ntreesd, 4 * bsd.ntypes)
        lit_codes = [
            _read_prefix_code(br, 256) for _ in range(ntreesl)
        ]
        cmd_codes = [
            _read_prefix_code(br, 704) for _ in range(bsi.ntypes)
        ]
        dist_alpha = 16 + ndirect + (48 << npostfix)
        dist_codes = [
            _read_prefix_code(br, dist_alpha) for _ in range(ntreesd)
        ]

        produced = 0
        while produced < mlen:
            bsi.tick(br)
            cmd = cmd_codes[bsi.btype].decode(br)
            range_idx = cmd >> 6
            implicit_zero = range_idx < 2
            if range_idx >= 2:
                range_idx -= 2
            ins_code = _INS_RANGE[range_idx] + ((cmd >> 3) & 7)
            cpy_code = _CPY_RANGE[range_idx] + (cmd & 7)
            ioff, iext = _INSERT[ins_code]
            ilen = ioff + br.read(iext)
            coff, cext = _COPY[cpy_code]
            clen = coff + br.read(cext)

            # literals
            mode_lut = None
            for _ in range(ilen):
                bsl.tick(br)
                if len(out) >= 2:
                    p1, p2 = out[-1], out[-2]
                elif len(out) == 1:
                    p1, p2 = out[-1], 0
                else:
                    p1 = p2 = 0
                mode = cmodes[bsl.btype]
                base = mode << 9
                ctx = (
                    _context_lut[base + p1]
                    | _context_lut[base + 256 + p2]
                )
                tree = cmap_l[(bsl.btype << 6) + ctx]
                out.append(lit_codes[tree].decode(br))
                produced += 1
                if len(out) > cap:
                    raise ValueError("brotli output exceeds declared size")
            if produced >= mlen:
                if produced > mlen:
                    raise ValueError("brotli command overruns meta-block")
                # literals exactly filled the meta-block: the trailing
                # command's copy part is ignored per the spec
                break

            # distance
            if implicit_zero:
                dist = dists[0]
                dcode_is_zero = True
            else:
                bsd.tick(br)
                dctx = min(clen, 5) - 2
                tree = cmap_d[(bsd.btype << 2) + dctx]
                dcode = dist_codes[tree].decode(br)
                dcode_is_zero = dcode == 0
                if dcode < 16:
                    idx, delta = _DIST_SHORT[dcode]
                    dist = dists[idx] + delta
                    if dist <= 0:
                        raise ValueError("brotli non-positive distance")
                elif dcode < 16 + ndirect:
                    dist = dcode - 16 + 1
                else:
                    x = dcode - 16 - ndirect
                    hcode = x >> npostfix
                    lcode = x & ((1 << npostfix) - 1)
                    ndistbits = 1 + (hcode >> 1)
                    extra = br.read(ndistbits)
                    offset = ((2 + (hcode & 1)) << ndistbits) - 4
                    dist = (
                        ((offset + extra) << npostfix)
                        + lcode + ndirect + 1
                    )

            max_dist = min(len(out), window)
            if dist <= max_dist:
                if not dcode_is_zero:
                    dists = [dist] + dists[:3]
                if clen < 1:
                    raise ValueError("brotli zero copy length")
                start = len(out) - dist
                for k in range(clen):
                    out.append(out[start + k])
                produced += clen
                if len(out) > cap:
                    raise ValueError("brotli output exceeds declared size")
            else:
                # static dictionary reference
                if not 4 <= clen <= 24:
                    raise ValueError(
                        "brotli dictionary reference with invalid "
                        f"length {clen}"
                    )
                address = dist - max_dist - 1
                ndbits = _NDBITS[clen]
                word_idx = address & ((1 << ndbits) - 1)
                tid = address >> ndbits
                if tid >= len(_TRANSFORMS):
                    raise ValueError(
                        f"brotli transform id {tid} out of range"
                    )
                woff = _DOFFSET[clen] + word_idx * clen
                word = _dictionary[woff : woff + clen]
                piece = _apply_transform(word, tid)
                out += piece
                produced += len(piece)
                if len(out) > cap:
                    raise ValueError("brotli output exceeds declared size")
            if produced > mlen:
                raise ValueError("brotli command overruns meta-block")
        if islast:
            break
    if expected_size is not None and len(out) != expected_size:
        raise ValueError(
            f"brotli output size {len(out)} != declared {expected_size}"
        )
    return bytes(out)


# ---------------------------------------------------------------- encode


class _BitW:
    """LSB-first bit writer (the stream's bit order)."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def w(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def w_code(self, code: int, n: int) -> None:
        """A canonical prefix code word: bits MSB-first (the decoder
        composes (code << 1) | bit)."""
        for k in range(n - 1, -1, -1):
            self.w((code >> k) & 1, 1)

    def align(self) -> None:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0

    def bytes(self) -> bytes:
        self.align()
        return bytes(self.out)


def _package_merge(freqs: dict[int, int], cap: int) -> dict[int, int]:
    """Exact length-limited Huffman code lengths (package-merge).
    Returns symbol -> length (1..cap); requires len(freqs) >= 2 and
    2^cap >= len(freqs)."""
    syms = sorted(freqs, key=lambda s: (freqs[s], s))
    n = len(syms)
    if (1 << cap) < n:
        raise ValueError("length cap too small for alphabet")
    # each item: (weight, {symbol: count}) — merged packages carry the
    # multiset of leaf symbols they contain. Classic package-merge:
    # L-1 rounds of "package the current list pairwise, then merge
    # with the leaves"; a symbol's code length is how many of the
    # final list's first 2n-2 items contain it.
    leaves = [(freqs[s], {s: 1}) for s in syms]
    lst = list(leaves)
    for _ in range(cap - 1):
        packaged = []
        for i in range(0, len(lst) - 1, 2):
            a, b = lst[i], lst[i + 1]
            bag = dict(a[1])
            for s, c in b[1].items():
                bag[s] = bag.get(s, 0) + c
            packaged.append((a[0] + b[0], bag))
        lst = sorted(packaged + leaves, key=lambda x: x[0])
    lengths = {s: 0 for s in syms}
    for _w, bag in lst[: 2 * n - 2]:
        for s, c in bag.items():
            lengths[s] += c
    # sanity: kraft sum must be exactly 1
    if sum(1 << (cap - L) for L in lengths.values()) != 1 << cap:
        raise AssertionError("package-merge produced non-complete code")
    return lengths


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), deflate-style canonical assignment
    (the exact convention _Prefix decodes)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev = 0
    for ln, s in sorted((ln, s) for s, ln in lengths.items() if ln):
        code <<= ln - prev
        prev = ln
        out[s] = (code, ln)
        code += 1
    return out


# inverse of the 4-bit-peek fixed code: CLC length value -> (bits, n)
_CLC_EMIT = {0: (0b00, 2), 4: (0b01, 2), 3: (0b10, 2),
             2: (0b011, 3), 1: (0b0111, 4), 5: (0b1111, 4)}


def _emit_complex_prefix_code(bw: _BitW, lengths: dict[int, int],
                              alphabet: int) -> None:
    """Emit a complex prefix code header for ``lengths`` (symbol ->
    1..15, complete). Zero runs use code-length symbol 17; repeated
    nonzero lengths use single 16s (3-6 repeats each, kept chain-free
    by re-emitting the plain length between groups)."""
    # 1. build the code-length symbol event list
    events: list[tuple[int, int]] = []  # (cl_symbol, extra_value|-1)
    sym = 0
    while sym < alphabet:
        ln = lengths.get(sym, 0)
        if ln == 0:
            run = 0
            while sym + run < alphabet and lengths.get(sym + run, 0) == 0:
                run += 1
            if sym + run >= alphabet:
                break  # trailing zeros are implicit
            left = run
            while left >= 3:
                take = min(left, 10)
                events.append((17, take - 3))
                left -= take
                if left >= 3:
                    # consecutive 17s CHAIN in the decoder (repeat =
                    # 8*(r-2)+3+extra) — a plain 0 resets the state so
                    # each 17 stands alone
                    events.append((0, -1))
                    left -= 1
            for _ in range(left):
                events.append((0, -1))
            sym += run
        else:
            run = 1
            while (
                sym + run < alphabet
                and lengths.get(sym + run, 0) == ln
            ):
                run += 1
            events.append((ln, -1))
            left = run - 1
            while left >= 3:
                take = min(left, 6)
                events.append((16, take - 3))
                left -= take
                if left >= 3:
                    # a fresh plain length resets the repeat
                    # accumulator so each 16 stands alone
                    events.append((ln, -1))
                    left -= 1
            for _ in range(left):
                events.append((ln, -1))
            sym += run
    # 2. CLC over the event symbols (lengths capped at 5)
    clc_freq: dict[int, int] = {}
    for cl, _x in events:
        clc_freq[cl] = clc_freq.get(cl, 0) + 1
    if len(clc_freq) == 1:
        only = next(iter(clc_freq))
        # a complete 2-symbol code (the unused partner never occurs)
        other = 0 if only != 0 else 5
        clc_lengths = {only: 1, other: 1}
    else:
        clc_lengths = _package_merge(clc_freq, 5)
    clc_codes = _canonical_codes(clc_lengths)
    # 3. emit: HSKIP=0, then CLC lengths in order until space fills
    bw.w(0, 2)  # complex form, HSKIP 0
    space = 0
    for s in _CLC_ORDER:
        ln = clc_lengths.get(s, 0)
        bits, n = _CLC_EMIT[ln]
        bw.w(bits, n)
        if ln:
            space += 32 >> ln
            if space >= 32:
                break
    # 4. emit the event list through the CLC
    for cl, extra in events:
        code, n = clc_codes[cl]
        bw.w_code(code, n)
        if cl == 16:
            bw.w(extra, 2)
        elif cl == 17:
            bw.w(extra, 3)


def _emit_prefix_code(bw: _BitW, freqs: dict[int, int], alphabet: int):
    """Emit one prefix code for ``freqs`` over ``alphabet`` (simple
    form when <= 4 distinct symbols, complex otherwise); returns
    symbol -> (code, length) for the data section ((sym, 0) lengths
    mean zero bits)."""
    abits = max((alphabet - 1).bit_length(), 1)
    distinct = sorted(freqs)
    if len(distinct) == 1:
        bw.w(1, 2)  # simple
        bw.w(0, 2)  # NSYM-1 = 0
        bw.w(distinct[0], abits)
        return {distinct[0]: (0, 0)}
    if len(distinct) == 2:
        bw.w(1, 2)
        bw.w(1, 2)
        for s in distinct:
            bw.w(s, abits)
        return {distinct[0]: (0, 1), distinct[1]: (1, 1)}
    if len(distinct) == 3:
        # decoder assigns lengths {1,2,2}: first symbol length 1, the
        # other two sorted — order by frequency desc for the length-1
        # slot
        first = max(distinct, key=lambda s: (freqs[s], -s))
        rest = sorted(s for s in distinct if s != first)
        bw.w(1, 2)
        bw.w(2, 2)
        for s in [first] + rest:
            bw.w(s, abits)
        return {
            first: (0, 1), rest[0]: (0b10, 2), rest[1]: (0b11, 2),
        }
    if len(distinct) == 4:
        # flat {2,2,2,2}, tree_select 0, symbols sorted
        bw.w(1, 2)
        bw.w(3, 2)
        for s in distinct:
            bw.w(s, abits)
        bw.w(0, 1)  # tree_select
        return {s: (i, 2) for i, s in enumerate(distinct)}
    lengths = _package_merge(freqs, 15)
    _emit_complex_prefix_code(bw, lengths, alphabet)
    return _canonical_codes(lengths)


# explicit-distance cell index by (insert_high, copy_high): raw
# cmd>>6 = index + 2 (cells 0/1 are the implicit-last-distance twins
# of (0,0)/(0,8))
_CELL_BY_HIGHS = {
    (_INS_RANGE[i], _CPY_RANGE[i]): i + 2 for i in range(9)
}


def _length_code(table, v: int) -> int:
    """Code index in an (offset, extra) table whose ranges tile."""
    for i, (off, e) in enumerate(table):
        if off <= v < off + max(1 << e, 1):
            return i
    raise ValueError(f"length {v} out of code range")


def _match_len(data: bytes, a: int, b: int, limit: int) -> int:
    n = 0
    while n + 32 <= limit and data[a + n: a + n + 32] == data[b + n: b + n + 32]:
        n += 32
    while n < limit and data[a + n] == data[b + n]:
        n += 1
    return n


def _lz_parse(chunk: bytes, window: int):
    """Greedy LZ77 parse: [(insert_literals: bytes, copy_len, dist)]
    with a trailing (literals, 0, 0) when the chunk ends in literals.
    Hash chains over 4-byte prefixes, bounded probe depth; positions
    inside long matches index every 4th offset (speed/ratio trade).

    One-byte LAZY MATCHING was implemented and MEASURED in round 13,
    then deliberately dropped: on real text it bought only -1.9%
    compressed size for +81% encode time, and on word-salad synthetic
    text it made the ratio slightly WORSE (deferred positions perturb
    the hash chains and the last-distance reuse the command coder
    leans on) at 2.2x the time. For a pure-Python encoder whose bench
    cost is the binding constraint, greedy is the right point on that
    curve."""
    n = len(chunk)
    table: dict[bytes, list[int]] = {}
    cmds: list[tuple[bytes, int, int]] = []
    lit_start = 0
    pos = 0
    while pos + 4 <= n:
        key = chunk[pos: pos + 4]
        cands = table.get(key)
        best_len = 0
        best_dist = 0
        if cands:
            limit = n - pos
            for c in reversed(cands):
                dist = pos - c
                if dist > window:
                    break
                ln = _match_len(chunk, c, pos, limit)
                if ln > best_len:
                    best_len = ln
                    best_dist = dist
                    if ln >= 128:
                        break
        if best_len >= 4:
            cmds.append((chunk[lit_start:pos], best_len, best_dist))
            end = pos + best_len
            step = 1 if best_len <= 32 else 4
            p2 = pos
            while p2 < end and p2 + 4 <= n:
                k2 = chunk[p2: p2 + 4]
                lst = table.setdefault(k2, [])
                lst.append(p2)
                if len(lst) > 8:
                    del lst[0]
                p2 += step
            pos = end
            lit_start = pos
        else:
            lst = table.setdefault(key, [])
            lst.append(pos)
            if len(lst) > 8:
                del lst[0]
            pos += 1
    if lit_start < n:
        cmds.append((chunk[lit_start:], 0, 0))
    elif not cmds:
        cmds.append((b"", 0, 0))
    return cmds


def brotli_compress(data: bytes) -> bytes:
    """Encode a VALID RFC 7932 stream: a greedy LZ77 parse (hash-chain
    matcher, window 2^22-16) with per-meta-block Huffman codes over
    the literals, the insert-and-copy commands (implicit-last-distance
    cells when the distance repeats), and the distance codes (short
    code 0 for last-distance, long-form otherwise; NPOSTFIX/NDIRECT
    0); a store-path uncompressed meta-block when entropy coding does
    not pay. No static-dictionary references (documented capability
    bound, not an honesty decline). Every stream is validated against
    pyarrow's reference DECODER in the unit battery and round-trips
    through :func:`brotli_decompress`."""
    out = _BitW()
    # WBITS 22: '1' + 3-bit (22-17)=5
    out.w(1, 1)
    out.w(5, 3)
    window = (1 << 22) - 16
    CHUNK = 1 << 22

    def emit_mlen(bw: _BitW, mlen: int) -> None:
        if mlen <= 1 << 16:
            bw.w(0, 2)
            bw.w(mlen - 1, 16)
        elif mlen <= 1 << 20:
            bw.w(1, 2)
            bw.w(mlen - 1, 20)
        else:
            bw.w(2, 2)
            bw.w(mlen - 1, 24)

    pos = 0
    # The decoder's distance ring persists across meta-blocks (RFC 7932
    # §4), so the simulated ring must live outside the chunk loop. A
    # store-path chunk leaves the decoder's ring untouched, so the
    # planning mutations for that chunk are rolled back below.
    ring = [4, 11, 15, 16]
    while pos < len(data):
        chunk = data[pos: pos + CHUNK]
        pos += len(chunk)
        mlen = len(chunk)
        cmds = _lz_parse(chunk, window)

        dists = list(ring)
        lit_freq: dict[int, int] = {}
        cmd_freq: dict[int, int] = {}
        dist_freq: dict[int, int] = {}
        plan = []  # (cmd_sym, ins_extra, ins_bits, cpy_extra,
        #            cpy_bits, lits, dsym_or_None, dextra, dbits)
        for idx, (lits, clen, dist) in enumerate(cmds):
            for b in lits:
                lit_freq[b] = lit_freq.get(b, 0) + 1
            ins = len(lits)
            ic = _length_code(_INSERT, ins)
            ioff, iext = _INSERT[ic]
            last_cmd = idx == len(cmds) - 1 and clen == 0
            if last_cmd:
                cc = 0  # copy part is ignored by the decoder
            else:
                cc = _length_code(_COPY, clen)
            coff, cext = _COPY[cc]
            implicit = (
                not last_cmd
                and dist == dists[0]
                and ic < 8
                and cc < 16
            )
            if implicit:
                raw = 0 if cc < 8 else 1
            else:
                ins_high = 0 if ic < 8 else 8 if ic < 16 else 16
                cpy_high = 0 if cc < 8 else 8 if cc < 16 else 16
                raw = _CELL_BY_HIGHS[(ins_high, cpy_high)]
            cmd_sym = (raw << 6) | ((ic & 7) << 3) | (cc & 7)
            cmd_freq[cmd_sym] = cmd_freq.get(cmd_sym, 0) + 1
            dsym = None
            dextra = dbits = 0
            if not last_cmd and not implicit:
                if dist == dists[0]:
                    dsym = 0  # short code 0: last distance, no push
                else:
                    for hcode in range(48):
                        nd = 1 + (hcode >> 1)
                        offs = ((2 + (hcode & 1)) << nd) - 4
                        if offs + 1 <= dist <= offs + (1 << nd):
                            dsym = 16 + hcode
                            dextra = dist - offs - 1
                            dbits = nd
                            break
                    if dsym is None:
                        raise AssertionError("distance out of range")
                    dists = [dist] + dists[:3]
                dist_freq[dsym] = dist_freq.get(dsym, 0) + 1
            plan.append((
                cmd_sym, ins - ioff, iext,
                (0 if last_cmd else clen - coff), cext,
                lits, dsym, dextra, dbits,
            ))

        body = _BitW()
        body.w(0, 1)  # ISUNCOMPRESSED = 0
        body.w(0, 1)  # NBLTYPESL = 1
        body.w(0, 1)  # NBLTYPESI = 1
        body.w(0, 1)  # NBLTYPESD = 1
        body.w(0, 2)  # NPOSTFIX
        body.w(0, 4)  # NDIRECT
        body.w(0, 2)  # context mode LSB6
        body.w(0, 1)  # NTREESL = 1
        body.w(0, 1)  # NTREESD = 1
        lit_codes = _emit_prefix_code(
            body, lit_freq or {0: 1}, 256
        )
        cmd_codes = _emit_prefix_code(body, cmd_freq, 704)
        dist_codes = _emit_prefix_code(
            body, dist_freq or {0: 1}, 64
        )
        for (cmd_sym, ie, ib, ce, cb, lits, dsym, de, db) in plan:
            code, ln = cmd_codes[cmd_sym]
            if ln:
                body.w_code(code, ln)
            body.w(ie, ib)
            body.w(ce, cb)
            for b in lits:
                code, ln = lit_codes[b]
                if ln:
                    body.w_code(code, ln)
            if dsym is not None:
                code, ln = dist_codes[dsym]
                if ln:
                    body.w_code(code, ln)
                body.w(de, db)

        compressed_bits = len(body.out) * 8 + body.nbits
        out.w(0, 1)  # ISLAST = 0 (the empty last block terminates)
        emit_mlen(out, mlen)
        if compressed_bits >= mlen * 8:
            # re-emit as a store-path uncompressed meta-block: rewind
            # is impossible on a bit writer, so the MLEN bits above
            # stand and only the body differs
            out.w(1, 1)  # ISUNCOMPRESSED
            out.align()
            out.out += chunk
            # decoder ring untouched by the store path: discard the
            # planning mutations (ring keeps its pre-chunk state)
        else:
            for byte in body.out:
                out.w(byte, 8)
            if body.nbits:
                out.w(body.acc, body.nbits)
            ring = dists
    # final empty last block
    out.w(1, 1)
    out.w(1, 1)
    return out.bytes()
