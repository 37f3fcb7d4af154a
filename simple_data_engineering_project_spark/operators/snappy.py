"""Snappy (raw format) decompression in pure stdlib (SURVEY §2 C4).

Snappy is the default block codec across the data-eng stack (Avro,
Parquet, ORC, Kafka). The raw format is a varint uncompressed-length
preamble followed by tagged elements — literals (with 1-4 extra length
bytes for long runs) and back-references in three offset widths::

    tag & 3 == 0  literal, len = (tag>>2)+1 (60-63 → that many extra
                  little-endian length bytes)
    tag & 3 == 1  copy, len = ((tag>>2) & 7) + 4, 11-bit offset
                  ((tag & 0xE0) << 3) | next byte
    tag & 3 == 2  copy, len = (tag>>2)+1, 16-bit LE offset
    tag & 3 == 3  copy, len = (tag>>2)+1, 32-bit LE offset

Copies may overlap forward (RLE-style), exactly like LZ77.

Both directions are REAL and reference-validated against the bundled
snappy-java: the decoder reads snappy-java's output, and
:func:`snappy_compress` (greedy LZ, 4-byte-prefix hash table, 64-byte
copy elements) writes streams snappy-java decodes — the Avro snappy
write path uses it, so Java Avro reads our snappy-coded files through
its own codec. :func:`snappy_compress_literal` remains as the minimal
all-literal form (compression is optional in the format).
(∅ in reference; Tier C extension.)
"""

from __future__ import annotations


def snappy_decompress(data: bytes) -> bytes:
    pos = 0
    # varint uncompressed length
    total = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        total |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    # Per-element loop with everything in locals and an incrementally
    # tracked output length (round-16, guide §4.2): a len(out) call +
    # int.from_bytes per copy element was ~40% of the tag-loop time on
    # the pure-parquet scan path.
    out = bytearray()
    olen = 0
    n = len(data)
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:  # 60..63: that many extra length bytes
                extra = ln - 59
                ln = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            ln += 1
            if pos + ln > n:
                raise ValueError("snappy literal runs past end of input")
            out += data[pos : pos + ln]
            olen += ln
            pos += ln
            continue
        if kind == 1:
            ln = ((tag >> 2) & 0x7) + 4
            offset = ((tag & 0xE0) << 3) | data[pos]
            pos += 1
        elif kind == 2:
            ln = (tag >> 2) + 1
            offset = data[pos] | (data[pos + 1] << 8)
            pos += 2
        else:
            ln = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > olen:
            raise ValueError("snappy copy before stream start")
        start = olen - offset
        if offset >= ln:
            # non-overlapping: one bulk slice (the dominant case in
            # real snappy output — a byte loop here was a multi-x tax
            # on the avro decode path)
            out += out[start : start + ln]
        else:
            # overlapping forward copy (RLE): replicate the window
            # with bulk slice appends (ceil(ln/offset) appends instead
            # of ln byte appends)
            reps, rem = divmod(ln, offset)
            out += out[start : start + offset] * reps
            if rem:
                out += out[start : start + rem]
        olen += ln
    if len(out) != total:
        raise ValueError("snappy length mismatch")
    return bytes(out)


def snappy_compress_literal(data: bytes) -> bytes:
    """Valid snappy stream with literal elements only (no matching) —
    the format makes compression optional."""
    out = bytearray()
    v = len(data)
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | 0x80 if v else b)
        if not v:
            break
    pos = 0
    while pos < len(data):
        chunk = data[pos : pos + 60]
        out.append((len(chunk) - 1) << 2)
        out += chunk
        pos += len(chunk)
    return bytes(out)


def snappy_compress(data: bytes) -> bytes:
    """REAL snappy compression: greedy LZ over a hash table of 4-byte
    prefixes (min match 4, skip acceleration over incompressible runs),
    emitting literal elements and 1-64-byte copy elements with 16-bit
    (kind 2) or 32-bit (kind 3) offsets. Long matches split into copy
    elements that never leave a sub-4-byte remainder. Validated by
    snappy-java decoding every stream this writes (the Avro snappy
    cross-validation test reads our files through Java Avro's codec,
    and the direct battery calls org.xerial.snappy from the JVM)."""
    out = bytearray()
    v = len(data)
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | 0x80 if v else b)
        if not v:
            break

    def put_literal(seg: bytes) -> None:
        if not seg:
            return
        ln = len(seg) - 1
        if ln < 60:
            out.append(ln << 2)
        else:
            nb = (ln.bit_length() + 7) // 8
            out.append((59 + nb) << 2)
            out.extend(ln.to_bytes(nb, "little"))
        out.extend(seg)

    n = len(data)
    table: dict[bytes, int] = {}
    i = 0
    lit_start = 0
    misses = 0
    while i + 4 <= n:
        key = data[i : i + 4]
        j = table.get(key)
        table[key] = i
        if j is None:
            misses += 1
            i += 1 + (misses >> 6)
            continue
        misses = 0
        m = 4
        while i + m < n and data[j + m] == data[i + m]:
            m += 1
        put_literal(data[lit_start:i])
        off = i - j
        rem = m
        while rem > 0:
            ln = 64 if rem >= 68 or rem <= 64 else 60
            ln = min(ln, rem)
            if off < 65536:
                out.append(((ln - 1) << 2) | 2)
                out.extend(off.to_bytes(2, "little"))
            else:
                out.append(((ln - 1) << 2) | 3)
                out.extend(off.to_bytes(4, "little"))
            rem -= ln
        for p in (i + 1, i + m - 4):
            if i < p and p + 4 <= n:
                table[data[p : p + 4]] = p
        i += m
        lit_start = i
    put_literal(data[lit_start:])
    return bytes(out)
