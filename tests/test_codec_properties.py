"""Hypothesis round-trip properties for the pure-stdlib codecs.

The oracle entries verify fixed generator content; these throw random
content at the codecs so dictionary/state-machine edge cases the
generators never produce (pathological palettes, degenerate runs,
extreme sample values, odd frame splits) still round-trip. No Spark —
pure codec properties.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from simple_data_engineering_project_spark.operators.audio_codecs import (
    WAVE_FORMAT_ALAW,
    WAVE_FORMAT_MULAW,
    alaw_decode_byte,
    alaw_encode_sample,
    decode_wav_compressed,
    encode_wav_compressed,
    ima_adpcm_decode,
    ima_adpcm_encode,
    mulaw_decode_byte,
    mulaw_encode_sample,
)
from simple_data_engineering_project_spark.operators.mkv import (
    encode_mkv,
    sample_mkv_frames,
)
from simple_data_engineering_project_spark.operators.mp4 import (
    encode_mp4,
    encode_mp4_fragmented,
    sample_mp4_frames,
)
from simple_data_engineering_project_spark.operators.webp import (
    decode_webp_pixels,
    encode_webp_lossless,
)

_FRAMES = st.lists(st.binary(min_size=1, max_size=40), min_size=1, max_size=24)


@settings(max_examples=25, deadline=None)
@given(frames=_FRAMES, spc=st.integers(1, 5), sync=st.sampled_from([0, 2, 3]))
def test_mp4_all_sync_layouts_recover_exact_bytes(frames, spc, sync):
    # with every_ms == delta, every sync sample is its own bucket: the
    # sampler must return exactly the sync subsequence, byte-identical,
    # for any chunking and any sync cadence
    p = encode_mp4(frames, samples_per_chunk=spc, sync_every=sync)
    want = frames if sync == 0 else frames[0::sync]
    assert sample_mp4_frames(p, every_ms=500 * max(1, sync)) == want


@settings(max_examples=25, deadline=None)
@given(frames=_FRAMES, fpf=st.integers(1, 5), sync=st.sampled_from([0, 2, 3]))
def test_fragmented_mp4_matches_plain_layout(frames, fpf, sync):
    every = 500 * max(1, sync)
    plain = sample_mp4_frames(encode_mp4(frames, sync_every=sync), every)
    frag = sample_mp4_frames(
        encode_mp4_fragmented(frames, sync_every=sync, frames_per_fragment=fpf),
        every,
    )
    assert frag == plain


@settings(max_examples=25, deadline=None)
@given(frames=_FRAMES, fpc=st.integers(1, 6), sync=st.sampled_from([0, 2, 3]))
def test_mkv_matches_mp4_sampling(frames, fpc, sync):
    every = 500 * max(1, sync)
    mp4 = sample_mp4_frames(encode_mp4(frames, sync_every=sync), every)
    mkv = sample_mkv_frames(
        encode_mkv(frames, sync_every=sync, frames_per_cluster=fpc), every
    )
    assert mkv == mp4  # same bucket rule, same clock → identical choice


_PIXEL = st.integers(0, 0xFFFFFFFF)


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(1, 9),
    h=st.integers(1, 7),
    data=st.data(),
    variant=st.sampled_from(
        ["plain", "runs", "subgreen", "pred", "palette", "cache_meta"]
    ),
)
def test_webp_roundtrip_random_pixels(w, h, data, variant):
    rows = [
        [data.draw(_PIXEL) for _ in range(w)] for _ in range(h)
    ]
    kw = {
        "plain": {},
        "runs": {"lz77_runs": True},
        "subgreen": {"subtract_green": True},
        "pred": {"predictor_mode": data.draw(st.integers(0, 13))},
        "palette": {"palette": True},
        "cache_meta": {
            "color_cache_bits": 4,
            "meta_tile_bits": 2,
            "lz77_runs": True,
        },
    }[variant]
    arr = decode_webp_pixels(encode_webp_lossless(rows, **kw))
    for y in range(h):
        for x in range(w):
            px = rows[y][x]
            assert tuple(int(v) for v in arr[y, x]) == (
                (px >> 16) & 255,
                (px >> 8) & 255,
                px & 255,
                px >> 24,
            ), (variant, x, y)


@settings(max_examples=50, deadline=None)
@given(s=st.integers(-32768, 32767))
def test_g711_companding_error_bounds(s):
    m = mulaw_decode_byte(mulaw_encode_sample(s))
    a = alaw_decode_byte(alaw_encode_sample(s))
    assert abs(m - max(-32635, min(32635, s))) <= abs(s) / 16 + 40
    assert abs(a - s) <= abs(s) / 12 + 40
    # companded bytes survive the WAV container byte-for-byte
    for fmt, enc in ((WAVE_FORMAT_MULAW, mulaw_encode_sample),
                     (WAVE_FORMAT_ALAW, alaw_encode_sample)):
        d = decode_wav_compressed(encode_wav_compressed(bytes([enc(s)]), fmt))
        assert d["n_samples"] == 1


@settings(max_examples=20, deadline=None)
@given(
    samples=st.lists(st.integers(-30000, 30000), min_size=2, max_size=300),
    ba=st.sampled_from([16, 64, 256]),
)
def test_ima_adpcm_decode_is_deterministic_and_tracks(samples, ba):
    # lossy but deterministic: decode(encode(x)) twice gives identical
    # output, block headers carry the first sample of each block exactly,
    # and every decoded sample stays in int16 range
    enc = ima_adpcm_encode(samples, ba)
    d1 = ima_adpcm_decode(enc, ba)
    d2 = ima_adpcm_decode(enc, ba)
    assert d1 == d2
    spb = (ba - 4) * 2 + 1
    for blk_start in range(0, len(samples), spb):
        assert d1[blk_start] == samples[blk_start]  # header sample, exact
    assert all(-32768 <= v <= 32767 for v in d1)


def _valid_payloads_wave3():
    """One representative valid payload per round-6 wave-3 parser,
    paired with its parse function."""
    import io

    import numpy as np
    import pyarrow as pa
    import pyarrow.ipc as ipc

    from simple_data_engineering_project_spark.operators import (
        arrow_ipc,
        exif,
        jpeg,
        mp3,
        ogg,
        parquet_meta,
        tensor_shards,
        zipshard,
    )

    out = []
    out.append(
        (
            zipshard.encode_zip(
                [("a.txt", b"alpha" * 30), ("b.bin", bytes(range(200)))],
                method=8,
            ),
            zipshard.parse_zip,
        )
    )
    out.append(
        (
            ogg.encode_ogg([(bytes([i]) * 40, i * 100) for i in range(4)]),
            ogg.parse_ogg,
        )
    )
    buf = io.BytesIO()
    t = pa.table({"x": pa.array([1, 2, 3], type=pa.int64())})
    with ipc.new_stream(buf, t.schema) as w:
        w.write_table(t)
    out.append((buf.getvalue(), arrow_ipc.parse_arrow_ipc))
    nbuf = io.BytesIO()
    np.save(nbuf, np.arange(20, dtype=np.int32))
    out.append((nbuf.getvalue(), tensor_shards.parse_npy))
    out.append(
        (
            tensor_shards.encode_safetensors(
                {"w": ((4,), "F32", [1.0, 2.0, 3.0, 4.0])}
            ),
            tensor_shards.parse_safetensors,
        )
    )
    out.append(
        (
            mp3.encode_mp3_frames(4, bitrate_idx=9, rate_idx=0),
            mp3.walk_mp3,
        )
    )
    out.append(
        (
            mp3.encode_id3v2([("TIT2", "t"), ("TALB", "a")], major=4),
            mp3.parse_id3v2,
        )
    )
    base = jpeg.encode_jpeg_blocks(8, 8, [(1, 0)])
    app1 = exif.build_exif_app1(ifd0=[(0x010F, 2, "CamCo")])
    out.append((exif.encode_exif_jpeg(base, app1), exif.parse_exif))
    # round-7 additions: laced/BlockGroup MKV, dictionary+nested+lz4
    # arrow stream, BF16 safetensors
    from simple_data_engineering_project_spark.operators import mkv

    out.append(
        (
            mkv.encode_mkv(
                [b"A" * 9, b"B" * 120, b"C" * 3, b"D" * 55],
                sync_every=0,
                frames_per_cluster=2,
                lacing="ebml",
                block_groups=True,
            ),
            mkv.sample_mkv_frames,
        )
    )
    dbuf = io.BytesIO()
    dt = pa.table(
        {
            "d": pa.array(["a", "b", "a", "c"] * 8).dictionary_encode(),
            "l": pa.array([[1, 2], [], None, [7]] * 8),
        }
    )
    with ipc.new_stream(
        dbuf, dt.schema, options=ipc.IpcWriteOptions(compression="lz4")
    ) as w:
        w.write_table(dt)
    out.append((dbuf.getvalue(), arrow_ipc.parse_arrow_ipc))
    out.append(
        (
            tensor_shards.encode_safetensors(
                {"b": ((3,), "BF16", [1.0, -2.0, 0.5])}
            ),
            tensor_shards.parse_safetensors,
        )
    )
    # round-8 additions: dense union + run-end-encoded + month-day-nano
    # interval + tz-aware ns timestamp arrow stream — the tamper sweep
    # hunts for missing bounds checks in the new decode paths
    import pyarrow.compute as pc

    ubuf = io.BytesIO()
    ut = pa.table(
        {
            "u": pa.UnionArray.from_dense(
                pa.array([2, 9, 2], type=pa.int8()),
                pa.array([0, 0, 1], type=pa.int32()),
                [pa.array([7, 8], type=pa.int64()), pa.array(["q"])],
                ["n", "s"],
                [2, 9],
            ),
            "r": pc.run_end_encode(pa.array(["a", "a", "b"])),
            "iv": pa.array([pa.MonthDayNano([1, 2, 3])] * 3),
            "ts": pa.array([10, 20, 30], type=pa.int64()).cast(
                pa.timestamp("ns", tz="UTC")
            ),
            "sv": pa.array(
                ["in", "a much longer string exceeding twelve bytes", None],
                type=pa.string_view(),
            ),
            "lv": pa.array(
                [[1, 2], None, [3]], type=pa.list_view(pa.int64())
            ),
        }
    )
    with ipc.new_stream(ubuf, ut.schema) as w:
        w.write_table(ut)
    out.append((ubuf.getvalue(), arrow_ipc.parse_arrow_ipc))
    # parquet footer: use a real testdata tail
    with open("/root/testdata/sf0.001/region.parquet", "rb") as f:
        out.append((f.read(), parquet_meta.parse_parquet_footer))
    return out


def test_wave3_parsers_survive_truncation_everywhere():
    # Every truncation of a valid payload must raise promptly (any
    # exception type) or return — never hang, never loop forever. This
    # catches missing length checks in walk loops.
    for payload, parse in _valid_payloads_wave3():
        step = max(1, len(payload) // 97)  # ~100 truncation points
        for cut in range(0, len(payload), step):
            try:
                parse(payload[:cut])
            except Exception:
                pass


def test_wave3_parsers_survive_bit_flips():
    for payload, parse in _valid_payloads_wave3():
        step = max(1, len(payload) // 61)
        for at in range(0, len(payload), step):
            mutated = bytearray(payload)
            mutated[at] ^= 0x55
            try:
                parse(bytes(mutated))
            except Exception:
                pass


def test_review_fix_pdf_indirect_length_and_odd_escapes():
    from simple_data_engineering_project_spark.operators.pdf import (
        extract_pdf_text,
    )

    # indirect '/Length 15 0 R' (multi-digit object number): the old
    # regex backtracked to capture '1' and silently truncated the
    # stream; the endstream fallback must recover the text
    content = b"BT (hello world) Tj ET"
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Length 15 0 R >>\nstream\n" + content
        + b"\nendstream\nendobj\n"
        b"15 0 obj\n" + str(len(content)).encode() + b"\nendobj\n"
        b"%%EOF"
    )
    assert "hello world" in extract_pdf_text(pdf)

    # '\8' is NOT an octal escape: drop the backslash, keep the char
    pdf2 = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 22 >>\nstream\n"
        b"BT (a\\8b octal\\101) Tj ET"[:0]  # placeholder, build below
    )
    body = b"BT (a\\8b \\101ok) Tj ET"
    pdf2 = (
        b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF"
    )
    assert "a8b Aok" in extract_pdf_text(pdf2)


def test_review_fix_tfrecord_negative_int64_roundtrip():
    from simple_data_engineering_project_spark.operators.tfrecord import (
        decode_example,
        encode_example,
    )

    ex = encode_example({"label": -7, "text": b"x"})
    got = decode_example(ex)
    assert got["label"] == -7


def test_review_fix_gif_gce_scopes_to_one_frame():
    import numpy as np

    from simple_data_engineering_project_spark.operators.gif import (
        decode_gif_frames,
        encode_gif_animated,
    )

    # frame 1 carries a GCE with transparent index 9; frame 2's GCE is
    # SPLICED OUT of the byte stream, so it must paint fully opaque
    # (GIF89a scopes a GCE to exactly one render block)
    f1 = np.full((4, 4), 5, dtype=np.uint8)
    f2 = np.full((4, 4), 9, dtype=np.uint8)
    blob = bytearray(
        encode_gif_animated([f1, f2], delays_cs=[10, 10], transparent=9)
    )
    second_gce = blob.index(b"\x21\xf9\x04", blob.index(b"\x21\xf9\x04") + 1)
    del blob[second_gce : second_gce + 8]
    frames = decode_gif_frames(bytes(blob))
    # frame 2's 9s must LAND (opaque), not vanish via stale transparency
    assert int(frames[1][1][0, 0, 0]) == 9


def test_review_fix_stereo_compressed_wav_raises():
    import pytest

    from simple_data_engineering_project_spark.operators.audio_codecs import (
        decode_wav_compressed,
        encode_wav_compressed,
        WAVE_FORMAT_MULAW,
    )

    from simple_data_engineering_project_spark.operators.audio_codecs import (
        mulaw_encode_sample,
    )

    codes = bytes(mulaw_encode_sample(s) for s in (0, 100, -100))
    mono = encode_wav_compressed(codes, WAVE_FORMAT_MULAW)
    # patch the fmt chunk's channel count to 2
    at = mono.index(b"fmt ") + 8 + 2
    stereo = mono[:at] + (2).to_bytes(2, "little") + mono[at + 2 :]
    with pytest.raises(NotImplementedError, match="multi-channel"):
        decode_wav_compressed(stereo)


def test_review_fix_warc_header_names_case_insensitive():
    from simple_data_engineering_project_spark.operators.warc import (
        encode_warc,
        parse_warc,
        response_bodies,
    )

    blob = encode_warc([("http://h/1", b"<p>x</p>")])
    lowered = blob.replace(b"Content-Length:", b"content-length:").replace(
        b"WARC-Type:", b"warc-type:"
    )
    recs = parse_warc(lowered)
    assert [r["type"] for r in recs] == ["request", "response", "metadata"]
    assert response_bodies(lowered)[0][1] == b"<p>x</p>"


def test_review_fix_snappy_long_nonoverlapping_copy():
    from simple_data_engineering_project_spark.operators.snappy import (
        snappy_decompress,
    )

    # hand-built stream: 40-byte literal then a 2-byte-offset copy of
    # length 40 at offset 40 (non-overlapping bulk path)
    lit = bytes(range(40))
    stream = bytearray()
    stream += bytes([80])  # uvarint total = 80
    stream += bytes([(40 - 1) << 2]) + lit  # literal, len 40
    stream += bytes([(2 << 0) | ((40 - 1) << 2) & 0xFF])  # see below
    # build copy-2 element explicitly: tag=0b10 | (len-1)<<2, then
    # little-endian 2-byte offset
    stream = bytearray()
    stream += bytes([80])
    stream += bytes([(40 - 1) << 2]) + lit
    stream += bytes([0x02 | ((40 - 1) << 2) & 0xFC]) if False else b""
    ln = 40
    tag = 0b10 | ((ln - 1) << 2)
    stream += bytes([tag & 0xFF]) + (40).to_bytes(2, "little")
    assert snappy_decompress(bytes(stream)) == lit + lit


def test_snappy_truncated_literal_raises():
    # a stream that declares 10 output bytes and a 10-byte literal but
    # carries only 5 literal bytes is truncated, not a short success
    import pytest

    from simple_data_engineering_project_spark.operators.snappy import (
        snappy_decompress,
    )

    stream = bytes([10, (10 - 1) << 2]) + b"abcde"
    with pytest.raises(ValueError):
        snappy_decompress(stream)
    # the same truncation followed by a copy that reaches into the
    # missing bytes must not validate against the declared length
    stream = bytes([14, (10 - 1) << 2]) + b"abcde" + bytes([0x01, 8])
    with pytest.raises(ValueError):
        snappy_decompress(stream)
