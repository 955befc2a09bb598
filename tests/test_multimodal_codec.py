"""Real BMP codec unit tests (VERDICT r06 item 6).

The multimodal_decode_real ORACLE only sees solid-color images; these
tests pin the codec itself on inputs the oracle can't produce — a
non-solid pixel array, both dims of the 4-byte row padding, and the
reject paths for non-BMP / unsupported-format bytes.
"""

from __future__ import annotations

import struct

import pytest

from gmall2021_flink_dw_spark.datapipe.multimodal import (
    decode_real,
    encode_bmp,
)


def test_encode_bmp_layout_is_real_dib():
    """The bytes are a genuine Windows DIB: 'BM' magic, correct file
    size field, 54-byte pixel offset, BITMAPINFOHEADER fields, and
    rows padded to a 4-byte stride (w=3 -> 9 pixel bytes + 3 pad)."""
    bmp = encode_bmp(3, 2, [(10, 20, 30)] * 6)
    assert bmp[:2] == b"BM"
    file_size = struct.unpack_from("<I", bmp, 2)[0]
    assert file_size == len(bmp) == 54 + 12 * 2
    assert struct.unpack_from("<I", bmp, 10)[0] == 54
    hdr_size, w, h, planes, bpp = struct.unpack_from("<IiiHH", bmp, 14)
    assert (hdr_size, w, h, planes, bpp) == (40, 3, 2, 1, 24)
    # first row: 3 BGR triples then 3 zero pad bytes
    assert bmp[54:63] == bytes((10, 20, 30)) * 3
    assert bmp[63:66] == b"\x00\x00\x00"


def test_decode_real_roundtrip_nonsolid():
    """decode_real parses hand-built NON-solid pixel data correctly
    (the registered query only exercises solid colors)."""
    # 2x2, stride 8: row0 = (1,2,3)(4,5,6) + 2 pad, row1 = (7,8,9)(0,0,255)
    header = encode_bmp(2, 2, [(0, 0, 0)] * 4)[:54]
    row0 = bytes((1, 2, 3, 4, 5, 6)) + b"\x00\x00"
    row1 = bytes((7, 8, 9, 0, 0, 255)) + b"\x00\x00"
    payload = header + row0 + row1
    w, h, bpp, pixel_sum = decode_real(payload)
    assert (w, h, bpp) == (2, 2, 24)
    assert pixel_sum == sum(row0) + sum(row1)


@pytest.mark.parametrize(
    "payload",
    [
        b"",
        b"BM",  # too short
        b"PNG" + b"\x00" * 60,  # wrong magic
    ],
)
def test_decode_real_rejects_non_bmp(payload):
    with pytest.raises(ValueError):
        decode_real(payload)


def test_decode_real_rejects_unsupported_bpp():
    bmp = bytearray(encode_bmp(2, 2, [(0, 0, 0)] * 4))
    struct.pack_into("<H", bmp, 28, 8)  # biBitCount = 8
    with pytest.raises(ValueError, match="24-bit"):
        decode_real(bytes(bmp))


def test_decode_real_rejects_compressed():
    bmp = bytearray(encode_bmp(2, 2, [(0, 0, 0)] * 4))
    struct.pack_into("<I", bmp, 30, 1)  # biCompression = BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        decode_real(bytes(bmp))


def test_decode_real_topdown_height_is_absolute():
    """Negative biHeight (top-down BMP) decodes with |height|."""
    bmp = bytearray(encode_bmp(2, 2, [(5, 5, 5)] * 4))
    struct.pack_into("<i", bmp, 22, -2)
    w, h, bpp, _ = decode_real(bytes(bmp))
    assert (w, h) == (2, 2)


def test_decode_real_ignores_trailing_bytes():
    """Trailing data after the pixel array (ICC profile, gap bytes)
    must NOT fold into the checksum (ADVICE r07 #1)."""
    bmp = encode_bmp(2, 2, [(1, 1, 1)] * 4)
    _, _, _, clean_sum = decode_real(bmp)
    _, _, _, trailed_sum = decode_real(bmp + b"\xff" * 128)
    assert trailed_sum == clean_sum


def test_decode_real_rejects_truncated_pixels():
    """A payload whose pixel array is short of stride*|height| errors
    instead of silently checksumming a partial (or empty) slice."""
    bmp = encode_bmp(4, 4, [(9, 9, 9)] * 16)
    with pytest.raises(ValueError, match="truncated"):
        decode_real(bmp[:-1])
    # offset == len(payload): previously yielded pixel_sum 0 silently
    with pytest.raises(ValueError, match="truncated"):
        decode_real(bmp[:54])


@pytest.mark.parametrize("field_off,value", [(18, 0), (18, -3), (22, 0)])
def test_decode_real_rejects_nonpositive_dims(field_off, value):
    bmp = bytearray(encode_bmp(2, 2, [(0, 0, 0)] * 4))
    struct.pack_into("<i", bmp, field_off, value)
    with pytest.raises(ValueError, match="dimensions"):
        decode_real(bytes(bmp))


def test_decode_png_rejects_payload_truncated_in_crc():
    """ADVICE r08: a payload cut inside a chunk's 4-byte CRC passes the
    body-length check but used to blow up in struct.unpack_from; it
    must raise the documented ValueError instead."""
    from gmall2021_flink_dw_spark.datapipe.multimodal import (
        decode_png,
        encode_png,
    )

    png = encode_png(3, 2, (7, 8, 9))
    # IHDR body ends at 8(sig)+8(hdr)+13(body)=29; cut inside its CRC.
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        decode_png(png[:31])


def test_decode_wav_rejects_short_fmt_and_zero_channels():
    """ADVICE r08: a fmt chunk shorter than 16 bytes, or a PCM-16 fmt
    declaring 0 channels, raises ValueError (not struct.error /
    ZeroDivisionError)."""
    from gmall2021_flink_dw_spark.datapipe.multimodal import (
        decode_wav,
        encode_wav,
    )

    wav = bytearray(encode_wav([1, -2, 3], sample_rate=8000))
    # fmt chunk: tag at 12, length at 16, body at 20 (16 bytes).
    assert wav[12:16] == b"fmt "
    short = bytearray(wav)
    struct.pack_into("<I", short, 16, 8)  # declare an 8-byte fmt body
    del short[28:36]  # and actually shorten it, keeping chunks aligned
    with pytest.raises(ValueError, match="truncated WAV fmt"):
        decode_wav(bytes(short))

    zero_ch = bytearray(wav)
    struct.pack_into("<H", zero_ch, 22, 0)  # n_channels := 0
    with pytest.raises(ValueError, match="channel"):
        decode_wav(bytes(zero_ch))


# ----------------------------------------------- real GIF codec (r09)

from gmall2021_flink_dw_spark.datapipe.multimodal import (  # noqa: E402
    _lzw_decode,
    _lzw_encode,
    decode_gif,
    encode_gif,
)


def test_gif_solid_roundtrip_closed_form():
    for w, h, c in [(1, 1, 0), (13, 7, 255), (9, 6, 171)]:
        g = encode_gif(w, h, [(c, c, c)], [0] * (w * h))
        iw, ih, ncolors, s = decode_gif(g)
        assert (iw, ih) == (w, h)
        assert s == 3 * w * h * c  # the oracle's closed form
        assert ncolors == 2  # 1-entry palette pads to two slots


def test_gif_pattern_roundtrip_all_palette_sizes():
    """Non-solid pixels across palette sizes 2..256 exercise real LZW
    dictionary growth through every code width."""
    import random

    rng = random.Random(7)
    for npal in (2, 4, 16, 256):
        pal = [(rng.randrange(256),) * 3 for _ in range(npal)]
        w, h = 101, 83
        idx = [rng.randrange(npal) for _ in range(w * h)]
        iw, ih, ncolors, s = decode_gif(encode_gif(w, h, pal, idx))
        assert (iw, ih, ncolors) == (w, h, npal if npal > 1 else 2)
        assert s == sum(sum(pal[i]) for i in idx)


def test_gif_lzw_dictionary_reset_at_4096():
    """A 200k-symbol low-repetition stream forces the 12-bit ceiling
    and the clear-code dictionary reset — the path a short image never
    touches."""
    idx = [(i * i + i // 3) % 256 for i in range(200_000)]
    enc = _lzw_encode(idx, 8)
    assert _lzw_decode(enc, 8, len(idx)) == idx
    assert len(enc) < len(idx)  # it actually compresses


def test_gif_lzw_kwkwk_case():
    """code == next_code (the KwKwK special case in the spec)."""
    idx = [0, 1] * 500
    enc = _lzw_encode(idx, 2)
    assert _lzw_decode(enc, 2, len(idx)) == idx


def test_gif_rejects_malformed():
    g = encode_gif(5, 4, [(10, 10, 10), (200, 200, 200)], [0, 1] * 10)
    # every truncation point raises ValueError (never struct/KeyError),
    # except cuts landing after the complete image stream
    for cut in range(1, len(g) - 2):
        with pytest.raises(ValueError):
            decode_gif(g[:cut])
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTGIF" + g[6:])
    # corrupt LZW: flip a data byte inside the single sub-block
    bad = bytearray(g)
    data_start = 13 + 6 + 10 + 1 + 1  # hdr+gct+imgdesc+mcs+blocklen
    bad[data_start] ^= 0xFF
    with pytest.raises(ValueError):
        decode_gif(bytes(bad))
    # declared dimensions larger than the pixel stream
    short = bytearray(g)
    struct.pack_into("<H", short, 6 + 0, 500)   # screen width
    struct.pack_into("<H", short, 13 + 6 + 5, 500)  # image width
    with pytest.raises(ValueError):
        decode_gif(bytes(short))


# ------------------------------------------ patterned BMP lane (r09)

from gmall2021_flink_dw_spark.datapipe.multimodal import (  # noqa: E402
    decode_bmp_pixels,
)


def test_bmp_gray_roundtrip_pattern():
    """Per-pixel values survive the padded bottom-up row layout: the
    decoded BGR stream (padding stripped) reproduces the input values
    at widths hitting every stride-padding case (3w % 4 in 0..3)."""
    for w in (2, 3, 4, 5):
        h = 3
        vals = [(7 * i + 11) % 256 for i in range(w * h)]
        bmp = encode_bmp(w, h, [(v, v, v) for v in vals])
        iw, ih, bgr = decode_bmp_pixels(bmp)
        assert (iw, ih) == (w, h)
        assert len(bgr) == 3 * w * h
        assert list(bgr[0::3]) == vals  # blue channel in storage order
        assert bgr[0::3] == bgr[1::3] == bgr[2::3]  # gray: b == g == r


def test_bmp_gray_rejects_mismatched_values():
    with pytest.raises(ValueError, match="dimensions"):
        encode_bmp(4, 4, [(0, 0, 0)] * 15)


def test_bmp_gray_decode_validates_like_decode_real():
    bmp = encode_bmp(5, 2, [(v, v, v) for v in range(10)])
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp_pixels(bmp[:-1])


# ----------------------------------------- baseline JPEG lane (r10)

from gmall2021_flink_dw_spark.datapipe.multimodal import (  # noqa: E402
    decode_jpeg_gray,
    encode_jpeg_gray_blocks,
)


def test_jpeg_flat_block_roundtrip_bit_exact():
    """Flat 8x8 blocks with DC quant step 8 are the provably-lossless
    JPEG subset: decode(encode(img)) must reproduce every pixel."""
    import random

    rng = random.Random(7)
    for _ in range(25):
        bx, by = rng.randint(1, 4), rng.randint(1, 3)
        w, h = 8 * bx, 8 * by
        vals = [rng.randrange(256) for _ in range(bx * by)]
        dw, dh, px = decode_jpeg_gray(encode_jpeg_gray_blocks(w, h, vals, [0] * len(vals)))
        assert (dw, dh) == (w, h)
        for b, v in enumerate(vals):
            ox, oy = (b % bx) * 8, (b // bx) * 8
            assert all(
                px[(oy + yy) * w + ox + xx] == v
                for yy in range(8)
                for xx in range(8)
            )


def test_jpeg_extreme_dc_categories():
    """Max DC swings (0 <-> 255 across blocks) exercise category 8 and
    negative-diff bit encoding."""
    vals = [0, 255, 0, 255, 128, 1, 254, 2]
    w, h = 16, 32
    dw, dh, px = decode_jpeg_gray(encode_jpeg_gray_blocks(w, h, vals, [0] * len(vals)))
    assert (dw, dh) == (w, h)
    assert px[0] == 0 and px[8] == 255


def test_jpeg_rejects_malformed():
    good = encode_jpeg_gray_blocks(16, 8, [5, 250], [0, 0])
    # truncations: ValueError or (for cuts that only lose EOI after a
    # complete entropy stream) a successful decode — never another
    # exception type
    for cut in range(2, len(good)):
        try:
            decode_jpeg_gray(good[:cut])
        except ValueError:
            pass
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_gray(b"NOPE" + good[2:])
    # single-bit corruption anywhere must raise ValueError or decode to
    # *something* — never escape as KeyError/IndexError/struct.error
    for i in range(2, len(good)):
        mut = bytearray(good)
        mut[i] ^= 0x80
        try:
            decode_jpeg_gray(bytes(mut))
        except ValueError:
            pass


def test_jpeg_rejects_progressive_and_restart():
    good = bytearray(encode_jpeg_gray_blocks(8, 8, [7], [0]))
    prog = bytearray(good)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # SOF2 progressive
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg_gray(bytes(prog))
    dri = good[: sof] + b"\xff\xdd\x00\x04\x00\x08" + good[sof:]
    with pytest.raises(ValueError, match="estart"):
        decode_jpeg_gray(bytes(dri))


def test_jpeg_encoder_rejects_bad_input():
    with pytest.raises(ValueError, match="multiple-of-8"):
        encode_jpeg_gray_blocks(12, 8, [1, 1], [0, 0])
    with pytest.raises(ValueError, match="match"):
        encode_jpeg_gray_blocks(16, 8, [1], [0])
    with pytest.raises(ValueError, match="range"):
        encode_jpeg_gray_blocks(8, 8, [300], [0])


# --------------------------- GIF decoder adversarial cases (r10, item 8)


def test_gif_truncated_code_stream_and_zero_dims():
    from gmall2021_flink_dw_spark.datapipe.multimodal import (
        _lzw_decode,
        encode_gif,
    )

    # LZW stream that ends mid-code (no EOI): must raise, not loop
    idx = [0, 1] * 40
    enc = _lzw_encode(idx, 2)
    with pytest.raises(ValueError):
        _lzw_decode(enc[: len(enc) // 2], 2, len(idx))
    # zero-dimension logical screen: decoder must reject
    g = bytearray(encode_gif(3, 2, [(1, 1, 1), (2, 2, 2)], [0, 1] * 3))
    struct.pack_into("<H", g, 13 + 6 + 5, 0)  # image width = 0
    with pytest.raises(ValueError):
        decode_gif(bytes(g))


def test_gif_oversized_code_width_clamp():
    """A corrupt stream whose codes reference beyond the dictionary
    must raise 'corrupt', not KeyError."""
    from gmall2021_flink_dw_spark.datapipe.multimodal import _lzw_decode

    # hand-build: clear(4), then code 7 (undefined at width 3, mcs 2)
    # bits LSB-first: 100 (clear=4) then 111 (7)
    data = bytes([0b00111100])
    with pytest.raises(ValueError):
        _lzw_decode(data, 2, 100)


def test_jpeg_header_fill_bytes_and_standalone_markers():
    """ITU T.81 B.1.1.2: 0xFF fill bytes may pad the space before any
    marker code; the header walk must skip them rather than parse 0xFF
    as a length-prefixed marker. Standalone markers (TEM 0x01,
    RST0-7) carry no length word and must be rejected explicitly, not
    misparsed as segments (ADVICE r10)."""
    good = encode_jpeg_gray_blocks(16, 8, [5, 250], [0, 0])
    sof = good.find(b"\xff\xc0")
    # fill bytes before SOF0: still decodes, pixel-identical
    filled = good[:sof] + b"\xff\xff\xff" + good[sof:]
    assert decode_jpeg_gray(filled) == decode_jpeg_gray(good)
    # standalone TEM / RST4 in the header walk: explicit reject
    for mk in (0x01, 0xD4):
        bad = good[:sof] + bytes([0xFF, mk]) + good[sof:]
        with pytest.raises(ValueError, match="standalone"):
            decode_jpeg_gray(bad)


def test_jpeg_ac44_roundtrip_closed_forms():
    """The AC-exercising corpus (encode_jpeg_gray_blocks) decodes
    to the exact closed forms its oracle recomputes: plain sum (AC
    cancels), sum of squares (64*(v^2 + 4*qA^2) per block), and the
    (4,4) projection (128*qA per block)."""
    import numpy as np

    from gmall2021_flink_dw_spark.datapipe.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray_blocks,
    )

    s = np.array([1, -1, -1, 1, 1, -1, -1, 1], dtype=np.int64)
    for doc_id in (0, 1, 17, 101, 239, 499):
        bx, by = doc_id % 3 + 1, doc_id % 5 + 1
        w, h = 8 * bx, 8 * by
        base = [16 + (doc_id * 7 + b * 13) % 224 for b in range(bx * by)]
        qa = [((doc_id + 5 * b) % 15) - 7 for b in range(bx * by)]
        dw, dh, px = decode_jpeg_gray(
            encode_jpeg_gray_blocks(w, h, base, qa)
        )
        assert (dw, dh) == (w, h)
        p = np.frombuffer(px, dtype=np.uint8).astype(np.int64).reshape(h, w)
        assert int(p.sum()) == sum(64 * v for v in base)
        assert int((p * p).sum()) == sum(
            64 * (v * v + 4 * q * q) for v, q in zip(base, qa)
        )
        proj = np.outer(s[np.arange(h) % 8], s[np.arange(w) % 8])
        assert int((p * proj).sum()) == sum(128 * q for q in qa)


def test_jpeg_ac44_extreme_and_reject():
    """Boundary qA values (+-7 with base at the clamp margins) stay
    lossless; out-of-contract inputs reject."""
    from gmall2021_flink_dw_spark.datapipe.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray_blocks,
    )

    w, h, px = decode_jpeg_gray(
        encode_jpeg_gray_blocks(16, 8, [16, 239], [7, -7])
    )
    assert px[0] == 16 + 14 and px[8] == 239 - 14  # s(0)s(0) = +1
    with pytest.raises(ValueError, match="AC"):
        encode_jpeg_gray_blocks(8, 8, [100], [8])
    with pytest.raises(ValueError, match="match"):
        encode_jpeg_gray_blocks(16, 8, [100, 100], [1])
    with pytest.raises(ValueError, match="multiple-of-8"):
        encode_jpeg_gray_blocks(12, 8, [100, 100], [1, 1])
    # single-bit corruption anywhere: ValueError or a decode — never
    # KeyError/IndexError/struct.error (the mixed-lane fuzz contract)
    good = encode_jpeg_gray_blocks(16, 8, [40, 200], [3, -5])
    for i in range(2, len(good)):
        mut = bytearray(good)
        mut[i] ^= 0x80
        try:
            decode_jpeg_gray(bytes(mut))
        except ValueError:
            pass


def test_jpeg_encoder_fuzz_odd_dims_and_huge_values():
    """VERDICT r10 item 7: encoder-input fuzz — every odd-dimension x
    out-of-range-value combination rejects with ValueError (never an
    arithmetic error or silent wrap)."""
    from gmall2021_flink_dw_spark.datapipe.multimodal import (
        encode_jpeg_gray_blocks,
    )

    for wd, ht in ((7, 8), (8, 9), (1, 1), (0, 8), (8, 0), (1024, 7)):
        with pytest.raises(ValueError):
            encode_jpeg_gray_blocks(wd, ht, [128], [0])
        with pytest.raises(ValueError):
            encode_jpeg_gray_blocks(wd, ht, [128], [1])
    for bad in (-1, 256, 10**9, -(10**9)):
        with pytest.raises(ValueError, match="range"):
            encode_jpeg_gray_blocks(8, 8, [bad], [0])
        with pytest.raises(ValueError, match="range|AC"):
            encode_jpeg_gray_blocks(8, 8, [bad], [1])
    for bad in (8, -8, 256, 10**9, -(10**9)):  # AC contract is [-7, 7]
        with pytest.raises(ValueError, match="AC"):
            encode_jpeg_gray_blocks(8, 8, [128], [bad])


def test_jpeg_marker_order_permutations():
    """VERDICT r10 item 7: the header walk must tolerate any legal
    ordering of DQT/SOF0/DHT before SOS (T.81 only requires them
    before the scan) and reject streams where a required table is
    missing at scan time."""
    import itertools

    from gmall2021_flink_dw_spark.datapipe.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray_blocks,
    )

    good = encode_jpeg_gray_blocks(8, 8, [77], [0])
    # carve the stream into its marker segments
    segs = []
    pos = 2
    while good[pos : pos + 2] != b"\xff\xda":
        ln = int.from_bytes(good[pos + 2 : pos + 4], "big")
        segs.append(good[pos : pos + 2 + ln])
        pos += 2 + ln
    tail = good[pos:]  # SOS + entropy + EOI
    assert len(segs) == 4  # DQT, SOF0, DHT(dc), DHT(ac)
    ref = decode_jpeg_gray(good)
    for perm in itertools.permutations(segs):
        reordered = b"\xff\xd8" + b"".join(perm) + tail
        assert decode_jpeg_gray(reordered) == ref
    # drop each required segment: must raise, never KeyError
    for drop in range(4):
        partial = b"\xff\xd8" + b"".join(
            s for i, s in enumerate(segs) if i != drop
        ) + tail
        with pytest.raises(ValueError):
            decode_jpeg_gray(partial)


def test_idct_matmul_matches_scalar_reference():
    """The r11 vectorized _idct8x8 (two 8x8 numpy matmuls) must be
    output-identical to the scalar separable form it replaced — same
    basis tables, same +128 level shift, same clamp, and half-to-even
    rounding on both paths (np.rint == Python round for floats). Random
    coefficient matrices exercise values far outside the lossless
    generated-corpus subset, so this pins the general decoder, not just
    the oracle lane."""
    import random

    from gmall2021_flink_dw_spark.datapipe.multimodal import (
        _IDCT_C,
        _IDCT_COS,
        _idct8x8,
    )

    def scalar(coeffs):
        tmp = [[0.0] * 8 for _ in range(8)]
        for y in range(8):
            for x in range(8):
                tmp[y][x] = 0.5 * sum(
                    _IDCT_C[u] * coeffs[y * 8 + u] * _IDCT_COS[x][u]
                    for u in range(8)
                )
        out = [0] * 64
        for y in range(8):
            for x in range(8):
                v = 0.5 * sum(
                    _IDCT_C[u] * tmp[u][x] * _IDCT_COS[y][u]
                    for u in range(8)
                )
                p = int(round(v)) + 128
                out[y * 8 + x] = 0 if p < 0 else (255 if p > 255 else p)
        return out

    rng = random.Random(11)
    for _ in range(500):
        coeffs = [
            rng.randint(-1024, 1024) if rng.random() < 0.4 else 0
            for _ in range(64)
        ]
        assert _idct8x8(coeffs) == scalar(coeffs)

    # Adversarial exact-half cases (ADVICE r11): random-block parity is
    # EMPIRICAL w.r.t. float summation order — a value within an ulp of
    # a .5 boundary could round differently on the two paths. DC-only
    # blocks make every pre-round value EXACTLY DC/8 (a dyadic
    # rational, represented exactly in binary float on both paths), so
    # DC ≡ 4 (mod 8) pins the half-to-even boundary itself — the worst
    # case the random sweep can't reliably hit.
    for dc in range(-1020, 1021, 8):
        coeffs = [dc] + [0] * 63
        assert _idct8x8(coeffs) == scalar(coeffs), dc
