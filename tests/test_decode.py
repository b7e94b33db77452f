"""Pure-numpy image decoders (round-10: the REAL byte->pixels path that
runs in this sandbox — round-9 Missing #2). Hand-built fixtures pin the
format corners: PPM header comments/whitespace, the exactly-one-
separator rule, truncation fail-louds; BMP row padding, bottom-up vs
top-down storage, BGR->RGB channel order, non-24-bit rejection."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from datafusion_loki_spark.operators.multimodal import (
    decode_bmp,
    decode_image,
    decode_png,
    decode_ppm,
    encode_png,
    encode_png_gray,
    encode_png_indexed,
)


def _ppm(w, h, pixels: bytes, header=None) -> bytes:
    return (header or f"P6 {w} {h} 255\n".encode()) + pixels


def test_ppm_roundtrip_and_channel_order():
    # 2x1: red pixel then blue pixel
    img = _ppm(2, 1, bytes([255, 0, 0, 0, 0, 255]))
    w, h, arr = decode_ppm(img)
    assert (w, h, arr.shape) == (2, 1, (1, 2, 3))
    assert arr[0, 0].tolist() == [255, 0, 0]
    assert arr[0, 1].tolist() == [0, 0, 255]


def test_ppm_header_comments_and_whitespace():
    header = b"P6\n# a comment\n 2 # inline sizes split\n\t1\n# more\n255\n"
    img = _ppm(2, 1, bytes(range(6)), header=header)
    w, h, arr = decode_ppm(img)
    assert (w, h) == (2, 1)
    assert arr.reshape(-1).tolist() == list(range(6))


def test_ppm_single_separator_preserves_leading_pixel_whitespace():
    # the first PIXEL byte may be 0x0A (newline); only ONE separator
    # byte after maxval belongs to the header
    img = _ppm(1, 1, bytes([0x0A, 0x20, 0x09]))
    _w, _h, arr = decode_ppm(img)
    assert arr.reshape(-1).tolist() == [0x0A, 0x20, 0x09]


@pytest.mark.parametrize(
    "bad",
    [
        b"P5 1 1 255\n" + b"\x00" * 3,          # wrong magic
        b"P6 1 1 65535\n" + b"\x00" * 3,        # 16-bit truncated (needs 6)
        b"P6 1 1 0\n" + b"\x00" * 3,            # maxval 0 malformed
        b"P6 2 2 255\n" + b"\x00" * 5,           # truncated pixels
        b"P6 # endless comment",                  # unterminated comment
        b"P6 x 1 255\n",                          # non-numeric field
        b"P6 0 0 255\n",                          # degenerate 0x0 (r11 ADVICE)
        b"P6 0 3 255\n",                          # zero width
        b"P6 3 0 255\n",                          # zero height
    ],
)
def test_ppm_malformed_fail_loud(bad):
    with pytest.raises(ValueError):
        decode_ppm(bad)


def _bmp(w, h, rows_bgr: list[list[list[int]]], top_down=False) -> bytes:
    stride = (w * 3 + 3) & ~3
    body = b""
    ordered = rows_bgr if top_down else rows_bgr[::-1]
    for row in ordered:
        line = b"".join(bytes(px) for px in row)
        body += line + b"\x00" * (stride - len(line))
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII",
            40, w, (h if not top_down else -h), 1, 24, 0,
            len(body), 2835, 2835, 0, 0,
        )
    )
    return header + body


def test_bmp_bottom_up_padding_and_bgr():
    # 2x2, stored bottom-up with 2 pad bytes per row; BGR on disk
    rows_bgr = [
        [[255, 0, 0], [0, 255, 0]],   # top row: blue, green (BGR!)
        [[0, 0, 255], [255, 255, 255]],  # bottom row: red, white
    ]
    w, h, arr = decode_bmp(_bmp(2, 2, rows_bgr))
    assert (w, h, arr.shape) == (2, 2, (2, 2, 3))
    assert arr[0, 0].tolist() == [0, 0, 255]      # RGB blue
    assert arr[0, 1].tolist() == [0, 255, 0]      # green
    assert arr[1, 0].tolist() == [255, 0, 0]      # red
    assert arr[1, 1].tolist() == [255, 255, 255]


def test_bmp_top_down_negative_height():
    rows_bgr = [[[1, 2, 3]], [[4, 5, 6]]]
    _w, _h, arr = decode_bmp(_bmp(1, 2, rows_bgr, top_down=True))
    assert arr[0, 0].tolist() == [3, 2, 1]
    assert arr[1, 0].tolist() == [6, 5, 4]


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b"XX" + b[2:],                     # magic
        lambda b: b[:28] + b"\x20\x00" + b[30:],     # 32-bit bpp
        lambda b: b[:30] + b"\x01\x00\x00\x00" + b[34:],  # compressed
        lambda b: b[:-4],                            # truncated pixels
    ],
)
def test_bmp_malformed_fail_loud(mutate):
    good = _bmp(2, 2, [[[0, 0, 0], [0, 0, 0]], [[0, 0, 0], [0, 0, 0]]])
    with pytest.raises(ValueError):
        decode_bmp(mutate(good))


def test_decode_image_dispatches_to_pure_parsers():
    ppm = _ppm(1, 1, bytes([9, 8, 7]))
    assert decode_image(ppm)[0, 0].tolist() == [9, 8, 7]
    bmp = _bmp(1, 1, [[[7, 8, 9]]])
    assert decode_image(bmp)[0, 0].tolist() == [9, 8, 7]
    png = encode_png(np.array([[[5, 6, 7]]], dtype=np.uint8))
    assert decode_image(png)[0, 0].tolist() == [5, 6, 7]
    # JPEG dispatches to the pure baseline decoder since round 12 —
    # malformed bytes fail ITS loud contract, not the PIL gate
    from datafusion_loki_spark.operators.jpeg import encode_jpeg

    jj = encode_jpeg(np.full((8, 8), 77, dtype=np.uint8))
    assert decode_image(jj)[0, 0].tolist() == [77]
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg garbage")
    # GIF dispatches to the pure LZW decoder since round 12
    from datafusion_loki_spark.operators.gif import encode_gif

    gg = encode_gif(
        np.array([[1]]), np.array([[1, 2, 3], [9, 8, 7]], dtype=np.uint8)
    )
    assert decode_image(gg)[0, 0].tolist() == [9, 8, 7]
    with pytest.raises(ValueError):
        decode_image(b"GIF89a not really a gif")
    # lossless WebP dispatches to the pure VP8L decoder since late
    # round 14 — malformed bytes fail ITS loud contract, not the gate
    from datafusion_loki_spark.operators.webp import encode_webp_lossless

    ww = encode_webp_lossless(np.array([[[5, 6, 7]]], dtype=np.uint8))
    assert decode_image(ww)[0, 0].tolist() == [5, 6, 7, 255]
    with pytest.raises(ValueError):
        decode_image(b"RIFF\x08\x00\x00\x00WEBP not really")
    # baseline TIFF dispatches to the pure decoder in both byte orders
    from datafusion_loki_spark.operators.tiff import encode_tiff

    px = np.array([[[4, 5, 6], [7, 8, 9]]], dtype=np.uint8)
    for big_endian in (False, True):
        tt = encode_tiff(px, big_endian=big_endian)
        assert decode_image(tt).tolist() == px.tolist()
    # formats with no pure parser still hit the loud PIL gate (AVIF)
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="PIL"):
            decode_image(
                b"\x00\x00\x00\x1cftypavif not a real avif box tree"
            )


def test_numpy_reference_cross_check():
    # 8x4 like the registry op: channel sums against an independent
    # numpy computation over the raw pixel block
    rng = bytes((i * 37 + 11) % 256 for i in range(96))
    w, h, arr = decode_ppm(b"P6 8 4 255\n" + rng)
    ref = np.frombuffer(rng, dtype=np.uint8).reshape(4, 8, 3)
    assert (arr == ref).all()
    for c in range(3):
        assert int(arr[:, :, c].sum(dtype="int64")) == int(
            ref[:, :, c].sum(dtype="int64")
        )


def test_bmp_zero_or_negative_width_fail_loud():
    good = _bmp(2, 2, [[[0, 0, 0], [0, 0, 0]], [[0, 0, 0], [0, 0, 0]]])
    for w_bytes in (b"\x00\x00\x00\x00", b"\xff\xff\xff\xff"):  # 0, -1
        bad = good[:18] + w_bytes + good[22:]
        with pytest.raises(ValueError, match="dimensions|truncated"):
            decode_bmp(bad)


# --- hypothesis round-trips ---------------------------------------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=300, deadline=None)
@given(
    w=st.integers(1, 9),
    h=st.integers(1, 7),
    data=st.data(),
    wsp=st.sampled_from([b"\n", b" ", b"\t", b"\r"]),
)
def test_ppm_encode_decode_roundtrip(w, h, data, wsp):
    # any pixel block (including header-lookalike bytes) survives an
    # encode->decode round trip, whichever single separator byte follows
    # the header and whatever maxval spacing the header uses
    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    img = b"P6" + wsp + str(w).encode() + wsp + str(h).encode() + wsp + b"255" + wsp + pixels
    gw, gh, arr = decode_ppm(img)
    assert (gw, gh) == (w, h)
    assert bytes(arr.reshape(-1)) == pixels


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(1, 6),
    h=st.integers(1, 5),
    top_down=st.booleans(),
    data=st.data(),
)
def test_bmp_encode_decode_roundtrip(w, h, top_down, data):
    rows_bgr = data.draw(
        st.lists(
            st.lists(
                st.lists(st.integers(0, 255), min_size=3, max_size=3),
                min_size=w,
                max_size=w,
            ),
            min_size=h,
            max_size=h,
        )
    )
    gw, gh, arr = decode_bmp(_bmp(w, h, rows_bgr, top_down=top_down))
    assert (gw, gh) == (w, h)
    for y in range(h):
        for x in range(w):
            b, g, r = rows_bgr[y][x]
            assert arr[y, x].tolist() == [r, g, b]


@settings(max_examples=400, deadline=None)
@given(st.binary(max_size=80))
def test_decoders_never_crash_unloudly_on_garbage(blob):
    # decoders either return a well-formed array or raise ValueError —
    # never an IndexError/struct.error/numpy reshape explosion
    for fn in (decode_ppm, decode_bmp, decode_png):
        try:
            w, h, arr = fn(blob)
            assert arr.shape[0] == h and arr.shape[1] == w
        except ValueError:
            pass


# --- PNG (round-11: the first COMPRESSED decode path) --------------------------


def test_png_each_filter_type_reconstructs():
    # a gradient image stresses every filter's arithmetic (Sub/Up/
    # Average/Paeth all see non-trivial deltas); one uniform filter
    # type per encode isolates each reconstruction path
    a = np.arange(6 * 5 * 3, dtype=np.uint8).reshape(6, 5, 3) * 7 % 256
    for f in range(5):
        w, h, dec = decode_png(encode_png(a, [f] * 6))
        assert (w, h) == (5, 6)
        assert (dec == a).all(), f"filter {f}"


def test_png_rgba_and_mixed_filters():
    rng = np.random.RandomState(3)
    a = rng.randint(0, 256, (5, 4, 4)).astype(np.uint8)
    w, h, dec = decode_png(encode_png(a))  # default cycles filters 0..4
    assert (w, h, dec.shape) == (4, 5, (5, 4, 4))
    assert (dec == a).all()


def test_png_single_pixel_and_single_row_and_column():
    for shape in [(1, 1, 3), (1, 7, 3), (7, 1, 4)]:
        a = (np.arange(np.prod(shape), dtype=np.uint8) * 31 % 256).reshape(
            shape
        )
        for f in range(5):
            _w, _h, dec = decode_png(encode_png(a, [f] * shape[0]))
            assert (dec == a).all(), (shape, f)


def test_png_idat_split_across_chunks():
    # decoders must CONCATENATE all IDAT chunks before inflating
    import struct as _s
    import zlib

    a = np.arange(3 * 4 * 3, dtype=np.uint8).reshape(3, 4, 3)
    png = encode_png(a, [0, 0, 0])
    # find the single IDAT and split its compressed payload into two
    i = png.index(b"IDAT") - 4
    (ln,) = _s.unpack(">I", png[i : i + 4])
    comp = png[i + 8 : i + 8 + ln]
    rest = png[i + 12 + ln :]
    def chunk(data):
        return (
            _s.pack(">I", len(data))
            + b"IDAT"
            + data
            + _s.pack(">I", zlib.crc32(b"IDAT" + data) & 0xFFFFFFFF)
        )
    split = png[:i] + chunk(comp[:5]) + chunk(comp[5:]) + rest
    _w, _h, dec = decode_png(split)
    assert (dec == a).all()


def test_png_skips_ancillary_chunks():
    import struct as _s
    import zlib

    a = np.full((2, 2, 3), 9, dtype=np.uint8)
    png = encode_png(a, [0, 0])
    text = b"comment\x00hello"
    anc = (
        _s.pack(">I", len(text))
        + b"tEXt"
        + text
        + _s.pack(">I", zlib.crc32(b"tEXt" + text) & 0xFFFFFFFF)
    )
    i = png.index(b"IDAT") - 4
    _w, _h, dec = decode_png(png[:i] + anc + png[i:])
    assert (dec == a).all()


def _corrupt(png: bytes, what: str) -> bytes:
    import struct as _s

    if what == "signature":
        return b"XPNG\r\n\x1a\n" + png[8:]
    if what == "crc":
        i = png.index(b"IDAT") - 4
        (ln,) = _s.unpack(">I", png[i : i + 4])
        j = i + 8 + ln  # first CRC byte of IDAT
        return png[:j] + bytes([png[j] ^ 0xFF]) + png[j + 1 :]
    if what == "truncated":
        return png[:-6]
    if what == "depth3":
        # depth 3 is invalid for EVERY color type (16-bit gray/RGB are
        # supported since round 12, so the old depth-16 probe now
        # decodes — the layout gate needs a truly illegal depth)
        i = png.index(b"IHDR") + 4
        return png[: i + 8] + b"\x03" + png[i + 9 :]
    if what == "palette":
        i = png.index(b"IHDR") + 4
        return png[: i + 9] + b"\x03" + png[i + 10 :]
    if what == "interlaced":
        i = png.index(b"IHDR") + 4
        return png[: i + 12] + b"\x01" + png[i + 13 :]
    if what == "zero_dims":
        i = png.index(b"IHDR") + 4
        return png[:i] + b"\x00\x00\x00\x00" + png[i + 4 :]
    raise AssertionError(what)


@pytest.mark.parametrize(
    "what",
    ["signature", "truncated", "depth3", "palette", "interlaced",
     "zero_dims"],
)
def test_png_malformed_fail_loud(what):
    png = encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError):
        decode_png(_corrupt(png, what))


def test_png_crc_mismatch_fail_loud():
    # CRC corruption must be caught BY THE CRC CHECK, not downstream
    png = encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(_corrupt(png, "crc"))
    # ... and header-field corruptions above are caught by their checks
    # even though the mutated chunk's CRC would also fail: re-CRC the
    # mutated IHDR so only the semantic check can fire
    import struct as _s
    import zlib

    bad = _corrupt(png, "depth3")
    i = bad.index(b"IHDR") - 4
    (ln,) = _s.unpack(">I", bad[i : i + 4])
    body = bad[i + 4 : i + 8 + ln]
    fixed = (
        bad[: i + 8 + ln]
        + _s.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        + bad[i + 12 + ln :]
    )
    with pytest.raises(ValueError, match="unsupported PNG layout"):
        decode_png(fixed)


def test_png_bad_inflate_and_length_mismatch_fail_loud():
    import struct as _s
    import zlib

    png = encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    i = png.index(b"IDAT") - 4
    (ln,) = _s.unpack(">I", png[i : i + 4])
    rest = png[i + 12 + ln :]

    def chunk(data):
        return (
            _s.pack(">I", len(data))
            + b"IDAT"
            + data
            + _s.pack(">I", zlib.crc32(b"IDAT" + data) & 0xFFFFFFFF)
        )

    with pytest.raises(ValueError, match="inflate"):
        decode_png(png[:i] + chunk(b"\x00not zlib\xff") + rest)
    # valid zlib stream, wrong decompressed size
    short = zlib.compress(b"\x00" * 5)
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(png[:i] + chunk(short) + rest)
    # valid zlib stream of the EXACT right size, but trailing garbage
    # after the stream end marker — caught only by dec.unused_data
    # (round-11 advice): length and flush checks both pass without it
    exact = zlib.compress(b"\x00" * (2 * (1 + 2 * 3)))  # 2 rows, 2x3 RGB
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(png[:i] + chunk(exact + b"\xde\xad\xbe\xef") + rest)


def test_png_deflate_bomb_rejected_without_inflating(monkeypatch):
    # the expected output size is known from the validated IHDR before
    # IDAT is touched, so decompression is CAPPED at it — a few-KB
    # deflate bomb must be rejected loudly (and instantly), never
    # inflated to gigabytes first (round-11 review)
    import struct as _s
    import time
    import zlib

    png = encode_png(np.zeros((2, 2, 3), dtype=np.uint8), [0, 0])
    i = png.index(b"IDAT") - 4
    (ln,) = _s.unpack(">I", png[i : i + 4])
    rest = png[i + 12 + ln :]

    def chunk(data):
        return (
            _s.pack(">I", len(data))
            + b"IDAT"
            + data
            + _s.pack(">I", zlib.crc32(b"IDAT" + data) & 0xFFFFFFFF)
        )

    bomb = zlib.compress(b"\x00" * 50_000_000, 9)  # 50 MB -> ~48 KB
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(png[:i] + chunk(bomb) + rest)
    assert time.perf_counter() - t0 < 0.5, "bomb was inflated before reject"


def test_encode_png_bad_channel_count_fail_loud():
    # the family's loud-ValueError contract, not a KeyError/unpack error
    for bad in (np.zeros((4, 4, 1), dtype=np.uint8),
                np.zeros((4, 4), dtype=np.uint8)):
        with pytest.raises(ValueError, match="h, w, 2\\|3\\|4"):
            encode_png(bad)


def test_png_unknown_filter_type_fail_loud():
    import struct as _s
    import zlib

    # hand-build scanlines with filter byte 5 (invalid)
    raw = b"\x05" + b"\x00" * 6  # 1 row, 2x1 RGB
    ihdr = _s.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)

    def chunk(ctype, data):
        return (
            _s.pack(">I", len(data))
            + ctype
            + data
            + _s.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter type"):
        decode_png(png)


@settings(max_examples=300, deadline=None)
@given(
    w=st.integers(1, 8),
    h=st.integers(1, 6),
    rgba=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
    data=st.data(),
)
def test_png_encode_decode_roundtrip(w, h, rgba, seed, data):
    c = 4 if rgba else 3
    arr = (
        np.random.RandomState(seed)
        .randint(0, 256, (h, w, c))
        .astype(np.uint8)
    )
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    gw, gh, dec = decode_png(encode_png(arr, filters))
    assert (gw, gh) == (w, h)
    assert (dec == arr).all()


# --- round 12: grayscale / gray+alpha / palette coverage ----------------


def test_png_grayscale_depths_scale_to_8bit():
    # the spec's sample-depth scaling is exact for every legal depth:
    # 1-bit 0/1 -> 0/255, 2-bit *85, 4-bit *17, 8-bit identity
    for d, scale in ((1, 255), (2, 85), (4, 17), (8, 1)):
        g = np.arange(5 * 7, dtype=np.uint8).reshape(5, 7) % (1 << d)
        w, h, out = decode_png(encode_png_gray(g, depth=d))
        assert (w, h) == (7, 5)
        assert out.shape == (5, 7, 1)
        assert (out[:, :, 0] == g * scale).all(), d


def test_png_packed_rows_drop_padding_bits():
    # width 5 at depth 1 -> 3 pad bits per row; a decoder that reads
    # them as pixels widens the image or shifts later rows
    g = np.array([[1, 0, 1, 1, 0], [0, 1, 1, 0, 1]], dtype=np.uint8)
    w, h, out = decode_png(encode_png_gray(g, depth=1))
    assert (w, h) == (5, 2)
    assert (out[:, :, 0] == g * 255).all()


def test_png_gray_alpha_roundtrip():
    ga = np.arange(4 * 3 * 2, dtype=np.uint8).reshape(4, 3, 2) * 7
    w, h, out = decode_png(encode_png_gray(ga))
    assert out.shape == (4, 3, 2) and (out == ga).all()


def test_png_palette_roundtrip_and_trns():
    pal = (np.arange(16 * 3, dtype=np.uint8) * 5).reshape(16, 3)
    ix = (np.arange(5 * 7, dtype=np.uint8) % 16).reshape(5, 7)
    w, h, out = decode_png(encode_png_indexed(ix, pal, depth=4))
    assert out.shape == (5, 7, 3) and (out == pal[ix]).all()
    # tRNS shorter than the palette: missing entries are opaque
    t = np.arange(10, dtype=np.uint8) * 11
    w, h, out4 = decode_png(encode_png_indexed(ix, pal, trns=t, depth=4))
    alpha = np.full(16, 255, dtype=np.uint8)
    alpha[:10] = t
    assert out4.shape == (5, 7, 4)
    assert (out4[:, :, :3] == pal[ix]).all()
    assert (out4[:, :, 3] == alpha[ix]).all()


def test_png_palette_malformed_fail_loud():
    pal = np.zeros((4, 3), dtype=np.uint8)
    ix = np.zeros((2, 2), dtype=np.uint8)
    good = encode_png_indexed(ix, pal, depth=8)
    # missing PLTE: excise the chunk (it is CRC-valid, so rebuild)
    i = good.index(b"PLTE") - 4
    (ln,) = struct.unpack(">I", good[i : i + 4])
    with pytest.raises(ValueError, match="missing its PLTE"):
        decode_png(good[:i] + good[i + 12 + ln :])
    # index out of range (palette has 4 entries, index 9 appears)
    bad_ix = np.array([[0, 9], [1, 2]], dtype=np.uint8)
    pal16 = np.zeros((16, 3), dtype=np.uint8)
    blob = encode_png_indexed(bad_ix, pal16, depth=8)
    j = blob.index(b"PLTE") - 4
    (pl,) = struct.unpack(">I", blob[j : j + 4])
    import zlib as _z

    shrunk = (
        struct.pack(">I", 12)
        + b"PLTE"
        + bytes(12)
        + struct.pack(">I", _z.crc32(b"PLTE" + bytes(12)) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="out of range"):
        decode_png(blob[:j] + shrunk + blob[j + 12 + pl :])
    # writer-side guards stay loud too
    with pytest.raises(ValueError, match="out of range"):
        encode_png_indexed(bad_ix, pal, depth=8)
    with pytest.raises(ValueError, match="tRNS longer"):
        encode_png_indexed(ix, pal, trns=np.zeros(5, dtype=np.uint8))


def test_png_16bit_alpha_and_bad_interlace_still_loud():
    # 16-bit ALPHA variants decode since round 13 — but a depth-8
    # stream whose IHDR is flipped to claim depth 16 has half the
    # required bytes and must fail the length check, never decode
    # garbage; invalid interlace values stay loud
    ga = np.zeros((2, 2, 2), dtype=np.uint8)
    png = encode_png_gray(ga)
    i = png.index(b"IHDR") - 4
    body = bytearray(png[i + 8 : i + 8 + 13])
    import zlib as _z

    def flip(off, val):
        b2 = bytearray(body)
        b2[off] = val
        return (
            png[:i]
            + struct.pack(">I", 13)
            + b"IHDR"
            + bytes(b2)
            + struct.pack(">I", _z.crc32(b"IHDR" + bytes(b2)) & 0xFFFFFFFF)
            + png[i + 12 + 13 :]
        )

    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(flip(8, 16))  # depth-16 claim over depth-8 bytes
    with pytest.raises(ValueError, match="unsupported PNG layout"):
        decode_png(flip(12, 2))  # invalid interlace VALUE
    # Adam7 is SUPPORTED since round 12 — a sequential stream mislabeled
    # as interlaced must still fail loud (the pass layout needs a
    # different byte count), never decode scrambled
    with pytest.raises(ValueError, match="length mismatch"):
        decode_png(flip(12, 1))


def test_png_16bit_roundtrip_and_bigendian_wire():
    rng = np.random.RandomState(8)
    g = rng.randint(0, 65536, (3, 5)).astype(np.uint16)
    w, h, out = decode_png(encode_png_gray(g, depth=16))
    assert out.dtype == np.uint16 and (out[:, :, 0] == g).all()
    # 16-bit RGB, RGBA, and gray+alpha (round 13 closed the alpha gap),
    # sequential and Adam7
    for nc in (2, 3, 4):
        c = rng.randint(0, 65536, (4, 3, nc)).astype(np.uint16)
        for inter in (False, True):
            _, _, out = decode_png(encode_png(c, depth=16, interlace=inter))
            assert out.dtype == np.uint16 and (out == c).all(), (nc, inter)
    # 8-bit gray+alpha through the RGB writer's new c=2 path
    ga8 = rng.randint(0, 256, (5, 4, 2)).astype(np.uint8)
    _, _, out = decode_png(encode_png(ga8))
    assert out.dtype == np.uint8 and (out == ga8).all()
    # wire order is big-endian: a hand-built 1x1 gray16 with bytes
    # 0x12 0x34 must decode to 0x1234, not 0x3412
    import zlib as _z

    raw = b"\x00\x12\x34"  # filter None + one big-endian sample
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
        )

    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _z.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png16)[2][0, 0, 0] == 0x1234


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(1, 19),
    h=st.integers(1, 19),
    layout=st.sampled_from(["rgb", "rgba", "ga", "g4", "pal2"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_adam7_roundtrip_all_layouts(w, h, layout, seed):
    # sizes up to 19 hit every combination of empty/partial Adam7
    # passes; each pass is its own filtered sub-image (filters reset)
    rng = np.random.RandomState(seed)
    if layout in ("rgb", "rgba"):
        c = 3 if layout == "rgb" else 4
        a = rng.randint(0, 256, (h, w, c)).astype(np.uint8)
        gw, gh, out = decode_png(encode_png(a, interlace=True))
        assert (gw, gh) == (w, h) and (out == a).all()
    elif layout == "ga":
        a = rng.randint(0, 256, (h, w, 2)).astype(np.uint8)
        _, _, out = decode_png(encode_png_gray(a, interlace=True))
        assert (out == a).all()
    elif layout == "g4":
        g = rng.randint(0, 16, (h, w)).astype(np.uint8)
        _, _, out = decode_png(encode_png_gray(g, depth=4, interlace=True))
        assert (out[:, :, 0] == g * 17).all()
    else:
        pal = rng.randint(0, 256, (4, 3)).astype(np.uint8)
        ix = rng.randint(0, 4, (h, w)).astype(np.uint8)
        _, _, out = decode_png(
            encode_png_indexed(ix, pal, depth=2, interlace=True)
        )
        assert (out == pal[ix]).all()


@settings(max_examples=300, deadline=None)
@given(
    w=st.integers(1, 9),
    h=st.integers(1, 6),
    depth=st.sampled_from([1, 2, 4, 8]),
    paletted=st.booleans(),
    trns_n=st.integers(0, 8),
    seed=st.integers(0, 2**31 - 1),
    data=st.data(),
)
def test_png_packed_layouts_roundtrip(
    w, h, depth, paletted, trns_n, seed, data
):
    rng = np.random.RandomState(seed)
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    if paletted:
        n_pal = min(8, 1 << depth)
        pal = rng.randint(0, 256, (n_pal, 3)).astype(np.uint8)
        ix = rng.randint(0, n_pal, (h, w)).astype(np.uint8)
        trns = (
            rng.randint(0, 256, min(trns_n, n_pal)).astype(np.uint8)
            if trns_n
            else None
        )
        gw, gh, out = decode_png(
            encode_png_indexed(ix, pal, trns=trns, depth=depth,
                               row_filters=filters)
        )
        assert (gw, gh) == (w, h)
        assert (out[:, :, :3] == pal[ix]).all()
        if trns is not None:
            alpha = np.full(n_pal, 255, dtype=np.uint8)
            alpha[: len(trns)] = trns
            assert (out[:, :, 3] == alpha[ix]).all()
        else:
            assert out.shape[2] == 3
    else:
        g = rng.randint(0, 1 << depth, (h, w)).astype(np.uint8)
        gw, gh, out = decode_png(
            encode_png_gray(g, depth=depth, row_filters=filters)
        )
        scale = 255 // ((1 << depth) - 1) if depth < 8 else 1
        assert (gw, gh) == (w, h)
        assert (out[:, :, 0] == g * scale).all()


# --- 8-bit indexed BMP + RLE8 (round 13) ---------------------------------


def test_bmp8_roundtrip_property_and_delta():
    from datafusion_loki_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp8,
    )

    rng = np.random.RandomState(3)
    for t in range(40):
        w, h = rng.randint(1, 25), rng.randint(1, 25)
        n = int(rng.choice([2, 16, 256]))
        ix = rng.randint(0, n, (h, w)).astype(np.uint8)
        if rng.rand() < 0.5:  # force runs so RLE takes both branches
            ix = (ix // max(1, n // 4)) * max(1, n // 4) % n
        pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
        for rle in (False, True):
            gw, gh, out = decode_bmp(encode_bmp8(ix, pal, rle=rle))
            assert (gw, gh) == (w, h) and (out == pal[ix]).all(), (t, rle)
    # crafted delta escape: run [1,1] at bottom row, delta (0,1), run
    # [2] at x=2 of the next storage row — skipped pixels are index 0
    pal = np.array([[10, 0, 0], [0, 20, 0], [0, 0, 30]], dtype=np.uint8)
    body = bytes([2, 1]) + bytes([0, 2, 0, 1]) + bytes([1, 2]) + bytes(
        [0, 1]
    )
    quads = b"".join(bytes([b, g, r, 0]) for r, g, b in pal.tolist())
    off = 14 + 40 + len(quads)
    hdr = (
        b"BM"
        + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + struct.pack(
            "<IiiHHIIiiII", 40, 3, 2, 1, 8, 1, len(body), 0, 0, 3, 0
        )
    )
    _, _, out = decode_bmp(hdr + quads + body)
    assert (out == pal[np.array([[0, 0, 2], [1, 1, 0]])]).all()


def test_bmp8_fail_loud():
    from datafusion_loki_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp8,
    )

    pal = np.arange(48, dtype=np.uint8).reshape(16, 3)
    ix = (np.arange(35, dtype=np.uint8) % 16).reshape(5, 7)
    good = encode_bmp8(ix, pal, rle=True)
    # truncation drops the EOB
    with pytest.raises(ValueError, match="truncated|end-of-bitmap"):
        decode_bmp(good[:-2])
    # a run overflowing its row
    bad = bytearray(encode_bmp8(np.zeros((2, 2), np.uint8), pal, rle=True))
    i = len(bad) - 2 - 2 - 2  # last row's run pair
    bad[i] = 200
    with pytest.raises(ValueError, match="overflows|escapes|past"):
        decode_bmp(bytes(bad))
    # top-down RLE is illegal
    bad = bytearray(good)
    struct.pack_into("<i", bad, 22, -5)
    with pytest.raises(ValueError, match="top-down"):
        decode_bmp(bytes(bad))
    # index outside a short palette (claim 8 entries, indices reach 15)
    bad = bytearray(good)
    struct.pack_into("<I", bad, 46, 8)
    with pytest.raises(ValueError, match="outside"):
        decode_bmp(bytes(bad))


def test_ppm_16bit_bigendian_roundtrip():
    # round 13: maxval > 255 decodes to uint16 (2-byte big-endian
    # samples per the Netpbm spec); a hand-built pixel pins the wire
    # order (0x12 0x34 -> 0x1234, never 0x3412)
    from datafusion_loki_spark.operators.multimodal import decode_ppm

    rng = np.random.RandomState(5)
    px = rng.randint(0, 65536, (4, 3, 3)).astype(np.uint16)
    w, h, out = decode_ppm(b"P6 3 4 65535\n" + px.astype(">u2").tobytes())
    assert (w, h) == (3, 4)
    assert out.dtype == np.uint16 and (out == px).all()
    one = decode_ppm(b"P6 1 1 65535\n" + bytes([0x12, 0x34] * 3))[2]
    assert int(one[0, 0, 0]) == 0x1234
    # maxval <= 255 stays uint8
    assert decode_ppm(b"P6 1 1 100\n" + bytes(3))[2].dtype == np.uint8


# --- late round 14: 1/4-bit indexed BMP + BI_RLE4 ---


@settings(max_examples=50, deadline=None)
@given(
    w=st.integers(1, 33),
    h=st.integers(1, 9),
    bpp=st.sampled_from([1, 4]),
    rle=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_packed_roundtrip_property(w, h, bpp, rle, seed):
    from datafusion_loki_spark.operators.multimodal import (
        encode_bmp_packed,
    )

    if rle and bpp != 4:
        rle = False
    rng = np.random.RandomState(seed)
    n = 1 << bpp
    pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
    idx = rng.randint(0, n, (h, w)).astype(np.uint8)
    gw, gh, out = __import__(
        "datafusion_loki_spark.operators.multimodal", fromlist=["decode_bmp"]
    ).decode_bmp(encode_bmp_packed(idx, pal, bpp=bpp, rle=rle))
    assert (gw, gh) == (w, h)
    assert (out == pal[idx]).all()


def test_bmp_packed_wire_is_msb_first():
    # 4-bit: the HIGH nibble is the LEFT pixel; 1-bit: MSB is the
    # left pixel — pinned on the wire, not just by roundtrip
    from datafusion_loki_spark.operators.multimodal import (
        encode_bmp_packed,
    )

    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    idx = np.array([[1, 0, 0, 0, 0, 0, 0, 0]], dtype=np.uint8)
    blob = encode_bmp_packed(idx, pal, bpp=1)
    data_off = int.from_bytes(blob[10:14], "little")
    assert blob[data_off] == 0x80  # MSB set = leftmost pixel is 1
    pal16 = np.zeros((16, 3), dtype=np.uint8)
    idx4 = np.array([[0xA, 0x3]], dtype=np.uint8)
    blob = encode_bmp_packed(idx4, pal16, bpp=4)
    data_off = int.from_bytes(blob[10:14], "little")
    assert blob[data_off] == 0xA3  # high nibble = left pixel


def test_bmp_rle4_alternation_and_escapes():
    # a crafted stream: encoded run 5 x (hi 7, lo 2) alternating, EOL,
    # literal 3 pixels, delta skip, EOB — decoded against the spec by
    # hand (not via the encoder)
    import struct as _s

    from datafusion_loki_spark.operators.multimodal import decode_bmp

    pal = bytes(b for i in range(16) for b in (i, i, i, 0))
    # bottom-up 2 rows, w=6
    stream = bytes(
        [5, 0x72,  # row 0 (bottom): 7,2,7,2,7
         0, 0,     # EOL
         0, 3, 0x51, 0x40,  # literal 5,1,4 (pad byte included)
         0, 2, 2, 0,        # delta: skip 2 right
         1, 0x99,           # one more pixel: 9
         0, 1]              # EOB
    )
    data_off = 14 + 40 + len(pal)
    hdr = (
        b"BM" + _s.pack("<IHHI", data_off + len(stream), 0, 0, data_off)
        + _s.pack("<IiiHHIIiiII", 40, 6, 2, 1, 4, 2,
                  len(stream), 2835, 2835, 16, 0)
    )
    w, h, out = decode_bmp(hdr + pal + stream)
    # storage row 0 = image bottom row
    gray = out[:, :, 0]
    assert gray[1].tolist() == [7, 2, 7, 2, 7, 0]   # bottom row
    assert gray[0].tolist() == [5, 1, 4, 0, 0, 9]   # top row, delta skip


def test_bmp_rle4_bomb_and_overflow_loud():
    import struct as _s

    from datafusion_loki_spark.operators.multimodal import decode_bmp

    pal = bytes(64)
    # tiny stream claiming a huge canvas -> rejected pre-allocation
    stream = bytes([255, 0x11, 0, 1])
    data_off = 14 + 40 + len(pal)
    hdr = (
        b"BM" + _s.pack("<IHHI", data_off + len(stream), 0, 0, data_off)
        + _s.pack("<IiiHHIIiiII", 40, 30000, 30000, 1, 4, 2,
                  len(stream), 2835, 2835, 16, 0)
    )
    with pytest.raises(ValueError, match="at most"):
        decode_bmp(hdr + pal + stream)
    # run overflowing its row is loud
    hdr2 = (
        b"BM" + _s.pack("<IHHI", data_off + len(stream), 0, 0, data_off)
        + _s.pack("<IiiHHIIiiII", 40, 4, 1, 1, 4, 2,
                  len(stream), 2835, 2835, 16, 0)
    )
    with pytest.raises(ValueError, match="overflows"):
        decode_bmp(hdr2 + pal + stream)


# --- APNG (acTL/fcTL/fdAT, round 15) -----------------------------------

def _apng_frame(rng, h, w, alpha=255):
    px = rng.randint(0, 256, (h, w, 4)).astype(np.uint8)
    if alpha is not None:
        px[:, :, 3] = alpha
    return px


def test_apng_compositing_protocol_all_dispose_ops():
    from datafusion_loki_spark.operators.multimodal import (
        decode_png_frames,
        encode_png_frames,
    )

    rng = np.random.RandomState(31)
    f0 = _apng_frame(rng, 4, 4)
    f1 = _apng_frame(rng, 2, 2)
    f2 = _apng_frame(rng, 2, 2)
    f3 = _apng_frame(rng, 2, 2)
    blob = encode_png_frames(
        [
            {"px": f0, "delay": (2, 100)},
            {"px": f1, "pos": (2, 2), "dispose": 1},   # -> transparent
            {"px": f2, "pos": (0, 2), "dispose": 2},   # -> previous
            {"px": f3, "pos": (2, 0)},
        ]
    )
    w, h, canvases, delays = decode_png_frames(blob)
    assert (w, h, len(canvases)) == (4, 4, 4)
    assert delays[0] == 0.02
    assert (canvases[0] == f0).all()
    exp1 = f0.copy()
    exp1[2:4, 2:4] = f1
    assert (canvases[1] == exp1).all()
    base2 = exp1.copy()
    base2[2:4, 2:4] = 0                                 # dispose 1
    exp2 = base2.copy()
    exp2[2:4, 0:2] = f2
    assert (canvases[2] == exp2).all()
    exp3 = base2.copy()                                 # dispose 2
    exp3[0:2, 2:4] = f3
    assert (canvases[3] == exp3).all()


def test_apng_over_blend_matches_webp_integer_formula():
    from datafusion_loki_spark.operators.multimodal import (
        decode_png_frames,
        encode_png_frames,
    )
    from datafusion_loki_spark.operators.webp import _blend_rgba

    rng = np.random.RandomState(33)
    base = _apng_frame(rng, 3, 3)
    top = _apng_frame(rng, 3, 3, alpha=None)
    blob = encode_png_frames([{"px": base}, {"px": top, "blend": 1}])
    _, _, canvases, _ = decode_png_frames(blob)
    assert (canvases[1] == _blend_rgba(top, base)).all()


def test_apng_still_compatibility_and_fail_loud():
    import struct as _struct

    from datafusion_loki_spark.operators.multimodal import (
        decode_png,
        decode_png_frames,
        encode_png_frames,
    )

    rng = np.random.RandomState(35)
    f0 = _apng_frame(rng, 4, 4)
    blob = encode_png_frames(
        [{"px": f0}, {"px": _apng_frame(rng, 2, 2), "pos": (2, 2)}]
    )
    # a non-APNG reader sees a valid still PNG: frame 0
    w, h, arr = decode_png(blob)
    assert (arr == f0).all()
    # plain PNG is not an APNG
    from datafusion_loki_spark.operators.multimodal import encode_png

    with pytest.raises(ValueError, match="acTL"):
        decode_png_frames(encode_png(f0))
    # broken sequence number (patch the fdAT seq, fix its CRC)
    import zlib as _zlib

    i = blob.index(b"fdAT")
    (ln,) = _struct.unpack(">I", blob[i - 4 : i])
    bad = bytearray(blob)
    _struct.pack_into(">I", bad, i + 4, 9)
    body = bytes(bad[i : i + 4 + ln])
    _struct.pack_into(
        ">I", bad, i + 4 + ln, _zlib.crc32(body) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="sequence number"):
        decode_png_frames(bytes(bad))
    # frame escaping the canvas is rejected at encode
    with pytest.raises(ValueError, match="escapes"):
        encode_png_frames(
            [{"px": f0}, {"px": _apng_frame(rng, 3, 3), "pos": (2, 2)}]
        )
    # acTL frame-count disagreement (patch count, fix CRC)
    j = blob.index(b"acTL")
    bad = bytearray(blob)
    _struct.pack_into(">I", bad, j + 4, 5)
    body = bytes(bad[j : j + 12])
    _struct.pack_into(">I", bad, j + 12, _zlib.crc32(body) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="declares 5 frames"):
        decode_png_frames(bytes(bad))


def test_apng_canvas_bomb_rejected_before_allocation():
    # round 15: a valid-CRC crafted IHDR controls the output-buffer
    # allocation; the area cap must fire before np.zeros (random
    # mutation cannot reach this — the CRC gate rejects it — so the
    # pin is a deliberately re-CRCed header)
    import struct as _struct
    import zlib as _zlib

    from datafusion_loki_spark.operators.multimodal import (
        decode_png_frames,
        encode_png_frames,
    )

    rng = np.random.RandomState(41)
    px = rng.randint(0, 256, (4, 4, 4)).astype(np.uint8)
    blob = bytearray(encode_png_frames([{"px": px}]))
    i = blob.index(b"IHDR")
    _struct.pack_into(">II", blob, i + 4, 1 << 15, 1 << 15)  # 2^30 px
    body = bytes(blob[i : i + 4 + 13])
    _struct.pack_into(
        ">I", blob, i + 4 + 13, _zlib.crc32(body) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="exceeds the supported area"):
        decode_png_frames(bytes(blob))


# --- PGM / PBM (round 15) ----------------------------------------------

def test_pgm_roundtrip_8_and_16_bit():
    from datafusion_loki_spark.operators.multimodal import decode_pgm

    w, h, arr = decode_pgm(b"P5 3 2 255\n" + bytes(range(6)))
    assert (w, h, arr.shape) == (3, 2, (2, 3, 1))
    assert arr.reshape(-1).tolist() == [0, 1, 2, 3, 4, 5]
    # 16-bit big-endian samples
    w, h, arr = decode_pgm(
        b"P5 2 1 65535\n" + bytes([0x01, 0x02, 0xFF, 0xFE])
    )
    assert arr.dtype == np.uint16
    assert arr.reshape(-1).tolist() == [0x0102, 0xFFFE]
    # header comments survive
    w, h, arr = decode_pgm(b"P5\n# c\n 2 # x\n1\n255\n\x09\x08")
    assert arr.reshape(-1).tolist() == [9, 8]


def test_pbm_msb_first_polarity_and_padding():
    from datafusion_loki_spark.operators.multimodal import decode_pbm

    # 10 wide -> 2 bytes/row, 6 padding bits cut; 1 = black -> 0
    row0 = bytes([0b10000001, 0b01000000])  # bits 0,7,9 set
    row1 = bytes([0b00000000, 0b00000000])
    w, h, arr = decode_pbm(b"P4 10 2\n" + row0 + row1)
    assert (w, h, arr.shape) == (10, 2, (2, 10, 1))
    assert arr[0, :, 0].tolist() == [0, 255, 255, 255, 255, 255, 255,
                                     0, 255, 0]
    assert (arr[1, :, 0] == 255).all()
    # padding bits must NOT leak into pixels: set them all
    row0p = bytes([0b10000001, 0b01111111])
    w, h, arr2 = decode_pbm(b"P4 10 1\n" + row0p)
    assert (arr2[0, :, 0] == arr[0, :, 0]).all()


def test_pnm_fail_loud_and_dispatch():
    from datafusion_loki_spark.operators.multimodal import (
        decode_image,
        decode_pbm,
        decode_pgm,
    )

    with pytest.raises(ValueError, match="magic"):
        decode_pgm(b"P6 1 1 255\nabc")
    with pytest.raises(ValueError, match="truncated"):
        decode_pgm(b"P5 4 4 255\nxx")
    with pytest.raises(ValueError, match="dimensions"):
        decode_pgm(b"P5 0 4 255\n")
    with pytest.raises(ValueError, match="maxval"):
        decode_pgm(b"P5 1 1 0\n\x00")
    with pytest.raises(ValueError, match="truncated"):
        decode_pbm(b"P4 9 2\nxx")  # needs 4 bytes
    assert decode_image(b"P5 1 1 255\n\x07").tolist() == [[[7]]]
    assert decode_image(b"P4 1 1\n\x80").tolist() == [[[0]]]
