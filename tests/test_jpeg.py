"""Baseline JFIF codec tests (geo_raster_spark.jpeg) — real DCT+Huffman.

The encoder and decoder are independent implementations of the public spec
(forward vs inverse DCT, table build vs canonical decode), so a roundtrip is
a meaningful cross-check, reinforced by structural checks on the bitstream.
"""

import numpy as np
import pytest

from geo_raster_spark import codecs, jpeg
from tests.oracles import decode_scalar, encode_scalar, entropy_scalar


def _noisy(h, w, seed):
    rng = np.random.default_rng(seed)
    x = np.linspace(0, 5, w)
    y = np.linspace(0, 3, h)
    base = 110 + 90 * np.sin(y)[:, None] * np.cos(x)[None, :]
    return np.clip(base + rng.normal(0, 14, (h, w)), 0, 255).astype(np.uint8)


@pytest.mark.parametrize("shape", [(64, 64), (100, 100), (37, 53), (8, 8), (1, 1)])
def test_roundtrip_psnr_and_shape(shape):
    img = _noisy(*shape, seed=shape[0] * 100 + shape[1])
    data = jpeg.encode(img, quality=95)
    dec = jpeg.decode(data)
    assert dec.shape == img.shape
    assert codecs.psnr(img, dec) >= 40.0


def test_flat_blocks_roundtrip_exactly():
    for v in (0, 77, 128, 255):
        img = np.full((24, 40), v, np.uint8)
        assert (jpeg.decode(jpeg.encode(img, 90)) == v).all()


def test_bitstream_structure():
    data = jpeg.encode(_noisy(32, 32, 1), quality=85)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    assert b"JFIF\x00" in data[:32]
    assert b"\xff\xc0" in data          # SOF0, baseline
    assert data.count(b"\xff\xc4") >= 2  # DC + AC Huffman tables
    # entropy-coded segment must have every 0xFF stuffed (no stray markers)
    sos = data.index(b"\xff\xda")
    scan = data[sos + 2 + int.from_bytes(data[sos + 2:sos + 4], "big"):-2]
    i = 0
    while i < len(scan) - 1:
        if scan[i] == 0xFF:
            assert scan[i + 1] == 0x00, f"unstuffed 0xFF at {i}"
            i += 2
        else:
            i += 1


def test_quality_monotonic():
    img = _noisy(80, 80, 7)
    p = [codecs.psnr(img, jpeg.decode(jpeg.encode(img, q))) for q in (50, 75, 95)]
    assert p[0] < p[1] < p[2]
    s = [len(jpeg.encode(img, q)) for q in (50, 75, 95)]
    assert s[0] < s[1] < s[2]


def test_codecs_dispatch_jpg():
    img = _noisy(50, 60, 3)
    data = codecs.encode(img, "jpg")
    assert data[:2] == b"\xff\xd8"
    dec = codecs.decode(data, "jpg")
    assert codecs.psnr(img, dec) >= 40.0
    # fmt='jpeg' auto-detects a real JFIF payload by its SOI marker
    dec2 = codecs.decode(data, "jpeg")
    np.testing.assert_array_equal(dec, dec2)
    assert not codecs.is_lossless("jpg")


def test_decode_rejects_unsupported():
    img = _noisy(16, 16, 2)
    data = bytearray(jpeg.encode(img, 90))
    sof = data.index(b"\xff\xc0")
    data[sof + 1] = 0xC9  # arithmetic-coded sequential -> unsupported
    with pytest.raises(NotImplementedError):
        jpeg.decode(bytes(data))
    # a BASELINE scan relabeled SOF2 is a malformed progressive stream
    # (Ss=0, Se=63 is illegal for a DC scan) -> loud, not garbage pixels
    data[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="Se == 0"):
        jpeg.decode(bytes(data))
    with pytest.raises(ValueError):
        jpeg.decode(b"not a jpeg")


def test_dc_prediction_across_blocks():
    """A horizontal gradient exercises non-zero DC diffs in every block."""
    img = np.tile(np.linspace(10, 240, 128).astype(np.uint8), (16, 1))
    dec = jpeg.decode(jpeg.encode(img, 95))
    assert codecs.psnr(img, dec) >= 40.0
    # gradient direction preserved
    assert dec[:, -8:].mean() - dec[:, :8].mean() > 200


# --- color (4:4:4 YCbCr) ------------------------------------------------------

def _rgb_fixture(h=56, w=72, seed=9):
    from geo_raster_spark import synth
    return synth.image_pixels_rgb(seed, w, h, seed * 77777)


def test_color_roundtrip_psnr_and_shape():
    img = _rgb_fixture()
    for q in (90, 95):
        dec = jpeg.decode(jpeg.encode(img, q))
        assert dec.shape == img.shape == (56, 72, 3)
        assert codecs.psnr(img, dec) >= (37.0 if q == 90 else 40.0)


def test_color_scalar_vector_parity():
    """Vectorized interleaved entropy coder/decoder must match the scalar
    reference byte-for-byte / pixel-for-pixel on color streams."""
    img = _rgb_fixture(40, 48, seed=4)
    b = jpeg.encode(img, 92)
    assert b == encode_scalar(img, 92)
    dec = jpeg.decode(b)
    np.testing.assert_array_equal(dec, decode_scalar(b))


def test_color_flat_image_roundtrips_near_exact():
    img = np.full((24, 24, 3), 0, np.uint8)
    img[..., 0], img[..., 1], img[..., 2] = 200, 64, 128
    dec = jpeg.decode(jpeg.encode(img, 95))
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 2


def test_color_headers_declare_three_components():
    b = jpeg.encode(_rgb_fixture(16, 16, seed=2), 90)
    # SOF0 with ncomp=3 and two DQT segments present
    assert b.count(b"\xFF\xDB") >= 2
    i = b.index(b"\xFF\xC0")
    assert b[i + 9] == 3  # ncomp byte of SOF0


def test_png_rgb_lossless_roundtrip():
    img = _rgb_fixture(33, 21, seed=6)
    back = codecs.decode_png(codecs.encode_png(img))
    np.testing.assert_array_equal(back, img)
    # planes-first layout accepted too
    back2 = codecs.decode_png(codecs.encode_png(np.transpose(img, (2, 0, 1))))
    np.testing.assert_array_equal(back2, img)
    # codecs dispatch carries RGB through fmt="jpg"
    dec = codecs.decode(codecs.encode(img, "jpg"), "jpg")
    assert dec.shape == img.shape
    assert codecs.psnr(img, dec) >= 40.0


def test_restart_intervals_roundtrip_and_parity():
    """DRI/RSTn: encoding with any restart interval must decode to EXACTLY
    the no-restart result (DC predictors reset per segment, bitstreams
    re-align at raw FF D0-D7 markers), with scalar/vector parity on both
    sides, for grayscale AND color."""
    from geo_raster_spark import synth
    g = synth.image_pixels(5, 100, 60, 777)
    rgb = synth.image_pixels_rgb(9, 48, 40, 999)
    for img in (g, rgb):
        plain = jpeg.decode(jpeg.encode(img, 92))
        for ri in (1, 3, 7, 1000):
            b = jpeg.encode(img, 92, restart_interval=ri)
            assert b"\xFF\xDD" in b                       # DRI present
            if ri < 60:
                assert b"\xFF\xD0" in b                   # RST0 emitted
            assert b == encode_scalar(img, 92, restart_interval=ri)
            d = jpeg.decode(b)
            np.testing.assert_array_equal(d, decode_scalar(b))
            np.testing.assert_array_equal(d, plain)


# --- chroma subsampling (round 4) -------------------------------------------

def test_subsampled_roundtrip_and_parity():
    """4:2:0 / 4:2:2 encode+decode: scalar and vectorized paths byte- and
    pixel-identical; smooth content clears a PSNR floor; odd (non-MCU-
    aligned) dims handled by edge padding."""
    yy, xx = np.mgrid[0:52, 0:70]
    smooth = np.stack([(xx * 3) % 256, (yy * 4) % 256,
                       ((xx + yy) * 2) % 256], -1).astype(np.uint8)
    for ss, floor in [("444", 50.0), ("422", 46.0), ("420", 43.0)]:
        b = jpeg.encode(smooth, 92, subsampling=ss)
        assert b == encode_scalar(smooth, 92, subsampling=ss)
        d = jpeg.decode(b)
        np.testing.assert_array_equal(d, decode_scalar(b))
        assert d.shape == smooth.shape
        assert codecs.psnr(smooth, d) >= floor, ss
    # each sampling shrinks the payload
    b444 = jpeg.encode(smooth, 92, subsampling="444")
    b422 = jpeg.encode(smooth, 92, subsampling="422")
    b420 = jpeg.encode(smooth, 92, subsampling="420")
    assert len(b444) > len(b422) > len(b420)
    # SOF sampling byte is standard: Y Hi<<4|Vi, chroma 1x1
    i = b420.index(b"\xFF\xC0")
    assert b420[i + 11] == 0x22 and b420[i + 14] == 0x11


def test_subsampled_restart_intervals():
    rgb = _rgb_fixture(33, 41, seed=9)
    b = jpeg.encode(rgb, 92, subsampling="420", restart_interval=2)
    assert b"\xFF\xDD" in b
    np.testing.assert_array_equal(
        jpeg.decode(b), jpeg.decode(jpeg.encode(rgb, 92, subsampling="420")))


def test_sampling_orientation_matches_t81():
    """Hi is the HORIZONTAL factor (T.81 §B.2.2): 4:2:2 (2x1) halves chroma
    in x only — 1-row chroma stripes survive 4:2:2 but not 4:2:0, and
    1-col stripes survive neither; an h/v swap in either the header writer
    or the decoder geometry would invert this."""
    h, w = 48, 64
    y = np.full((h, w), 128.0)
    cr = np.full((h, w), 128.0)
    cb_v = 128 + 30 * (np.arange(h)[:, None] % 2) * np.ones((1, w))
    cb_h = 128 + 30 * (np.arange(w)[None, :] % 2) * np.ones((h, 1))
    rows = jpeg.ycbcr_to_rgb(y, cb_v, cr)
    cols = jpeg.ycbcr_to_rgb(y, cb_h, cr)
    p = {ss: codecs.psnr(rows, jpeg.decode(jpeg.encode(rows, 95, subsampling=ss)))
         for ss in ("422", "420")}
    q = {ss: codecs.psnr(cols, jpeg.decode(jpeg.encode(cols, 95, subsampling=ss)))
         for ss in ("444", "422")}
    assert p["422"] > p["420"] + 5     # vertical chroma detail kept by 2x1
    assert q["444"] > q["422"] + 5     # horizontal detail lost by 2x1


def test_decode_foreign_sampling_combinations():
    """Decoder handles sampling headers beyond what our encoder emits (the
    dispatch envelope is decode-side): e.g. grayscale with a nontrivial
    sampling byte (ignored per T.81 for single-component scans)."""
    from geo_raster_spark import synth
    g = synth.image_pixels(7, 24, 18, 4242)
    b = bytearray(jpeg.encode(g, 95))
    i = bytes(b).index(b"\xFF\xC0")
    assert b[i + 11] == 0x11
    b[i + 11] = 0x22          # sampling byte must be IGNORED for 1-comp
    np.testing.assert_array_equal(jpeg.decode(bytes(b)), jpeg.decode(jpeg.encode(g, 95)))
    with pytest.raises(NotImplementedError, match="sampling"):
        b[i + 11] = 0x33      # factor 3 unsupported -> loud
        bb = bytearray(jpeg.encode(_rgb_fixture(16, 16, seed=1), 90))
        j = bytes(bb).index(b"\xFF\xC0")
        bb[j + 11] = 0x33
        jpeg.decode(bytes(bb))


# --- progressive (SOF2), round 4 --------------------------------------------

def test_progressive_decode_equals_baseline_decode():
    """Cross-path parity: encode_progressive produces the SAME quantized
    coefficients as the baseline encoder, through a completely different
    entropy layer (spectral selection + successive approximation with DC
    and AC refinement scans) — so progressive decode must equal baseline
    decode EXACTLY, pixel for pixel, across contents and qualities."""
    from geo_raster_spark import synth
    yy, xx = np.mgrid[0:40, 0:56]
    smooth = ((xx * 5 + yy * 3) % 256).astype(np.uint8)
    cases = [
        _noisy(24, 24, 0), smooth, synth.image_pixels(9, 33, 47, 777),
        np.zeros((16, 16), np.uint8), np.full((8, 24), 255, np.uint8),
    ]
    for q in (25, 50, 90, 97):
        for img in cases:
            bp = jpeg.encode_progressive(img, q)
            assert b"\xFF\xC2" in bp and bp.count(b"\xFF\xDA") == 4
            np.testing.assert_array_equal(
                jpeg.decode(bp), jpeg.decode(jpeg.encode(img, q)))
    for q in (30, 90):
        rgb = _rgb_fixture(37, 29, seed=q)
        bp = jpeg.encode_progressive(rgb, q)
        assert bp.count(b"\xFF\xDA") == 8     # 2 DC + 3 AC first + 3 refine
        np.testing.assert_array_equal(
            jpeg.decode(bp), jpeg.decode(jpeg.encode(rgb, q)))


def test_progressive_eob_runs_with_custom_table():
    """Decoder EOBn>0 path (T.81 G.1.2.2): a hand-crafted SOF2 stream with
    a custom AC Huffman table containing EOB1 — one EOB-run symbol must
    terminate the current block AND skip whole following blocks."""
    import struct
    bw = 6   # 48x8 image -> 6 blocks, 1 component
    h, w = 8, 48
    qt = np.ones((8, 8))
    out = bytearray(b"\xFF\xD8")
    out += (b"\xFF\xDB" + struct.pack(">HB", 67, 0)
            + np.ones(64, np.uint8).tobytes())
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    out += b"\xFF\xC2" + struct.pack(">H", 2 + len(sof)) + sof
    # DC: Annex-K table
    out += b"\xFF\xC4" + struct.pack(">HB", 2 + 1 + 16 + len(jpeg._DC_VALS),
                                     0x00) \
        + bytes(jpeg._DC_BITS) + bytes(jpeg._DC_VALS)
    # custom AC table: 4 symbols, all 2-bit codes: EOB0, EOB1, (0,1), ZRL
    ac_bits = [0, 4] + [0] * 14
    ac_vals = [0x00, 0x10, 0x01, 0xF0]
    out += b"\xFF\xC4" + struct.pack(">HB", 2 + 1 + 16 + 4, 0x10) \
        + bytes(ac_bits) + bytes(ac_vals)
    codes = {v: (i, 2) for i, v in enumerate(ac_vals)}   # canonical 2-bit

    # scan 1: DC first Al=0 — category-0 symbol per block (all DC = 0)
    w1 = jpeg._BitWriter()
    c0, l0 = jpeg._DC_ENC[0]
    for _ in range(bw):
        w1.write(c0, l0)
    w1.flush()
    out += jpeg._sos_hdr([(1, 0, 0)], 0, 0, 0, 0) + bytes(w1.buf)

    # scan 2: AC first Ss=1 Se=63 Al=0 with the custom table:
    # block0: coef k=1 -> +1 (sym 0x01, sign/mag bit 1), then EOB1 with
    # extra bit 1 -> EOBRUN covers rest of block0 + skips blocks 1 and 2;
    # block3: coef k=1 -> +2? no — s must be 1 with this table; use +1,
    # then EOB0; blocks 4,5: EOB0 each.
    w2 = jpeg._BitWriter()
    w2.write(*codes[0x01]); w2.write(1, 1)        # block0 k=1 = +1
    w2.write(*codes[0x10]); w2.write(1, 1)        # EOB1, bits=1 -> run 2+1-1=2
    w2.write(*codes[0x01]); w2.write(1, 1)        # block3 k=1 = +1
    w2.write(*codes[0x00])                        # EOB0 ends block3
    w2.write(*codes[0x00])                        # block4
    w2.write(*codes[0x00])                        # block5
    w2.flush()
    out += jpeg._sos_hdr([(1, 0, 0)], 1, 63, 0, 0) + bytes(w2.buf)
    out += b"\xFF\xD9"

    got = jpeg.decode(bytes(out))
    # expectation: blocks 0 and 3 have AC(k=1)=1 (zigzag k=1 -> (0,1)),
    # others all-zero; dequant by the identity table, IDCT, +128
    blk = np.zeros(64)
    blk[jpeg._ZZ[1]] = 1.0
    pix = jpeg._DCT_M.T @ blk.reshape(8, 8) @ jpeg._DCT_M + 128.0
    want = np.tile(np.round(np.clip(128.0, 0, 255)), (8, 48))
    want = np.full((8, 48), 128.0)
    for b in (0, 3):
        want[:, b * 8:(b + 1) * 8] = np.clip(np.round(pix), 0, 255)
    np.testing.assert_array_equal(got, want.astype(np.uint8))


def test_progressive_rejects_invalid_scans():
    from geo_raster_spark import synth
    g = synth.image_pixels(2, 16, 16, 5)
    b = bytearray(jpeg.encode_progressive(g, 90))
    # corrupt an SOS into a multi-component AC scan header is hard to craft
    # here; instead check the public envelope: progressive encoder rejects
    # non-image shapes, decoder rejects non-baseline SOF markers
    with pytest.raises(ValueError):
        jpeg.encode_progressive(np.zeros((4, 4, 2), np.uint8))
    i = bytes(b).index(b"\xFF\xC2")
    b[i + 1] = 0xC3   # lossless sequential -> loud
    with pytest.raises(NotImplementedError, match="SOF0"):
        jpeg.decode(bytes(b))


def test_dirty_streams_always_fail_cleanly():
    """100 TB corpora contain dirty payloads: ANY truncation or single-byte
    corruption of a baseline or progressive stream must either decode or
    raise ValueError/NotImplementedError — never leak struct/index/key
    internals (executor hygiene)."""
    from geo_raster_spark import synth
    g = synth.image_pixels(3, 24, 16, 99)
    for b in (jpeg.encode(g, 85), jpeg.encode_progressive(g, 85)):
        for cut in range(2, len(b), 5):
            try:
                out = jpeg.decode(b[:cut])
                assert isinstance(out, np.ndarray)
            except (ValueError, NotImplementedError):
                pass
        rng = np.random.default_rng(7)
        for _ in range(400):
            i = int(rng.integers(2, len(b)))
            m = bytearray(b)
            m[i] = int(rng.integers(0, 256))
            try:
                out = jpeg.decode(bytes(m))
                assert isinstance(out, np.ndarray)
            except (ValueError, NotImplementedError):
                pass


def test_baseline_noninterleaved_scans_decode():
    """SOF0 with ONE SCAN PER COMPONENT (legal non-interleaved baseline,
    T.81 A.2.2): the decoder must accumulate per-component scans and
    reproduce the interleaved baseline decode EXACTLY (same coefficients,
    different scan structure); restart intervals per scan supported."""
    import struct
    from geo_raster_spark import synth
    rgb = synth.image_pixels_rgb(4, 37, 26, 13579)
    q = 90
    qt_l, qt_c = jpeg.quant_table(q), jpeg.quant_table_chroma(q)
    y, cb, cr = jpeg.rgb_to_ycbcr(rgb)
    zzs = [jpeg._plane_zz(y, qt_l), jpeg._plane_zz(cb, qt_c),
           jpeg._plane_zz(cr, qt_c)]
    h, w = rgb.shape[:2]

    def build(restart=0):
        out = bytearray(b"\xFF\xD8")
        out += (b"\xFF\xE0" + struct.pack(">H", 16)
                + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        for tq, qt in enumerate((qt_l, qt_c)):
            out += (b"\xFF\xDB" + struct.pack(">HB", 67, tq)
                    + qt.reshape(64)[jpeg._ZZ].astype(np.uint8).tobytes())
        sof = struct.pack(">BHHB", 8, h, w, 3)
        for cid, tq in ((1, 0), (2, 1), (3, 1)):
            sof += bytes([cid, 0x11, tq])
        out += b"\xFF\xC0" + struct.pack(">H", 2 + len(sof)) + sof
        out += b"\xFF\xC4" + struct.pack(
            ">HB", 2 + 1 + 16 + len(jpeg._DC_VALS), 0x00) \
            + bytes(jpeg._DC_BITS) + bytes(jpeg._DC_VALS)
        out += b"\xFF\xC4" + struct.pack(
            ">HB", 2 + 1 + 16 + len(jpeg._AC_VALS), 0x10) \
            + bytes(jpeg._AC_BITS) + bytes(jpeg._AC_VALS)
        if restart:
            out += b"\xFF\xDD" + struct.pack(">HH", 4, restart)
        for c, cid in ((0, 1), (1, 2), (2, 3)):
            zz = zzs[c].astype(np.int64)
            # sequential DC prediction within the single-component scan
            out += jpeg._sos_hdr([(cid, 0, 0)], 0, 63, 0, 0)
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(jpeg, "_entropy_vector", entropy_scalar)
                out += jpeg._encode_scan(zz, [0], restart)
        return bytes(out + b"\xFF\xD9")

    want = jpeg.decode(jpeg.encode(rgb, q))
    got = jpeg.decode(build())
    np.testing.assert_array_equal(got, want)
    got_rst = jpeg.decode(build(restart=3))
    np.testing.assert_array_equal(got_rst, want)
    # a 2-component scan stays a loud reject
    bad = bytearray(build())
    i = bytes(bad).index(b"\xFF\xDA")
    # SOS: len(2) ns(1) cid tids Ss Se AhAl -> extend to 2 comps
    bad[i + 2:i + 4] = struct.pack(">H", 10)
    bad[i + 4] = 2
    bad.insert(i + 7, 0x00)
    bad.insert(i + 7, 0x02)
    with pytest.raises((NotImplementedError, ValueError)):
        jpeg.decode(bytes(bad))
