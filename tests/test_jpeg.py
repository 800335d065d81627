"""Baseline-JPEG codec (operators/jpeg.py — VERDICT r7 #9).

The oracled query covers the bit-exact block-constant path; these
tests cover everything else: the lossy general path (live AC
coefficients) within tight error bounds, the 4:4:4 color transform,
odd dimensions (edge-replicate padding), marker strictness (loud
rejection of non-baseline streams), and the dispatch through
``decode_image``.
"""

from __future__ import annotations

import numpy as np
import pytest

from kafkatoclickhouse_spark.operators import jpeg as J
from kafkatoclickhouse_spark.operators.multimodal import decode_image


def test_block_constant_gray_is_bit_exact():
    rng = np.random.RandomState(7)
    for _ in range(8):
        by, bx = rng.randint(1, 6), rng.randint(1, 6)
        blocks = rng.randint(0, 256, (by, bx))
        img = np.kron(blocks, np.ones((8, 8), dtype=int)).astype(np.uint8)
        dec = J.decode_jpeg(J.encode_jpeg_gray(img))
        assert dec.shape == (by * 8, bx * 8, 3)
        assert (dec[..., 0] == img).all()
        assert (dec[..., 0] == dec[..., 1]).all()
        assert (dec[..., 1] == dec[..., 2]).all()


def test_lossy_gray_roundtrip_bounded():
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (24, 40)).astype(np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_gray(img))[..., 0].astype(int)
    # iid noise is JPEG's worst case; AC quantizer 16 bounds the
    # per-coefficient error at 8, concentrated by the iDCT
    assert np.abs(dec - img.astype(int)).max() <= 24
    yy, xx = np.mgrid[0:32, 0:48]
    smooth = ((np.sin(xx / 7) + np.cos(yy / 5)) * 60 + 128).astype(np.uint8)
    dec2 = J.decode_jpeg(J.encode_jpeg_gray(smooth))[..., 0].astype(int)
    assert np.abs(dec2 - smooth.astype(int)).max() <= 8


def test_color_444_roundtrip_bounded():
    yy, xx = np.mgrid[0:24, 0:32]
    img = np.stack(
        [(xx * 3 + yy * 2) % 256, (xx + yy * 5) % 256, (xx * 7) % 256],
        axis=-1,
    ).astype(np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_rgb(img)).astype(int)
    assert dec.shape == img.shape
    assert np.abs(dec - img.astype(int)).max() <= 16


def test_odd_dimensions_pad_and_crop():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (13, 21)).astype(np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_gray(img))
    assert dec.shape == (13, 21, 3)
    # constant odd-dim image: padding is edge-replicate, so every
    # block is still constant -> bit-exact even off-grid
    flat = np.full((13, 21), 201, dtype=np.uint8)
    dec2 = J.decode_jpeg(J.encode_jpeg_gray(flat))
    assert (dec2[..., 0] == flat).all()


def test_dc_prediction_across_blocks():
    """Alternating block values exercise the DC-difference predictor
    in both directions (positive and negative diffs)."""
    blocks = np.array([[10, 250, 20, 240], [235, 15, 245, 5]])
    img = np.kron(blocks, np.ones((8, 8), dtype=int)).astype(np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_gray(img))
    assert (dec[..., 0] == img).all()


def test_non_baseline_streams_rejected_loudly():
    img = np.full((8, 8), 128, dtype=np.uint8)
    enc = bytearray(J.encode_jpeg_gray(img))
    # a BASELINE scan relabeled SOF2 is invalid progressive syntax
    # (its single scan spans the DC and AC bands) — loud reject, not
    # a mis-decode through the progressive kernels
    i = bytes(enc).find(b"\xff\xc0")
    enc[i + 1] = 0xC2
    with pytest.raises(ValueError, match="band"):
        J.decode_jpeg(bytes(enc))
    # extended-sequential SOF1 stays unsupported
    enc1 = bytearray(J.encode_jpeg_gray(img))
    i = bytes(enc1).find(b"\xff\xc0")
    enc1[i + 1] = 0xC1
    with pytest.raises(ValueError, match="frame type"):
        J.decode_jpeg(bytes(enc1))
    # sampling factors on a SINGLE-component frame are meaningless
    # (hmax = hi — T.81 A.1.1): since r13 the decoder normalizes
    # them to 1x1 and decodes identically instead of raising
    enc2 = bytearray(J.encode_jpeg_gray(img))
    i = bytes(enc2).find(b"\xff\xc0")
    enc2[i + 2 + 2 + 6 + 1] = 0x22  # sampling byte of component 1
    assert np.array_equal(
        J.decode_jpeg(bytes(enc2)), J.decode_jpeg(bytes(J.encode_jpeg_gray(img)))
    )
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg(b"not a jpeg")


def test_progressive_decode_matches_baseline_gray_and_rgb():
    """r11: the four Annex G kernels (DC first/refine, AC first/
    refine) reconstruct the SAME quantized coefficients the baseline
    writer emits, so the decodes are pixel-identical."""
    rng = np.random.RandomState(17)
    for h, w in [(8, 8), (5, 12), (31, 17), (48, 48)]:
        g = rng.randint(0, 256, (h, w)).astype(np.uint8)
        assert (
            J.decode_jpeg(J.encode_jpeg_gray_progressive(g))
            == J.decode_jpeg(J.encode_jpeg_gray(g))
        ).all(), (h, w)
        c = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        assert (
            J.decode_jpeg(J.encode_jpeg_rgb_progressive(c))
            == J.decode_jpeg(J.encode_jpeg_rgb(c))
        ).all(), (h, w)


def test_progressive_block_constant_exact():
    """The same exactness carve-out as baseline: block-constant
    pixels + DC quantizer 8 decode bit-exactly through the
    progressive scan script (DC first at Al=1 + the refine bit
    reassemble the exact DC; AC scans are pure EOB runs)."""
    rng = np.random.RandomState(23)
    blocks = rng.randint(0, 256, (3, 4))
    img = np.kron(blocks, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_gray_progressive(img))
    assert (dec[..., 0] == img).all()


def test_progressive_eob_run_and_sparse_spikes():
    """Long cross-block EOB runs (smooth gradient), maximal runs
    (constant image), and ZRL-heavy sparse spikes all round-trip
    identically to baseline — the EOBRUN/ZRL/correction-bit paths."""
    rng = np.random.RandomState(29)
    yy, xx = np.mgrid[0:64, 0:56]
    smooth = ((yy * 2 + xx * 3) % 256).astype(np.uint8)
    flat = np.full((64, 64), 77, dtype=np.uint8)
    spikes = np.full((48, 48), 128, dtype=np.uint8)
    for _ in range(20):
        spikes[rng.randint(48), rng.randint(48)] = rng.randint(0, 256)
    for img in (smooth, flat, spikes):
        assert (
            J.decode_jpeg(J.encode_jpeg_gray_progressive(img))
            == J.decode_jpeg(J.encode_jpeg_gray(img))
        ).all()


def test_decode_image_dispatches_jpeg():
    blocks = np.array([[40, 90], [140, 190]])
    img = np.kron(blocks, np.ones((8, 8), dtype=int)).astype(np.uint8)
    arr = decode_image(J.encode_jpeg_gray(img))
    assert arr.shape == (16, 16, 3)
    assert (arr[..., 0] == img).all()


def test_app_and_comment_segments_skipped():
    """Real-world JPEGs carry APPn/COM segments before SOF; the
    parser must skip them transparently."""
    img = np.full((8, 8), 77, dtype=np.uint8)
    enc = J.encode_jpeg_gray(img)
    app0 = b"\xff\xe0" + (2 + 14).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
    com = b"\xff\xfe" + (2 + 5).to_bytes(2, "big") + b"hello"
    patched = enc[:2] + app0 + com + enc[2:]
    dec = J.decode_jpeg(patched)
    assert (dec[..., 0] == img).all()


def test_bitwriter_accumulator_stays_bounded():
    """``_BitWriter.put`` keeps only the bits it has not emitted yet,
    so a put costs the same however much was written before it. The
    bytes are the MSB-first packing of the codes, padded with 1-bits
    and with 0x00 stuffed after every 0xFF."""
    rng = np.random.RandomState(5)
    w = J._BitWriter()
    bits = []
    for _ in range(5000):
        length = int(rng.randint(1, 17))
        code = int(rng.randint(0, 1 << length))
        w.put(code, length)
        bits.append(format(code, f"0{length}b"))
        assert w._acc.bit_length() < 8
    s = "".join(bits)
    s += "1" * (-len(s) % 8)
    want = bytearray()
    for i in range(0, len(s), 8):
        want.append(int(s[i : i + 8], 2))
        if want[-1] == 0xFF:
            want.append(0x00)
    assert w.flush() == bytes(want)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_property_block_constant_bit_exact(by, bx, seed):
    """ANY block-constant grayscale image round-trips bit-exactly —
    the exactness carve-out holds across the whole value range, not
    just the fixture's rule."""
    rng = np.random.RandomState(seed % (2**31 - 1))
    blocks = rng.randint(0, 256, (by, bx))
    img = np.kron(blocks, np.ones((8, 8), dtype=int)).astype(np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_gray(img))
    assert (dec[..., 0] == img).all()


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_property_lossy_roundtrip_bounded_any_dims(h, w, seed):
    """ANY grayscale image at ANY dimensions (padding paths included)
    round-trips within the quantizer error bound — the general lossy
    path never produces wild pixels or crashes on odd shapes."""
    rng = np.random.RandomState(seed % (2**31 - 1))
    img = rng.randint(0, 256, (h, w)).astype(np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg_gray(img))
    assert dec.shape == (h, w, 3)
    assert np.abs(dec[..., 0].astype(int) - img.astype(int)).max() <= 24


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=2, max_value=400),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_property_malformed_streams_raise_valueerror_only(cut, seed):
    """Truncating or corrupting a valid stream at ANY point raises
    ValueError — never IndexError/KeyError/struct.error (ADVICE r8:
    the loud-rejection contract must hold for arbitrary garbage so
    decode_image's except-ValueError fallback always engages)."""
    rng = np.random.RandomState(seed % (2**31 - 1))
    img = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    payload = J.encode_jpeg_gray(img)
    cut = min(cut, len(payload) - 1)
    truncated = payload[:cut]
    corrupted = bytearray(payload)
    corrupted[cut % len(payload)] ^= 0xFF
    for stream in (truncated, bytes(corrupted), b"\xff\xd8" + bytes(rng.randint(0, 256, 64, dtype=np.uint8))):
        try:
            J.decode_jpeg(stream)
        except ValueError:
            pass


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**31 - 1),
    st.booleans(),
)
def test_property_progressive_matches_baseline(h, w, seed, color):
    """ANY image at ANY dimensions decodes pixel-identically through
    the progressive scan script and the baseline writer — the four
    Annex G kernels reconstruct the same quantized coefficients."""
    rng = np.random.RandomState(seed % (2**31 - 1))
    if color:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        prog = J.encode_jpeg_rgb_progressive(img)
        base = J.encode_jpeg_rgb(img)
    else:
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        prog = J.encode_jpeg_gray_progressive(img)
        base = J.encode_jpeg_gray(img)
    assert (J.decode_jpeg(prog) == J.decode_jpeg(base)).all()


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=2, max_value=400),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_property_malformed_progressive_raise_valueerror_only(cut, seed):
    """The loud-rejection contract holds for progressive streams too:
    truncation/corruption at ANY point raises ValueError only."""
    rng = np.random.RandomState(seed % (2**31 - 1))
    img = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    payload = J.encode_jpeg_gray_progressive(img)
    cut = min(cut, len(payload) - 1)
    corrupted = bytearray(payload)
    corrupted[cut % len(payload)] ^= 0xFF
    for stream in (payload[:cut], bytes(corrupted)):
        try:
            J.decode_jpeg(stream)
        except ValueError:
            pass


# ---------------------------------------------------------------------------
# Chroma-subsampled baseline (r13)
# ---------------------------------------------------------------------------


def test_subsampled_gray_tiles_bit_exact_all_layouts():
    """The carve-out's color extension: gray-valued 8×8-constant
    tiles in a REAL 3-component subsampled stream decode bit-exactly
    for 4:2:0, 4:2:2, and 4:4:0 — Y is DC-only, chroma is constant
    128 (zero coefficients), and nearest upsample of a constant is
    the constant."""
    rng = np.random.RandomState(11)
    for sampling in ((2, 2), (2, 1), (1, 2)):
        for bh, bw in ((2, 3), (3, 2), (4, 4)):
            blocks = rng.randint(0, 256, size=(bh, bw))
            gray = np.kron(
                blocks, np.ones((8, 8), dtype=np.int64)
            ).astype(np.uint8)
            img = np.stack([gray, gray, gray], axis=-1)
            out = J.decode_jpeg(
                J.encode_jpeg_rgb_subsampled(img, sampling)
            )
            assert np.array_equal(out, img), (sampling, bh, bw)


def test_subsampled_color_tiles_bounded():
    """16×16-constant COLOR tiles (so the box-averaged chroma is
    chroma-block-constant): the only error sources are the two
    YCbCr float round-trips — decode within ±2 per channel."""
    rng = np.random.RandomState(5)
    blocks = rng.randint(0, 256, size=(3, 4, 3))
    img = (
        np.kron(
            blocks.transpose(2, 0, 1), np.ones((16, 16), dtype=np.int64)
        )
        .transpose(1, 2, 0)
        .astype(np.uint8)
    )
    out = J.decode_jpeg(J.encode_jpeg_rgb_subsampled(img, (2, 2)))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_subsampled_dc_prediction_chains_are_per_component():
    """Distinct per-component DC predictors across many MCUs: a
    gradient of tile values makes every Y/Cb/Cr DC diff nonzero and
    different — a shared or mis-ordered predictor corrupts pixels."""
    bh, bw = 4, 6
    by, bx = np.mgrid[0:bh, 0:bw]
    gray = np.kron(
        (by * 40 + bx * 7) % 256, np.ones((8, 8), dtype=np.int64)
    ).astype(np.uint8)
    img = np.stack([gray, gray, gray], axis=-1)
    out = J.decode_jpeg(J.encode_jpeg_rgb_subsampled(img, (2, 2)))
    assert np.array_equal(out, img)


def test_subsampled_rejects_relabeled_sof2_and_bad_factors():
    import struct

    # a subsampled BASELINE scan relabeled SOF2 is invalid
    # progressive syntax (full-band interleaved scan) — it must
    # raise, not mis-decode through the r14 progressive-subsampled
    # path (which requires a real Annex G scan script)
    img = np.full((16, 16, 3), 90, dtype=np.uint8)
    payload = bytearray(J.encode_jpeg_rgb_subsampled(img, (2, 2)))
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC2  # flip SOF0 -> SOF2
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(payload))
    # non-divisor factor combos must raise (3x1 luma vs 2x1 chroma)
    payload = bytearray(J.encode_jpeg_rgb_subsampled(img, (2, 2)))
    i = payload.find(b"\xff\xc0")
    payload[i + 10 + 1] = 0x32  # luma Hi=3, Vi=2 over chroma 1x1
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(payload))


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=8, max_value=40),
    w=st.integers(min_value=8, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    sampling=st.sampled_from([(2, 2), (2, 1), (1, 2)]),
)
def test_property_subsampled_lossy_roundtrip_bounded(
    h, w, seed, sampling
):
    """Arbitrary color content at arbitrary (non-MCU-aligned) dims
    through the subsampled encode/decode: shape preserved, and the
    smooth-content error stays within the quantizer+subsample bound.
    Content is a low-frequency gradient so the chroma loss is
    dominated by averaging, not aliasing."""
    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = rng.randint(0, 120, size=3)
    img = np.stack(
        [
            (base[c] + yy * rng.randint(0, 3) + xx * rng.randint(0, 3))
            % 200
            for c in range(3)
        ],
        axis=-1,
    ).astype(np.uint8)
    out = J.decode_jpeg(J.encode_jpeg_rgb_subsampled(img, sampling))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() <= 30.0


# ---------------------------------------------------------------------------
# Restart intervals (r13)
# ---------------------------------------------------------------------------


def test_restart_gray_block_constant_bit_exact():
    """The carve-out survives restart framing: many segments, RST
    index wrapping past 7, predictor resets at every boundary."""
    rng = np.random.RandomState(21)
    for ri in (1, 2, 3, 5, 64):
        blocks = rng.randint(0, 256, size=(4, 5))
        gray = np.kron(
            blocks, np.ones((8, 8), dtype=np.int64)
        ).astype(np.uint8)
        out = J.decode_jpeg(J.encode_jpeg_gray(gray, restart_interval=ri))
        assert np.array_equal(out[..., 0], gray), ri


def test_restart_pixels_identical_to_unframed():
    """Restarts change FRAMING, not coefficients: the decoded pixels
    must equal the no-restart encode of the same image — for 4:4:4
    color and for 4:2:0 subsampled MCUs alike."""
    rng = np.random.RandomState(22)
    img = rng.randint(0, 256, size=(24, 40, 3)).astype(np.uint8)
    base = J.decode_jpeg(J.encode_jpeg_rgb(img))
    for ri in (1, 4, 7):
        got = J.decode_jpeg(J.encode_jpeg_rgb(img, restart_interval=ri))
        assert np.array_equal(got, base), ri
    sub = J.decode_jpeg(J.encode_jpeg_rgb_subsampled(img, (2, 2)))
    for ri in (1, 2):
        got = J.decode_jpeg(
            J.encode_jpeg_rgb_subsampled(img, (2, 2), restart_interval=ri)
        )
        assert np.array_equal(got, sub), ri


def test_restart_predictor_reset_is_load_bearing():
    """A missing predictor reset would corrupt every block after the
    first boundary on a DC gradient — the exact failure mode the
    reset rule exists for."""
    blocks = (np.arange(24).reshape(4, 6) * 10) % 256
    gray = np.kron(blocks, np.ones((8, 8), dtype=np.int64)).astype(
        np.uint8
    )
    out = J.decode_jpeg(J.encode_jpeg_gray(gray, restart_interval=2))
    assert np.array_equal(out[..., 0], gray)


def test_restart_malformed_rejects():
    import struct

    img = np.full((16, 16), 77, dtype=np.uint8)
    enc = J.encode_jpeg_gray(img, restart_interval=1)
    # truncate away the final restart segment: short of MCU count
    last_rst = max(
        enc.rfind(bytes([0xFF, 0xD0 + m])) for m in range(8)
    )
    with pytest.raises(ValueError):
        J.decode_jpeg(enc[: last_rst + 2] + b"\xff\xd9")
    # progressive + DRI rejects loudly
    prog = bytearray(J.encode_jpeg_gray_progressive(img))
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 2)
    i = prog.find(b"\xff\xc2")
    with pytest.raises(ValueError, match="restart"):
        J.decode_jpeg(bytes(prog[:i]) + dri + bytes(prog[i:]))


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(min_value=8, max_value=48),
    w=st.integers(min_value=8, max_value=48),
    ri=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_property_restart_matches_unframed(h, w, ri, seed):
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    a = J.decode_jpeg(J.encode_jpeg_gray(img))
    b = J.decode_jpeg(J.encode_jpeg_gray(img, restart_interval=ri))
    assert np.array_equal(a, b)


# Progressive + chroma-subsampled composition (r14, VERDICT r13 #5)


def test_progressive_subsampled_gray_tiles_bit_exact_all_layouts():
    """The exactness carve-out composed: gray block-constant tiles
    through a REAL progressive subsampled stream (4:2:0/4:2:2/4:4:0)
    decode bit-exactly — DC-only coefficients survive the 4-kernel
    scan script, the MCU pad-block discard, and the chroma
    crop+upsample."""
    for sampling in ((2, 2), (2, 1), (1, 2)):
        for bw, bh in ((2, 2), (3, 2), (2, 3), (5, 3)):
            by, bx = np.mgrid[0:bh, 0:bw]
            blocks = (bx * 13 + by * 29 + 31) % 256
            gray = np.kron(
                blocks, np.ones((8, 8), dtype=np.int64)
            ).astype(np.uint8)
            img = np.stack([gray, gray, gray], axis=-1)
            out = J.decode_jpeg(
                J.encode_jpeg_rgb_progressive_subsampled(img, sampling)
            )
            assert np.array_equal(out, img), (sampling, bw, bh)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=8, max_value=40),
    w=st.integers(min_value=8, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    sampling=st.sampled_from([(2, 2), (2, 1), (1, 2)]),
)
def test_property_progressive_subsampled_matches_baseline_subsampled(
    h, w, seed, sampling
):
    """Arbitrary color content at arbitrary (non-MCU-aligned) dims:
    the progressive subsampled encode decodes PIXEL-IDENTICAL to the
    baseline subsampled encode of the same image — the quantized
    coefficients are identical by construction, so any divergence is
    a scan-script, pad-block, or grid-mapping bug in either
    direction."""
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    base = J.decode_jpeg(J.encode_jpeg_rgb_subsampled(img, sampling))
    prog = J.decode_jpeg(
        J.encode_jpeg_rgb_progressive_subsampled(img, sampling)
    )
    assert base.shape == prog.shape == (h, w, 3)
    assert np.array_equal(base, prog)
