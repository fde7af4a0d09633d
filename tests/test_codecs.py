"""Real pure-stdlib media codecs: PNG round-trips (all supported modes and
all five scanline filters), netpbm, WAV, and the default end-to-end decode
path through the Spark mapInPandas seams."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from bi_gcp_stitch_repl_spark.functions import codecs, multimodal


def _rng(seed=7):
    return np.random.default_rng(seed)


@pytest.mark.parametrize("mode,ch", [("L", 1), ("LA", 2), ("RGB", 3), ("RGBA", 4)])
def test_png_roundtrip_all_modes(mode, ch):
    arr = _rng().integers(0, 256, size=(13, 9, ch), dtype=np.uint8)
    back, got_mode = codecs.decode_png(codecs.encode_png(arr, mode))
    assert got_mode == mode
    assert np.array_equal(back, arr)


def _encode_png_with_filters(arr: np.ndarray, filters: list[int]) -> bytes:
    """Reference filtering encoder (test-only): applies the given per-row
    filter types so the decoder's Sub/Up/Average/Paeth paths are exercised
    against independently-constructed data."""
    h, w, ch = arr.shape
    stride = w * ch
    flat = arr.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        line = flat[y]
        f = filters[y % len(filters)]
        out = np.empty(stride, dtype=np.int32)
        for i in range(stride):
            left = int(line[i - ch]) if i >= ch else 0
            up = int(prev[i])
            ul = int(prev[i - ch]) if i >= ch else 0
            pred = {
                0: 0,
                1: left,
                2: up,
                3: (left + up) // 2,
                4: codecs._paeth(left, up, ul),
            }[f]
            out[i] = (int(line[i]) - pred) % 256
        raw.append(f)
        raw.extend(out.astype(np.uint8).tobytes())
        prev = line

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        codecs.PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types():
    arr = _rng(3).integers(0, 256, size=(10, 7, 3), dtype=np.uint8)
    payload = _encode_png_with_filters(arr, [0, 1, 2, 3, 4])
    back, mode = codecs.decode_png(payload)
    assert mode == "RGB"
    assert np.array_equal(back, arr)


def test_png_rejects_unsupported():
    with pytest.raises(ValueError):
        codecs.decode_png(b"\x89PNG\r\n\x1a\njunk")
    with pytest.raises(ValueError):
        codecs.sniff_decode_image(b"GIF89a....")
    with pytest.raises(ValueError):
        codecs.sniff_decode_image(b"")


def test_netpbm_decode_with_comment():
    arr = _rng(5).integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    ppm = b"P6\n# a comment\n6 4\n255\n" + arr.tobytes()
    back, mode = codecs.decode_netpbm(ppm)
    assert mode == "RGB" and np.array_equal(back, arr)
    gray = _rng(6).integers(0, 256, size=(3, 5, 1), dtype=np.uint8)
    pgm = b"P5 5 3 255 " + gray.tobytes()
    back, mode = codecs.decode_netpbm(pgm)
    assert mode == "L" and np.array_equal(back, gray)


def test_resize_nearest_and_resize_image():
    arr = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    up = codecs.resize_nearest(arr, 8, 8)
    assert up.shape == (8, 8, 1)
    # each source pixel becomes a 2x2 block under nearest-neighbor
    assert np.array_equal(up[::2, ::2, 0], arr[:, :, 0])
    png = codecs.encode_png(_rng(9).integers(0, 256, (12, 8, 3), dtype=np.uint8))
    out = codecs.resize_image(png, 4, 6)
    back, mode = codecs.decode_png(out)
    assert back.shape == (6, 4, 3) and mode == "RGB"


def _wav_bytes(sig: np.ndarray, rate: int = 8000, nch: int = 1) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(nch)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes((sig * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def test_wav_decode_and_rms_features():
    # constant half-amplitude signal -> RMS 0.5 in every chunk
    sig = np.full(8000, 0.5)
    rate, mono = codecs.decode_wav(_wav_bytes(sig))
    assert rate == 8000 and mono.shape == (8000,)
    feats = codecs.audio_features(_wav_bytes(sig), 4)
    assert len(feats) == 4
    assert all(abs(f - 0.5) < 1e-3 for f in feats)
    # stereo averages to mono
    stereo = np.repeat(np.full(100, 0.25), 2)
    _, mono2 = codecs.decode_wav(_wav_bytes(stereo, nch=2))
    assert mono2.shape == (100,) and abs(float(mono2[0]) - 0.25) < 1e-3


def test_default_decode_path_is_real_end_to_end(spark):
    """The Spark seams decode ACTUAL media by default: real PNG dimensions,
    real WAV energy; junk payloads fall into the error-isolation rows."""
    png = codecs.encode_png(
        _rng(11).integers(0, 256, size=(17, 23, 3), dtype=np.uint8)
    )
    rows = [(1, bytearray(png)), (2, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in multimodal.decode_image_meta(df).collect()}
    assert got[1]["_decode_ok"] and (got[1]["width"], got[1]["height"]) == (23, 17)
    assert got[1]["mode"] == "RGB"
    assert not got[2]["_decode_ok"]

    resized = {r["media_id"]: r for r in multimodal.resize_images(df, 8, 5).collect()}
    assert resized[1]["_resize_ok"]
    back, _ = codecs.decode_png(bytes(resized[1]["payload"]))
    assert back.shape == (5, 8, 3)
    assert not resized[2]["_resize_ok"]

    wav = _wav_bytes(np.full(4000, 0.5))
    adf = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(b"junk"))],
        "media_id long, payload binary",
    )
    feats = {
        r["media_id"]: r
        for r in multimodal.extract_audio_features(adf, n_features=3).collect()
    }
    assert feats[1]["_extract_ok"]
    assert all(abs(f - 0.5) < 1e-3 for f in feats[1]["features"])
    assert not feats[2]["_extract_ok"]


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_property(h, w, ch, seed):
    """Any uint8 array round-trips bit-exactly through encode_png →
    decode_png, for every supported mode and shape (including 1×1)."""
    arr = np.random.default_rng(seed).integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    back, mode = codecs.decode_png(codecs.encode_png(arr))
    assert np.array_equal(back, arr)
    assert mode == {1: "L", 2: "LA", 3: "RGB", 4: "RGBA"}[ch]


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    th=st.integers(1, 32),
    tw=st.integers(1, 32),
    seed=st.integers(0, 2**31 - 1),
)
def test_resize_image_always_valid_png(h, w, th, tw, seed):
    """resize_image output is always a decodable PNG of exactly the target
    shape, for any source/target size combination (up- and down-scale)."""
    arr = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = codecs.resize_image(codecs.encode_png(arr), tw, th)
    back, mode = codecs.decode_png(out)
    assert back.shape == (th, tw, 3) and mode == "RGB"


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 500),
    nf=st.integers(1, 8),
    seed=st.integers(0, 2**31 - 1),
)
def test_audio_features_shape_and_bounds(n, nf, seed):
    """RMS features: always nf values in [0, 1] for any PCM16 signal
    length (including signals shorter than the chunk count)."""
    sig = np.random.default_rng(seed).uniform(-0.9, 0.9, size=n)
    feats = codecs.audio_features(_wav_bytes(sig), nf)
    assert len(feats) == nf
    assert all(0.0 <= f <= 1.0 for f in feats)


def test_netpbm_crlf_header_does_not_shift_pixels():
    """A CRLF-terminated header (nonconforming Windows writer) must not
    shift the raster by one byte."""
    arr = _rng(13).integers(0, 256, size=(3, 4, 3), dtype=np.uint8)
    ppm = b"P6\r\n4 3\r\n255\r\n" + arr.tobytes()
    back, mode = codecs.decode_netpbm(ppm)
    assert mode == "RGB" and np.array_equal(back, arr)


def test_netpbm_comment_between_maxval_and_raster():
    """netpbm permits header comments up to the raster delimiter; they
    must not be consumed as pixel data (ADVICE r03)."""
    arr = _rng(7).integers(0, 256, size=(2, 4, 1), dtype=np.uint8)
    pgm = b"P5\n# early\n4 2\n255\n# written by foo\n" + arr.tobytes()
    back, mode = codecs.decode_netpbm(pgm)
    assert mode == "L" and np.array_equal(back, arr)


def test_netpbm_raster_starting_with_hash_not_eaten():
    """Spec-valid image whose FIRST raster byte is 0x23 ('#'): the
    post-delimiter comment tolerance must not consume raster bytes when
    the payload is exact-size (ADVICE r04). Every pixel set to '#'
    (worst case: a hungrier skip would also mis-align later rows)."""
    arr = np.full((3, 5, 1), 0x23, np.uint8)
    pgm = b"P5\n5 3\n255\n" + arr.tobytes()
    back, mode = codecs.decode_netpbm(pgm)
    assert mode == "L" and np.array_equal(back, arr)
    # RGB variant with only the first byte '#'
    rgb = _rng(11).integers(0, 256, size=(2, 3, 3), dtype=np.uint8)
    rgb[0, 0, 0] = 0x23
    ppm = b"P6\n3 2\n255\n" + rgb.tobytes()
    back2, mode2 = codecs.decode_netpbm(ppm)
    assert mode2 == "RGB" and np.array_equal(back2, rgb)
    # and the nonconforming writer-comment case still decodes (surplus
    # bytes present → tolerance skip applies)
    pgm2 = b"P5\n5 3\n255\n# writer comment\n" + arr.tobytes()
    back3, _ = codecs.decode_netpbm(pgm2)
    assert np.array_equal(back3, arr)


def test_y4m_mono_roundtrip_exact():
    frames = [np.full((6, 8), v, np.uint8) for v in (0, 17, 255)]
    pay = codecs.encode_y4m(frames, fps=(30, 1), colorspace="mono")
    meta, dec = codecs.decode_y4m(pay)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (8, 6, 3)
    assert (meta["fps_num"], meta["fps_den"]) == (30, 1)
    for d, f in zip(dec, frames):
        assert d.shape == (6, 8, 1) and np.array_equal(d[:, :, 0], f)


def test_y4m_444_roundtrip_exact():
    rng = _rng(11)
    frames = [rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8) for _ in range(2)]
    _, dec = codecs.decode_y4m(codecs.encode_y4m(frames, colorspace="444"))
    for d, f in zip(dec, frames):
        assert np.array_equal(d, f)


def test_y4m_420_luma_exact_chroma_blocky():
    """420 chroma is subsampled top-left on encode and nearest-upsampled
    on decode: luma survives exactly; each 2x2 block shares the
    block-origin chroma sample."""
    f = _rng(3).integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    _, dec = codecs.decode_y4m(codecs.encode_y4m([f], colorspace="420jpeg"))
    d = dec[0]
    assert np.array_equal(d[:, :, 0], f[:, :, 0])
    for y in range(4):
        for x in range(6):
            assert d[y, x, 1] == f[(y // 2) * 2, (x // 2) * 2, 1]
            assert d[y, x, 2] == f[(y // 2) * 2, (x // 2) * 2, 2]


def test_y4m_rejects_truncated_and_garbage():
    pay = codecs.encode_y4m([np.zeros((4, 4), np.uint8)])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        codecs.decode_y4m(pay[:-3])
    with _pytest.raises(ValueError):
        codecs.decode_y4m(b"RIFFxxxxAVI ")
    with _pytest.raises(ValueError):
        # odd dims are illegal under 420 subsampling
        codecs.encode_y4m([np.zeros((3, 5, 3), np.uint8)], colorspace="420jpeg")


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    nf=st.integers(1, 6),
    cs=st.sampled_from(["mono", "444"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_y4m_lossless_roundtrip_property(h, w, nf, cs, seed):
    """Any stack of frames survives encode->decode bit-exact for the
    non-subsampled colorspaces, at any dims/frame count."""
    rng = np.random.default_rng(seed)
    ch = 1 if cs == "mono" else 3
    frames = [
        rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8) for _ in range(nf)
    ]
    meta, dec = codecs.decode_y4m(codecs.encode_y4m(frames, colorspace=cs))
    assert meta["n_frames"] == nf and (meta["width"], meta["height"]) == (w, h)
    for d, f in zip(dec, frames):
        assert np.array_equal(d, f)


def test_netpbm_padded_conforming_raster_starting_with_hash():
    """Review r05: a SPEC-VALID raster whose first byte is '#' followed
    by trailing padding bytes (writers/concatenators commonly pad) must
    decode from the spec position — the comment tolerance only fires
    when skipping lands exactly on a full raster."""
    arr = np.full((3, 5, 1), 0x23, np.uint8)
    pgm = b"P5\n5 3\n255\n" + arr.tobytes() + b"\n\n\n"
    back, mode = codecs.decode_netpbm(pgm)
    assert mode == "L" and np.array_equal(back, arr)
    # mixed raster (only first byte '#') with one pad byte
    arr2 = _rng(3).integers(0, 256, size=(2, 4, 1), dtype=np.uint8)
    arr2[0, 0, 0] = 0x23
    pgm2 = b"P5\n4 2\n255\n" + arr2.tobytes() + b"\n"
    back2, _ = codecs.decode_netpbm(pgm2)
    assert np.array_equal(back2, arr2)


def test_dhash64_perceptual_invariances():
    """dHash structure: a uniform brightness shift is hamming-0
    (adjacent-cell comparisons are shift-invariant BY CONSTRUCTION for
    clip-free pixels); a nearest-neighbor 2x downscale keeps the hash
    close (same box structure); a localized bright patch flips only a
    few bits; an unrelated image lands near 32; JPEG re-encode of the
    same pixels stays near; tiny/empty payloads raise."""
    import numpy as np
    import pytest as _pytest

    from bi_gcp_stitch_repl_spark.functions.codecs import (
        encode_png,
        resize_nearest,
    )
    from bi_gcp_stitch_repl_spark.functions.jpeg import encode_jpeg
    from bi_gcp_stitch_repl_spark.functions.multimodal import dhash64

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    rng = np.random.RandomState(1234)

    def blocky(seed):
        # low-frequency content: an 8x8 random grid upsampled 8x —
        # dHash's invariances (downscale, lossy re-encode) are claims
        # about STRUCTURE, not noise; a pure-noise image resampled 2x
        # samples different pixels and legitimately moves ~half its
        # bits (measured 29 — the first spelling of this test got that
        # wrong, not the hash)
        r = np.random.RandomState(seed)
        g = r.randint(40, 200, size=(8, 8, 3)).astype(np.uint8)
        return np.repeat(np.repeat(g, 8, axis=0), 8, axis=1)

    base = blocky(1)
    other = blocky(2)

    h_base = dhash64(encode_png(base, "RGB"))
    assert dhash64(encode_png(base, "RGB")) == h_base  # deterministic
    bright = (base.astype(np.int32) + 10).clip(0, 255).astype(np.uint8)
    assert ham(h_base, dhash64(encode_png(bright, "RGB"))) == 0
    small = resize_nearest(base, 32, 32)
    assert ham(h_base, dhash64(encode_png(small, "RGB"))) <= 8
    patched = base.copy()
    patched[16:32, 16:32, :] = 255
    d_patch = ham(h_base, dhash64(encode_png(patched, "RGB")))
    assert 0 < d_patch <= 14
    d_other = ham(h_base, dhash64(encode_png(other, "RGB")))
    assert d_other >= 18
    d_jpeg = ham(h_base, dhash64(encode_jpeg(base)))
    assert d_jpeg <= 10
    with _pytest.raises(ValueError):
        dhash64(b"")
    with _pytest.raises(ValueError):
        dhash64(b"\x89nonsense")


def test_image_dhash_and_near_dup_pairs(spark):
    """The distributed seam end to end: image_dhash fingerprints binary
    payloads with error isolation (junk payload -> _decode_ok=false,
    NULL hash); dhash_near_dup_pairs finds the planted near-dup pair by
    banded buckets and excludes the unrelated image; the verify column
    carries the true hamming distance."""
    import numpy as np

    from bi_gcp_stitch_repl_spark.functions.codecs import encode_png
    from bi_gcp_stitch_repl_spark.functions.multimodal import (
        dhash64,
        dhash_near_dup_pairs,
        image_dhash,
    )

    rng = np.random.RandomState(77)
    base = rng.randint(40, 200, size=(48, 48, 3)).astype(np.uint8)
    bright = (base.astype(np.int32) + 12).clip(0, 255).astype(np.uint8)
    other = rng.randint(40, 200, size=(48, 48, 3)).astype(np.uint8)
    rows = [
        (1, bytearray(encode_png(base, "RGB"))),
        (2, bytearray(encode_png(bright, "RGB"))),
        (3, bytearray(encode_png(other, "RGB"))),
        (4, bytearray(b"not an image")),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = image_dhash(df, partitions=2)
    got = {r.media_id: r for r in hashes.collect()}
    assert got[1]._decode_ok and got[2]._decode_ok and got[3]._decode_ok
    assert not got[4]._decode_ok and got[4].dhash is None
    assert not got[5]._decode_ok
    assert got[1].dhash == dhash64(bytes(rows[0][1]))  # seam ≡ kernel
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_near_dup_pairs(hashes, max_hamming=8).collect()
    }
    assert pairs == {(1, 2): 0}


def test_image_dup_clusters_composition(spark):
    """The cross-seam composition the text side ships as x_dedup_clusters,
    on images: dHash near-dup PAIRS alone under-merge (A~B, B~C must
    collapse), so the pairs feed connected_components and every planted
    brightness-shift GROUP lands in one cluster keyed by its min id —
    with the nodes= dimension, clean singletons come back as their own
    component and failed decodes stay out entirely."""
    import numpy as np

    from bi_gcp_stitch_repl_spark.functions.codecs import encode_png
    from bi_gcp_stitch_repl_spark.functions.graph import connected_components
    from bi_gcp_stitch_repl_spark.functions.multimodal import (
        dhash_near_dup_pairs,
        image_dhash,
    )

    rng = np.random.RandomState(411)
    base_a = rng.randint(40, 200, size=(32, 32, 3)).astype(np.uint8)
    base_b = rng.randint(40, 200, size=(32, 32, 3)).astype(np.uint8)
    lone = rng.randint(40, 200, size=(32, 32, 3)).astype(np.uint8)

    def shift(img, d):
        return (img.astype(np.int32) + d).clip(0, 255).astype(np.uint8)

    rows = [
        (1, bytearray(encode_png(base_a, "RGB"))),
        (2, bytearray(encode_png(shift(base_a, 10), "RGB"))),
        (3, bytearray(encode_png(shift(base_a, 20), "RGB"))),
        (10, bytearray(encode_png(base_b, "RGB"))),
        (11, bytearray(encode_png(shift(base_b, 15), "RGB"))),
        (20, bytearray(encode_png(lone, "RGB"))),
        (30, bytearray(b"junk, not an image")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = image_dhash(df, partitions=2)
    pairs = dhash_near_dup_pairs(hashes, max_hamming=8)
    ok_ids = hashes.filter("_decode_ok").select(
        hashes.media_id.alias("node")
    )
    comp = {
        r.node: r.component
        for r in connected_components(
            pairs.select("id_a", "id_b"), nodes=ok_ids
        ).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == 20
    assert 30 not in comp  # failed decode never enters the graph
    assert set(comp) == {1, 2, 3, 10, 11, 20}
