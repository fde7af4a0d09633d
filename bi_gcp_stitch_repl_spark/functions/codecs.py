"""Pure-stdlib media codecs: real PNG / PPM / PGM image decode+encode and
real WAV audio decode, with zero third-party dependencies.

These are the REAL decoders behind ``functions.multimodal``'s Arrow-batched
seams (the container has no PIL/ffmpeg/librosa, but PNG is just zlib +
per-scanline unfiltering, netpbm is a header + raw bytes, and WAV is
stdlib ``wave``). Production deployments with PIL installed can still
inject it through the same ``decoder=`` seam — the point of this module is
that the DEFAULT path decodes actual media end-to-end, not a stub.

Scale notes: these functions run inside ``mapInPandas`` workers, one call
per payload, so their cost is per-row Python+numpy — fine for metadata
extraction and thumbnail-class resizing. A throughput-critical 100 TB
decode pass would swap in a C-backed codec via the same seam; nothing in
the Spark-side plumbing changes.

Format support (deliberately the safe core, loudly rejecting the rest):
- PNG: 8-bit depth, color types 0/2/4/6 (gray, RGB, gray+alpha, RGBA),
  non-interlaced, all five scanline filters. Encoder emits filter-0 RGB/
  gray/alpha variants with correct CRCs — round-trips through any PNG
  reader.
- PPM (P6) / PGM (P5): binary, maxval 255.
- WAV: PCM 8/16/32-bit via stdlib ``wave``; channels averaged to mono.
- Y4M (YUV4MPEG2) video: uncompressed planar YUV — mono / C444 / C422 /
  C420(jpeg|mpeg2|paldv) streams, lazy per-frame decode with nearest
  chroma upsample, plus an encoder for synthesis/tests. Y4M is the
  standard raw-video interchange format (mjpegtools/ffmpeg), so the
  DEFAULT video path decodes real frames; compressed containers (MP4,
  AVI) inject a real demuxer/codec through the same seam.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: (channels, mode name) per PNG color type we support
_PNG_COLOR = {0: (1, "L"), 2: (3, "RGB"), 4: (2, "LA"), 6: (4, "RGBA")}
_MODE_COLOR = {mode: (ct, ch) for ct, (ch, mode) in _PNG_COLOR.items()}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> tuple[np.ndarray, str]:
    """PNG bytes → ((H, W, C) uint8 array, mode). Raises ValueError on
    anything outside the supported core (see module docstring)."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, color, idat = 8, None, None, None, []
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if color not in _PNG_COLOR:
                raise ValueError(f"unsupported color type {color}")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    ch, mode = _PNG_COLOR[color]
    raw = zlib.decompress(b"".join(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise ValueError("bad scanline data length")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).copy()
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub — sequential in x, per channel offset
            for i in range(ch, stride):
                line[i] = (int(line[i]) + int(line[i - ch])) & 0xFF
        elif ftype == 2:  # Up — fully vectorized
            line = (line.astype(np.uint16) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            for i in range(stride):
                left = int(line[i - ch]) if i >= ch else 0
                line[i] = (int(line[i]) + (left + int(prev[i])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = int(line[i - ch]) if i >= ch else 0
                ul = int(prev[i - ch]) if i >= ch else 0
                line[i] = (int(line[i]) + _paeth(left, int(prev[i]), ul)) & 0xFF
        else:
            raise ValueError(f"bad filter type {ftype}")
        out[y] = line
        prev = out[y]
    return out.reshape(height, width, ch), mode


def encode_png(arr: np.ndarray, mode: str | None = None) -> bytes:
    """(H, W[, C]) uint8 array → PNG bytes (filter 0, correct CRCs)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    if mode is None:
        mode = {1: "L", 2: "LA", 3: "RGB", 4: "RGBA"}[ch]
    color, want_ch = _MODE_COLOR[mode]
    if ch != want_ch:
        raise ValueError(f"mode {mode} needs {want_ch} channels, got {ch}")

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    # filter byte 0 prepended per scanline
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_netpbm(payload: bytes) -> tuple[np.ndarray, str]:
    """P6 (PPM, RGB) / P5 (PGM, gray) binary → ((H, W, C) uint8, mode)."""
    magic = payload[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM")
    # header: magic, width, height, maxval — whitespace/comment separated
    vals: list[int] = []
    i = 2
    while len(vals) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        vals.append(int(payload[i:j]))
        i = j
    # single whitespace delimiter after maxval; tolerate a CRLF pair
    # (nonconforming but common from Windows writers) — consuming only
    # the '\r' would shift every pixel by one byte, silently
    i += 2 if payload[i : i + 2] == b"\r\n" else 1
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    ch, mode = (3, "RGB") if magic == b"P6" else (1, "L")
    # Some nonconforming writers emit a comment line BETWEEN the maxval
    # delimiter and the raster ("255\n# written by foo\n<raster>"). Per
    # spec the raster starts here, so a conforming image whose first
    # raster byte happens to be 0x23 ('#') must NOT be eaten — including
    # one with trailing padding bytes after the raster (a surplus-bytes
    # gate alone would still eat it). The skip is therefore applied only
    # when it lands EXACTLY on a full raster (strong evidence the '#'
    # line really was a writer comment); any other shape takes the
    # raster as-is from the spec-mandated position. The one remaining
    # ambiguous input — a writer comment AND trailing padding — is
    # doubly nonconforming and decodes from the spec position.
    need = h * w * ch
    if payload[i : i + 1] == b"#" and len(payload) - i != need:
        j = i
        # line-by-line with an early stop the moment the remainder is
        # exactly one raster — otherwise a raster whose rows ALSO start
        # with '#' would be walked through as "comments"
        while payload[j : j + 1] == b"#" and len(payload) - j != need:
            while j < len(payload) and payload[j] != 0x0A:
                j += 1
            j += 1
        if len(payload) - j == need:
            i = j
    pix = np.frombuffer(payload, dtype=np.uint8, count=h * w * ch, offset=i)
    return pix.reshape(h, w, ch).copy(), mode


def sniff_decode_image(payload: bytes) -> tuple[np.ndarray, str]:
    """Magic-byte dispatch → ((H, W, C) uint8, mode)."""
    if not payload:
        raise ValueError("empty payload")
    if payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload[:2] in (b"P6", b"P5"):
        return decode_netpbm(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise ValueError("unrecognized image format")


def image_meta(payload: bytes) -> dict:
    """Real decoder for the ``decode_image_meta`` seam: actual pixel
    dimensions + mode from the payload's own header/content."""
    arr, mode = sniff_decode_image(payload)
    return {"width": arr.shape[1], "height": arr.shape[0], "mode": mode}


def resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample to (height, width)."""
    h, w = arr.shape[:2]
    ys = np.minimum((np.arange(height) * h) // height, h - 1)
    xs = np.minimum((np.arange(width) * w) // width, w - 1)
    return arr[np.ix_(ys, xs)]


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Real resizer for the ``resize_images`` seam: decode (PNG/netpbm),
    nearest-neighbor resample, re-encode as PNG — output is a valid image
    any downstream reader (or a second decode stage) accepts."""
    arr, mode = sniff_decode_image(payload)
    return encode_png(resize_nearest(arr, width, height), mode)


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """WAV bytes → (sample_rate, mono float64 signal in [-1, 1])."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        rate, nch, sw = wf.getframerate(), wf.getnchannels(), wf.getsampwidth()
        frames = wf.readframes(wf.getnframes())
    if sw == 1:  # unsigned 8-bit
        sig = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif sw == 2:
        sig = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 4:
        sig = np.frombuffer(frames, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported sample width {sw}")
    if nch > 1:
        sig = sig.reshape(-1, nch).mean(axis=1)
    return rate, sig


Y4M_SIG = b"YUV4MPEG2"

#: colorspace tag → (chroma width divisor, chroma height divisor);
#: None = no chroma planes (mono). The three 420 tags differ only in
#: chroma *siting* (sample positions), not plane sizes — identical for
#: decode purposes here.
_Y4M_CHROMA: dict[str, tuple[int, int] | None] = {
    "mono": None,
    "420": (2, 2),
    "420jpeg": (2, 2),
    "420mpeg2": (2, 2),
    "420paldv": (2, 2),
    "422": (2, 1),
    "444": (1, 1),
}


def _parse_y4m_header(payload: bytes) -> tuple[dict, int]:
    """Y4M stream header → (meta dict, offset of first FRAME marker).

    Header is one ASCII line: ``YUV4MPEG2 W<w> H<h> F<num>:<den> [Ip]
    [A<n>:<d>] [C<cs>] [X<app>]\\n``. W and H are required; F defaults
    to 25:1 and C to 420jpeg per the mjpegtools convention."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(Y4M_SIG):
        raise ValueError("not a Y4M stream")
    meta = {"fps_num": 25, "fps_den": 1, "colorspace": "420jpeg"}
    width = height = None
    for tok in payload[len(Y4M_SIG) : nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:].decode("ascii", "replace")
        if tag == b"W":
            width = int(val)
        elif tag == b"H":
            height = int(val)
        elif tag == b"F":
            num, den = val.split(":")
            meta["fps_num"], meta["fps_den"] = int(num), int(den)
        elif tag == b"C":
            meta["colorspace"] = val
        # I (interlacing), A (aspect), X (app-specific): irrelevant to
        # plane layout — accepted and ignored
    if width is None or height is None:
        raise ValueError("Y4M header missing W or H")
    cs = meta["colorspace"]
    if cs not in _Y4M_CHROMA:
        raise ValueError(f"unsupported Y4M colorspace C{cs}")
    if _Y4M_CHROMA[cs] is not None:
        cw, chh = _Y4M_CHROMA[cs]
        if width % cw or height % chh:
            raise ValueError(f"C{cs} needs dims divisible by ({cw},{chh})")
    meta["width"], meta["height"] = width, height
    return meta, nl + 1


def iter_y4m_frames(payload: bytes, every_n: int = 1):
    """Lazily yield ``(H, W, C) uint8`` frames from a Y4M stream — C=1
    for mono, C=3 (YUV, chroma nearest-upsampled to full resolution)
    otherwise. ``every_n`` pushes stride sampling INTO the decoder:
    skipped frames yield ``None`` after a pure pointer advance (no
    frombuffer, no copies, no upsample) — the consumer still sees one
    yield per frame so clip-length accounting stays exact."""
    meta, pos = _parse_y4m_header(payload)
    w, h, cs = meta["width"], meta["height"], meta["colorspace"]
    chroma = _Y4M_CHROMA[cs]
    y_size = w * h
    if chroma is None:
        c_w = c_h = c_size = 0
    else:
        c_w, c_h = w // chroma[0], h // chroma[1]
        c_size = c_w * c_h
    frame_bytes = y_size + 2 * c_size
    idx = 0
    while pos < len(payload):
        nl = payload.find(b"\n", pos)
        if nl < 0 or not payload[pos : pos + 5] == b"FRAME":
            raise ValueError("bad FRAME marker")
        data_start = nl + 1
        if data_start + frame_bytes > len(payload):
            raise ValueError("truncated Y4M frame")
        if idx % every_n:
            yield None
            idx += 1
            pos = data_start + frame_bytes
            continue
        idx += 1
        yp = np.frombuffer(payload, np.uint8, y_size, data_start).reshape(h, w)
        if chroma is None:
            yield yp[:, :, None].copy()
        else:
            u = np.frombuffer(
                payload, np.uint8, c_size, data_start + y_size
            ).reshape(c_h, c_w)
            v = np.frombuffer(
                payload, np.uint8, c_size, data_start + y_size + c_size
            ).reshape(c_h, c_w)
            # nearest-neighbor chroma upsample to full resolution
            u = np.repeat(np.repeat(u, chroma[1], 0), chroma[0], 1)
            v = np.repeat(np.repeat(v, chroma[1], 0), chroma[0], 1)
            yield np.stack([yp, u, v], axis=2)
        pos = data_start + frame_bytes


def yuv_to_rgb(frame: np.ndarray) -> np.ndarray:
    """(H, W, 3) full-range YUV (BT.601, JFIF convention — the same
    matrix the JPEG codec uses) → (H, W, 3) uint8 RGB."""
    f = frame.astype(np.float64)
    y, u, v = f[:, :, 0], f[:, :, 1] - 128.0, f[:, :, 2] - 128.0
    rgb = np.stack(
        [y + 1.402 * v, y - 0.344136 * u - 0.714136 * v, y + 1.772 * u],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def decode_y4m(payload: bytes) -> tuple[dict, list[np.ndarray]]:
    """Y4M bytes → (meta, frames). Meta carries width/height/fps/
    colorspace/n_frames; frames as in :func:`iter_y4m_frames`."""
    meta, _ = _parse_y4m_header(payload)
    frames = list(iter_y4m_frames(payload))
    meta["n_frames"] = len(frames)
    return meta, frames


def encode_y4m(
    frames: list[np.ndarray],
    fps: tuple[int, int] = (25, 1),
    colorspace: str = "mono",
) -> bytes:
    """(H, W[, C]) uint8 frames → Y4M bytes. mono takes 1-channel (or
    2-D) frames; 444/422/420* take (H, W, 3) YUV and subsample chroma by
    top-left nearest — the exact inverse of the decoder's upsample."""
    chroma = _Y4M_CHROMA[colorspace]
    first = np.asarray(frames[0], dtype=np.uint8)
    h, w = first.shape[:2]
    if chroma is not None and (w % chroma[0] or h % chroma[1]):
        raise ValueError(f"C{colorspace} needs dims divisible by {chroma}")
    head = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C{colorspace}\n"
    out = [head.encode("ascii")]
    for fr in frames:
        fr = np.asarray(fr, dtype=np.uint8)
        if fr.ndim == 2:
            fr = fr[:, :, None]
        if fr.shape[:2] != (h, w):
            raise ValueError("all frames must share dimensions")
        out.append(b"FRAME\n")
        if chroma is None:
            if fr.shape[2] != 1:
                raise ValueError("mono needs 1-channel frames")
            out.append(fr[:, :, 0].tobytes())
        else:
            if fr.shape[2] != 3:
                raise ValueError(f"C{colorspace} needs 3-channel YUV frames")
            out.append(fr[:, :, 0].tobytes())
            out.append(fr[:: chroma[1], :: chroma[0], 1].tobytes())
            out.append(fr[:: chroma[1], :: chroma[0], 2].tobytes())
    return b"".join(out)


def audio_features(payload: bytes, n_features: int) -> list[float]:
    """Real extractor for the ``extract_audio_features`` seam: per-chunk
    RMS energy over ``n_features`` equal time slices of the decoded mono
    signal — the standard cheap envelope descriptor (MFCCs slot in here
    when a real DSP stack is present). Deterministic: fixed chunking, IEEE
    ops in fixed order."""
    _rate, sig = decode_wav(payload)
    if sig.size == 0:
        raise ValueError("empty audio signal")
    bounds = (np.arange(n_features + 1) * sig.size) // n_features
    return [
        float(np.sqrt(np.mean(np.square(sig[bounds[i] : bounds[i + 1]]))))
        if bounds[i + 1] > bounds[i]
        else 0.0
        for i in range(n_features)
    ]
