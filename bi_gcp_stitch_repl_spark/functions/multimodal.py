"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Design (SURVEY §7.6 / BASELINE north_star):
- the payload is a ``binary`` column; all routing/filter/dedup decisions
  read only metadata columns (media_type, n_bytes, content hash) so the
  heavy bytes move through as few stages as possible;
- decode / feature-extraction runs inside ``mapInPandas`` — Arrow batches
  in, Arrow batches out, one Python worker per partition. Partition sizing
  is the scale lever: target ~64-256MB of payload per partition so a batch
  fits executor memory.

The DEFAULT decoders are the real pure-stdlib codecs in
``functions.codecs`` (PNG/PPM/PGM images, WAV audio, Y4M raw video) —
actual pixel dimensions, actual resampling, actual signal energy, actual
per-frame decode, no stub in the default path. The ``_stub_*`` variants remain as injectable hermetic
stand-ins for plumbing tests (and as the documented fallback pattern for
formats the stdlib can't parse); a PIL/ffmpeg deployment injects its
decoder through the same ``decoder=`` seam.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: metadata schema every multimodal table carries alongside the payload
MEDIA_META_FIELDS = [
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("content_sha256", T.StringType()),
]


def attach_payload_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Metadata columns computed JVM-side (no Python touch of the bytes)."""
    return df.withColumns(
        {
            "n_bytes": F.octet_length(F.col(payload_col)).cast("long"),
            "content_sha256": F.sha2(F.col(payload_col), 256),
        }
    )


def _stub_image_decoder(payload: bytes) -> dict:
    """Deterministic fake decoder (hermetic fallback — the DEFAULT is the
    real ``codecs.image_meta``). Emits payload-derived values so plumbing
    tests can assert exact outputs on arbitrary bytes. Raises on empty
    payloads to exercise the error-isolation path.
    """
    if not payload:
        raise ValueError("empty payload")
    return {
        "width": 1 + payload[0] % 64,
        "height": 1 + payload[-1] % 64,
        "mode": "RGB" if len(payload) % 2 == 0 else "L",
    }


def decode_image_meta(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: Callable[[bytes], dict] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Decode image payloads to (id, width, height, mode, _decode_ok).

    Failed decodes yield _decode_ok=false rows instead of failing the job
    (same error-isolation contract as the REST fan-out). ``partitions``
    resizes the payload partitioning before the Python stage.
    """
    import pandas as pd

    from .codecs import image_meta

    decoder = decoder or image_meta
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mode", T.StringType()),
            T.StructField("_decode_ok", T.BooleanType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    meta = decoder(bytes(payload) if payload is not None else b"")
                    out.append(
                        {
                            id_col: mid,
                            "width": meta["width"],
                            "height": meta["height"],
                            "mode": meta["mode"],
                            "_decode_ok": True,
                        }
                    )
                except Exception:
                    out.append(
                        {
                            id_col: mid,
                            "width": None,
                            "height": None,
                            "mode": None,
                            "_decode_ok": False,
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    src = df.select(id_col, payload_col)
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(run, schema=schema)


def _stub_image_resizer(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic fake resizer (hermetic fallback — the DEFAULT is the
    real ``codecs.resize_image``). Emits a payload-derived byte string
    whose length tracks the target area (1 byte per 64 pixels, ≥1), so
    plumbing tests can assert exact outputs on arbitrary bytes.
    """
    if not payload:
        raise ValueError("empty payload")
    n_out = max(1, (width * height) // 64)
    reps = -(-n_out // len(payload))  # ceil
    return (payload * reps)[:n_out]


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    payload_col: str = "payload",
    id_col: str = "media_id",
    resizer: Callable[[bytes, int, int], bytes] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Resize image payloads to (id, payload, width, height, _resize_ok).

    Same contract as ``decode_image_meta``: Arrow-batched ``mapInPandas``,
    failed resizes become ``_resize_ok=false`` rows (payload NULL) instead
    of failing the job. Output payload is binary — the stage composes with
    ``attach_payload_meta`` / further decode stages. ``partitions`` is the
    scale lever: resize output is smaller than input, so rebalance BEFORE
    this stage sized to the input bytes.
    """
    import pandas as pd

    from .codecs import resize_image

    resizer = resizer or resize_image
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(payload_col, T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("_resize_ok", T.BooleanType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    resized = resizer(
                        bytes(payload) if payload is not None else b"", width, height
                    )
                    out.append(
                        {
                            id_col: mid,
                            payload_col: resized,
                            "width": width,
                            "height": height,
                            "_resize_ok": True,
                        }
                    )
                except Exception:
                    out.append(
                        {
                            id_col: mid,
                            payload_col: None,
                            "width": None,
                            "height": None,
                            "_resize_ok": False,
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    src = df.select(id_col, payload_col)
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(run, schema=schema)


def _stub_audio_features(payload: bytes, n_features: int) -> list[float]:
    """Deterministic fake feature extractor (hermetic fallback — the
    DEFAULT is the real ``codecs.audio_features`` WAV RMS envelope).
    Splits the byte stream into ``n_features`` strided chunks and emits
    each chunk's mean byte value scaled to [0, 1] — a stable,
    payload-derived vector of the right shape.
    """
    if not payload:
        raise ValueError("empty payload")
    chunk = -(-len(payload) // n_features)  # ceil
    return [
        (sum(c) / len(c)) / 255.0 if (c := payload[i * chunk : (i + 1) * chunk]) else 0.0
        for i in range(n_features)
    ]


def extract_audio_features(
    df: DataFrame,
    n_features: int = 16,
    payload_col: str = "payload",
    id_col: str = "media_id",
    extractor: Callable[[bytes, int], list[float]] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Audio payloads → fixed-width feature vectors
    (id, features array<float>, _extract_ok).

    The output column has the same shape as the ``embeddings`` table's
    ``embedding`` column, so extracted features flow straight into the
    similarity stack (knn/IVF/LSH cosine, embedding near-dup) with no
    further plumbing. Failed extracts yield ``_extract_ok=false``.
    """
    import pandas as pd

    from .codecs import audio_features

    extractor = extractor or audio_features
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
            T.StructField("_extract_ok", T.BooleanType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    feats = extractor(
                        bytes(payload) if payload is not None else b"", n_features
                    )
                    out.append({id_col: mid, "features": feats, "_extract_ok": True})
                except Exception:
                    out.append({id_col: mid, "features": None, "_extract_ok": False})
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    src = df.select(id_col, payload_col)
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(run, schema=schema)


def frame_sample_plan(
    df: DataFrame,
    every_n_seconds: float,
    duration_col: str = "duration_sec",
    id_col: str = "media_id",
) -> DataFrame:
    """Video frame-sampling *plan*: one output row per (media, timestamp to
    sample). The expensive frame extraction consumes this plan via
    decode-style mapInPandas; planning is pure Catalyst (sequence +
    explode), so the shuffle that balances extraction work happens on
    small rows, never on video bytes."""
    return df.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(floor({duration_col} / {every_n_seconds}) as int)),"
                f" i -> i * cast({every_n_seconds} as double))"
            )
        ).alias("sample_ts"),
    )


def extract_video_frames(
    df: DataFrame,
    every_n_frames: int = 1,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder: Callable[[bytes], "Iterator"] | None = None,
    partitions: int | None = None,
    keep_frame_png: bool = True,
) -> DataFrame:
    """REAL video frame extraction: decode each payload's frames (DEFAULT:
    magic-byte dispatch between the pure-stdlib Y4M codec and the
    pure-numpy baseline MJPEG-AVI codec, ``jpeg.sniff_video_frames``)
    and emit one row per sampled frame — (id, frame_idx, width, height,
    n_frames, mean_luma, frame_png, _decode_ok). ``decoder`` is the
    injection seam for other containers (an ffmpeg/PyAV deployment
    yields (H, W, C) uint8 arrays through the same signature).

    Sampling is stride-based (``every_n_frames``) and PUSHED INTO the
    decoder when it accepts an ``every_n`` keyword (both defaults do):
    skipped frames come back as ``None`` after a pointer advance — no
    entropy decode, no pixel copies — while still occupying one yield,
    so ``n_frames`` counts ALL frames in the clip and downstream quality
    filters can reason about clip length without a second decode. An
    injected decoder without the keyword just decodes every frame and
    the consumer-side stride filter applies.

    Channel contract: decoders yield grayscale ``(H, W, 1)`` or RGB
    ``(H, W, 3)`` (the sniffing default normalizes Y4M's raw YUV);
    ``mean_luma`` is channel 0 for grayscale and the BT.601 luma for
    RGB, so its meaning is container-independent.

    Failed decodes yield a single ``_decode_ok=false`` row — same
    error-isolation contract as ``decode_image_meta``. Cost is per-row
    Python+numpy inside Arrow-batched ``mapInPandas``, embarrassingly
    parallel across payload partitions; ``partitions`` pre-sizes them so
    one worker never holds more than a memory-safe slice of video bytes.
    """
    import pandas as pd

    from .codecs import encode_png
    from .jpeg import sniff_video_frames

    decoder = decoder or sniff_video_frames
    # Detect stride support by SIGNATURE, not by catching TypeError from
    # the call: an eager injected decoder (not a generator function) that
    # raises TypeError internally would otherwise be silently re-invoked
    # without the stride — running its side effects twice and masking the
    # genuine bug as a signature mismatch.
    try:
        sig = inspect.signature(decoder)
        supports_stride = "every_n" in sig.parameters or any(
            p.kind is inspect.Parameter.VAR_KEYWORD for p in sig.parameters.values()
        )
    except (TypeError, ValueError):  # builtins/C callables without signatures
        supports_stride = False
    fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("frame_png", T.BinaryType()),
        T.StructField("_decode_ok", T.BooleanType()),
    ]
    schema = T.StructType(fields)
    cols = [f.name for f in fields]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            out = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    raw = bytes(payload) if payload is not None else b""
                    if supports_stride:
                        frames_iter = decoder(raw, every_n=every_n_frames)
                    else:  # injected decoder without stride keyword
                        frames_iter = decoder(raw)
                    sampled = []
                    n_total = 0
                    for idx, frame in enumerate(frames_iter):
                        n_total += 1
                        if idx % every_n_frames or frame is None:
                            continue
                        if frame.shape[2] == 1:
                            luma = frame[:, :, 0]
                        else:  # RGB → BT.601 luma
                            f64 = frame.astype(np.float64)
                            luma = (
                                0.299 * f64[:, :, 0]
                                + 0.587 * f64[:, :, 1]
                                + 0.114 * f64[:, :, 2]
                            )
                        sampled.append(
                            {
                                id_col: mid,
                                "frame_idx": idx,
                                "width": int(frame.shape[1]),
                                "height": int(frame.shape[0]),
                                "mean_luma": float(np.mean(luma)),
                                "frame_png": encode_png(
                                    frame[:, :, 0] if frame.shape[2] == 1 else frame
                                )
                                if keep_frame_png
                                else None,
                                "_decode_ok": True,
                            }
                        )
                    if not sampled:
                        raise ValueError("no frames decoded")
                    for row in sampled:
                        row["n_frames"] = n_total
                    out.extend(sampled)
                except Exception:
                    out.append(
                        {
                            id_col: mid,
                            "frame_idx": None,
                            "width": None,
                            "height": None,
                            "n_frames": None,
                            "mean_luma": None,
                            "frame_png": None,
                            "_decode_ok": False,
                        }
                    )
            yield pd.DataFrame(out, columns=cols)

    src = df.select(id_col, payload_col)
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(run, schema=schema)


def dhash64(payload: bytes) -> int:
    """64-bit difference hash (dHash) of an image payload — the standard
    perceptual fingerprint for IMAGE near-dup dedup (a re-encoded,
    resized or uniformly brightness-shifted copy keeps its hash; a
    different image lands ~32 bits away): decode (PNG/netpbm/JPEG via
    the pure-python codecs), integer luma, integer BOX-AVERAGE downscale
    to a 9×8 grid, then bit (r, c) = 1 iff grid[r][c] < grid[r][c+1].

    Deterministic end to end — every stage is integer arithmetic
    ((77R + 150G + 29B) >> 8 luma; box sums floor-divided by their pixel
    counts with integer box boundaries r·H div 8), so the hash is
    bit-portable across hosts and engines (no float resize, no library
    interpolation kernels). Brightness-shift invariance is STRUCTURAL:
    a uniform +k shifts every grid cell equally and the hash compares
    ADJACENT cells only. Returned as a SIGNED int64 (two's complement
    wrap, the x_simhash storage convention) so it lands in a BIGINT
    column.
    """
    import numpy as np

    from .codecs import sniff_decode_image

    arr, _mode = sniff_decode_image(payload)
    a = arr.astype(np.int64)
    if a.ndim == 3:
        if a.shape[2] >= 3:
            luma = (77 * a[:, :, 0] + 150 * a[:, :, 1] + 29 * a[:, :, 2]) >> 8
        else:
            luma = a[:, :, 0]
    else:
        luma = a
    h, w = luma.shape
    if h < 1 or w < 2:
        raise ValueError(f"image too small for dhash ({h}x{w})")
    # integer box-average to 8 rows x 9 cols (then 8 adjacent-col diffs)
    rows, cols = 8, 9
    ys = [(r * h) // rows for r in range(rows)] + [h]
    xs = [(c * w) // cols for c in range(cols)] + [w]
    bits = 0
    grid = [[0] * cols for _ in range(rows)]
    for r in range(rows):
        y0, y1 = ys[r], max(ys[r + 1], ys[r] + 1)
        for c in range(cols):
            x0, x1 = xs[c], max(xs[c + 1], xs[c] + 1)
            box = luma[y0:y1, x0:x1]
            grid[r][c] = int(box.sum()) // box.size
    for r in range(rows):
        for c in range(cols - 1):
            bits = (bits << 1) | (1 if grid[r][c] < grid[r][c + 1] else 0)
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits



def image_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    hasher: Callable[[bytes], int] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Perceptual fingerprints for image near-dup dedup:
    ``(id, dhash, _decode_ok)`` via Arrow-batched ``mapInPandas`` over
    binary payloads — the IMAGE complement of the text pipeline's
    simhash stage (re-encoded / resized / brightness-shifted copies keep
    their 64-bit dHash; unrelated images land ~32 bits apart). Failed
    decodes yield _decode_ok=false with a NULL hash instead of failing
    the job (the decode_image_meta error-isolation contract).

    Scale shape: embarrassingly parallel row-local decode+hash; the
    downstream pairing (:func:`dhash_near_dup_pairs`) shuffles ONLY the
    8-byte fingerprints, never pixels."""
    import pandas as pd

    hasher = hasher or dhash64
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("dhash", T.LongType()),
            T.StructField("_decode_ok", T.BooleanType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, hs, oks = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                ids.append(mid)
                try:
                    hs.append(
                        hasher(bytes(payload) if payload is not None else b"")
                    )
                    oks.append(True)
                except Exception:
                    hs.append(None)
                    oks.append(False)
            # the hash column is built as NULLABLE Int64 UP FRONT: a
            # dict-of-rows pd.DataFrame with a None coerces the column
            # to float64 AT CONSTRUCTION, silently rounding a full-range
            # 64-bit hash in its low ~11 bits (measured: ...192524 came
            # back ...192448) — and a later astype("Int64") re-wraps the
            # already-rounded floats. The metadata seams never hit this
            # because width/height are float64-exact; ANY full-width
            # integer output column must be pd.array(dtype="Int64") from
            # the start.
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "dhash": pd.array(hs, dtype="Int64"),
                    "_decode_ok": oks,
                }
            )

    src = df.select(id_col, payload_col)
    if partitions:
        src = src.repartition(partitions)
    return src.mapInPandas(run, schema=schema)


def dhash_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 8,
    id_col: str = "media_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """``(id_a, id_b, hamming)`` — image pairs within ``max_hamming``
    bits, by the banded-bucket design the text side's x_simhash_pairs
    pins: the 64-bit hash splits into 8 byte-bands; by pigeonhole any
    pair within distance 7 collides in at least one band, and wider
    radii (8-15) are still found when the flips cluster — for a HARD
    recall guarantee at max_hamming ≥ 8 widen the bands instead of
    scanning all pairs. Candidates come from band-value equi-joins
    (never an all-pairs pass, cost ∝ Σ|bucket|²) and the popcount(xor)
    verify runs once per deduped collision; only 8-byte keys shuffle.
    NULL hashes (failed decodes) drop."""
    from pyspark.sql import functions as F

    src = hashes.select(
        F.col(id_col).alias("_id"), F.col(hash_col).cast("long").alias("_h")
    ).filter(F.col("_h").isNotNull())
    band_arr = ", ".join(
        f"named_struct('b', {b}, 'v', shiftright(_h, {8 * b}) & 255)"
        for b in range(8)
    )
    bands = src.select(
        "_id", "_h", F.expr(f"explode(array({band_arr}))").alias("bv")
    ).select(
        "_id", "_h", F.col("bv.b").alias("b"), F.col("bv.v").alias("v")
    )
    bands = bands.repartition("b", "v")
    left = bands.select(
        F.col("_id").alias("id_a"), F.col("_h").alias("ha"), "b", "v"
    )
    right = bands.select(
        F.col("_id").alias("id_b"), F.col("_h").alias("hb"), "b", "v"
    )
    cand = (
        left.join(right, on=["b", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
