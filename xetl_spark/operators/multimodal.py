"""Multimodal columns: opaque binary payloads + typed metadata.

Reference parity: the xETL reference demonstrates image transforms as
subprocess tasks (reference README.md:66-77 grayscale example). Here
the engine treats media as first-class ``binary`` columns with a typed
metadata struct; decode / feature-extraction runs as Arrow-batched
Pandas UDFs over ``mapInPandas``.

Image decode is REAL: ``decode_stub=False`` routes PNG/PPM/PGM and
baseline-JPEG payloads through the pure-Python codecs in
``operators.imaging`` / ``operators.jpeg``
(stdlib zlib + numpy — no Pillow in this container), so grayscale /
resize / pixel-stat pipelines run end-to-end on actual pixels.
``decode_stub=True`` (default for non-image payloads like the text
fixtures) produces deterministic fake features so the Spark-side
plumbing — schema, batching, partitioning — is exercised on any
binary column. Audio/video codecs (ffmpeg) are still absent, so
frame-sampling and PCM windowing keep deterministic stand-ins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xetl_spark.operators.util import sql_ident, struct_udf

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("byte_len", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("mime", T.StringType()),
    ]
)


def attach_binary(
    df: DataFrame, payload_col: str, out_col: str = "media", mime: str = "application/octet-stream"
) -> DataFrame:
    """Promote a column to an opaque media payload: binary bytes + typed
    metadata struct (length, digest, mime). JVM-side only."""
    raw = F.encode(F.col(payload_col).cast("string"), "UTF-8")
    return df.withColumn(out_col, raw).withColumn(
        f"{out_col}_meta",
        F.struct(
            F.length(raw).cast("long").alias("byte_len"),
            F.sha2(raw, 256).alias("sha256"),
            F.lit(mime).alias("mime"),
        ),
    )


RESIZE_SCHEMA = "id long, width int, height int, resized binary"
FRAME_SCHEMA = "id long, frame_idx int, frame_ts_ms long, frame binary"


def _id_typed(df: DataFrame, id_col: str, schema: str) -> str:
    """Rewrite a mapInPandas output schema so ``id`` keeps the SOURCE
    id column's type (doc ids are longs, read_binary paths are strings
    — both are valid media keys; a hardcoded ``id long`` makes string
    keys fail deep inside Arrow with an opaque cast error)."""
    id_type = df.schema[id_col].dataType.simpleString()
    head, _, rest = schema.partition(",")
    assert head.strip().startswith("id ")
    return f"id {id_type}, {rest.strip()}"


def resize_images(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    width: int = 224,
    height: int = 224,
    decode_stub: bool = True,
) -> DataFrame:
    """Resize image payloads to (width, height) via Arrow-batched
    mapInPandas. ``decode_stub=False``: real decode (PNG/PPM via
    operators.imaging), nearest-neighbor resize, PNG re-encode.
    ``decode_stub=True``: deterministic fake payload exercising the
    same schema/batching contract on non-image bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from xetl_spark.operators import imaging

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row[media_col])
                if decode_stub:
                    out = hashlib.sha256(
                        payload + f"{width}x{height}".encode()
                    ).digest()
                else:
                    arr = imaging.decode_image(payload)
                    out = imaging.png_encode(
                        imaging.resize_nearest(arr, width, height)
                    )
                rows.append((row[id_col], width, height, out))
            yield pd.DataFrame(rows, columns=["id", "width", "height", "resized"])

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, RESIZE_SCHEMA)
    )


def grayscale_images(
    df: DataFrame, media_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """Convert image payloads to grayscale — the engine-native form of
    the reference's ``convert -colorspace Gray`` subprocess task
    (reference README.md:66-77). Real decode (PNG/PPM), BT.601 luma,
    PNG re-encode; runs as vectorized array math per image inside
    Arrow-batched mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xetl_spark.operators import imaging

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                arr = imaging.decode_image(bytes(row[media_col]))
                gray = imaging.to_grayscale(arr)
                rows.append(
                    (
                        row[id_col],
                        gray.shape[1],
                        gray.shape[0],
                        float(gray.mean()),
                        imaging.png_encode(gray),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "mean_gray", "gray_png"]
            )

    # the id column keeps its source type (doc ids are longs, file
    # paths are strings — both are valid image keys)
    id_type = T.StructType([df.schema[id_col]]).fields[0].dataType.simpleString()
    schema = f"id {id_type}, width int, height int, mean_gray double, gray_png binary"
    return df.select(id_col, media_col).mapInPandas(run, schema=schema)


def sample_frames(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    every_ms: int = 1000,
    max_frames: int = 4,
    decode_stub: bool = True,
) -> DataFrame:
    """Sample frames from video payloads (1 row in → up to max_frames
    rows out).

    ``decode_stub=False``: REAL decode for Y4M video (operators/
    video.py — grayscale luma PNGs), animated GIF (gif_decode_frames),
    animated/still WebP (webp_decode_frames), and Motion-JPEG in an
    ISO-BMFF container ('jpeg' video track: each sample is a complete
    JPEG, timestamps from the stts/mdhd tables — the camera/QuickTime
    MJPEG layout, via mediaprobe.mp4_samples + jpeg_decode). The
    animated-image containers emit fully COMPOSITED RGBA PNGs at
    their true per-frame timestamps (cumulative durations). Every
    ``every_ms`` of media time the nearest frame is emitted with its
    SOURCE frame index and timestamp. Compressed video (h264/vp9)
    would need ffmpeg and raises UnsupportedVideoError.
    ``decode_stub=True``: deterministic sha stand-in for arbitrary
    binary payloads — the 1→N expansion/timing contract without a
    parsable container."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from xetl_spark.operators import imaging, video

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row[media_col])
                if decode_stub:
                    # deterministic fake duration from content
                    n = (
                        1
                        + int.from_bytes(hashlib.sha256(payload).digest()[:2], "big")
                        % max_frames
                    )
                    for i in range(n):
                        frame = hashlib.sha256(payload + bytes([i])).digest()
                        rows.append((row[id_col], i, i * every_ms, frame))
                    continue
                if payload[:6] in (b"GIF87a", b"GIF89a"):
                    from xetl_spark.operators import gif

                    frames, durs = gif.gif_decode_frames(payload)
                    times = [0]
                    for d in durs[:-1]:
                        times.append(times[-1] + d)
                elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
                    from xetl_spark.operators import webp

                    frames, durs = webp.webp_decode_frames(payload)
                    times = [0]
                    for d in durs[:-1]:
                        times.append(times[-1] + d)
                elif len(payload) >= 12 and payload[4:8] == b"ftyp":
                    from xetl_spark.operators import jpeg, mediaprobe

                    info = mediaprobe.mp4_samples(payload)
                    tid = next(
                        (
                            k
                            for k, t in info["tracks"].items()
                            if t["handler"] == "vide" and t["codec"] in ("jpeg", "mjpa")
                        ),
                        None,
                    )
                    if tid is None:
                        raise video.UnsupportedVideoError(
                            "mp4: no MJPEG video track"
                        )
                    ts = info["tracks"][tid]["timescale"]
                    samps = sorted(
                        (s for s in info["samples"] if s["track_id"] == tid),
                        key=lambda s: s["index"],
                    )
                    frames = [jpeg.jpeg_decode(s["data"]) for s in samps]
                    times = [s["pts"] * 1000 // ts for s in samps]
                else:
                    frames, fps = video.y4m_decode(payload)
                    times = video.frame_times_ms(frames.shape[0], fps)
                emitted = 0
                target = 0
                for idx, t in enumerate(times):
                    if emitted >= max_frames:
                        break
                    if t >= target:
                        rows.append(
                            (row[id_col], idx, t, imaging.png_encode(frames[idx]))
                        )
                        emitted += 1
                        target += every_ms
            yield pd.DataFrame(
                rows, columns=["id", "frame_idx", "frame_ts_ms", "frame"]
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, FRAME_SCHEMA)
    )


AUDIO_WINDOW_SCHEMA = "id long, window_idx int, start_ms long, end_ms long, pcm binary"


def window_audio(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    window_ms: int = 1000,
    hop_ms: int = 500,
    decode_stub: bool = True,
) -> DataFrame:
    """Split audio payloads into fixed-length overlapping PCM windows
    (1 row in → ceil(duration/hop) rows out) — the audio analog of
    video frame sampling; windows feed ASR/embedding models downstream.

    ``decode_stub=False``: REAL decode for WAV/PCM payloads
    (operators/audio.py — RIFF needs no codec library): duration from
    actual sample counts, window payloads are the actual int16 sample
    slices. Compressed formats (mp3/ogg) would need ffmpeg and raise
    UnsupportedAudioError. ``decode_stub=True``: deterministic
    sha-derived stand-in for arbitrary binary payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from xetl_spark.operators import audio

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row[media_col])
                if decode_stub:
                    # deterministic fake duration from content: 1-8 hops
                    dur_ms = hop_ms * (
                        1
                        + int.from_bytes(hashlib.sha256(payload).digest()[2:4], "big")
                        % 8
                    )
                    slicer = None
                else:
                    samples, sr = audio.decode_audio(payload)
                    dur_ms = samples.shape[0] * 1000 // sr

                    def slicer(start: int, end: int, _s=samples, _sr=sr) -> bytes:
                        return audio.slice_window(_s, _sr, start, end).tobytes()

                idx = 0
                for start in range(0, dur_ms, hop_ms):
                    end = min(start + window_ms, dur_ms)
                    pcm = (
                        hashlib.sha256(payload + start.to_bytes(4, "big")).digest()
                        if slicer is None
                        else slicer(start, end)
                    )
                    rows.append((row[id_col], idx, start, end, pcm))
                    idx += 1
            yield pd.DataFrame(
                rows, columns=["id", "window_idx", "start_ms", "end_ms", "pcm"]
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, AUDIO_WINDOW_SCHEMA)
    )


def image_dhash(
    df: DataFrame, media_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit perceptual dHash per image (REAL decode) — feed the
    result to dedup.hamming_near_pairs for image near-dup detection
    at corpus scale (blocked equi-joins, never pairwise)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xetl_spark.operators import imaging

        for pdf in batches:
            rows = [
                (row[id_col], imaging.dhash(imaging.decode_image(bytes(row[media_col]))))
                for _, row in pdf.iterrows()
            ]
            yield pd.DataFrame(rows, columns=["id", "dhash"])

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, "id long, dhash long")
    )


AUDIO_FEATURE_SCHEMA = (
    "id long, window_idx int, start_ms long, end_ms long, "
    "rms double, zcr double, dom_hz double"
)


def audio_feature_windows(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    window_ms: int = 1000,
    hop_ms: int = 500,
) -> DataFrame:
    """Per-window acoustic features (RMS energy, zero-crossing rate,
    dominant frequency via rfft) over REAL WAV/PCM payloads — the
    filtering/clustering signal a speech/music training-data pipeline
    runs before transcription or embedding. 1 row in → ceil(dur/hop)
    rows out, vectorized numpy inside Arrow-batched mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xetl_spark.operators import audio

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                samples, sr = audio.decode_audio(bytes(row[media_col]))
                dur_ms = samples.shape[0] * 1000 // sr
                for idx, start in enumerate(range(0, dur_ms, hop_ms)):
                    end = min(start + window_ms, dur_ms)
                    feats = audio.window_features(samples, sr, start, end)
                    rows.append(
                        (
                            row[id_col], idx, start, end,
                            feats["rms"], feats["zcr"], feats["dom_hz"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "window_idx", "start_ms", "end_ms",
                    "rms", "zcr", "dom_hz",
                ],
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, AUDIO_FEATURE_SCHEMA)
    )


FEATURE_SCHEMA = "id long, byte_len long, width int, height int, features array<float>"


def extract_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    n_features: int = 8,
    decode_stub: bool = True,
) -> DataFrame:
    """Decode + featurize media payloads via Arrow-batched mapInPandas.

    The batch shape is the real contract: each partition streams Arrow
    record batches through the UDF; at cluster scale, partition sizing
    (maxPartitionBytes) bounds executor memory, and no data crosses the
    driver. ``decode_stub=False``: real image decode; features are the
    per-channel means + overall luma of an n_features-bucket row
    profile. ``decode_stub=True``: deterministic sha-derived stand-in
    for arbitrary (non-image) binary payloads.
    """

    def fake_decode(payload: bytes) -> tuple[int, int, list[float]]:
        # Deterministic stand-in for a codec: derive "dimensions" and a
        # feature vector from the byte content itself (sha-based, stable
        # across processes — unlike Python's salted hash()).
        import hashlib

        h = int.from_bytes(hashlib.sha256(payload).digest()[:4], "big")
        w, ht = 16 + h % 64, 16 + (h >> 8) % 64
        feats = [((h >> (i * 3)) % 1000) / 1000.0 for i in range(n_features)]
        return w, ht, feats

    def real_decode(payload: bytes) -> tuple[int, int, list[float]]:
        import numpy as np

        from xetl_spark.operators import imaging

        arr = imaging.decode_image(payload)
        gray = imaging.to_grayscale(arr).astype(np.float64)
        ht, w = gray.shape
        # n_features-bucket vertical luma profile (row-band means):
        # a tiny, deterministic "embedding" of the image's structure
        bands = np.array_split(gray, n_features, axis=0)
        feats = [float(b.mean()) / 255.0 if b.size else 0.0 for b in bands]
        return w, ht, feats

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = bytes(row[media_col])
                w, ht, feats = (fake_decode if decode_stub else real_decode)(payload)
                rows.append((row[id_col], len(payload), w, ht, feats))
            yield pd.DataFrame(
                rows, columns=["id", "byte_len", "width", "height", "features"]
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, FEATURE_SCHEMA)
    )


SCENE_SCHEMA = "id long, frame_idx int, frame_ts_ms long, mean_abs_diff double"


def scene_cuts(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    threshold: float = 30.0,
) -> DataFrame:
    """Detect scene boundaries in Y4M video payloads: emit one row per
    frame that STARTS a scene — frame 0, plus every frame whose mean
    absolute luma delta against its predecessor exceeds ``threshold``
    (the classic hard-cut detector; dissolves need windowed deltas).

    The per-video work is a vectorized numpy pass over the decoded
    luma stack inside Arrow-batched ``mapInPandas`` — per-partition,
    driver-free, memory bounded by one payload's frame stack at a
    time. Deltas are exact integer sums divided once at the end, so
    results are bit-stable across runs/partitionings. Compressed
    containers raise UnsupportedVideoError at the same call site as
    the other video ops."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xetl_spark.operators import video

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                frames, fps = video.y4m_decode(bytes(row[media_col]))
                times = video.frame_times_ms(frames.shape[0], fps)
                rows.append((row[id_col], 0, times[0], 0.0))
                if frames.shape[0] > 1:
                    a = frames.astype(np.int64)
                    # exact integer |Δ| sums per frame pair, one division
                    diffs = np.abs(a[1:] - a[:-1]).sum(axis=(1, 2))
                    per_px = diffs / (frames.shape[1] * frames.shape[2])
                    for i, d in enumerate(per_px, start=1):
                        if d > threshold:
                            rows.append((row[id_col], i, times[i], float(d)))
            yield pd.DataFrame(
                rows, columns=["id", "frame_idx", "frame_ts_ms", "mean_abs_diff"]
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, SCENE_SCHEMA)
    )


SEGMENT_SCHEMA = "id long, seg_idx int, start_ms long, end_ms long, active boolean, rms double"


def activity_segments(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    window_ms: int = 100,
    rms_threshold: float = 500.0,
) -> DataFrame:
    """Voice/tone-activity segmentation over WAV/PCM payloads: windowed
    RMS is thresholded and consecutive same-state windows merge into
    (start_ms, end_ms, active, mean rms) segments — the silence-trim /
    speech-extent primitive an audio training pipeline runs before
    transcription or tokenization.

    Per-payload work is one vectorized numpy pass (reshape into
    windows, RMS per row, run-length encode the boolean) inside
    Arrow-batched mapInPandas; exact sample counts drive the
    timestamps so segment bounds are bit-stable. Compressed audio
    (mp3/aac) raises UnsupportedAudioError at the same call site as
    the other audio ops."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xetl_spark.operators import audio

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                samples, rate = audio.decode_audio(bytes(row[media_col]))
                if samples.ndim > 1:  # mixdown for detection
                    samples = samples.mean(axis=1)
                win = max(1, rate * window_ms // 1000)
                n = len(samples) // win
                if n == 0:
                    continue
                x = samples[: n * win].astype(np.float64).reshape(n, win)
                rms = np.sqrt((x * x).mean(axis=1))
                act = rms > rms_threshold
                seg = 0
                start = 0
                for i in range(1, n + 1):
                    if i == n or act[i] != act[start]:
                        rows.append(
                            (
                                row[id_col],
                                seg,
                                start * win * 1000 // rate,
                                i * win * 1000 // rate,
                                bool(act[start]),
                                float(rms[start:i].mean()),
                            )
                        )
                        seg += 1
                        start = i
            yield pd.DataFrame(
                rows,
                columns=["id", "seg_idx", "start_ms", "end_ms", "active", "rms"],
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, SEGMENT_SCHEMA)
    )


EXIF_SCHEMA = (
    "id long, make string, model string, orientation int, "
    "datetime string, iso int, exposure_time string, pixel_x long"
)


def extract_exif(df: DataFrame, media_col: str = "media", id_col: str = "doc_id") -> DataFrame:
    """EXIF triage over a JPEG payload column (operators/exif.py —
    APP1/TIFF parse, both byte orders): the metadata-first pass a
    multimodal pipeline runs before any pixel decode (orientation for
    correct decode, capture time for dedup/ordering, camera model for
    bias audits). Arrow-batched mapInPandas, executor-side, no pixel
    work; payloads without EXIF yield NULL fields."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xetl_spark.operators import exif as ex

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                f = ex.exif_parse(bytes(row[media_col]))
                rows.append(
                    (
                        row[id_col],
                        f.get("make"),
                        f.get("model"),
                        f.get("orientation"),
                        f.get("datetime"),
                        f.get("iso"),
                        f.get("exposure_time"),
                        f.get("pixel_x"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "make", "model", "orientation",
                    "datetime", "iso", "exposure_time", "pixel_x",
                ],
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, EXIF_SCHEMA)
    )


PROBE_SCHEMA = (
    "id long, container string, width int, height int, sample_rate int, "
    "channels int, duration_ms long, bitrate_kbps int, n_frames long"
)


def probe_media(df: DataFrame, media_col: str = "media", id_col: str = "doc_id") -> DataFrame:
    """Unified media triage: sniff the container from magic bytes and
    extract stream parameters WITHOUT decoding — MP3 frame headers and
    the H.264 SPS via operators/mediaprobe.py (pure-spec, the formats
    whose full decode stays a typed Unsupported*Error), WAV fmt chunk,
    Y4M header, PNG IHDR, JPEG SOF. The ffprobe pass a training
    pipeline runs to route/filter/cost a mixed media corpus; fields
    not applicable to a container are NULL, unrecognized payloads get
    container='unknown'. O(KB) read per payload regardless of media
    size; Arrow-batched mapInPandas, executor-side."""
    import struct as _struct

    def one(payload: bytes):
        from xetl_spark.operators import audio, mediaprobe, video

        try:
            if payload[:2] == b"\xff\xd8":  # JPEG: scan for SOF dims
                i = 2
                while i < len(payload) - 9:
                    if payload[i] != 0xFF:
                        i += 1
                        continue
                    m = payload[i + 1]
                    if m in (0xC0, 0xC1, 0xC2, 0xC3):  # incl. lossless SOF3
                        h, w = _struct.unpack(">HH", payload[i + 5 : i + 9])
                        return ("jpeg", w, h, None, None, None, None, None)
                    # standalone markers carry no length field: FF fill
                    # bytes (FF FF), TEM (01), RSTn/SOI/EOI (D0-D9) —
                    # reading a length there jumps past the real SOF
                    if m == 0xFF or m == 0x01 or 0xD0 <= m <= 0xD9:
                        i += 1 if m == 0xFF else 2
                        continue
                    i += 2 + _struct.unpack(">H", payload[i + 2 : i + 4])[0]
                return ("jpeg", None, None, None, None, None, None, None)
            if payload[:8] == b"\x89PNG\r\n\x1a\n":
                w, h = _struct.unpack(">LL", payload[16:24])
                return ("png", w, h, None, None, None, None, None)
            if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
                samples, sr = audio.wav_decode(payload)
                return (
                    "wav", None, None, sr, samples.shape[1],
                    samples.shape[0] * 1000 // sr, None, None,
                )
            if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
                from xetl_spark.operators import webp as webpmod

                p = webpmod.webp_probe(payload)  # chunk walk, no decode
                return (
                    "webp", p["width"], p["height"], None, None,
                    p["duration_ms"] or None, None, p["n_frames"],
                )
            if payload[:9] == b"YUV4MPEG2":
                frames, fps = video.y4m_decode(payload)
                return (
                    "y4m", frames.shape[2], frames.shape[1], None, None,
                    frames.shape[0] * 1000 // max(fps, 1), None, frames.shape[0],
                )
            if payload[:3] == b"ID3" or (
                len(payload) > 1 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
            ):
                p = mediaprobe.mp3_probe(payload)
                return (
                    "mp3", None, None, p["sample_rate"], p["channels"],
                    p["duration_ms"], p["bitrate_kbps"], p["n_frames"],
                )
            if payload[:6] in (b"GIF87a", b"GIF89a"):
                from xetl_spark.operators import gif

                p = gif.gif_probe(payload)  # block walk, no LZW decode
                return (
                    "gif", p["width"], p["height"], None, None,
                    p["duration_ms"] or None, None, p["n_frames"],
                )
            if payload[:2] == b"BM" and len(payload) >= 54:
                w, h = _struct.unpack_from("<ii", payload, 18)
                return ("bmp", w, abs(h), None, None, None, None, None)
            if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
                from xetl_spark.operators import tiff

                p = tiff.tiff_probe(payload)  # IFD tags only, no strips
                return ("tiff", p["width"], p["height"], None, None, None, None, None)
            if payload[4:8] == b"ftyp":
                if payload[8:12] in (b"avif", b"avis", b"mif1", b"heic"):
                    from xetl_spark.operators.av1 import avif_probe

                    pa = avif_probe(payload)  # item/box headers only
                    return (
                        "avif", pa["width"], pa["height"], None, None,
                        None, None, len(pa["item_types"]),
                    )
                p = mediaprobe.mp4_probe(payload)  # box headers only
                return (
                    "mp4", p["width"], p["height"], None, None,
                    p["duration_ms"], None, p["n_tracks"],
                )
            if payload[:4] == b"\x1aE\xdf\xa3":  # EBML (WebM/MKV)
                from xetl_spark.operators import webm as webmmod

                p = webmmod.webm_probe(payload)  # element headers only
                vid = next(
                    (t for t in p["tracks"].values() if t["type"] == "video"),
                    None,
                )
                aud = next(
                    (t for t in p["tracks"].values() if t["type"] == "audio"),
                    None,
                )
                return (
                    p["container"],
                    vid["width"] if vid else None,
                    vid["height"] if vid else None,
                    int(aud["sample_rate"]) if aud and aud["sample_rate"] else None,
                    aud["channels"] if aud else None,
                    p["duration_ms"],
                    None,
                    p["n_blocks"] or None,
                )
            if payload[:4] == b"DKIF":
                p = mediaprobe.ivf_probe(payload)  # frame headers only
                return (
                    "ivf", p["width"] or None, p["height"] or None, None,
                    None, p["duration_ms"], None, p["n_frames"],
                )
            if payload[:4] == b"OggS":
                p = mediaprobe.ogg_probe(payload)  # page headers only
                return (
                    "ogg", None, None, p["sample_rate"], p["channels"],
                    p["duration_ms"], None, None,
                )
            if payload[:4] == b"fLaC":
                p = mediaprobe.flac_probe(payload)  # STREAMINFO only
                return (
                    "flac", None, None, p["sample_rate"], p["channels"],
                    p["duration_ms"], None, None,
                )
            if payload[:4] == b"\x00\x00\x00\x01" or payload[:3] == b"\x00\x00\x01":
                p = mediaprobe.h264_sps_probe(payload)
                return ("h264", p["width"], p["height"], None, None, None, None, None)
            # document containers route to extract_document_text for
            # the real extraction; triage here names them and counts
            # pages (n_frames column = the fan-out unit, as for GIF)
            if payload[:1024].find(b"%PDF-") >= 0:
                from xetl_spark.operators import pdfdoc

                p = pdfdoc.pdf_probe(payload)
                return ("pdf", None, None, None, None, None, None, p["pages"])
            if payload[:4] == b"PK\x03\x04":
                import io as _io
                import zipfile as _zipfile

                names = set(_zipfile.ZipFile(_io.BytesIO(payload)).namelist())
                if "word/document.xml" in names:
                    return ("docx", None, None, None, None, None, None, None)
                if "xl/workbook.xml" in names:
                    return ("xlsx", None, None, None, None, None, None, None)
                if "META-INF/container.xml" in names:
                    return ("epub", None, None, None, None, None, None, None)
                return ("zip", None, None, None, None, None, None, None)
        except Exception:  # malformed stream: fall through to unknown
            pass
        return ("unknown", None, None, None, None, None, None, None)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (row[id_col], *one(bytes(row[media_col])))
                for _, row in pdf.iterrows()
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "container", "width", "height", "sample_rate",
                    "channels", "duration_ms", "bitrate_kbps", "n_frames",
                ],
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, PROBE_SCHEMA)
    )


DOCTEXT_SCHEMA = "id long, fmt string, text string, pages int, err string"


def extract_document_text(
    df: DataFrame, media_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """Document-format ingestion: sniff PDF / DOCX / EPUB payloads and
    extract plain text executor-side (Arrow-batched mapInPandas over
    the pure-Python extractors in operators/pdfdoc.py and
    operators/docx.py).

    Triage semantics: per-row typed errors land in the ``err`` column
    (the row survives with NULL text) so one corrupt file can't kill a
    100 TB ingestion job — the same contract as ``probe_media``.
    ``pages`` is PDF pages / EPUB chapters / DOCX paragraphs: the unit
    a downstream chunker would fan out on."""

    def one(payload: bytes):
        from xetl_spark.operators import docx as docmod
        from xetl_spark.operators import pdfdoc

        try:
            if pdfdoc.sniff_pdf(payload):
                pages = pdfdoc.pdf_page_texts(payload)
                return ("pdf", "\f".join(pages), len(pages), None)
            if docmod.sniff_zip(payload):
                # Route by signature member, not try-each-format: a
                # malformed DOCX must report its own parse error, not the
                # downstream "missing xl/workbook.xml" of the next guess
                # (and each payload is parsed once, not up to three times).
                zf = docmod._open_zip(payload, docmod.DocxFormatError)
                names = set(zf.namelist())
                if "META-INF/container.xml" in names:
                    text = docmod.epub_text(payload)
                    return ("epub", text, text.count("\f") + 1, None)
                if "word/document.xml" in names:
                    text = docmod.docx_text(payload)
                    return ("docx", text, text.count("\n") + 1, None)
                if "xl/workbook.xml" in names:
                    # XLSX: flatten cells row-wise — tabs between cells,
                    # newlines between rows, form-feed between sheets
                    cells = docmod.xlsx_cells(payload)
                    sheets: dict[str, dict[int, list[str]]] = {}
                    for sheet, rr, _cc, text_v, num_v in cells:
                        val = text_v if text_v is not None else (
                            "" if num_v is None else f"{num_v:g}"
                        )
                        sheets.setdefault(sheet, {}).setdefault(rr, []).append(val)
                    flat = "\f".join(
                        "\n".join(
                            "\t".join(rows[rr]) for rr in sorted(rows)
                        )
                        for _s, rows in sheets.items()
                    )
                    return ("xlsx", flat, len(sheets), None)
            return (None, None, None, "unrecognized document container")
        except (
            pdfdoc.PdfFormatError,
            docmod.DocxFormatError,
            docmod.EpubFormatError,
            docmod.XlsxFormatError,
        ) as e:
            return (None, None, None, str(e))
        except Exception as e:  # noqa: BLE001 — per-row triage backstop
            # Defense in depth: the extractors' error taxonomy is typed,
            # but a malformed input reaching an untyped ValueError /
            # TypeError / RecursionError deep in a parser must still cost
            # one row, never the job. Keep the type name so untyped
            # escapes stay visible and can be promoted to typed errors.
            return (None, None, None, f"{type(e).__name__}: {e}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (row[id_col], *one(bytes(row[media_col])))
                for _, row in pdf.iterrows()
            ]
            yield pd.DataFrame(
                rows, columns=["id", "fmt", "text", "pages", "err"]
            )

    return df.select(id_col, media_col).mapInPandas(
        run, schema=_id_typed(df, id_col, DOCTEXT_SCHEMA)
    )


MEDIA_QUALITY_SCHEMA = (
    "container string, codec string, width int, height int, "
    "quality int, lossless boolean, err string"
)


def media_quality(df: DataFrame, media_col: str = "media") -> DataFrame:
    """ONE compression-quality column across every supported media
    container — the ranking/thresholding signal a crawl-scale
    curation pass filters on before any pixel work.

    Dispatch by magic bytes, all O(header) probes:
      JPEG          libjpeg quality inverted from the DQT luma table
                    (jpeg.jpeg_quality_estimate)
      WebP VP8L     lossless -> 100
      WebP VP8      quantizer index -> vp8_quality_estimate
      PNG/GIF/BMP/TIFF  lossless codings -> 100
      IVF VP80/VP90 first key frame's quantizer (vp8/vp9 estimate)
      WebM V_VP8/V_VP9  same, from the first SimpleBlock keyframe
      MP4 MJPEG     first video sample's DQT (jpeg estimate)
      MP3           bitrate banding vs the 320 kbps transparent
                    ceiling: min(100, (kbps*100 + 160) // 320)
      FLAC          lossless -> 100 (STREAMINFO header only)
      WAV           PCM/float -> 100 lossless; companded/ADPCM
                    codings band by effective bits vs 16:
                    min(100, bits*100 // 16) (G.711 8-bit -> 50,
                    IMA ADPCM 4-bit -> 25)
    Audio rows carry NULL width/height — the point of the unified
    column is that a curation pass thresholds image, video, and audio
    corpora with ONE filter. Integer-only banding arithmetic so SQL
    oracles reproduce it exactly (no float rounding ties).
    Unknown containers or streams whose first frame is undecodable get
    quality NULL with a per-row ``err`` — triage degrades, never
    fails the stage. Appends the MEDIA_QUALITY_SCHEMA columns to every
    input row, replacing same-named input columns. One Arrow-batched
    scalar pandas UDF, executor-side: only the media column crosses
    into Python."""

    def _jpeg_dims(payload: bytes):
        import struct as _st

        i = 2
        while i < len(payload) - 9:
            if payload[i] != 0xFF:
                i += 1
                continue
            m = payload[i + 1]
            if m in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB):
                h, w = _st.unpack(">HH", payload[i + 5 : i + 9])
                return w, h
            if m == 0xFF or m == 0x01 or 0xD0 <= m <= 0xD9:
                i += 1 if m == 0xFF else 2
                continue
            i += 2 + _st.unpack(">H", payload[i + 2 : i + 4])[0]
        return None, None

    def one(payload: bytes):
        from xetl_spark.operators import jpeg, mediaprobe, webm, webp

        if payload[:2] == b"\xff\xd8":
            q, _exact = jpeg.jpeg_quality_estimate(payload)
            return ("jpeg", "jpeg", *_jpeg_dims(payload), q, False)
        if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
            p = webp.webp_probe(payload)
            if p["variant"] == "vp8l":
                return ("webp", "vp8l", p["width"], p["height"], 100, True)
            if p["variant"] == "vp8":
                from xetl_spark.operators.vp8 import vp8_quality_estimate

                h = webp.webp_lossy_header(payload)
                return (
                    "webp", "vp8", p["width"], p["height"],
                    vp8_quality_estimate(h), False,
                )
            return ("webp", p["variant"], p["width"], p["height"], None, None)
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            import struct as _st

            w, hgt = _st.unpack(">LL", payload[16:24])
            return ("png", "png", w, hgt, 100, True)
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            from xetl_spark.operators import gif

            p = gif.gif_probe(payload)
            return ("gif", "lzw", p["width"], p["height"], 100, True)
        if payload[:2] == b"BM":
            import struct as _st

            w, hgt = _st.unpack_from("<ii", payload, 18)
            return ("bmp", "dib", w, abs(hgt), 100, True)
        if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
            from xetl_spark.operators import tiff

            p = tiff.tiff_probe(payload)
            return ("tiff", "tiff", p["width"], p["height"], 100, True)
        if payload[:4] == b"fLaC":
            mediaprobe.flac_probe(payload)  # validates STREAMINFO
            return ("flac", "flac", None, None, 100, True)
        if payload[:3] == b"ID3" or (
            len(payload) > 1
            and payload[0] == 0xFF
            and (payload[1] & 0xE0) == 0xE0
        ):
            p = mediaprobe.mp3_probe(payload)
            kbps = p["bitrate_kbps"]
            q = (
                min(100, (int(kbps) * 100 + 160) // 320)
                if kbps is not None
                else None
            )
            return ("mp3", "mp3", None, None, q, False)
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            import struct as _st

            fmt_code = bits = None
            pos = 12
            while pos + 8 <= len(payload):  # chunk walk, no decode
                cid = payload[pos : pos + 4]
                (csz,) = _st.unpack_from("<I", payload, pos + 4)
                if cid == b"fmt " and csz >= 16:
                    fmt_code, _ch, _sr, _br, _ba, bits = _st.unpack_from(
                        "<HHIIHH", payload, pos + 8
                    )
                    break
                pos += 8 + csz + (csz & 1)
            if fmt_code is None:
                raise ValueError("WAV without fmt chunk")
            codec = {1: "pcm", 3: "pcm", 6: "alaw", 7: "mulaw",
                     17: "adpcm"}.get(fmt_code, f"fmt{fmt_code}")
            if fmt_code in (1, 3):
                return ("wav", codec, None, None, 100, True)
            return (
                "wav", codec, None, None,
                min(100, int(bits) * 100 // 16), False,
            )
        if payload[:4] == b"DKIF":
            p = mediaprobe.ivf_probe(payload)
            if p.get("vp8_header"):
                from xetl_spark.operators.vp8 import vp8_quality_estimate

                return ("ivf", "vp8", p["width"], p["height"],
                        vp8_quality_estimate(p["vp8_header"]), False)
            if p.get("vp9_header"):
                from xetl_spark.operators.vp9 import vp9_quality_estimate

                return ("ivf", "vp9", p["width"], p["height"],
                        vp9_quality_estimate(p["vp9_header"]), False)
            return ("ivf", p["codec"].lower(), p["width"], p["height"],
                    None, None)
        if payload[:4] == b"\x1aE\xdf\xa3":
            p = webm.webm_probe(payload)
            vid = next(
                (t for t in p["tracks"].values() if t["type"] == "video"),
                None,
            )
            w = vid["width"] if vid else None
            hgt = vid["height"] if vid else None
            codec = (vid["codec"] or "").lower() if vid else None
            if p["vp8_header"]:
                from xetl_spark.operators.vp8 import vp8_quality_estimate

                return (p["container"], "vp8", w, hgt,
                        vp8_quality_estimate(p["vp8_header"]), False)
            if p["vp9_header"]:
                from xetl_spark.operators.vp9 import vp9_quality_estimate

                return (p["container"], "vp9", w, hgt,
                        vp9_quality_estimate(p["vp9_header"]), False)
            return (p["container"], codec, w, hgt, None, None)
        if len(payload) >= 12 and payload[4:8] == b"ftyp":
            if payload[8:12] in (b"avif", b"avis", b"mif1", b"heic"):
                from xetl_spark.operators.av1 import avif_probe

                pa = avif_probe(payload)
                # AV1's quantizer lives in the frame-header OBU, past
                # the documented parse boundary — dims/codec only
                return ("avif", "av1" if pa["av1"] else None,
                        pa["width"], pa["height"], None, None)
            # with_data=False: O(header) — only the one first-video
            # sample's bytes are sliced below, never the whole mdat
            info = mediaprobe.mp4_samples(payload, with_data=False)
            vid = next(
                (
                    (tid, t)
                    for tid, t in info["tracks"].items()
                    if t["handler"] == "vide"
                ),
                None,
            )
            if vid and vid[1]["codec"] in ("jpeg", "mjpa"):
                tid = vid[0]
                first = min(
                    (s for s in info["samples"] if s["track_id"] == tid),
                    key=lambda s: s["index"],
                    default=None,
                )
                if first is not None:
                    data = payload[first["offset"] : first["offset"]
                                   + first["size"]]
                    q, _ = jpeg.jpeg_quality_estimate(data)
                    w, hgt = _jpeg_dims(data)
                    return ("mp4", "mjpeg", w, hgt, q, False)
            p = mediaprobe.mp4_probe(payload)
            return ("mp4", vid[1]["codec"] if vid else None,
                    p["width"], p["height"], None, None)
        raise ValueError("unrecognized media container")

    def scored(payload):
        try:
            return (*one(bytes(payload)), None)
        except Exception as e:  # noqa: BLE001 — per-row triage
            return (None,) * 6 + (f"{type(e).__name__}: {e}"[:200],)

    names = [f.split(" ")[0] for f in MEDIA_QUALITY_SCHEMA.split(", ")]

    def _media_quality(payloads):
        return pd.DataFrame([scored(p) for p in payloads], columns=names)

    udf = struct_udf(_media_quality, MEDIA_QUALITY_SCHEMA)
    q = F.col("__mq")
    return (
        df.withColumn("__mq", udf(F.col(sql_ident(media_col))))
        .withColumns({name: q[name] for name in names})
        .drop("__mq")
    )
