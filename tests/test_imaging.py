"""Pure-Python image codec (operators/imaging.py) + real-decode
multimodal path.

The reference's concrete image job is download-PNG -> `convert
-colorspace Gray` (reference README.md:50-95); these tests pin the
engine-native equivalent at pixel level: PNG/PPM round-trips, all five
PNG scanline filters on decode, BT.601 grayscale, nearest-neighbor
resize, and the grayscale_images / resize_images operators running on
real compressed bytes through mapInPandas.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from xetl_spark.operators import imaging as im

from conftest import REPO

rng = np.random.default_rng(1234)


@pytest.mark.parametrize("shape", [(7, 5, 3), (16, 16, 4), (9, 3, 1), (4, 4, 2), (1, 1, 3)])
def test_png_roundtrip(shape):
    a = rng.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(im.png_decode(im.png_encode(a)), a)


def _encode_adam7(arr: np.ndarray) -> bytes:
    """Independent Adam7 interlaced PNG writer (filter 0 per pass row)
    — the decoder under test must reassemble the seven sub-images."""
    h, w, nch = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)  # interlace=1
    body = bytearray()
    for x0, y0, dx, dy in im._ADAM7:
        sub = arr[y0::dy, x0::dx, :]
        if sub.size == 0:
            continue
        for row in sub:
            body.append(0)  # filter: None
            body.extend(row.tobytes())
    idat = zlib.compress(bytes(body), 6)

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    return (
        im.PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize(
    "shape",
    [(1, 1, 3), (3, 3, 1), (8, 8, 3), (9, 10, 4), (16, 5, 2), (7, 23, 3)],
)
def test_png_adam7_interlaced_decode(shape):
    """Adam7 decode is exact for every channel count and for sizes
    where several passes are empty (1x1 exercises the degenerate
    single-pass case)."""
    a = rng.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(im.png_decode(_encode_adam7(a)), a)


def test_png_adam7_matches_jvm_imageio(spark, tmp_path):
    """Golden cross-check: re-encode a PNG as Adam7 with the JVM's
    ImageIO writer (progressive mode) and require bit-exact decode —
    PNG is lossless, so any difference is a decoder bug."""
    a = rng.integers(0, 256, (37, 29, 3), dtype=np.uint8)
    src = str(tmp_path / "seq.png")
    with open(src, "wb") as fh:
        fh.write(im.png_encode(a))
    jvm = spark._jvm
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(src))
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    out = str(tmp_path / "adam7.png")
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(jvm.java.io.File(out))
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
    ios.close()
    writer.dispose()
    payload = open(out, "rb").read()
    assert payload[28] == 1, "JVM did not emit an interlaced PNG"
    assert np.array_equal(im.png_decode(payload), a)


def _png_chunks(ihdr: bytes, extra: list, idat_body: bytes) -> bytes:
    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    out = im.PNG_MAGIC + chunk(b"IHDR", ihdr)
    for ct, data in extra:
        out += chunk(ct, data)
    return out + chunk(b"IDAT", zlib.compress(idat_body, 6)) + chunk(b"IEND", b"")


def test_png_palette_with_transparency():
    """8-bit palette PNG: PLTE lookup + tRNS alpha → RGBA; without
    tRNS → RGB."""
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]], np.uint8)
    idx = rng.integers(0, 4, (5, 6), dtype=np.uint8)
    body = bytearray()
    for row in idx:
        body.append(0)
        body.extend(row.tobytes())
    ihdr = struct.pack(">IIBBBBB", 6, 5, 8, 3, 0, 0, 0)
    trns = bytes([255, 128, 0])  # index 3 defaults to opaque
    got = im.png_decode(
        _png_chunks(ihdr, [(b"PLTE", plte.tobytes()), (b"tRNS", trns)], bytes(body))
    )
    assert got.shape == (5, 6, 4)
    assert np.array_equal(got[:, :, :3], plte[idx])
    assert np.array_equal(got[:, :, 3], np.array([255, 128, 0, 255], np.uint8)[idx])
    rgb = im.png_decode(_png_chunks(ihdr, [(b"PLTE", plte.tobytes())], bytes(body)))
    assert np.array_equal(rgb, plte[idx])


def test_png_16bit_rounds_to_8bit():
    """16-bit RGB: big-endian sample pairs rounded to v*255/65535."""
    a16 = rng.integers(0, 65536, (4, 3, 3), dtype=np.uint16)
    body = bytearray()
    for row in a16:
        body.append(0)
        body.extend(row.astype(">u2").tobytes())
    ihdr = struct.pack(">IIBBBBB", 3, 4, 16, 2, 0, 0, 0)
    got = im.png_decode(_png_chunks(ihdr, [], bytes(body)))
    exp = ((a16.astype(np.uint32) * 255 + 32767) // 65535).astype(np.uint8)
    assert np.array_equal(got, exp)
    # 16-bit roundtrip of 8-bit-representable data is exact
    a8 = rng.integers(0, 256, (4, 3, 3), dtype=np.uint8)
    body = bytearray()
    for row in a8:
        body.append(0)
        body.extend((row.astype(np.uint16) * 257).astype(">u2").tobytes())
    assert np.array_equal(im.png_decode(_png_chunks(ihdr, [], bytes(body))), a8)


def test_png_subbyte_gray_depths():
    """1/2/4-bit grayscale: bit-packed samples scale to the full 8-bit
    range (e.g. depth-1 white = 255, depth-2 0b11 = 255)."""
    for depth in (1, 2, 4):
        w, h = 11, 3  # non-byte-aligned width exercises row padding
        maxv = (1 << depth) - 1
        vals = rng.integers(0, maxv + 1, (h, w), dtype=np.uint8)
        body = bytearray()
        for row in vals:
            bits = np.unpackbits(row[:, None], axis=1, count=8)[:, -depth:]
            packed = np.packbits(bits.flatten())
            body.append(0)
            body.extend(packed.tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
        got = im.png_decode(_png_chunks(ihdr, [], bytes(body)))
        assert np.array_equal(got[:, :, 0], vals.astype(int) * 255 // maxv), depth


def test_ppm_pgm_roundtrip():
    a = rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
    assert np.array_equal(im.ppm_decode(im.ppm_encode(a)), a)
    g = rng.integers(0, 256, (6, 8), dtype=np.uint8)
    assert np.array_equal(im.ppm_decode(im.ppm_encode(g))[:, :, 0], g)


def _encode_with_filter(arr: np.ndarray, ftype: int) -> bytes:
    """Independent PNG writer emitting a chosen filter type per row —
    exercises the decoder's unfiltering paths our encoder (filter 0)
    never produces."""
    h, w, n = arr.shape
    stride = w * n
    body = arr.reshape(h, stride).astype(np.int32)
    out = bytearray()
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        row = body[y]
        f = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            left = row[x - n] if x >= n else 0
            up = prior[x]
            ul = prior[x - n] if x >= n else 0
            if ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:  # 4: Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            f[x] = (row[x] - pred) & 0xFF
        out.append(ftype)
        out.extend(f.astype(np.uint8).tobytes())
        prior = row
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[n]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    return (
        im.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
def test_png_decode_filtered(ftype):
    a = rng.integers(0, 256, (8, 6, 3), dtype=np.uint8)
    assert np.array_equal(im.png_decode(_encode_with_filter(a, ftype)), a)


def test_unsupported_rejected():
    with pytest.raises(im.UnsupportedImageError):
        im.decode_image(b"not an image at all")
    # palette PNG (color type 3) rejected, not silently garbled
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    crc = zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    fake = (
        im.PNG_MAGIC
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(">I", crc)
    )
    with pytest.raises(im.UnsupportedImageError):
        im.png_decode(fake)


def test_grayscale_bt601():
    a = np.full((4, 4, 3), [100, 50, 200], dtype=np.uint8)
    g = im.to_grayscale(a)
    assert g.shape == (4, 4)
    assert int(g[0, 0]) == round(0.299 * 100 + 0.587 * 50 + 0.114 * 200)
    # alpha dropped, gray passthrough
    assert np.array_equal(im.to_grayscale(g), g)


def test_resize_nearest():
    a = rng.integers(0, 256, (8, 6, 3), dtype=np.uint8)
    r = im.resize_nearest(a, 3, 4)
    assert r.shape == (4, 3, 3)
    # upscale preserves corner pixels
    up = im.resize_nearest(a, 12, 16)
    assert np.array_equal(up[0, 0], a[0, 0])
    # identity resize is exact
    assert np.array_equal(im.resize_nearest(a, 6, 8), a)


def test_grayscale_images_operator(spark, sf_dir):
    """grayscale_images on real synthesized PNGs: output PNGs decode
    back to the BT.601 luma of the input pixels, exactly."""
    from xetl_spark.queries.llm_ops import _synth_images

    imgs = _synth_images(spark, sf_dir, limit=16)
    src = {int(r.doc_id): bytes(r.media) for r in imgs.collect()}
    from xetl_spark.operators.multimodal import grayscale_images

    out = grayscale_images(imgs, "media", "doc_id").collect()
    assert len(out) == len(src)
    for r in out:
        expect = im.to_grayscale(im.png_decode(src[int(r.id)]))
        got = im.png_decode(bytes(r.gray_png))[:, :, 0]
        assert np.array_equal(got, expect)
        assert abs(r.mean_gray - float(expect.mean())) < 1e-9


def test_resize_images_real_decode(spark, sf_dir):
    """resize_images(decode_stub=False) emits real PNGs at the target
    dimensions whose pixels equal a local nearest-neighbor resize."""
    from xetl_spark.queries.llm_ops import _synth_images

    imgs = _synth_images(spark, sf_dir, limit=8)
    src = {int(r.doc_id): bytes(r.media) for r in imgs.collect()}
    from xetl_spark.operators.multimodal import resize_images

    out = resize_images(imgs, "media", "doc_id", 8, 4, decode_stub=False).collect()
    for r in out:
        got = im.png_decode(bytes(r.resized))
        assert got.shape == (4, 8, 3)
        expect = im.resize_nearest(im.png_decode(src[int(r.id)]), 8, 4)
        assert np.array_equal(got, expect)


def test_fetch_grayscale_job_end_to_end(spark, tmp_path):
    """The reference README's fetch-grayscale job (README.md:79-95)
    engine-native: read_binary scans PNGs, the grayscale task decodes/
    converts/re-encodes and writes one .png per image, and the written
    files decode to the exact BT.601 luma of the sources."""
    import glob as globmod

    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job

    src = tmp_path / "source"
    src.mkdir()
    rng2 = np.random.default_rng(7)
    originals = {}
    for name in ("logo", "banner"):
        a = rng2.integers(0, 256, (12, 10, 3), dtype=np.uint8)
        originals[name] = a
        (src / f"{name}.png").write_bytes(im.png_encode(a))

    job = Job.from_yaml(
        f"""
        name: fetch-grayscale
        data: {tmp_path}
        commands:
          - {{name: download, task: read_binary,
              env: {{PATH: {src}, GLOB: "*.png"}}}}
          - {{name: to_gray, task: grayscale,
              env: {{MEDIA_COL: content, ID_COL: path,
                     OUTPUT: {tmp_path}/final}}}}
          - {{name: report, task: sql,
              env: {{QUERY: "SELECT id, width, height FROM to_gray ORDER BY id"}}}}
        """,
        basedir=str(tmp_path),
    )
    results = run_job(spark, job)
    assert [r.status for r in results] == ["success"] * 3
    rows = results[-1].output.collect()
    assert len(rows) == 2
    assert all((r.width, r.height) == (10, 12) for r in rows)
    written = sorted(globmod.glob(f"{tmp_path}/final/*.png"))
    assert [p.rsplit("/", 1)[1] for p in written] == ["banner.png", "logo.png"]
    for name, arr in originals.items():
        got = im.png_decode(open(f"{tmp_path}/final/{name}.png", "rb").read())
        assert np.array_equal(got[:, :, 0], im.to_grayscale(arr))


def test_extract_features_real_decode(spark, sf_dir):
    """extract_features(decode_stub=False): luma band-profile features
    in [0,1], true dimensions from the decoded image."""
    from xetl_spark.operators.multimodal import extract_features
    from xetl_spark.queries.llm_ops import _synth_images

    imgs = _synth_images(spark, sf_dir, limit=8)
    rows = extract_features(imgs, "media", "doc_id", decode_stub=False).collect()
    assert len(rows) == 8
    for r in rows:
        assert (r.width, r.height) == (16, 16)
        assert len(r.features) == 8
        assert all(0.0 <= f <= 1.0 for f in r.features)


def test_dhash_properties():
    """Perceptual-hash invariants: identical images hash identically;
    small pixel noise moves the hash a little; an independent random
    image sits near Hamming 32 (uncorrelated bits)."""
    r = np.random.default_rng(5)
    a = r.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    assert im.dhash(a) == im.dhash(a.copy())
    # 2x upscale is dhash-invariant (nearest-neighbor downsample hits
    # the same source pixels)
    up = im.resize_nearest(a, 64, 64)
    assert im.dhash(up) == im.dhash(a)
    noisy = a.astype(np.int16)
    ys, xs = r.integers(0, 32, 15), r.integers(0, 32, 15)
    noisy[ys, xs] += r.integers(-2, 3, (15, 3))
    noisy = np.clip(noisy, 0, 255).astype(np.uint8)
    ham_noise = bin((im.dhash(a) ^ im.dhash(noisy)) & (2**64 - 1)).count("1")
    other = np.random.default_rng(6).integers(0, 256, (32, 32, 3), dtype=np.uint8)
    ham_other = bin((im.dhash(a) ^ im.dhash(other)) & (2**64 - 1)).count("1")
    assert ham_noise <= 6, ham_noise
    assert ham_other >= 16, ham_other
    assert ham_noise < ham_other


def test_image_dhash_near_dup_query(spark, sf_dir):
    """q_dedup_image_dhash: every planted near-dup pair recovered,
    zero false positives across independent patterns."""
    from xetl_spark.queries import REGISTRY

    rows = REGISTRY["q_dedup_image_dhash"].fn(spark, sf_dir).collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    planted = set()
    for b in range(32):
        planted |= {(b, b + 32), (b, b + 64), (b + 32, b + 64)}
    assert pairs == planted


def test_multimodal_prep_example_manifest(spark, tmp_path):
    """examples/multimodal_prep.yml end-to-end on planted data: the
    image_dedup stage collapses a near-duplicate pair, grayscale
    writes files, audio_features windows the clips."""
    import shutil

    from xetl_spark.operators import audio as aud
    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job

    (tmp_path / "images").mkdir()
    (tmp_path / "audio").mkdir()
    r = np.random.default_rng(11)
    base = r.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    near = np.clip(base.astype(np.int16) + r.integers(-2, 3, base.shape), 0, 255).astype(np.uint8)
    other = np.random.default_rng(12).integers(0, 256, (24, 24, 3), dtype=np.uint8)
    for name, arr in [("a", base), ("b", near), ("c", other)]:
        (tmp_path / "images" / f"{name}.png").write_bytes(im.png_encode(arr))
    tone = (9000 * np.sin(2 * np.pi * 300 * np.arange(2000) / 1000)).astype(np.int16)
    (tmp_path / "audio" / "clip.wav").write_bytes(aud.wav_encode(tone, 1000))

    manifest = tmp_path / "job.yml"
    text = open(REPO / "examples" / "multimodal_prep.yml").read()
    text = text.replace("data: ./data", f"data: {tmp_path}")
    text = text.replace("IMAGES: ./data/images", f"IMAGES: {tmp_path}/images")
    text = text.replace("AUDIO: ./data/audio", f"AUDIO: {tmp_path}/audio")
    manifest.write_text(text)

    job = Job.from_file(str(manifest))
    results = run_job(spark, job)
    assert all(r2.status == "success" for r2 in results)
    row = results[-1].output.collect()[0]
    assert row.n_unique_images == 2  # near-dup pair collapsed to one
    assert row.n_audio_windows == 8  # 2s / 250ms hop
    shutil.rmtree(tmp_path / "gray", ignore_errors=False)


def test_grayscale_task_long_id_column(spark, tmp_path):
    """The grayscale task's OUTPUT mode works with integer id columns,
    not just string paths (stats schema follows the source id type)."""
    import pandas as pd

    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "media": [
                bytes(im.png_encode(
                    np.random.default_rng(s).integers(0, 256, (6, 6, 3), dtype=np.uint8)
                ))
                for s in (1, 2)
            ],
        }
    )
    spark.createDataFrame(pdf, "doc_id long, media binary").createOrReplaceTempView(
        "imgs_longid"
    )
    job = Job.from_yaml(
        f"""
        name: longid
        data: {tmp_path}
        commands:
          - {{name: src, task: sql, env: {{QUERY: "SELECT * FROM imgs_longid"}}}}
          - {{name: g, task: grayscale,
              env: {{MEDIA_COL: media, ID_COL: doc_id, OUTPUT: {tmp_path}/gray}}}}
        """,
        basedir=str(tmp_path),
    )
    results = run_job(spark, job)
    assert [r.status for r in results] == ["success", "success"]
    import os

    assert sorted(os.listdir(f"{tmp_path}/gray")) == ["1.png", "2.png"]


def test_png_decode_mixed_filters_per_row():
    """Real encoders mix filter types row by row; the decoder must
    handle any per-row sequence (prior-row state threading)."""
    r2 = np.random.default_rng(77)
    a = r2.integers(0, 256, (12, 5, 3), dtype=np.uint8)
    h, w, n = a.shape
    stride = w * n
    body = a.reshape(h, stride).astype(np.int32)
    ftypes = r2.integers(0, 5, size=h)  # includes filter 0
    out = bytearray()
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        row = body[y]
        ftype = int(ftypes[y])
        f = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            left = row[x - n] if x >= n else 0
            up = prior[x]
            ul = prior[x - n] if x >= n else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            f[x] = (row[x] - pred) & 0xFF
        out.append(ftype)
        out.extend(f.astype(np.uint8).tobytes())
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    payload = (
        im.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(im.png_decode(payload), a)


def test_grayscale_task_output_collision_safe(spark, tmp_path):
    """Two ids sharing a basename in different directories must not
    overwrite each other's OUTPUT file: colliding stems get a short
    content-independent suffix derived from the full id."""
    import pandas as pd

    from xetl_spark.plans.models import Job
    from xetl_spark.plans.runner import run_job

    rngc = np.random.default_rng(11)
    arrs = {
        "a/img.png": rngc.integers(0, 256, (5, 4, 3), dtype=np.uint8),
        "b/img.png": rngc.integers(0, 256, (5, 4, 3), dtype=np.uint8),
        "solo.png": rngc.integers(0, 256, (5, 4, 3), dtype=np.uint8),
    }
    pdf = pd.DataFrame(
        {
            "path": list(arrs),
            "media": [bytes(im.png_encode(a)) for a in arrs.values()],
        }
    )
    spark.createDataFrame(pdf, "path string, media binary").createOrReplaceTempView(
        "imgs_dupname"
    )
    job = Job.from_yaml(
        f"""
        name: dupname
        data: {tmp_path}
        commands:
          - {{name: src, task: sql, env: {{QUERY: "SELECT * FROM imgs_dupname"}}}}
          - {{name: g, task: grayscale,
              env: {{MEDIA_COL: media, ID_COL: path, OUTPUT: {tmp_path}/gray}}}}
        """,
        basedir=str(tmp_path),
    )
    results = run_job(spark, job)
    assert [r.status for r in results] == ["success", "success"]
    import os

    files = sorted(os.listdir(f"{tmp_path}/gray"))
    assert len(files) == 3  # no silent overwrite
    assert "solo.png" in files  # non-colliding names stay friendly
    assert sum(f.startswith("img-") for f in files) == 2
    # each suffixed file holds its OWN source's grayscale
    for full_id, arr in arrs.items():
        if full_id == "solo.png":
            continue
        import hashlib

        suffix = hashlib.sha1(full_id.encode()).hexdigest()[:8]
        got = im.png_decode(open(f"{tmp_path}/gray/img-{suffix}.png", "rb").read())
        assert np.array_equal(got[:, :, 0], im.to_grayscale(arr))
