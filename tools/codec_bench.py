"""Measure single-core encode/decode throughput for every pure-Python
codec and write CODECS.md — the measured-evidence companion to the
multimodal coverage claims (the Avro flat-schema path has carried such
a contract since round 6; this extends it to the whole codec matrix).

Numbers are per-core: in a Spark job each document decodes
independently inside its Arrow batch on an executor core, so cluster
throughput is (per-core MB/s) x (cores busy decoding).

Usage: python tools/codec_bench.py
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import numpy as np

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _mbps(nbytes: int, fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return nbytes / best / 1e6


def main() -> int:
    from xetl_spark.operators import gif, imaging, jpeg, tiff
    from xetl_spark.operators.audio import wav_decode, wav_encode
    from xetl_spark.operators.video import y4m_decode, y4m_encode
    from xetl_spark.sources import snappy
    from xetl_spark.sources.avro import encode_container, parse_container

    rng = np.random.default_rng(7)
    # photographic-ish plane: smooth gradient + noise (worst-case pure
    # noise is unrepresentative; pure flat is too easy)
    yy, xx = np.mgrid[0:256, 0:384]
    img = np.clip(
        np.stack([yy + xx, 2 * yy, 2 * xx], axis=2) % 256 + rng.normal(0, 12, (256, 384, 3)),
        0, 255,
    ).astype(np.uint8)
    raw = img.nbytes

    rows: list[tuple[str, str, float]] = []

    def bench(name: str, direction: str, nbytes: int, fn) -> None:
        rows.append((name, direction, _mbps(nbytes, fn)))

    # --- images (throughput measured against RAW pixel bytes moved)
    png = imaging.png_encode(img)
    bench("PNG", "encode", raw, lambda: imaging.png_encode(img))
    bench("PNG", "decode", raw, lambda: imaging.png_decode(png))
    bmp = imaging.bmp_encode(img)
    bench("BMP", "encode", raw, lambda: imaging.bmp_encode(img))
    bench("BMP", "decode", raw, lambda: imaging.bmp_decode(bmp))
    jb = jpeg.jpeg_encode(img, 85)
    bench("JPEG baseline", "encode", raw, lambda: jpeg.jpeg_encode(img, 85))
    bench("JPEG baseline", "decode", raw, lambda: jpeg.jpeg_decode(jb))
    jp = jpeg.jpeg_encode(img, 85, progressive=True)
    bench("JPEG progressive", "decode", raw, lambda: jpeg.jpeg_decode(jp))
    jl = jpeg.jpeg_lossless_encode(img)
    bench("JPEG lossless", "decode", raw, lambda: jpeg.jpeg_decode(jl))
    j12 = jpeg.jpeg_encode(img.astype(np.uint16) << 4, 85, bits=12)
    bench("JPEG 12-bit", "decode", raw * 2, lambda: jpeg.jpeg_decode(j12))
    jh = jpeg.jpeg_encode_hierarchical(img, levels=3, quality=85)
    bench("JPEG hierarchical", "decode", raw, lambda: jpeg.jpeg_decode(jh))
    ja = jpeg.jpeg_encode(img, 85, arithmetic=True)
    bench("JPEG arithmetic (SOF9)", "decode", raw, lambda: jpeg.jpeg_decode(ja))
    jap = jpeg.jpeg_encode(img, 85, arithmetic=True, progressive=True)
    bench("JPEG arith progressive (SOF10)", "decode", raw, lambda: jpeg.jpeg_decode(jap))
    jal = jpeg.jpeg_lossless_encode(img, arithmetic=True)
    bench("JPEG arith lossless (SOF11)", "decode", raw, lambda: jpeg.jpeg_decode(jal))
    jah = jpeg.jpeg_encode_hierarchical(img, levels=3, quality=85, arithmetic=True)
    bench("JPEG arith hierarchical (SOF9+SOF13)", "decode", raw,
          lambda: jpeg.jpeg_decode(jah))
    jhl = jpeg.jpeg_encode_hierarchical_lossless(img[:64, :96], levels=2)
    bench("JPEG lossless hierarchical (SOF3+SOF7)", "decode", 64 * 96 * 3,
          lambda: jpeg.jpeg_decode(jhl))
    from xetl_spark.operators.webp import webp_decode, webp_encode

    wb = webp_encode(img)
    bench("WebP lossless (VP8L)", "encode", raw, lambda: webp_encode(img))
    bench("WebP lossless (VP8L)", "decode", raw, lambda: webp_decode(wb))
    wp = webp_encode(img, predictor=7, cache_bits=8)
    bench("WebP VP8L predictor+cache", "decode", raw, lambda: webp_decode(wp))
    pal_idx = (img[:, :, 0] >> 5).astype(np.uint8)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    gf = gif.gif_encode([pal[pal_idx]], delays_cs=[4])
    bench("GIF (LZW)", "encode", raw // 3, lambda: gif.gif_encode([pal[pal_idx]], delays_cs=[4]))
    bench("GIF (LZW)", "decode", raw // 3, lambda: gif.gif_decode(gf))
    tf = tiff.tiff_build(img)
    bench("TIFF", "decode", raw, lambda: tiff.tiff_decode(tf))

    # --- audio / video (raw sample bytes)
    pcm = (rng.normal(0, 8000, 48000 * 2)).astype(np.int16)
    wav = wav_encode(pcm.reshape(-1, 2), 48000)
    bench("WAV PCM16", "encode", pcm.nbytes, lambda: wav_encode(pcm.reshape(-1, 2), 48000))
    bench("WAV PCM16", "decode", pcm.nbytes, lambda: wav_decode(wav))
    from xetl_spark.operators.flac import flac_decode, flac_encode

    # a tone + noise signal: fixed predictors get real residual work
    t = np.arange(48000)
    tonal = (6000 * np.sin(2 * np.pi * 220 * t / 48000) + rng.normal(0, 300, 48000)).astype(np.int32)
    fl = flac_encode(np.stack([tonal, tonal // 2], axis=1), 48000, mode="fixed2")
    bench("FLAC fixed2 stereo", "encode", tonal.nbytes // 2,
          lambda: flac_encode(np.stack([tonal, tonal // 2], axis=1), 48000, mode="fixed2"))
    bench("FLAC fixed2 stereo", "decode", tonal.nbytes // 2, lambda: flac_decode(fl))
    frames = rng.integers(0, 256, (8, 144, 176), dtype=np.uint8)
    y4 = y4m_encode(frames, fps=(25, 1))
    bench("Y4M mono", "decode", frames.nbytes, lambda: y4m_decode(y4))

    # --- byte codecs (compressed-side bytes)
    blob = bytes(rng.integers(0, 256, 1 << 20, dtype=np.uint8).tolist()) * 2
    sz = snappy.compress(blob)
    bench("snappy (pure-py)", "decode", len(blob), lambda: snappy.decompress(sz))

    # --- avro (record bytes)
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": ["null", "long"]},
            {"name": "b", "type": ["null", "double"]},
            {"name": "c", "type": ["null", "string"]},
        ],
    }
    recs = [(i, i * 1.5, f"value-{i}") for i in range(40_000)]
    ocf = encode_container(schema, recs, codec="null")
    bench("Avro generic", "decode", len(ocf), lambda: parse_container(ocf))

    # --- round-12 container/probe walks (throughput against CONTAINER
    # bytes — these never touch sample payload content beyond slicing)
    from xetl_spark.operators import mediaprobe
    from xetl_spark.operators.av1 import av1_sequence_build, avif_build, avif_probe
    from xetl_spark.operators.vp8 import vp8_header_build, vp8_header_probe
    from xetl_spark.operators.vp9 import vp9_header_build, vp9_header_probe
    from xetl_spark.operators.webm import webm_build, webm_probe
    from xetl_spark.operators.webp import alph_decode, alph_encode

    mp4_samps = [bytes(rng.integers(0, 256, 4096, dtype=np.uint8)) for _ in range(64)]
    mp4 = mediaprobe.mp4_build_tracks(
        [{"handler": "vide", "codec": "mp4v", "timescale": 600,
          "samples": mp4_samps, "deltas": [40] * 64, "width": 64, "height": 48},
         {"handler": "soun", "codec": "mp4a", "timescale": 16000,
          "samples": mp4_samps[:32], "deltas": [1024] * 32}]
    )
    bench("MP4 stbl demux", "probe", len(mp4),
          lambda: mediaprobe.mp4_samples(mp4, with_data=False))
    fmp4 = mediaprobe.mp4_build_fragmented(
        [{"handler": "vide", "codec": "avc1", "timescale": 600,
          "width": 64, "height": 48,
          "fragments": [{"samples": mp4_samps[i : i + 8],
                         "durations": [40] * 8, "sync": {1}}
                        for i in range(0, 64, 8)]}]
    )
    bench("fMP4 moof demux", "probe", len(fmp4),
          lambda: mediaprobe.mp4_samples(fmp4, with_data=False))
    vp8k = vp8_header_build(640, 360, y_ac_qi=60, segments=[1, 2, 3, 4])
    bench("VP8 header", "probe", len(vp8k), lambda: vp8_header_probe(vp8k))
    vp9k = vp9_header_build(640, 360, base_q_idx=99)
    bench("VP9 header", "probe", len(vp9k), lambda: vp9_header_probe(vp9k))
    wmb = webm_build(
        [{"number": 1, "type": "video", "codec": "V_VP8",
          "width": 64, "height": 48}],
        [(1, i * 40, i % 8 == 0, mp4_samps[i % 64][:512]) for i in range(128)],
    )
    bench("WebM EBML walk", "probe", len(wmb), lambda: webm_probe(wmb))
    ivf = mediaprobe.ivf_build([vp8k] + [s[:1024] for s in mp4_samps], "VP80", 640, 360)
    bench("IVF frame walk", "probe", len(ivf), lambda: mediaprobe.ivf_probe(ivf))
    avf = avif_build(512, 512, extra_items=[("Exif", b"\x00" * 64)])
    bench("AVIF item walk", "probe", len(avf), lambda: avif_probe(avf))
    alpha = rng.integers(0, 256, (256, 384), dtype=np.uint8)
    ab = alph_encode(alpha, method=3, compression=1)
    bench("WebP ALPH (VP8L+gradient)", "decode", alpha.nbytes,
          lambda: alph_decode(ab, 384, 256))
    jq = jpeg.jpeg_encode(img, 85)
    bench("JPEG quality estimate", "probe", len(jq),
          lambda: jpeg.jpeg_quality_estimate(jq))

    # --- document formats (throughput against extracted TEXT bytes)
    from xetl_spark.operators import docx as docmod
    from xetl_spark.operators import pdfdoc

    vocab = [f"word{i:03d}" for i in range(500)]
    words = [vocab[int(i)] for i in rng.integers(0, 500, 60_000)]
    text = " ".join(words)
    lines_ = [" ".join(words[i : i + 10]) for i in range(0, len(words), 10)]
    pdf_pages = ["\n".join(lines_[j : j + 40]) for j in range(0, len(lines_), 40)]
    nbytes = len(text)
    pdf_doc = pdfdoc.build_pdf(pdf_pages)
    bench("PDF (flate)", "encode", nbytes, lambda: pdfdoc.build_pdf(pdf_pages))
    bench("PDF (flate)", "decode", nbytes, lambda: pdfdoc.pdf_text(pdf_doc))
    pdf_xs = pdfdoc.build_pdf(pdf_pages, xref_stream=True)
    bench("PDF (xref-stream)", "decode", nbytes, lambda: pdfdoc.pdf_text(pdf_xs))
    paras = [" ".join(words[i : i + 30]) for i in range(0, len(words), 30)]
    dx = docmod.build_docx(paras)
    bench("DOCX", "encode", nbytes, lambda: docmod.build_docx(paras))
    bench("DOCX", "decode", nbytes, lambda: docmod.docx_text(dx))
    chapters = [("", "\n".join(lines_[j : j + 60])) for j in range(0, len(lines_), 60)]
    eb = docmod.build_epub(chapters)
    bench("EPUB", "encode", nbytes, lambda: docmod.build_epub(chapters))
    bench("EPUB", "decode", nbytes, lambda: docmod.epub_text(eb))

    lines = [
        "# CODECS — measured per-core codec throughput",
        "",
        "Generated by `python tools/codec_bench.py` (best of 3, this",
        "host). MB/s against RAW sample bytes for media codecs; each",
        "document decodes independently inside its Arrow batch on an",
        "executor core, so cluster throughput = per-core x busy cores.",
        "The vectorized Avro FLAT-schema fast path (~26 MB/s encode /",
        "~9 MB/s decode, measured round 6) is the bulk-data route; the",
        "generic recursive row below is the exotic-schema",
        "compatibility path. Bulk pixel pipelines at 100 TB should",
        "land on parquet-of-binary + these decoders only where the",
        "reference's ImageMagick-subprocess class of work actually",
        "happens (SURVEY §2 multimodal rows).",
        "",
        "Round-7 note: the JPEG entropy BitReader was rewritten from",
        "a whole-segment bignum (O(segment) per bit read) to an O(1)",
        "windowed accumulator — 6-35x decode speedups across baseline/",
        "progressive/lossless/12-bit/hierarchical. Remaining slow",
        "spots are inherently bit-serial Python (GIF LZW encode,",
        "lossless JPEG's per-sample Huffman) and are fixture/",
        "compatibility paths, not bulk routes.",
        "",
        "Round-11 note: WebP VP8L (operators/webp.py) decodes with a",
        "one-shot 2^maxlen prefix LUT over a windowed LSB-first",
        "reader (the round-7 JPEG lesson applied from the start);",
        "the remaining cost is the per-pixel Python literal loop,",
        "same class as the JPEG rows. Lossy VP8 is probe-only.",
        "",
        "Round-12 note: lossy VP8 (operators/vp8.py) now has the RFC",
        "6386 boolean entropy coder (encoder+decoder pair, carry-",
        "exact, hypothesis-fuzzed) and the COMPLETE frame-header",
        "parse — every field decodable without the codec's default",
        "probability model — yielding the curation signal (qindex ->",
        "quality, per-segment deltas) at O(header bytes) per image;",
        "VP9 (operators/vp9.py) and AV1 (operators/av1.py) get the",
        "same header-level treatment, and the container walks (MP4",
        "stbl + fMP4 moof, WebM EBML, IVF, AVIF items) are measured",
        "below against container bytes. Pixel decode for VP8/VP9/AV1",
        "stays a typed boundary ON PURPOSE: macroblock reconstruction",
        "needs each spec's default probability/dequant tables (~2,000",
        "constants for VP8 alone), which can only be transcribed",
        "verbatim — not recalled — because a decoder with",
        "mis-transcribed tables would roundtrip its own fixtures",
        "while silently mis-decoding real files. The swap-in point is",
        "the header probe -> a table-driven MB loop.",
        "",
        "Document formats (PDF/DOCX/EPUB, round 7) are measured",
        "against EXTRACTED TEXT bytes — the unit a corpus pipeline",
        "prices. PDF decode ~9 MB/s/core x 32 cores ≈ 290 MB/s/node:",
        "the pure-Python content-stream tokenizer is the cost; at",
        "cluster scale each document is an independent Arrow-batch",
        "work item, so the path scales linearly with cores.",
        "",
        "| codec | direction | MB/s (per core) |",
        "|---|---|---|",
    ]
    for name, direction, v in rows:
        lines.append(f"| {name} | {direction} | {v:.2f} |")
    open(REPO / "CODECS.md", "w").write("\n".join(lines) + "\n")
    print("wrote CODECS.md")
    for name, direction, v in rows:
        print(f"{name:20s} {direction:7s} {v:8.2f} MB/s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
