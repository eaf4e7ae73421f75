"""Codec-free media probes (operators/mediaprobe.py): MP3 frame-header
walking + Xing VBR tag, H.264 SPS Exp-Golomb parsing, and the unified
probe_media dispatch operator."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from xetl_spark.operators import mediaprobe as mp


def test_mp3_cbr_probe_closed_form():
    s = mp.mp3_build(100, bitrate_kbps=128, sample_rate=44100, channels=2)
    got = mp.mp3_probe(s)
    assert got["container"] == "mp3"
    assert got["mpeg_version"] == "1"
    assert (got["bitrate_kbps"], got["sample_rate"], got["channels"]) == (128, 44100, 2)
    assert got["n_frames"] == 100 and not got["vbr"]
    assert got["duration_ms"] == 100 * 1152 * 1000 // 44100


def test_mp3_mono_and_rates():
    for kbps, sr, ch in [(64, 32000, 1), (192, 48000, 2), (96, 44100, 1)]:
        got = mp.mp3_probe(mp.mp3_build(7, kbps, sr, ch))
        assert (got["bitrate_kbps"], got["sample_rate"], got["channels"]) == (
            kbps, sr, ch,
        )
        assert got["n_frames"] == 7


def test_mp3_id3v2_tag_skipped():
    s = mp.mp3_build(5, 128, 44100, 2)
    id3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 10]) + b"\x00" * 10
    assert mp.mp3_probe(id3 + s)["n_frames"] == 5


def test_mp3_xing_vbr_frame_count_wins():
    """A Xing tag's frame count overrides the CBR walk (VBR streams
    have varying frame sizes the walk can't follow)."""
    s = bytearray(mp.mp3_build(5, 128, 44100, 2))
    side = 32  # MPEG1 stereo side-info size
    off = 4 + side
    s[off : off + 4] = b"Xing"
    s[off + 4 : off + 8] = struct.pack(">L", 1)  # FRAMES flag
    s[off + 8 : off + 12] = struct.pack(">L", 777)
    got = mp.mp3_probe(bytes(s))
    assert got["n_frames"] == 777 and got["vbr"]


def test_mp3_xing_found_in_crc_protected_frame():
    """Protection bit 0 inserts a 2-byte CRC between header and side
    info; the Xing tag offset must account for it or CRC-protected VBR
    files silently fall back to a wrong CBR walk."""
    s = bytearray(mp.mp3_build(5, 128, 44100, 2))
    s[1] = 0xFA  # clear protection bit: MPEG1 Layer III, CRC present
    off = 4 + 2 + 32  # header + CRC + MPEG1-stereo side info
    s[off : off + 4] = b"Xing"
    s[off + 4 : off + 8] = struct.pack(">L", 1)  # FRAMES flag
    s[off + 8 : off + 12] = struct.pack(">L", 555)
    got = mp.mp3_probe(bytes(s))
    assert got["n_frames"] == 555 and got["vbr"]


def test_mp3_garbage_raises():
    with pytest.raises(mp.Mp3FormatError):
        mp.mp3_probe(b"\x00" * 2000)


def test_h264_sps_resolutions():
    for wm, hm, exp in [
        (80, 45, (1280, 720)),
        (120, 68, (1920, 1088)),
        (8, 8, (128, 128)),
        (45, 30, (720, 480)),
    ]:
        got = mp.h264_sps_probe(mp.h264_sps_build(wm, hm))
        assert (got["width"], got["height"]) == exp
        assert got["profile_idc"] == 66 and got["frame_mbs_only"]
        # SPS followed by another NAL parses identically
        again = mp.h264_sps_probe(
            mp.h264_sps_build(wm, hm) + b"\x00\x00\x01\x68\xce\x38\x80"
        )
        assert (again["width"], again["height"]) == exp


def test_h264_no_sps_raises():
    with pytest.raises(mp.H264FormatError):
        mp.h264_sps_probe(b"\x00\x00\x01\x68\xce\x38\x80")  # PPS only


def test_probe_media_dispatch(spark):
    """The unified operator routes by magic bytes and NULLs
    inapplicable fields; unknown payloads never crash the batch."""
    import pandas as pd

    from xetl_spark.operators import audio, jpeg
    from xetl_spark.operators.multimodal import probe_media

    payloads = {
        1: mp.mp3_build(10, 128, 44100, 2),
        2: mp.h264_sps_build(80, 45),
        3: audio.wav_encode(np.zeros(1600, dtype=np.int16), 16000),
        4: jpeg.jpeg_encode(np.full((24, 32, 3), 5, np.uint8), 90),
        5: b"utterly not media",
    }
    pdf = pd.DataFrame(
        {"doc_id": list(payloads), "media": [payloads[k] for k in payloads]}
    )
    rows = {
        r.id: r
        for r in probe_media(spark.createDataFrame(pdf), "media", "doc_id").collect()
    }
    assert rows[1].container == "mp3" and rows[1].n_frames == 10
    assert rows[2].container == "h264" and (rows[2].width, rows[2].height) == (1280, 720)
    assert rows[3].container == "wav" and rows[3].duration_ms == 100
    assert rows[4].container == "jpeg" and (rows[4].width, rows[4].height) == (32, 24)
    assert rows[5].container == "unknown"
    assert rows[1].width is None and rows[4].sample_rate is None


def test_probe_media_jpeg_fill_bytes_before_sof(spark):
    """Legal FF fill bytes / standalone markers before SOF carry no
    length field; the scan must step over them instead of reading a
    garbage length and jumping past SOF (→ null dims)."""
    import pandas as pd

    from xetl_spark.operators import jpeg
    from xetl_spark.operators.multimodal import probe_media

    base = jpeg.jpeg_encode(np.full((24, 32, 3), 5, np.uint8), 90)
    assert base[:2] == b"\xff\xd8"
    # inject FF fill padding and a standalone TEM marker right after SOI
    padded = base[:2] + b"\xff\xff\xff\x01" + base[2:]
    pdf = pd.DataFrame({"doc_id": [1], "media": [padded]})
    (r,) = probe_media(spark.createDataFrame(pdf), "media", "doc_id").collect()
    assert r.container == "jpeg" and (r.width, r.height) == (32, 24)


def test_mp4_probe_box_walk():
    p = mp.mp4_probe(mp.mp4_build(1920, 1080, 120500, n_audio_tracks=2))
    assert (p["width"], p["height"]) == (1920, 1080)
    assert p["duration_ms"] == 120500 and p["n_tracks"] == 3
    assert p["brand"] == "isom"
    with pytest.raises(mp.Mp4FormatError):
        mp.mp4_probe(b"\x00\x00\x00\x08free")  # no ftyp
    ok = mp.mp4_build(64, 48, 1000)
    with pytest.raises(mp.Mp4FormatError):
        mp.mp4_probe(ok[:40])  # truncated moov


def test_flac_probe_streaminfo():
    p = mp.flac_probe(mp.flac_build(44100, 1, 441000, bps=24))
    assert (p["sample_rate"], p["channels"], p["bits_per_sample"]) == (44100, 1, 24)
    assert p["duration_ms"] == 10000
    with pytest.raises(mp.FlacFormatError):
        mp.flac_probe(b"not flac")
    with pytest.raises(mp.FlacFormatError):
        mp.flac_probe(b"fLaC" + bytes([0x81]) + (4).to_bytes(3, "big") + b"abcd")


def test_probe_media_mp4_flac(spark):
    import pandas as pd

    from xetl_spark.operators.multimodal import probe_media

    payloads = {
        1: mp.mp4_build(640, 360, 5000, n_audio_tracks=1),
        2: mp.flac_build(48000, 2, 96000),
    }
    pdf = pd.DataFrame(
        {"doc_id": list(payloads), "media": [payloads[k] for k in payloads]}
    )
    rows = {
        r.id: r
        for r in probe_media(spark.createDataFrame(pdf), "media", "doc_id").collect()
    }
    assert rows[1].container == "mp4" and (rows[1].width, rows[1].height) == (640, 360)
    assert rows[1].duration_ms == 5000 and rows[1].n_frames == 2  # track count slot
    assert rows[2].container == "flac" and rows[2].sample_rate == 48000
    assert rows[2].duration_ms == 2000 and rows[2].channels == 2


def test_ogg_probe_opus_and_vorbis():
    p = mp.ogg_probe(mp.ogg_build("opus", 2, 48000, 96000))
    assert (p["codec"], p["channels"], p["sample_rate"]) == ("opus", 2, 48000)
    assert p["duration_ms"] == 2000  # granule minus pre-skip, 48 kHz clock
    v = mp.ogg_probe(mp.ogg_build("vorbis", 1, 44100, 22050))
    assert (v["codec"], v["duration_ms"]) == ("vorbis", 500)
    with pytest.raises(mp.OggFormatError):
        mp.ogg_probe(b"OggS" + b"\x00" * 10)  # truncated page
    with pytest.raises(mp.OggFormatError):
        mp.ogg_probe(b"not ogg at all!")


def test_probe_media_ogg(spark):
    import pandas as pd

    from xetl_spark.operators.multimodal import probe_media

    pdf = pd.DataFrame(
        {"doc_id": [1], "media": [mp.ogg_build("opus", 2, 48000, 48000)]}
    )
    (r,) = probe_media(spark.createDataFrame(pdf), "media", "doc_id").collect()
    assert r.container == "ogg" and r.sample_rate == 48000
    assert r.channels == 2 and r.duration_ms == 1000


def test_flac_frame_walk_counts_and_crc():
    s = mp.flac_build_frames(44100, 2, [4096, 4096, 192])
    r = mp.flac_frame_walk(s)
    assert (r["n_frames"], r["n_samples"], r["crc_failures"]) == (3, 8384, 0)
    assert r["matches_streaminfo"] is True and r["variable_blocksize"] is False
    assert r["duration_ms"] == 8384 * 1000 // 44100
    # flip a bit inside the first frame header: that frame drops out as
    # a CRC failure; the walk resynchronizes on the next frame
    b = bytearray(s)
    b[4 + 4 + 34 + 2] ^= 0x10
    r2 = mp.flac_frame_walk(bytes(b))
    assert r2["n_frames"] == 2 and r2["crc_failures"] >= 1
    assert r2["matches_streaminfo"] is False


def test_flac_frame_walk_nonstandard_rate_and_blocksize():
    # 12345 Hz forces the 16-bit end-of-header rate field; 100/200
    # samples force the 16-bit blocksize field
    r = mp.flac_frame_walk(mp.flac_build_frames(12345, 1, [100, 200]))
    assert (r["n_frames"], r["n_samples"]) == (2, 300)
    assert r["matches_streaminfo"] is True


def test_flac_frame_walk_headers_only_stream():
    # a frameless FLAC (header-only build) walks to zero frames
    r = mp.flac_frame_walk(mp.flac_build(48000, 2, 96000))
    assert r["n_frames"] == 0 and r["n_samples"] == 0
    assert r["matches_streaminfo"] is False


def test_flac_frame_walk_32bps():
    """Sample-size code 7 = 32 bps is VALID (only code 3 is reserved,
    RFC 9639 §9.1) — review-found: the walk previously misclassified
    every 32-bps frame as a CRC failure."""
    r = mp.flac_frame_walk(mp.flac_build_frames(44100, 1, [192, 192], bps=32))
    assert (r["n_frames"], r["crc_failures"], r["matches_streaminfo"]) == (2, 0, True)


def test_id3_tags_roundtrip_versions_and_unsync():
    from xetl_spark.operators import mediaprobe as mp

    tags = {
        "title": "Söng Tïtle", "artist": "The Band", "album": "LP",
        "year": "2024", "track": "3/12", "genre": "rock",
    }
    for v in (3, 4):
        for unsync in (False, True):
            blob = mp.id3_build(tags, version=v, unsync=unsync)
            got = mp.id3_tags(blob + b"\xff\xfb\x90\x00" * 4)
            assert got["version"] == f"2.{v}"
            assert got["n_frames"] == 6
            for k, want in tags.items():
                assert got[k] == want, (v, unsync, k)
    # sparse tags: absent fields stay None
    got = mp.id3_tags(mp.id3_build({"title": "only"}))
    assert got["title"] == "only" and got["artist"] is None


def test_id3_tags_typed_errors_and_fuzz():
    import numpy as np
    import pytest

    from xetl_spark.operators import mediaprobe as mp

    with pytest.raises(mp.Mp3FormatError, match="ID3"):
        mp.id3_tags(b"RIFFxxxx")
    with pytest.raises(mp.Mp3FormatError):
        mp.id3_tags(mp.id3_build({"title": "x"})[:12])
    rng = np.random.default_rng(5)
    base = mp.id3_build({"title": "fuzz", "artist": "a" * 40}, version=4)
    for _ in range(150):
        b = bytearray(base)
        for _ in range(rng.integers(1, 5)):
            b[rng.integers(0, len(b))] ^= 1 << rng.integers(0, 8)
        try:
            out = mp.id3_tags(bytes(b))
            assert isinstance(out, dict)
        except mp.Mp3FormatError:
            pass


def test_mp3_probe_after_id3_tag():
    from xetl_spark.operators import mediaprobe as mp

    stream = mp.id3_build({"title": "t"}) + mp.mp3_build(12, 128, 44100)
    p = mp.mp3_probe(stream)
    assert p["n_frames"] == 12
    assert mp.id3_tags(stream)["title"] == "t"


def test_mp4_sample_tables_roundtrip():
    """mp4_build_tracks -> mp4_samples: byte-exact sample recovery
    across interleaved chunks, stsc 2/3 runs, run-length stts, ctts
    composition offsets, and the stss sync table; all-sync when stss
    is absent; metadata-only mode skips payload slices."""
    vid = [bytes([(i * 7 + j) % 251 for j in range(10 + i * 3)]) for i in range(7)]
    aud = [bytes([(i * 11 + j) % 251 for j in range(5 + i)]) for i in range(5)]
    payload = mp.mp4_build_tracks(
        [
            {
                "handler": "vide", "codec": "mp4v", "timescale": 600,
                "samples": vid, "deltas": [20, 20, 25, 20, 20, 25, 20],
                "ctts": [0, 10, 0, 20, 0, 10, 0], "sync": [1, 5],
                "width": 64, "height": 48,
            },
            {
                "handler": "soun", "codec": "mp4a", "timescale": 16000,
                "samples": aud, "deltas": [1024] * 5,
            },
        ]
    )
    info = mp.mp4_samples(payload)
    assert info["n_tracks"] == 2
    vids = [s for s in info["samples"] if s["handler"] == "vide"]
    auds = [s for s in info["samples"] if s["handler"] == "soun"]
    assert [s["data"] for s in vids] == vid
    assert [s["data"] for s in auds] == aud
    assert [s["dts"] for s in vids] == [0, 20, 40, 65, 85, 105, 130]
    assert [s["pts"] for s in vids] == [0, 30, 40, 85, 85, 115, 130]
    assert [s["sync"] for s in vids] == [True, False, False, False, True, False, False]
    assert all(s["sync"] for s in auds)  # no stss -> all sync
    assert {s["codec"] for s in vids} == {"mp4v"}
    assert auds[0]["timescale"] == 16000
    # interleaving is real: the second video chunk sits after the
    # first audio chunk in the file
    assert auds[0]["offset"] < vids[2]["offset"]
    lean = mp.mp4_samples(payload, with_data=False)["samples"]
    assert len(lean) == 12 and all("data" not in s for s in lean)
    # the plain probe still reads the same container
    p = mp.mp4_probe(payload)
    assert p["n_tracks"] == 2 and (p["width"], p["height"]) == (64, 48)


def test_mp4_samples_hostile_tables():
    """Forged/truncated sample tables raise Mp4FormatError with the
    violated invariant, never a wrong slice or raw struct error."""
    import struct

    base = mp.mp4_build_tracks(
        [{"handler": "soun", "codec": "mp4a", "timescale": 8000,
          "samples": [b"abc", b"defg", b"hi"], "deltas": [10, 10, 10]}]
    )
    assert [s["data"] for s in mp.mp4_samples(base)["samples"]] == [
        b"abc", b"defg", b"hi"
    ]

    def forge(tag, field_off, value):
        b = bytearray(base)
        i = base.find(tag)
        struct.pack_into(">I", b, i + field_off, value)
        return bytes(b)

    for bad in (
        forge(b"stsz", 8, 1 << 30),      # huge fixed sample size
        forge(b"stsz", 12, 2_000_000),   # sample count above cap
        forge(b"stts", 8, 99),           # stts entry count overruns box
        forge(b"stco", 12, 1 << 30),     # chunk offset beyond file
        forge(b"stsc", 12, 7),           # stsc first_chunk != 1
    ):
        with pytest.raises(mp.Mp4FormatError):
            mp.mp4_samples(bad)


def test_decode_audio_mp4_tracks():
    """decode_audio reaches into ISO-BMFF: QuickTime G.711 ulaw/alaw
    raw-byte tracks (exact ITU expansion, channel-aware) and
    FLAC-in-MP4 encapsulation (dfLa STREAMINFO + frame samples,
    reassembled through the full FLAC decoder)."""
    import struct as _st

    from xetl_spark.operators.audio import (
        UnsupportedAudioError,
        _alaw_expand,
        _mulaw_expand,
        decode_audio,
    )
    from xetl_spark.operators.flac import flac_encode

    raw = bytes((i * 7) % 256 for i in range(4000))
    for codec, expand in (("ulaw", _mulaw_expand), ("alaw", _alaw_expand)):
        m = mp.mp4_build_tracks(
            [{"handler": "soun", "codec": codec, "timescale": 8000,
              "samples": [raw[i * 500 : (i + 1) * 500] for i in range(8)],
              "deltas": [500] * 8, "channels": 1}]
        )
        pcm_out, rate = decode_audio(m)
        assert rate == 8000 and pcm_out.shape == (4000, 1)
        assert np.array_equal(
            pcm_out[:, 0], expand(np.frombuffer(raw, np.uint8))
        )
    # 2-channel interleaved ulaw
    m2 = mp.mp4_build_tracks(
        [{"handler": "soun", "codec": "ulaw", "timescale": 8000,
          "samples": [raw], "deltas": [2000], "channels": 2}]
    )
    pcm2, _ = decode_audio(m2)
    assert pcm2.shape == (2000, 2)
    # FLAC-in-MP4: dfLa carries STREAMINFO; sample = frame region
    pcm_in = np.random.RandomState(3).randint(-2000, 2000, (2048, 2)).astype(np.int32)
    stream = flac_encode(pcm_in, 16000, blocksize=512)
    pos = 4
    while True:
        hdr = stream[pos]
        ln = int.from_bytes(stream[pos + 1 : pos + 4], "big")
        if hdr & 0x7F == 0:
            streaminfo = bytes([hdr & 0x7F]) + stream[pos + 1 : pos + 4 + ln]
        pos += 4 + ln
        if hdr & 0x80:
            break
    dfla = b"\x00\x00\x00\x00" + streaminfo
    cfg = _st.pack(">I", 8 + len(dfla)) + b"dfLa" + dfla
    m3 = mp.mp4_build_tracks(
        [{"handler": "soun", "codec": "fLaC", "timescale": 16000,
          "samples": [stream[pos:]], "deltas": [2048],
          "channels": 2, "codec_config": cfg}]
    )
    out, rate3 = decode_audio(m3)
    assert rate3 == 16000 and np.array_equal(out, pcm_in)
    # typed boundaries: no audio track / unsupported codec / no dfLa
    vid = mp.mp4_build_tracks(
        [{"handler": "vide", "codec": "jpeg", "timescale": 600,
          "samples": [b"x"], "deltas": [1], "width": 8, "height": 8}]
    )
    with pytest.raises(UnsupportedAudioError, match="no audio track"):
        decode_audio(vid)
    aac = mp.mp4_build_tracks(
        [{"handler": "soun", "codec": "mp4a", "timescale": 44100,
          "samples": [b"x"], "deltas": [1024]}]
    )
    with pytest.raises(UnsupportedAudioError, match="unsupported audio codec"):
        decode_audio(aac)
    nofla = mp.mp4_build_tracks(
        [{"handler": "soun", "codec": "fLaC", "timescale": 16000,
          "samples": [b"x"], "deltas": [16]}]
    )
    with pytest.raises(UnsupportedAudioError, match="dfLa"):
        decode_audio(nofla)


def test_sample_frames_mjpeg_mp4(spark):
    """sample_frames (decode_stub=False) demuxes an MJPEG MP4 and
    emits exact frames at stts timestamps; an MP4 without an MJPEG
    video track raises the typed video error."""
    import pandas as pd

    from xetl_spark.operators import jpeg
    from xetl_spark.operators.imaging import png_decode
    from xetl_spark.operators.multimodal import sample_frames

    imgs = [np.full((8, 8, 3), 10 * (i + 1), np.uint8) for i in range(5)]
    m = mp.mp4_build_tracks(
        [{"handler": "vide", "codec": "jpeg", "timescale": 1000,
          "samples": [jpeg.jpeg_lossless_encode(im) for im in imgs],
          "deltas": [400] * 5, "width": 8, "height": 8}]
    )
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "media": [m]}))
    rows = sorted(
        sample_frames(df, decode_stub=False, every_ms=800, max_frames=8).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [(r.frame_idx, r.frame_ts_ms) for r in rows] == [
        (0, 0), (2, 800), (4, 1600)
    ]
    for r in rows:
        px = png_decode(bytes(r.frame))
        assert int(px[0, 0, 0]) == 10 * (r.frame_idx + 1)


def test_ivf_probe_and_vp8_quality():
    """IVF (DKIF) frame walk: codec/dims/timebase/frame extents, the
    first VP8 key frame's full header (quantizer signal) surfaced,
    trailing partial frames rejected, non-VP8 codecs passed through."""
    from xetl_spark.operators.vp8 import vp8_header_build

    frames = [vp8_header_build(64, 48, y_ac_qi=70), b"\x01" * 20, b"\x02" * 9]
    ivf = mp.ivf_build(frames, "VP80", 64, 48, (30, 1))
    p = mp.ivf_probe(ivf)
    assert p["codec"] == "VP80" and p["n_frames"] == 3
    assert (p["width"], p["height"]) == (64, 48)
    assert p["duration_ms"] == 100  # last pts 2 -> (2+1)/30 s
    assert p["vp8_header"]["quant"]["y_ac_qi"] == 70
    assert p["_frames"][1][1] == 20  # second frame size
    p9 = mp.ivf_probe(mp.ivf_build([b"\x00" * 5], "VP90", 8, 8))
    assert p9["codec"] == "VP90" and "vp8_header" not in p9
    # interframe-first VP8 stream: header slot present but None
    pif = mp.ivf_probe(mp.ivf_build([b"\x01" * 10], "VP80", 8, 8))
    assert pif["vp8_header"] is None
    for bad in (b"", b"DKIF", ivf[:30], ivf[:40], ivf[: len(ivf) - 3]):
        with pytest.raises(mp.IvfFormatError):
            mp.ivf_probe(bad)


def test_probe_media_ivf(spark):
    import pandas as pd

    from xetl_spark.operators.multimodal import probe_media
    from xetl_spark.operators.vp8 import vp8_header_build

    ivf = mp.ivf_build(
        [vp8_header_build(32, 24), b"\x00" * 7], "VP80", 32, 24, (10, 1)
    )
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "media": [ivf]}))
    row = probe_media(df).collect()[0]
    assert row.container == "ivf"
    assert (row.width, row.height, row.n_frames) == (32, 24, 2)


def test_mp4_fragmented_layout():
    """fMP4/CMAF: moov is metadata-only (empty stbl + mvex/trex
    defaults); samples come from moof[tfhd/tfdt/trun]+mdat fragments
    with moof-relative offsets, per-sample durations/sizes/flags and
    signed ctts; dts accumulates across fragments via tfdt; indices
    continue globally; decode_audio works transparently over a
    fragmented G.711 track."""
    from xetl_spark.operators.audio import _mulaw_expand, decode_audio

    raw = bytes((j * 7) % 256 for j in range(600))
    payload = mp.mp4_build_fragmented(
        [
            {
                "handler": "vide", "codec": "avc1", "timescale": 600,
                "width": 64, "height": 48,
                "fragments": [
                    {"samples": [b"AAAA", b"BBBBB", b"CC"],
                     "durations": [100, 100, 120],
                     "ctts": [0, 10, 0], "sync": {1}},
                    {"samples": [b"DDD", b"EEEEEE"],
                     "durations": [100, 100], "sync": {1, 2}},
                ],
            },
            {
                "handler": "soun", "codec": "ulaw", "timescale": 8000,
                "channels": 1,
                "fragments": [
                    {"samples": [raw[:300]], "durations": [300]},
                    {"samples": [raw[300:]], "durations": [300]},
                ],
            },
        ]
    )
    info = mp.mp4_samples(payload)
    vids = sorted(
        (s for s in info["samples"] if s["handler"] == "vide"),
        key=lambda s: s["index"],
    )
    assert [s["data"] for s in vids] == [b"AAAA", b"BBBBB", b"CC", b"DDD", b"EEEEEE"]
    assert [s["dts"] for s in vids] == [0, 100, 200, 320, 420]
    assert [s["pts"] for s in vids] == [0, 110, 200, 320, 420]
    assert [s["sync"] for s in vids] == [True, False, False, True, True]
    assert info["tracks"][1]["n_samples"] == 5
    auds = [s for s in info["samples"] if s["handler"] == "soun"]
    assert all(s["sync"] for s in auds)  # trex default flags = sync
    pcm, rate = decode_audio(payload)
    assert rate == 8000 and pcm.shape == (600, 1)
    assert np.array_equal(pcm[:, 0], _mulaw_expand(np.frombuffer(raw, np.uint8)))
    # hostile: truncated final mdat -> typed error, not a bad slice
    with pytest.raises(mp.Mp4FormatError):
        mp.mp4_samples(payload[:-4])
    # moof referencing an unknown track id
    import struct as _st

    i = payload.find(b"tfhd")
    bad = bytearray(payload)
    _st.pack_into(">I", bad, i + 8, 99)
    with pytest.raises(mp.Mp4FormatError, match="unknown track"):
        mp.mp4_samples(bytes(bad))


def test_mp4_fragmented_largesize_moof():
    """A moof written with a 64-bit largesize (16-byte) header must
    anchor default-base-is-moof data offsets at the box's first byte,
    not 8 bytes past it (r13 advice fix)."""
    tracks = [
        {
            "handler": "vide", "codec": "avc1", "timescale": 600,
            "width": 64, "height": 48,
            "fragments": [
                {"samples": [b"AAAA", b"BBBBB"],
                 "durations": [100, 100], "sync": {1}},
                {"samples": [b"CC"], "durations": [120], "sync": {1}},
            ],
        }
    ]
    small = mp.mp4_samples(mp.mp4_build_fragmented(tracks))
    big_payload = mp.mp4_build_fragmented(tracks, largesize_moof=True)
    assert b"\x00\x00\x00\x01moof" in big_payload  # really largesize
    big = mp.mp4_samples(big_payload)
    assert [s["data"] for s in big["samples"]] == [b"AAAA", b"BBBBB", b"CC"]
    assert [s["dts"] for s in big["samples"]] == [
        s["dts"] for s in small["samples"]
    ]


def test_mp4_tfhd_default_cascade_zero_and_trex():
    """The tfhd->trex default cascade: an explicitly signaled tfhd
    default_sample_duration of 0 wins over a nonzero trex default
    (r13 advice fix — `or` treated signaled-0 as absent); a silent
    tfhd falls through to the trex default for duration AND size."""
    # explicit tfhd default_duration=0 beats trex's 100
    info = mp.mp4_samples(
        mp.mp4_build_fragmented([
            {
                "handler": "soun", "codec": "ulaw", "timescale": 8000,
                "channels": 1, "trex_duration": 100,
                "fragments": [
                    {"samples": [b"aa", b"bb", b"cc"],
                     "durations": [0, 0, 0], "default_duration": 0},
                ],
            }
        ])
    )
    assert [s["dts"] for s in info["samples"]] == [0, 0, 0]
    assert [s["data"] for s in info["samples"]] == [b"aa", b"bb", b"cc"]
    # silent tfhd -> trex defaults used (duration 100, size 2)
    info2 = mp.mp4_samples(
        mp.mp4_build_fragmented([
            {
                "handler": "soun", "codec": "ulaw", "timescale": 8000,
                "channels": 1, "trex_duration": 100, "trex_size": 2,
                "fragments": [
                    {"samples": [b"aa", b"bb"], "durations": [100, 100],
                     "default_duration": None, "default_size": None},
                ],
            }
        ])
    )
    assert [s["dts"] for s in info2["samples"]] == [0, 100]
    assert [s["data"] for s in info2["samples"]] == [b"aa", b"bb"]


def test_media_quality_mjpeg_mp4_headers_only(spark):
    """media_quality's MJPEG-in-MP4 branch slices only the first video
    sample's bytes via with_data=False offsets (r13 advice fix: no
    whole-mdat materialization); the quality estimate matches the
    encoder's quality factor."""
    import pandas as pd

    from xetl_spark.operators import jpeg
    from xetl_spark.operators.multimodal import media_quality

    imgs = [np.full((8, 8, 3), 40 * (i + 1), np.uint8) for i in range(3)]
    m = mp.mp4_build_tracks(
        [{"handler": "vide", "codec": "jpeg", "timescale": 1000,
          "samples": [jpeg.jpeg_encode(im, 75) for im in imgs],
          "deltas": [400] * 3, "width": 8, "height": 8}]
    )
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "media": [m]}))
    row = media_quality(df).collect()[0]
    assert (row.container, row.codec) == ("mp4", "mjpeg")
    assert (row.width, row.height) == (8, 8)
    assert row.quality == 75 and row.lossless is False and row.err is None


def test_media_quality_audio_branches(spark):
    """media_quality audio arm (r13): MP3 bitrate banding vs the
    320 kbps ceiling, FLAC/PCM-WAV lossless -> 100, G.711 u-law -> 50,
    IMA ADPCM -> 25 — integer-only arithmetic, header-only probes."""
    import pandas as pd

    from xetl_spark.operators.audio import wav_build_raw, wav_encode
    from xetl_spark.operators.multimodal import media_quality

    rows = {
        1: mp.mp3_build(3, bitrate_kbps=320),
        2: mp.mp3_build(3, bitrate_kbps=64),
        3: mp.mp3_build(3, bitrate_kbps=40),  # ties at .5 -> 13 (int)
        4: mp.flac_build(44100, 2, 500),
        5: wav_encode(np.zeros(32, np.int16), 8000),
        6: wav_build_raw(7, bytes(32), 8000, 1, bits=8),
        7: wav_build_raw(6, bytes(32), 8000, 1, bits=8),
        8: wav_build_raw(17, bytes(32), 8000, 1, bits=4, block_align=32),
    }
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(rows), "media": list(rows.values())})
    )
    got = {r.doc_id: r for r in media_quality(df).collect()}
    assert (got[1].container, got[1].codec, got[1].quality) == ("mp3", "mp3", 100)
    assert got[2].quality == 20 and got[3].quality == 13
    assert (got[4].codec, got[4].quality, got[4].lossless) == ("flac", 100, True)
    assert (got[5].codec, got[5].quality, got[5].lossless) == ("pcm", 100, True)
    assert (got[6].codec, got[6].quality, got[6].lossless) == ("mulaw", 50, False)
    assert (got[7].codec, got[7].quality) == ("alaw", 50)
    assert (got[8].codec, got[8].quality) == ("adpcm", 25)
    assert all(r.width is None and r.height is None for r in got.values())
    assert all(r.err is None for r in got.values())
