"""Compressed-media METADATA probes — pure-spec header parsing, no
codec required (the ffprobe pattern).

Full mp3/h264 DECODE genuinely needs an ffmpeg-class library and stays
a typed ``Unsupported*Error`` boundary (operators/audio.py, video.py).
But a training pipeline's triage pass doesn't decode: it reads stream
parameters to route/filter/cost media — duration and bitrate from MP3
frame headers (ISO 11172-3 / 13818-3 frame sync + the Xing/Info VBR
tag), and resolution/profile from the H.264 sequence parameter set
(ITU-T H.264 §7.3.2.1, Exp-Golomb coded, Annex B byte stream). Both
are byte/bit arithmetic on public spec tables — implemented here and
used by the q_multimodal_media_probe oracle query.

Scale shape: probes run per payload inside Arrow-batched mapInPandas
(multimodal.probe_media) and read only the first frames/NAL units —
O(KB) per document regardless of media size.
"""

from __future__ import annotations

import struct

from xetl_spark.operators.flac import _crc8

# ---------------------------------------------------------------- mp3

# bitrate kbps tables, index 1..14 (0=free, 15=bad): [MPEG1 L3, MPEG2/2.5 L3]
_BR_V1_L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_BR_V2_L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
_SR = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def _typed(err_cls):
    """Decorator: translate low-level parse escapes (struct/index/
    overflow on hostile bytes) into the probe's typed error, so one
    corrupt document degrades instead of failing the Spark stage."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrap(*a, **kw):
            try:
                return fn(*a, **kw)
            except err_cls:
                raise
            except (struct.error, IndexError, OverflowError, ValueError) as e:
                raise err_cls(f"malformed stream: {e}") from None

        return wrap

    return deco


class Mp3FormatError(ValueError):
    """Payload is not an MP3 frame stream this probe understands."""


def _parse_frame_header(b: bytes, i: int) -> dict | None:
    """Parse the 4-byte frame header at offset i; None if no sync."""
    if i + 4 > len(b) or b[i] != 0xFF or (b[i + 1] & 0xE0) != 0xE0:
        return None
    version = (b[i + 1] >> 3) & 0x3  # 0=2.5, 2=MPEG2, 3=MPEG1
    layer = (b[i + 1] >> 1) & 0x3  # 1 = Layer III
    if version == 1 or layer != 1:
        return None
    br_idx = (b[i + 2] >> 4) & 0xF
    sr_idx = (b[i + 2] >> 2) & 0x3
    padding = (b[i + 2] >> 1) & 0x1
    crc = (b[i + 1] & 0x1) == 0  # protection bit 0 → 16-bit CRC follows header
    channel_mode = (b[i + 3] >> 6) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    kbps = (_BR_V1_L3 if version == 3 else _BR_V2_L3)[br_idx]
    sr = _SR[version][sr_idx]
    spf = 1152 if version == 3 else 576  # samples per frame, Layer III
    size = spf // 8 * kbps * 1000 // sr + padding
    return {
        "mpeg_version": {3: "1", 2: "2", 0: "2.5"}[version],
        "bitrate_kbps": kbps,
        "sample_rate": sr,
        "channels": 1 if channel_mode == 3 else 2,
        "samples_per_frame": spf,
        "frame_size": size,
        "crc": crc,
    }


@_typed(Mp3FormatError)
def mp3_probe(payload: bytes, max_scan: int = 4096) -> dict:
    """Probe an MP3 (Layer III) stream: walk frame headers, honor a
    Xing/Info VBR frame count when present, and estimate duration.

    Returns mpeg_version, bitrate_kbps (first frame), sample_rate,
    channels, n_frames, duration_ms, vbr. Raises Mp3FormatError when
    no valid frame sync is found in the first ``max_scan`` bytes
    (ID3v2 tags are skipped by their declared size first)."""
    b = payload
    i = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        syncsafe = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
        i = 10 + syncsafe
    start = None
    for j in range(i, min(len(b), i + max_scan)):
        if _parse_frame_header(b, j) is not None:
            start = j
            break
    if start is None:
        raise Mp3FormatError("no MP3 frame sync found")
    first = _parse_frame_header(b, start)

    # Xing/Info tag (VBR): lives after the side info of the first frame
    side = 32 if first["mpeg_version"] == "1" else 17
    if first["channels"] == 1:
        side = 17 if first["mpeg_version"] == "1" else 9
    # CRC-protected frames (protection bit 0) carry a 2-byte CRC
    # between header and side info — the Xing tag shifts with it
    tag_off = start + 4 + (2 if first["crc"] else 0) + side
    n_frames = None
    vbr = False
    tag = b[tag_off : tag_off + 4]
    if tag in (b"Xing", b"Info"):
        flags = struct.unpack(">L", b[tag_off + 4 : tag_off + 8])[0]
        if flags & 0x1:
            n_frames = struct.unpack(">L", b[tag_off + 8 : tag_off + 12])[0]
        vbr = tag == b"Xing"
    if n_frames is None:  # CBR walk (bounded by payload size)
        n_frames = 0
        j = start
        while True:
            h = _parse_frame_header(b, j)
            if h is None:
                break
            n_frames += 1
            j += h["frame_size"]
    duration_ms = n_frames * first["samples_per_frame"] * 1000 // first["sample_rate"]
    return {
        "container": "mp3",
        "mpeg_version": first["mpeg_version"],
        "bitrate_kbps": first["bitrate_kbps"],
        "sample_rate": first["sample_rate"],
        "channels": first["channels"],
        "n_frames": n_frames,
        "duration_ms": duration_ms,
        "vbr": vbr,
    }


def mp3_build(
    n_frames: int,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    channels: int = 2,
) -> bytes:
    """Synthesize a structurally-valid CBR MPEG1 Layer III stream
    (frame headers + zeroed payloads — not decodable audio, but a
    correct FRAME STRUCTURE, which is all the probe reads). Fixture
    generator for the oracle query and tests."""
    br_idx = _BR_V1_L3.index(bitrate_kbps)
    sr_idx = _SR[3].index(sample_rate)
    mode = 3 if channels == 1 else 1
    hdr = bytes(
        [
            0xFF,
            0xFB,  # MPEG1, Layer III, no CRC
            (br_idx << 4) | (sr_idx << 2),
            mode << 6,
        ]
    )
    size = 1152 // 8 * bitrate_kbps * 1000 // sample_rate
    frame = hdr + b"\x00" * (size - 4)
    return frame * n_frames


# ---------------------------------------------------------------- h264


class H264FormatError(ValueError):
    """Payload is not an H.264 Annex-B stream with a parseable SPS."""


class _ExpGolombReader:
    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 0

    def bit(self) -> int:
        byte = self.d[self.pos >> 3]
        v = (byte >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return v

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def ue(self) -> int:
        zeros = 0
        while self.bit() == 0:
            zeros += 1
            if zeros > 31:
                raise H264FormatError("malformed Exp-Golomb code")
        return (1 << zeros) - 1 + (self.bits(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


_HIGH_PROFILES = {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135}


def _unescape_rbsp(data: bytes) -> bytes:
    """Remove emulation-prevention bytes (00 00 03 -> 00 00)."""
    out = bytearray()
    i = 0
    while i < len(data):
        if i + 2 < len(data) and data[i] == 0 and data[i + 1] == 0 and data[i + 2] == 3:
            out += b"\x00\x00"
            i += 3
        else:
            out.append(data[i])
            i += 1
    return bytes(out)


@_typed(H264FormatError)
def h264_sps_probe(payload: bytes, max_scan: int = 65536) -> dict:
    """Find the first SPS NAL unit in an Annex-B stream and parse
    profile/level/resolution (ITU-T H.264 §7.3.2.1). Supports the
    baseline/main/extended profiles and the high-profile chroma
    branch with 4:2:0/4:2:2/4:4:4, frame_mbs_only and cropping."""
    b = payload[:max_scan]
    sps_body = None
    i = 0
    while i + 4 < len(b):
        if b[i] == 0 and b[i + 1] == 0 and (
            (b[i + 2] == 1) or (b[i + 2] == 0 and i + 4 < len(b) and b[i + 3] == 1)
        ):
            start = i + (3 if b[i + 2] == 1 else 4)
            if start >= len(b):
                break
            nal_type = b[start] & 0x1F
            # find next start code to bound this NAL (stream end bounds
            # the last NAL — don't truncate its final bytes)
            j = start + 1
            while j + 3 <= len(b) and not (
                b[j] == 0 and b[j + 1] == 0 and b[j + 2] in (0, 1)
            ):
                j += 1
            if j + 3 > len(b):
                j = len(b)
            if nal_type == 7:
                sps_body = _unescape_rbsp(b[start + 1 : j])
                break
            i = j
        else:
            i += 1
    if sps_body is None:
        raise H264FormatError("no SPS NAL unit found")

    r = _ExpGolombReader(sps_body)
    profile_idc = r.bits(8)
    r.bits(8)  # constraint flags + reserved
    level_idc = r.bits(8)
    r.ue()  # seq_parameter_set_id
    chroma_format_idc = 1
    if profile_idc in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc == 3:
            r.bit()  # separate_colour_plane_flag
        r.ue()  # bit_depth_luma_minus8
        r.ue()  # bit_depth_chroma_minus8
        r.bit()  # qpprime_y_zero_transform_bypass
        if r.bit():  # seq_scaling_matrix_present
            raise H264FormatError("scaling matrices unsupported in probe")
    r.ue()  # log2_max_frame_num_minus4
    poc_type = r.ue()
    if poc_type == 0:
        r.ue()
    elif poc_type == 1:
        r.bit()
        r.se()
        r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue()  # max_num_ref_frames
    r.bit()  # gaps_in_frame_num_value_allowed
    pw = r.ue() + 1  # pic_width_in_mbs
    ph = r.ue() + 1  # pic_height_in_map_units
    frame_mbs_only = r.bit()
    if not frame_mbs_only:
        r.bit()  # mb_adaptive_frame_field
    r.bit()  # direct_8x8_inference
    width = pw * 16
    height = ph * 16 * (2 - frame_mbs_only)
    if r.bit():  # frame_cropping_flag
        cl, cr, ct, cb = r.ue(), r.ue(), r.ue(), r.ue()
        # crop units per §7.4.2.1.1 (4:2:0 → x2; 4:2:2 → x2 horizontal)
        sub_w = 2 if chroma_format_idc in (1, 2) else 1
        sub_h = 2 if chroma_format_idc == 1 else 1
        width -= (cl + cr) * sub_w
        height -= (ct + cb) * sub_h * (2 - frame_mbs_only)
    return {
        "container": "h264",
        "profile_idc": profile_idc,
        "level_idc": level_idc,
        "width": width,
        "height": height,
        "chroma_format_idc": chroma_format_idc,
        "frame_mbs_only": bool(frame_mbs_only),
    }


class _ExpGolombWriter:
    def __init__(self) -> None:
        self.bits_buf: list[int] = []

    def bit(self, v: int) -> None:
        self.bits_buf.append(v & 1)

    def bits(self, v: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            self.bit((v >> k) & 1)

    def ue(self, v: int) -> None:
        k = v + 1
        n = k.bit_length()
        self.bits(0, n - 1)
        self.bits(k, n)

    def tobytes(self) -> bytes:
        bb = self.bits_buf + [1] + [0] * 7  # rbsp_stop_one_bit + pad
        out = bytearray()
        for i in range(0, len(bb) - 7, 8):
            out.append(int("".join(map(str, bb[i : i + 8])), 2))
        return bytes(out)


def h264_sps_build(width_mbs: int, height_mbs: int, level_idc: int = 31) -> bytes:
    """Synthesize a minimal Annex-B baseline-profile SPS NAL for a
    frame_mbs_only stream of width_mbs x height_mbs macroblocks (no
    cropping). Fixture generator — parseable by any SPS reader."""
    w = _ExpGolombWriter()
    w.bits(66, 8)  # profile_idc: baseline
    w.bits(0, 8)  # constraint flags
    w.bits(level_idc, 8)
    w.ue(0)  # sps id
    w.ue(0)  # log2_max_frame_num_minus4
    w.ue(2)  # pic_order_cnt_type = 2 (no extra fields)
    w.ue(1)  # max_num_ref_frames
    w.bit(0)  # gaps_in_frame_num
    w.ue(width_mbs - 1)
    w.ue(height_mbs - 1)
    w.bit(1)  # frame_mbs_only
    w.bit(1)  # direct_8x8_inference
    w.bit(0)  # frame_cropping_flag
    w.bit(0)  # vui_parameters_present
    rbsp = w.tobytes()
    # emulation prevention (§7.4.1): escape 00 00 0x sequences so the
    # payload can't fake a start code / NAL boundary
    esc = bytearray()
    zeros = 0
    for byte in rbsp:
        if zeros >= 2 and byte <= 3:
            esc.append(3)
            zeros = 0
        esc.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return b"\x00\x00\x00\x01" + bytes([0x67]) + bytes(esc)


# ---------------------------------------------------------------- mp4


class Mp4FormatError(ValueError):
    """Payload is not an ISO-BMFF (MP4/MOV) container this probe reads."""


def _walk_boxes(buf: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", buf, pos)
        btype = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise Mp4FormatError("truncated largesize box")
            (size,) = struct.unpack_from(">Q", buf, pos + 8)
            body = pos + 16
        elif size == 0:  # box extends to end
            size = end - pos
        if size < 8 or pos + size > end:
            raise Mp4FormatError(f"box {btype!r} overruns container")
        yield btype, body, pos + size
        pos += size


@_typed(Mp4FormatError)
def mp4_probe(payload: bytes) -> dict:
    """ISO-BMFF triage from the box tree only (no sample decode):
    brand, duration from mvhd, video dimensions from the first tkhd
    with nonzero width/height, and the track count. The moov walk is
    O(box headers) — mdat is skipped by its declared size, so a
    multi-GB file costs KBs of reads."""
    n = len(payload)
    if n < 12 or payload[4:8] != b"ftyp":
        raise Mp4FormatError("no ftyp box (not ISO-BMFF)")
    brand = payload[8:12].decode("ascii", "replace")
    duration_ms = width = height = None
    n_tracks = 0
    for btype, b0, b1 in _walk_boxes(payload, 0, n):
        if btype != b"moov":
            continue
        for ctype, c0, c1 in _walk_boxes(payload, b0, b1):
            if ctype == b"mvhd":
                ver = payload[c0]
                if ver == 1:
                    scale, dur = struct.unpack_from(">IQ", payload, c0 + 20)
                else:
                    scale, dur = struct.unpack_from(">II", payload, c0 + 12)
                if scale:
                    duration_ms = dur * 1000 // scale
            elif ctype == b"trak":
                n_tracks += 1
                for ttype, t0, t1 in _walk_boxes(payload, c0, c1):
                    if ttype != b"tkhd":
                        continue
                    ver = payload[t0] if t1 > t0 else 0
                    # width/height: last 8 bytes of tkhd, 16.16 fixed.
                    # Guard the full version-dependent body length
                    # (v0 = 84 B, v1 = 96 B, ISO 14496-12 §8.3.2) —
                    # a truncated tkhd would otherwise read garbage
                    # dimensions from adjacent header bytes.
                    if t1 - t0 < (96 if ver == 1 else 84):
                        continue
                    w16, h16 = struct.unpack_from(">II", payload, t1 - 8)
                    if w16 and h16 and width is None:
                        width, height = w16 >> 16, h16 >> 16
    return {
        "container": "mp4",
        "brand": brand,
        "duration_ms": duration_ms,
        "width": width,
        "height": height,
        "n_tracks": n_tracks,
    }


def mp4_build(
    width: int,
    height: int,
    duration_ms: int,
    timescale: int = 1000,
    n_audio_tracks: int = 0,
) -> bytes:
    """Structurally-valid minimal MP4 (ftyp + moov[mvhd + trak[tkhd]…]
    + empty mdat) — fixture generator for the probe."""

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version/flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, duration_ms * timescale // 1000)
        + b"\x00\x01\x00\x00"  # rate 1.0
        + b"\x01\x00"  # volume
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2 + n_audio_tracks),  # next track id
    )

    def tkhd(track_id: int, w: int, h: int) -> bytes:
        return box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + struct.pack(">II", 0, 0)
            + struct.pack(">I", track_id)
            + b"\x00" * 4
            + struct.pack(">I", duration_ms * timescale // 1000)
            + b"\x00" * 8
            + b"\x00\x00" * 2
            + b"\x00\x00" + b"\x00" * 2
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", w << 16, h << 16),
        )

    traks = box(b"trak", tkhd(1, width, height))
    for t in range(n_audio_tracks):
        traks += box(b"trak", tkhd(2 + t, 0, 0))
    moov = box(b"moov", mvhd + traks)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")
    return ftyp + moov + box(b"mdat", b"")


# ------------------------------------------- mp4 sample tables (stbl)
#
# ISO 14496-12 §8.5-8.7: per-track sample metadata lives in five
# interlocking tables — stsd (codec entry), stts (decode-time deltas,
# run-length), ctts (composition offsets, optional), stsz (sizes),
# stsc (samples-per-chunk runs), stco/co64 (chunk offsets into the
# FILE), stss (sync samples; absent = every sample is sync). Sample N's
# byte extent is: its chunk's stco offset + the sizes of the samples
# before it in that chunk. mp4_samples() walks exactly this arithmetic;
# mp4_build_tracks() writes it, so encode→extract is closed under test.


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _full(btype: bytes, body: bytes, version: int = 0) -> bytes:
    return _box(btype, bytes([version, 0, 0, 0]) + body)


def _runlength(values: list[int]) -> list[tuple[int, int]]:
    runs: list[tuple[int, int]] = []
    for v in values:
        if runs and runs[-1][1] == v:
            runs[-1] = (runs[-1][0] + 1, v)
        else:
            runs.append((1, v))
    return runs


def mp4_build_tracks(tracks: list[dict], movie_timescale: int = 1000) -> bytes:
    """Structurally-complete ISO-BMFF writer with REAL sample tables —
    the fixture generator for ``mp4_samples``.

    Each track dict: ``handler`` ('vide'|'soun'), ``codec`` (4-char
    fourcc), ``timescale``, ``samples`` (list[bytes]), ``deltas``
    (per-sample decode deltas, len == samples), optional ``ctts``
    (per-sample composition offsets), optional ``sync`` (1-based sync
    sample numbers → stss; omit for all-sync), optional
    ``width``/``height`` for video.

    Chunking is deliberately non-trivial to exercise the stsc walk:
    the first chunk holds 2 samples, later chunks 3; chunks from all
    tracks are round-robin interleaved in mdat (the layout a real
    muxer produces), so per-sample offsets cannot be computed from any
    single track's tables alone.
    """
    # ftyp is fixed-size → mdat payload base offset is known up front
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2mp41")

    # -- chunk layout: split each track's samples 2,3,3,...; interleave
    per_track_chunks: list[list[list[bytes]]] = []
    for t in tracks:
        samples = list(t["samples"])
        chunks, pos, size = [], 0, 2
        while pos < len(samples):
            chunks.append(samples[pos : pos + size])
            pos += size
            size = 3
        per_track_chunks.append(chunks)
    order: list[tuple[int, int]] = []  # (track_idx, chunk_idx) in mdat order
    for ci in range(max((len(c) for c in per_track_chunks), default=0)):
        for ti in range(len(tracks)):
            if ci < len(per_track_chunks[ti]):
                order.append((ti, ci))
    mdat_body = bytearray()
    chunk_offsets: list[dict[int, int]] = [dict() for _ in tracks]
    base = len(ftyp) + 8  # mdat body starts after its own box header
    for ti, ci in order:
        chunk_offsets[ti][ci] = base + len(mdat_body)
        for s in per_track_chunks[ti][ci]:
            mdat_body += s
    mdat = _box(b"mdat", bytes(mdat_body))

    def _stbl(t: dict, chunks: list[list[bytes]], offs: dict[int, int]) -> bytes:
        fourcc = t["codec"].encode("ascii")
        if t["handler"] == "vide":
            body = (
                b"\x00" * 6 + struct.pack(">H", 1)  # data_ref_index
                + b"\x00" * 16
                + struct.pack(">HH", t.get("width", 0), t.get("height", 0))
                + struct.pack(">II", 0x480000, 0x480000)  # 72 dpi
                + b"\x00" * 4
                + struct.pack(">H", 1)  # frame_count
                + b"\x00" * 32  # compressorname
                + struct.pack(">Hh", 24, -1)  # depth, pre_defined
            )
        else:
            body = (
                b"\x00" * 6 + struct.pack(">H", 1)
                + b"\x00" * 8
                + struct.pack(">HH", t.get("channels", 1), 16)
                + b"\x00" * 4
                + struct.pack(">I", t["timescale"] << 16)
            )
        # codec-specific config boxes appended to the sample entry
        # (e.g. dfLa for FLAC-in-ISO-BMFF encapsulation)
        body += t.get("codec_config", b"")
        stsd = _full(b"stsd", struct.pack(">I", 1) + _box(fourcc, body))
        stts_runs = _runlength(list(t["deltas"]))
        stts = _full(
            b"stts",
            struct.pack(">I", len(stts_runs))
            + b"".join(struct.pack(">II", n, d) for n, d in stts_runs),
        )
        out = stsd + stts
        if t.get("ctts") is not None:
            cruns = _runlength(list(t["ctts"]))
            out += _full(
                b"ctts",
                struct.pack(">I", len(cruns))
                + b"".join(struct.pack(">II", n, o) for n, o in cruns),
            )
        # stsc: first chunk = 2 samples, rest = 3 (only emit the second
        # run when a second chunk exists)
        entries = [(1, len(chunks[0]) if chunks else 0, 1)]
        if len(chunks) > 1:
            entries.append((2, 3, 1))
        out += _full(
            b"stsc",
            struct.pack(">I", len(entries))
            + b"".join(struct.pack(">III", f, s, d) for f, s, d in entries),
        )
        sizes = [len(s) for s in t["samples"]]
        out += _full(
            b"stsz",
            struct.pack(">II", 0, len(sizes))
            + b"".join(struct.pack(">I", s) for s in sizes),
        )
        out += _full(
            b"stco",
            struct.pack(">I", len(chunks))
            + b"".join(struct.pack(">I", offs[i]) for i in range(len(chunks))),
        )
        if t.get("sync") is not None:
            sync = sorted(t["sync"])
            out += _full(
                b"stss",
                struct.pack(">I", len(sync))
                + b"".join(struct.pack(">I", s) for s in sync),
            )
        return _box(b"stbl", out)

    traks = b""
    max_dur_movie = 0
    for ti, t in enumerate(tracks):
        dur_track = sum(t["deltas"])
        dur_movie = dur_track * movie_timescale // max(t["timescale"], 1)
        max_dur_movie = max(max_dur_movie, dur_movie)
        w, h = t.get("width", 0), t.get("height", 0)
        tkhd = _box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + struct.pack(">II", 0, 0)
            + struct.pack(">I", ti + 1)
            + b"\x00" * 4
            + struct.pack(">I", dur_movie)
            + b"\x00" * 8
            + b"\x00\x00" * 2
            + b"\x00\x00" + b"\x00" * 2
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", w << 16, h << 16),
        )
        mdhd = _full(
            b"mdhd",
            struct.pack(">II", 0, 0)
            + struct.pack(">II", t["timescale"], dur_track)
            + struct.pack(">HH", 0x55C4, 0),  # language 'und'
        )
        hdlr = _full(
            b"hdlr",
            struct.pack(">I", 0)
            + t["handler"].encode("ascii")
            + b"\x00" * 12
            + b"xetl\x00",
        )
        mhd = (
            _full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), version=0)
            if t["handler"] == "vide"
            else _full(b"smhd", struct.pack(">HH", 0, 0))
        )
        # self-contained data reference (flags bit 1)
        dinf = _box(
            b"dinf",
            _full(b"dref", struct.pack(">I", 1)
                  + struct.pack(">I", 12) + b"url " + b"\x00\x00\x00\x01"),
        )
        minf = _box(
            b"minf", mhd + dinf + _stbl(t, per_track_chunks[ti], chunk_offsets[ti])
        )
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        traks += _box(b"trak", tkhd + mdia)

    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", movie_timescale, max_dur_movie)
        + b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", len(tracks) + 1),
    )
    moov = _box(b"moov", mvhd + traks)
    return ftyp + mdat + moov


def mp4_build_fragmented(
    tracks: list[dict],
    movie_timescale: int = 1000,
    largesize_moof: bool = False,
) -> bytes:
    """Fragmented ISO-BMFF (fMP4/CMAF — the DASH/HLS streaming layout)
    writer: moov carries only track metadata plus mvex/trex defaults;
    samples live in moof[mfhd, traf[tfhd(default-base-is-moof), tfdt,
    trun]] + mdat fragments, all tracks interleaved per fragment.

    Track dict: ``handler``, ``codec``, ``timescale``, optional
    ``width``/``height``/``channels``/``codec_config``,
    ``trex_duration``/``trex_size`` (movie-level sample defaults), and
    ``fragments`` — a list of {samples: [bytes], durations: [int],
    optional ctts: [int], optional sync: {1-based local sample numbers}
    (absent = all sync), optional default_duration/default_size
    (explicit tfhd defaults — the trun then omits the per-sample
    field)}. Every track must declare the same number of fragments
    (pad with empty ones). ``largesize_moof`` writes each moof with a
    64-bit largesize (16-byte) header to exercise default-base-is-moof
    anchoring at the box's first byte."""
    ftyp = _box(
        b"ftyp", b"iso5" + struct.pack(">I", 0x200) + b"iso5iso6cmfc"
    )
    n_frags = max((len(t.get("fragments", [])) for t in tracks), default=0)

    traks = b""
    mvex = b""
    for ti, t in enumerate(tracks):
        tid = ti + 1
        fourcc = t["codec"].encode("ascii")
        if t["handler"] == "vide":
            body = (
                b"\x00" * 6 + struct.pack(">H", 1)
                + b"\x00" * 16
                + struct.pack(">HH", t.get("width", 0), t.get("height", 0))
                + struct.pack(">II", 0x480000, 0x480000)
                + b"\x00" * 4 + struct.pack(">H", 1) + b"\x00" * 32
                + struct.pack(">Hh", 24, -1)
            )
            mhd = _full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0))
        else:
            body = (
                b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
                + struct.pack(">HH", t.get("channels", 1), 16)
                + b"\x00" * 4 + struct.pack(">I", t["timescale"] << 16)
            )
            mhd = _full(b"smhd", struct.pack(">HH", 0, 0))
        body += t.get("codec_config", b"")
        stbl = _box(
            b"stbl",
            _full(b"stsd", struct.pack(">I", 1) + _box(fourcc, body))
            + _full(b"stts", struct.pack(">I", 0))
            + _full(b"stsc", struct.pack(">I", 0))
            + _full(b"stsz", struct.pack(">II", 0, 0))
            + _full(b"stco", struct.pack(">I", 0)),
        )
        dinf = _box(
            b"dinf",
            _full(b"dref", struct.pack(">I", 1)
                  + struct.pack(">I", 12) + b"url " + b"\x00\x00\x00\x01"),
        )
        mdhd = _full(
            b"mdhd",
            struct.pack(">II", 0, 0)
            + struct.pack(">II", t["timescale"], 0)
            + struct.pack(">HH", 0x55C4, 0),
        )
        hdlr = _full(
            b"hdlr",
            struct.pack(">I", 0) + t["handler"].encode("ascii")
            + b"\x00" * 12 + b"xetl\x00",
        )
        tkhd = _box(
            b"tkhd",
            b"\x00\x00\x00\x07" + struct.pack(">II", 0, 0)
            + struct.pack(">I", tid) + b"\x00" * 4 + struct.pack(">I", 0)
            + b"\x00" * 8 + b"\x00\x00" * 2 + b"\x00\x00" + b"\x00" * 2
            + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", t.get("width", 0) << 16, t.get("height", 0) << 16),
        )
        mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", mhd + dinf + stbl))
        traks += _box(b"trak", tkhd + mdia)
        # default sample flags 0 = sync (audio-style); video fragments
        # carry explicit per-sample/first-sample flags in their truns
        mvex += _full(
            b"trex",
            struct.pack(
                ">IIIII", tid, 1,
                t.get("trex_duration", 0), t.get("trex_size", 0), 0,
            ),
        )
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", movie_timescale, 0)
        + b"\x00\x01\x00\x00" + b"\x01\x00" + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24 + struct.pack(">I", len(tracks) + 1),
    )
    moov = _box(b"moov", mvhd + traks + _box(b"mvex", mvex))

    def trun_box(frag: dict, data_offset: int) -> bytes:
        samples = frag["samples"]
        durs = frag["durations"]
        ctts = frag.get("ctts")
        sync = frag.get("sync")
        flags = 0x01  # data-offset
        if "default_duration" not in frag:
            flags |= 0x100  # per-sample duration
        if "default_size" not in frag:
            flags |= 0x200  # per-sample size
        if ctts is not None:
            flags |= 0x800
        if sync is not None:
            flags |= 0x400
        body = struct.pack(">I", len(samples)) + struct.pack(">i", data_offset)
        for i, s in enumerate(samples):
            if flags & 0x100:
                body += struct.pack(">I", durs[i])
            if flags & 0x200:
                body += struct.pack(">I", len(s))
            if sync is not None:
                body += struct.pack(
                    ">I", 0 if (i + 1) in sync else 0x10000
                )
            if ctts is not None:
                body += struct.pack(">i", ctts[i])
        # trun version 1 (signed composition offsets)
        return _box(b"trun", bytes([1, 0, (flags >> 8) & 0xFF, flags & 0xFF]) + body)

    out = ftyp + moov
    dts_cursor = [0] * len(tracks)
    for fi in range(n_frags):
        frags = [
            (ti, t["fragments"][fi])
            for ti, t in enumerate(tracks)
            if fi < len(t.get("fragments", [])) and t["fragments"][fi]["samples"]
        ]
        mfhd = _full(b"mfhd", struct.pack(">I", fi + 1))
        # two passes: sizes of the traf boxes depend only on entry
        # counts, so build with a placeholder offset, then rebuild with
        # the real moof-relative data offsets
        for offsets in (None, "real"):
            pos_in_mdat = 0
            trafs = b""
            for ti, frag in frags:
                tf_flags = 0x20000  # default-base-is-moof
                tf_body = struct.pack(">I", ti + 1)
                # key present with value None = omit from tfhd too
                # (trun omits the field, the trex default applies)
                if frag.get("default_duration") is not None:
                    tf_flags |= 0x08
                    tf_body += struct.pack(">I", frag["default_duration"])
                if frag.get("default_size") is not None:
                    tf_flags |= 0x10
                    tf_body += struct.pack(">I", frag["default_size"])
                tfhd = _box(
                    b"tfhd",
                    bytes([0]) + tf_flags.to_bytes(3, "big") + tf_body,
                )
                tfdt = _box(
                    b"tfdt",
                    bytes([1, 0, 0, 0]) + struct.pack(">Q", dts_cursor[ti]),
                )
                doff = (
                    0
                    if offsets is None
                    else moof_size + 8 + pos_in_mdat  # noqa: F821
                )
                trafs += _box(b"traf", tfhd + tfdt + trun_box(frag, doff))
                pos_in_mdat += sum(len(s) for s in frag["samples"])
            moof = _box(b"moof", mfhd + trafs)
            if largesize_moof:
                body = moof[8:]
                moof = (
                    struct.pack(">I", 1) + b"moof"
                    + struct.pack(">Q", 16 + len(body)) + body
                )
            moof_size = len(moof)
        mdat_body = b"".join(
            s for _ti, frag in frags for s in frag["samples"]
        )
        out += moof + _box(b"mdat", mdat_body)
        for ti, frag in frags:
            dts_cursor[ti] += sum(frag["durations"])
    return out


@_typed(Mp4FormatError)
def mp4_samples(
    payload: bytes, with_data: bool = True, max_samples: int = 1_000_000
) -> dict:
    """Per-sample extraction from the ISO-BMFF sample tables: walks
    moov→trak→mdia→minf→stbl, expands stts/ctts/stsz/stsc/stco(/co64)
    and stss, and computes each sample's absolute byte extent in the
    file (chunk offset + preceding sample sizes within the chunk).
    Returns {"n_tracks", "samples": [{track_id, handler, codec, index,
    dts, pts, size, offset, sync, data?}], "tracks": {track_id:
    {handler, codec, timescale, n_samples, stsd_body}}} — stsd_body is
    the first sample entry's raw body (codec config boxes like dfLa
    live there). ``with_data=False`` skips the payload slices
    (metadata-only triage: O(tables), not O(mdat)).

    Every table cross-check is validated (counts agree, stsc runs
    monotonic, extents inside the file) — hostile bytes raise
    Mp4FormatError, never a silent wrong slice. Declared entry counts
    are bounded by ``max_samples`` BEFORE allocation, so a forged
    count field cannot balloon memory.
    """
    n = len(payload)
    if n < 12 or payload[4:8] != b"ftyp":
        raise Mp4FormatError("no ftyp box (not ISO-BMFF)")
    out: list[dict] = []
    tracks: dict[int, dict] = {}
    trex: dict[int, dict] = {}  # mvex defaults for fragmented tracks
    n_tracks = 0
    for btype, b0, b1 in _walk_boxes(payload, 0, n):
        if btype != b"moov":
            continue
        for ctype, c0, c1 in _walk_boxes(payload, b0, b1):
            if ctype == b"mvex":
                for xtype, x0, x1 in _walk_boxes(payload, c0, c1):
                    if xtype == b"trex" and x1 - x0 >= 24:
                        tid, _sdi, ddur, dsize, dflags = struct.unpack_from(
                            ">IIIII", payload, x0 + 4
                        )
                        trex[tid] = {
                            "duration": ddur, "size": dsize, "flags": dflags
                        }
                continue
            if ctype != b"trak":
                continue
            n_tracks += 1
            track_id = n_tracks
            handler = codec = None
            stsd_body = b""
            timescale = 1
            stts = ctts = stsz = stsc = stco = stss = None
            for ttype, t0, t1 in _walk_boxes(payload, c0, c1):
                if ttype == b"tkhd" and t1 - t0 >= 16:
                    ver = payload[t0]
                    track_id = struct.unpack_from(
                        ">I", payload, t0 + (28 if ver == 1 else 12)
                    )[0]
                elif ttype == b"mdia":
                    for mtype, m0, m1 in _walk_boxes(payload, t0, t1):
                        if mtype == b"mdhd":
                            ver = payload[m0]
                            timescale = struct.unpack_from(
                                ">I", payload, m0 + (20 if ver == 1 else 12)
                            )[0]
                        elif mtype == b"hdlr":
                            handler = payload[m0 + 8 : m0 + 12].decode(
                                "ascii", "replace"
                            )
                        elif mtype == b"minf":
                            for xtype, x0, x1 in _walk_boxes(payload, m0, m1):
                                if xtype != b"stbl":
                                    continue
                                for st, s0, s1 in _walk_boxes(payload, x0, x1):
                                    if st == b"stsd" and s1 - s0 >= 16:
                                        codec = payload[s0 + 12 : s0 + 16].decode(
                                            "ascii", "replace"
                                        )
                                        # first entry body (after its
                                        # own 8-byte box header)
                                        (esz,) = struct.unpack_from(
                                            ">I", payload, s0 + 8
                                        )
                                        stsd_body = payload[
                                            s0 + 16 : min(s0 + 8 + esz, s1)
                                        ]
                                    elif st == b"stts":
                                        stts = (s0, s1)
                                    elif st == b"ctts":
                                        ctts = (s0, s1)
                                    elif st == b"stsz":
                                        stsz = (s0, s1)
                                    elif st == b"stsc":
                                        stsc = (s0, s1)
                                    elif st in (b"stco", b"co64"):
                                        stco = (st, s0, s1)
                                    elif st == b"stss":
                                        stss = (s0, s1)
            if stsz is None or stsc is None or stco is None or stts is None:
                # hint-only or fragmented track (sample data in moof
                # fragments) — register the metadata so the moof walk
                # can resolve handler/codec/timescale by track_id
                tracks[track_id] = {
                    "handler": handler,
                    "codec": codec,
                    "timescale": timescale,
                    "n_samples": 0,
                    "stsd_body": stsd_body,
                }
                continue

            def _entries(extent, fmt, width, cap, skip=4):
                s0, s1 = extent
                (cnt,) = struct.unpack_from(">I", payload, s0 + skip)
                if cnt > cap:
                    raise Mp4FormatError(f"table declares {cnt} entries")
                need = s0 + skip + 4 + cnt * width
                if need > s1:
                    raise Mp4FormatError("sample table truncated")
                return [
                    struct.unpack_from(fmt, payload, s0 + skip + 4 + i * width)
                    for i in range(cnt)
                ]

            # sizes
            s0, s1 = stsz
            fixed, count = struct.unpack_from(">II", payload, s0 + 4)
            if count > max_samples:
                raise Mp4FormatError(f"stsz declares {count} samples")
            if fixed:
                sizes = [fixed] * count
            else:
                if s0 + 12 + 4 * count > s1:
                    raise Mp4FormatError("stsz truncated")
                sizes = [
                    struct.unpack_from(">I", payload, s0 + 12 + 4 * i)[0]
                    for i in range(count)
                ]
            # decode deltas -> dts
            deltas: list[int] = []
            for cnt, delta in _entries(stts, ">II", 8, max_samples):
                if len(deltas) + cnt > count:
                    raise Mp4FormatError("stts covers more samples than stsz")
                deltas.extend([delta] * cnt)
            if len(deltas) != count:
                raise Mp4FormatError("stts covers fewer samples than stsz")
            dts = [0] * count
            for i in range(1, count):
                dts[i] = dts[i - 1] + deltas[i - 1]
            # composition offsets -> pts
            offsets_ct = [0] * count
            if ctts is not None:
                pos = 0
                for cnt, off in _entries(ctts, ">Ii", 8, max_samples):
                    if pos + cnt > count:
                        raise Mp4FormatError("ctts overruns sample count")
                    for _ in range(cnt):
                        offsets_ct[pos] = off
                        pos += 1
                if pos != count:
                    raise Mp4FormatError("ctts covers fewer samples than stsz")
            # chunk offsets
            ckind, s0, s1 = stco
            if ckind == b"stco":
                chunk_offs = [v for (v,) in _entries((s0, s1), ">I", 4, max_samples)]
            else:
                chunk_offs = [v for (v,) in _entries((s0, s1), ">Q", 8, max_samples)]
            # samples-per-chunk runs (all tables legally empty when the
            # track's samples live in moof fragments)
            runs = _entries(stsc, ">III", 12, max_samples)
            if count and (not runs or runs[0][0] != 1):
                raise Mp4FormatError("stsc must start at chunk 1")
            for (f1, _, _), (f2, _, _) in zip(runs, runs[1:]):
                if f2 <= f1:
                    raise Mp4FormatError("stsc first_chunk not increasing")
            # sync table
            sync_set = None
            if stss is not None:
                sync_set = {v for (v,) in _entries(stss, ">I", 4, max_samples)}
            # walk chunks, assigning samples
            si = 0
            for ci, coff in enumerate(chunk_offs, start=1):
                spc = 0
                for f, s, _ in runs:
                    if f <= ci:
                        spc = s
                    else:
                        break
                pos = coff
                for _ in range(spc):
                    if si >= count:
                        break
                    size = sizes[si]
                    if pos + size > n:
                        raise Mp4FormatError("sample extent beyond file end")
                    rec = {
                        "track_id": track_id,
                        "handler": handler,
                        "codec": codec,
                        "index": si,
                        "dts": dts[si],
                        "pts": dts[si] + offsets_ct[si],
                        "timescale": timescale,
                        "size": size,
                        "offset": pos,
                        "sync": sync_set is None or (si + 1) in sync_set,
                    }
                    if with_data:
                        rec["data"] = payload[pos : pos + size]
                    out.append(rec)
                    pos += size
                    si += 1
            if si != count:
                raise Mp4FormatError(
                    f"chunk layout covers {si} of {count} samples"
                )
            tracks[track_id] = {
                "handler": handler,
                "codec": codec,
                "timescale": timescale,
                "n_samples": count,
                "stsd_body": stsd_body,
            }

    # ---- fragmented layout (fMP4/CMAF): moof[mfhd, traf[tfhd, tfdt?,
    # trun+]] + mdat per fragment. Defaults cascade trun -> tfhd ->
    # trex; data offsets anchor at tfhd base_data_offset or (the
    # default-base-is-moof convention) the moof box start.
    frag_index: dict[int, int] = {}  # per-track running sample index
    frag_dts: dict[int, int] = {}  # per-track decode-time cursor
    for btype, b0, b1 in _walk_boxes(payload, 0, n):
        if btype != b"moof":
            continue
        # header start, not body start: a moof written with a 64-bit
        # largesize header (16-byte header) must still anchor
        # default-base-is-moof offsets at the box's first byte
        moof_start = (
            b0 - 8 if payload[b0 - 4 : b0] == b"moof" else b0 - 16
        )
        for ctype, c0, c1 in _walk_boxes(payload, b0, b1):
            if ctype != b"traf":
                continue
            tfhd = None
            base_dts = None
            truns = []
            for xtype, x0, x1 in _walk_boxes(payload, c0, c1):
                if xtype == b"tfhd":
                    flags = int.from_bytes(payload[x0 + 1 : x0 + 4], "big")
                    (tid,) = struct.unpack_from(">I", payload, x0 + 4)
                    p = x0 + 8
                    base = None
                    if flags & 0x01:
                        (base,) = struct.unpack_from(">Q", payload, p)
                        p += 8
                    if flags & 0x02:
                        p += 4  # sample_description_index
                    ddur = dsize = dflags = None
                    if flags & 0x08:
                        (ddur,) = struct.unpack_from(">I", payload, p)
                        p += 4
                    if flags & 0x10:
                        (dsize,) = struct.unpack_from(">I", payload, p)
                        p += 4
                    if flags & 0x20:
                        (dflags,) = struct.unpack_from(">I", payload, p)
                        p += 4
                    tfhd = {
                        "tid": tid,
                        "base": base,
                        "base_is_moof": bool(flags & 0x20000),
                        "duration": ddur,
                        "size": dsize,
                        "flags": dflags,
                    }
                elif xtype == b"tfdt":
                    ver = payload[x0]
                    base_dts = (
                        struct.unpack_from(">Q", payload, x0 + 4)[0]
                        if ver == 1
                        else struct.unpack_from(">I", payload, x0 + 4)[0]
                    )
                elif xtype == b"trun":
                    truns.append((x0, x1))
            if tfhd is None:
                raise Mp4FormatError("traf without tfhd")
            tid = tfhd["tid"]
            tmeta = tracks.get(tid)
            if tmeta is None:
                raise Mp4FormatError(f"moof references unknown track {tid}")
            tdefaults = trex.get(tid, {})
            # explicit tfhd value wins even when it is 0 — `or` would
            # let a signaled 0 fall through to the trex default
            ddur = tfhd["duration"]
            if ddur is None:
                ddur = tdefaults.get("duration")
            if ddur is None:
                ddur = 0
            dsize = tfhd["size"]
            if dsize is None:
                dsize = tdefaults.get("size")
            if dsize is None:
                dsize = 0
            dflags = (
                tfhd["flags"]
                if tfhd["flags"] is not None
                else tdefaults.get("flags", 0)
            )
            base = tfhd["base"]
            if base is None:
                base = moof_start  # default-base-is-moof + the common
                # first-traf convention coincide for this layout
            if base_dts is not None:
                frag_dts[tid] = base_dts
            dts_cur = frag_dts.get(tid, 0)
            pos = base
            for x0, x1 in truns:
                ver = payload[x0]
                tflags = int.from_bytes(payload[x0 + 1 : x0 + 4], "big")
                (cnt,) = struct.unpack_from(">I", payload, x0 + 4)
                if cnt > max_samples:
                    raise Mp4FormatError(f"trun declares {cnt} samples")
                p = x0 + 8
                if tflags & 0x01:
                    (doff,) = struct.unpack_from(">i", payload, p)
                    p += 4
                    pos = base + doff
                first_flags = None
                if tflags & 0x04:
                    (first_flags,) = struct.unpack_from(">I", payload, p)
                    p += 4
                per = (
                    (4 if tflags & 0x100 else 0)
                    + (4 if tflags & 0x200 else 0)
                    + (4 if tflags & 0x400 else 0)
                    + (4 if tflags & 0x800 else 0)
                )
                if p + cnt * per > x1:
                    raise Mp4FormatError("trun truncated")
                for i in range(cnt):
                    dur, size, sflags, cofs = ddur, dsize, dflags, 0
                    if tflags & 0x100:
                        (dur,) = struct.unpack_from(">I", payload, p)
                        p += 4
                    if tflags & 0x200:
                        (size,) = struct.unpack_from(">I", payload, p)
                        p += 4
                    if tflags & 0x400:
                        (sflags,) = struct.unpack_from(">I", payload, p)
                        p += 4
                    if tflags & 0x800:
                        (cofs,) = (
                            struct.unpack_from(">i", payload, p)
                            if ver
                            else struct.unpack_from(">I", payload, p)
                        )
                        p += 4
                    if i == 0 and first_flags is not None:
                        sflags = first_flags
                    if pos + size > n:
                        raise Mp4FormatError("fragment sample beyond file end")
                    idx = frag_index.get(tid, tmeta["n_samples"])
                    rec = {
                        "track_id": tid,
                        "handler": tmeta["handler"],
                        "codec": tmeta["codec"],
                        "index": idx,
                        "dts": dts_cur,
                        "pts": dts_cur + cofs,
                        "timescale": tmeta["timescale"],
                        "size": size,
                        "offset": pos,
                        # ISO 14496-12: flag bit 0x10000 marks NON-sync
                        "sync": not (sflags & 0x10000),
                    }
                    if with_data:
                        rec["data"] = payload[pos : pos + size]
                    out.append(rec)
                    frag_index[tid] = idx + 1
                    pos += size
                    dts_cur += dur
            frag_dts[tid] = dts_cur
    for tid, extra in frag_index.items():
        tracks[tid]["n_samples"] = extra
    return {"n_tracks": n_tracks, "samples": out, "tracks": tracks}


# ---------------------------------------------------------------- flac


class FlacFormatError(ValueError):
    """Payload is not a FLAC stream with a STREAMINFO block."""


@_typed(FlacFormatError)
def flac_probe(payload: bytes) -> dict:
    """sample_rate/channels/bits/duration from the mandatory
    STREAMINFO metadata block — first KB of the file, no frame decode."""
    if payload[:4] != b"fLaC":
        raise FlacFormatError("no fLaC magic")
    pos = 4
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        pos += 4
        if btype == 0:  # STREAMINFO
            if length < 34 or pos + 34 > len(payload):
                raise FlacFormatError("truncated STREAMINFO")
            b = payload[pos : pos + 34]
            bits = int.from_bytes(b[10:18], "big")  # 64 bits from offset 10
            sample_rate = bits >> 44
            channels = ((bits >> 41) & 0x7) + 1
            bps = ((bits >> 36) & 0x1F) + 1
            total = bits & ((1 << 36) - 1)
            return {
                "container": "flac",
                "sample_rate": sample_rate,
                "channels": channels,
                "bits_per_sample": bps,
                "n_samples": total,
                "duration_ms": total * 1000 // sample_rate if sample_rate else None,
            }
        pos += length
        if last:
            break
    raise FlacFormatError("no STREAMINFO block")


def flac_build(
    sample_rate: int, channels: int, n_samples: int, bps: int = 16
) -> bytes:
    """Structurally-valid FLAC header (magic + STREAMINFO, no frames)."""
    info = bytearray(34)
    info[0:2] = (4096).to_bytes(2, "big")  # min blocksize
    info[2:4] = (4096).to_bytes(2, "big")  # max blocksize
    bits = (sample_rate << 44) | ((channels - 1) << 41) | ((bps - 1) << 36) | n_samples
    info[10:18] = bits.to_bytes(8, "big")
    return b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)


# FLAC frame-header tables (RFC 9639 §9.1): coded block sizes / rates
_FLAC_BLOCKSIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_FLAC_RATES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}


def _flac_coded_number(b: bytes, pos: int):
    """FLAC's extended-UTF-8 frame/sample number (1-7 bytes, ≤36 bits).
    Returns (value, next_pos) or None on malformed coding."""
    if pos >= len(b):
        return None
    first = b[pos]
    if first < 0x80:
        return first, pos + 1
    n = 0
    mask = 0x80
    while first & mask:
        n += 1
        mask >>= 1
    if n < 2 or n > 7:
        return None
    val = first & (0xFF >> (n + 1))
    pos += 1
    for _ in range(n - 1):
        if pos >= len(b) or (b[pos] & 0xC0) != 0x80:
            return None
        val = (val << 6) | (b[pos] & 0x3F)
        pos += 1
    return val, pos


def _flac_frame_header(b: bytes, j: int, streaminfo_rate: int):
    """Validate a FLAC frame header at offset j (sync + field ranges +
    CRC-8). Returns the parsed header dict or None."""
    if j + 5 > len(b) or b[j] != 0xFF or (b[j + 1] & 0xFC) != 0xF8:
        return None
    if b[j + 1] & 0x02:  # reserved bit
        return None
    variable = bool(b[j + 1] & 0x01)
    bs_code = b[j + 2] >> 4
    sr_code = b[j + 2] & 0x0F
    ch_code = b[j + 3] >> 4
    ss_code = (b[j + 3] >> 1) & 0x07
    # ss_code 3 is the only reserved sample-size code; 7 = 32 bps
    # (RFC 9639 §9.1 — rejecting 7 misclassified every valid 32-bps
    # frame as a CRC failure, review-confirmed)
    if b[j + 3] & 1 or bs_code == 0 or sr_code == 15 or ch_code > 10 or ss_code == 3:
        return None
    pos = j + 4
    r = _flac_coded_number(b, pos)
    if r is None:
        return None
    number, pos = r
    if bs_code == 6:
        if pos + 1 > len(b):
            return None
        blocksize = b[pos] + 1
        pos += 1
    elif bs_code == 7:
        if pos + 2 > len(b):
            return None
        blocksize = int.from_bytes(b[pos : pos + 2], "big") + 1
        pos += 2
    else:
        blocksize = _FLAC_BLOCKSIZES[bs_code]
    if sr_code == 12:
        if pos + 1 > len(b):
            return None
        rate = b[pos] * 1000
        pos += 1
    elif sr_code in (13, 14):
        if pos + 2 > len(b):
            return None
        rate = int.from_bytes(b[pos : pos + 2], "big") * (10 if sr_code == 14 else 1)
        pos += 2
    elif sr_code == 0:
        rate = streaminfo_rate
    else:
        rate = _FLAC_RATES[sr_code]
    if pos + 1 > len(b):
        return None
    if _crc8(b[j:pos]) != b[pos]:
        return None
    return {
        "offset": j,
        "number": number,
        "blocksize": blocksize,
        "rate": rate,
        "variable": variable,
        "end": pos + 1,
    }


@_typed(FlacFormatError)
def flac_frame_walk(payload: bytes, max_frames: int = 1_000_000) -> dict:
    """Frame-level FLAC triage (the mp3_probe analog): walk the audio
    region validating each frame header's sync pattern, field ranges,
    and CRC-8 — no subframe decode needed, the fixed header is public
    spec (RFC 9639 §9.1).

    FLAC frames don't carry their own length, so the walk scans for
    sync candidates and accepts only CRC-valid headers; a corrupt
    header surfaces as ``crc_failures`` (sync-pattern hits whose
    checksum fails) rather than silently ending the stream — the triage
    a data pipeline runs to split salvageable from truncated files.
    Returns frame counts, summed samples, duration, and whether the
    walk agrees with STREAMINFO's declared total."""
    info = flac_probe(payload)  # raises FlacFormatError on bad container
    # skip metadata blocks to the first audio byte
    pos = 4
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        pos += 4 + length
        if hdr & 0x80:
            break
    n_frames = 0
    n_samples = 0
    crc_failures = 0
    variable = None
    j = pos
    while j < len(payload) and n_frames < max_frames:
        if payload[j] != 0xFF or j + 1 >= len(payload) or (payload[j + 1] & 0xFC) != 0xF8:
            j += 1
            continue
        h = _flac_frame_header(payload, j, info["sample_rate"])
        if h is None:
            crc_failures += 1
            j += 1
            continue
        n_frames += 1
        n_samples += h["blocksize"]
        variable = h["variable"] if variable is None else variable
        j = h["end"]
    rate = info["sample_rate"]
    return {
        "container": "flac",
        "n_frames": n_frames,
        "n_samples": n_samples,
        "duration_ms": n_samples * 1000 // rate if rate else None,
        "variable_blocksize": variable,
        "crc_failures": crc_failures,
        "matches_streaminfo": (
            info["n_samples"] == n_samples if info["n_samples"] else None
        ),
    }


def flac_build_frames(
    sample_rate: int,
    channels: int,
    blocksizes: list[int],
    bps: int = 16,
    body: bytes = b"\x00" * 8,
) -> bytes:
    """Structurally-valid FLAC stream for tests: STREAMINFO + one
    CRC-8-correct fixed-blocksize frame header per entry in
    ``blocksizes`` (bodies are inert filler — no subframe data, enough
    for header-walk testing; a real decoder would reject them)."""
    out = bytearray(flac_build(sample_rate, channels, sum(blocksizes), bps=bps))
    bs_rev = {v: k for k, v in _FLAC_BLOCKSIZES.items()}
    sr_rev = {v: k for k, v in _FLAC_RATES.items()}
    ss_rev = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}
    for i, bs in enumerate(blocksizes):
        hdr = bytearray([0xFF, 0xF8])  # fixed blocksize strategy
        bs_code = bs_rev.get(bs, 7)
        sr_code = sr_rev.get(sample_rate, 13)
        hdr.append((bs_code << 4) | sr_code)
        hdr.append(((channels - 1) << 4) | (ss_rev.get(bps, 0) << 1))
        # frame number, extended-UTF-8 (test streams stay < 128 frames)
        if i >= 0x80:
            raise ValueError("flac_build_frames supports < 128 frames")
        hdr.append(i)
        if bs_code == 7:
            hdr += (bs - 1).to_bytes(2, "big")
        if sr_code == 13:
            hdr += sample_rate.to_bytes(2, "big")
        hdr.append(_crc8(bytes(hdr)))
        out += hdr + body
    return bytes(out)


# ---------------------------------------------------------------- ogg


class OggFormatError(ValueError):
    """Payload is not an Ogg stream with an Opus/Vorbis ident header."""


def _ogg_page(payload: bytes, pos: int):
    """Parse one Ogg page header → (granule, serial, body_start,
    body_len, next_pos)."""
    if payload[pos : pos + 4] != b"OggS":
        raise OggFormatError("missing OggS capture pattern")
    if pos + 27 > len(payload):
        raise OggFormatError("truncated page header")
    granule = int.from_bytes(payload[pos + 6 : pos + 14], "little", signed=True)
    serial = int.from_bytes(payload[pos + 14 : pos + 18], "little")
    nseg = payload[pos + 26]
    seg_tbl = payload[pos + 27 : pos + 27 + nseg]
    if len(seg_tbl) != nseg:
        raise OggFormatError("truncated segment table")
    body_len = sum(seg_tbl)
    body_start = pos + 27 + nseg
    if body_start + body_len > len(payload):
        raise OggFormatError("page body overruns payload")
    return granule, serial, body_start, body_len, body_start + body_len


@_typed(OggFormatError)
def ogg_probe(payload: bytes) -> dict:
    """Ogg container triage: codec (opus/vorbis), channels, sample
    rate, and duration from the LAST page's granule position — page
    headers only, no audio decode."""
    g, serial, b0, blen, pos = _ogg_page(payload, 0)
    first = payload[b0 : b0 + blen]
    if first[:8] == b"OpusHead":
        codec = "opus"
        channels = first[9]
        sample_rate = int.from_bytes(first[12:16], "little")
        granule_rate = 48000  # Opus granules are always 48 kHz
        pre_skip = int.from_bytes(first[10:12], "little")
    elif first[:7] == b"\x01vorbis":
        codec = "vorbis"
        channels = first[11]
        sample_rate = int.from_bytes(first[12:16], "little")
        granule_rate = sample_rate
        pre_skip = 0
    else:
        raise OggFormatError("first packet is neither OpusHead nor Vorbis ident")
    last_granule = g
    while pos < len(payload):
        g2, s2, _b, _l, pos = _ogg_page(payload, pos)
        if s2 == serial and g2 >= 0:
            last_granule = g2
    samples = max(0, last_granule - pre_skip)
    return {
        "container": "ogg",
        "codec": codec,
        "channels": channels,
        "sample_rate": sample_rate,
        "duration_ms": samples * 1000 // granule_rate if granule_rate else None,
    }


def ogg_build(
    codec: str, channels: int, sample_rate: int, n_samples: int
) -> bytes:
    """Structurally-valid Ogg (ident page + one data page carrying the
    final granule) — fixture generator; CRCs are zeroed (the probe
    does not verify them, matching the triage contract)."""

    def page(serial: int, seq: int, granule: int, body: bytes, htype: int) -> bytes:
        segs = []
        n = len(body)
        while n >= 255:
            segs.append(255)
            n -= 255
        segs.append(n)
        hdr = (
            b"OggS" + bytes([0, htype])
            + granule.to_bytes(8, "little", signed=True)
            + serial.to_bytes(4, "little")
            + seq.to_bytes(4, "little")
            + b"\x00\x00\x00\x00"
            + bytes([len(segs)]) + bytes(segs)
        )
        return hdr + body

    if codec == "opus":
        ident = (
            b"OpusHead" + bytes([1, channels]) + (312).to_bytes(2, "little")
            + sample_rate.to_bytes(4, "little") + b"\x00\x00" + bytes([0])
        )
        granule = n_samples + 312  # granule includes pre-skip
    else:
        ident = (
            b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([channels])
            + sample_rate.to_bytes(4, "little") + b"\x00" * 12 + bytes([0x01])
        )
        granule = n_samples
    return page(7, 0, 0, ident, 2) + page(7, 1, granule, b"\x00" * 10, 4)


# ---------------------------------------------------------------------------
# ID3v2 tags (audio-corpus metadata: title/artist/album/year/track/genre)

_ID3_COMMON = {
    # v2.3/2.4 id      v2.2 id   field
    "TIT2": "title", "TT2": "title",
    "TPE1": "artist", "TP1": "artist",
    "TALB": "album", "TAL": "album",
    "TDRC": "year", "TYER": "year", "TYE": "year",
    "TRCK": "track", "TRK": "track",
    "TCON": "genre", "TCO": "genre",
}

_ID3_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


@_typed(Mp3FormatError)
def id3_tags(payload: bytes) -> dict:
    """Parse an ID3v2.2/2.3/2.4 tag's common text frames — the
    metadata pass an audio-corpus pipeline runs before any decode.

    Returns {version, title, artist, album, year, track, genre,
    n_frames}; fields absent from the tag are None. Handles syncsafe
    sizes, the unsynchronisation flag, extended headers, and all four
    declared text encodings. Typed Mp3FormatError when no ID3v2
    header is present or the tag is malformed."""
    b = payload
    if b[:3] != b"ID3" or len(b) < 10:
        raise Mp3FormatError("no ID3v2 header")
    major = b[3]
    if major not in (2, 3, 4):
        raise Mp3FormatError(f"ID3v2.{major} unsupported")
    flags = b[5]
    size = _syncsafe(b[6:10])
    body = bytes(b[10 : 10 + size])
    if len(body) < size:
        raise Mp3FormatError("truncated ID3v2 tag")
    if flags & 0x80:  # unsynchronisation: FF 00 -> FF
        body = body.replace(b"\xff\x00", b"\xff")
    pos = 0
    if flags & 0x40 and major >= 3:  # extended header
        if major == 3:
            pos = 4 + int.from_bytes(body[0:4], "big")
        else:
            pos = _syncsafe(body[0:4])
    out = {
        "version": f"2.{major}",
        "title": None, "artist": None, "album": None,
        "year": None, "track": None, "genre": None,
        "n_frames": 0,
    }
    id_len, sz_len = (3, 3) if major == 2 else (4, 4)
    while pos + id_len + sz_len <= len(body):
        fid = body[pos : pos + id_len]
        if fid == b"\x00" * id_len or not fid.strip(b"\x00"):
            break  # padding
        raw_sz = body[pos + id_len : pos + id_len + sz_len]
        if major == 2:
            fsize = int.from_bytes(raw_sz, "big")
            hdr = id_len + sz_len
        else:
            fsize = _syncsafe(raw_sz) if major == 4 else int.from_bytes(raw_sz, "big")
            hdr = id_len + sz_len + 2  # frame flags
        frame = body[pos + hdr : pos + hdr + fsize]
        if len(frame) < fsize:
            raise Mp3FormatError("truncated ID3v2 frame")
        pos += hdr + fsize
        out["n_frames"] += 1
        try:
            fid_s = fid.decode("ascii")
        except UnicodeDecodeError:
            raise Mp3FormatError("bad ID3v2 frame id") from None
        field = _ID3_COMMON.get(fid_s)
        if field is None or not frame:
            continue
        codec = _ID3_ENCODINGS.get(frame[0])
        if codec is None:
            raise Mp3FormatError(f"bad ID3v2 text encoding {frame[0]}")
        text = frame[1:].decode(codec, "replace").split("\x00", 1)[0].strip()
        if text and out[field] is None:
            out[field] = text
    return out


def id3_build(tags: dict, version: int = 3, unsync: bool = False) -> bytes:
    """Deterministic ID3v2.3/2.4 tag builder (fixture generator)."""
    if version not in (3, 4):
        raise ValueError("id3_build supports v2.3/2.4")
    rev = {"title": "TIT2", "artist": "TPE1", "album": "TALB",
           "year": "TDRC" if version == 4 else "TYER",
           "track": "TRCK", "genre": "TCON"}
    frames = bytearray()
    for field, fid in rev.items():
        val = tags.get(field)
        if val is None:
            continue
        body = b"\x03" + str(val).encode("utf-8")
        sz = (
            bytes([(len(body) >> s) & 0x7F for s in (21, 14, 7, 0)])
            if version == 4
            else len(body).to_bytes(4, "big")
        )
        frames += fid.encode() + sz + b"\x00\x00" + body
    payload = bytes(frames)
    flags = 0
    if unsync:
        payload = payload.replace(b"\xff", b"\xff\x00")
        flags |= 0x80
    size = len(payload)
    ss = bytes([(size >> s) & 0x7F for s in (21, 14, 7, 0)])
    return b"ID3" + bytes([version, 0, flags]) + ss + payload


# ---------------------------------------------------------------- ivf


class IvfFormatError(ValueError):
    """Payload is not an IVF (DKIF) stream this probe reads."""


def ivf_build(
    frames: list[bytes],
    codec: str = "VP80",
    width: int = 0,
    height: int = 0,
    timebase: tuple[int, int] = (30, 1),
    pts: list[int] | None = None,
) -> bytes:
    """IVF container writer (the raw VP8/VP9/AV1 stream format used by
    encoder test vectors): 32-byte DKIF header + per-frame 12-byte
    (size, pts) headers."""
    rate, scale = timebase
    out = bytearray(
        b"DKIF"
        + struct.pack("<HH", 0, 32)
        + codec.encode("ascii")
        + struct.pack("<HH", width, height)
        + struct.pack("<IIII", rate, scale, len(frames), 0)
    )
    for i, f in enumerate(frames):
        t = pts[i] if pts is not None else i
        out += struct.pack("<IQ", len(f), t) + f
    return bytes(out)


@_typed(IvfFormatError)
def ivf_probe(payload: bytes, max_frames: int = 1_000_000) -> dict:
    """IVF triage: codec fourcc, declared dimensions, timebase, and a
    frame walk (count, byte extents, pts). For VP8 payloads the first
    key frame's full header is parsed via operators/vp8.py, surfacing
    the quantizer/quality signal for raw-stream corpora. O(frame
    headers) — payload bytes are skipped by declared size."""
    if payload[:4] != b"DKIF":
        raise IvfFormatError("no DKIF magic")
    if len(payload) < 32:
        raise IvfFormatError("truncated IVF header")
    version, hdr_size = struct.unpack_from("<HH", payload, 4)
    codec = payload[8:12].decode("ascii", "replace")
    width, height = struct.unpack_from("<HH", payload, 12)
    rate, scale, declared, _ = struct.unpack_from("<IIII", payload, 16)
    pos = hdr_size
    frames = []
    while pos + 12 <= len(payload) and len(frames) < max_frames:
        size, t = struct.unpack_from("<IQ", payload, pos)
        if pos + 12 + size > len(payload):
            raise IvfFormatError("frame extent beyond payload")
        frames.append((pos + 12, size, t))
        pos += 12 + size
    if pos != len(payload) and len(frames) < max_frames:
        raise IvfFormatError("trailing bytes are not a complete frame header")
    out = {
        "container": "ivf",
        "codec": codec,
        "width": width,
        "height": height,
        "timebase": (rate, scale),
        "declared_frames": declared,
        "n_frames": len(frames),
        "duration_ms": (
            (frames[-1][2] + 1) * scale * 1000 // rate if frames and rate else None
        ),
        "_frames": frames,
    }
    if codec == "VP80" and frames:
        from xetl_spark.operators.vp8 import Vp8FormatError, vp8_header_probe

        off, size, _t = frames[0]
        try:
            out["vp8_header"] = vp8_header_probe(payload[off : off + size])
        except Vp8FormatError:
            out["vp8_header"] = None  # interframe-first or damaged stream
    elif codec == "VP90" and frames:
        from xetl_spark.operators.vp9 import Vp9FormatError, vp9_header_probe

        off, size, _t = frames[0]
        try:
            out["vp9_header"] = vp9_header_probe(payload[off : off + size])
        except Vp9FormatError:
            out["vp9_header"] = None
    elif codec == "AV01" and frames:
        from xetl_spark.operators.av1 import Av1FormatError, av1_sequence_probe

        off, size, _t = frames[0]
        try:
            out["av1_header"] = av1_sequence_probe(payload[off : off + size])
        except Av1FormatError:
            out["av1_header"] = None
    return out
