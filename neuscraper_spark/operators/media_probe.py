"""Header-level media inventory: format, dimensions, rate and duration
read from container headers, never from the payload.

Every format here carries the metadata a curation filter needs in a
public, self-describing header, so no pixel, sample or frame is decoded:

- BMP: the BITMAPINFOHEADER holds width and height;
- PNG: the IHDR chunk, which the spec puts first, holds them;
- JPEG: the first SOFn segment of the marker walk holds them;
- WAV: the ``fmt `` chunk holds the rate and the ``data`` chunk's size
  gives the length;
- MP3: a walk of self-describing frame headers gives duration, rate and
  bitrate;
- MP4: a walk of the length-prefixed ISO-BMFF box tree gives duration,
  codec and track dimensions.

``media_inventory`` runs them Arrow-batched over a table of blobs. A blob
whose header is valid but whose payload is corrupt gets its metadata;
only a header that cannot be read gives an ``err``.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# ------------------------------------------------------------------ MP3

# MPEG-1 Layer III bitrate table (kbps), index 1-14 (public: ISO 11172-3)
_BITRATE_V1_L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
# MPEG-2/2.5 Layer III
_BITRATE_V2_L3 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160]
_SAMPLERATE = {
    3: [44100, 48000, 32000],  # MPEG-1
    2: [22050, 24000, 16000],  # MPEG-2
    0: [11025, 12000, 8000],   # MPEG-2.5
}


def probe_mp3(payload: bytes) -> dict:
    """Walk MPEG audio frames -> {frames, duration_sec, sample_rate,
    bitrate_kbps (modal), vbr}. Skips an ID3v2 prefix (syncsafe size);
    resyncs on garbage between frames; Layer III only (the 'MP3' in
    MP3). Raises ValueError when no valid frame is found."""
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = 0
        for b in payload[6:10]:  # syncsafe u28
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size
    frames = 0
    duration = 0.0
    bitrates: dict[int, int] = {}
    sample_rate = None
    while pos + 4 <= len(payload):
        b0, b1, b2, _b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            pos += 1  # resync
            continue
        version = (b1 >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (b1 >> 1) & 0x3    # 1 == Layer III
        if version == 1 or layer != 1:
            pos += 1
            continue
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        padding = (b2 >> 1) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            pos += 1
            continue
        table = _BITRATE_V1_L3 if version == 3 else _BITRATE_V2_L3
        kbps = table[br_idx]
        sr = _SAMPLERATE[version][sr_idx]
        spf = 1152 if version == 3 else 576  # samples per frame, LSF halves
        frame_len = (spf // 8) * kbps * 1000 // sr + padding
        if frame_len <= 4 or pos + frame_len > len(payload):
            break
        frames += 1
        duration += spf / sr
        bitrates[kbps] = bitrates.get(kbps, 0) + 1
        sample_rate = sr
        pos += frame_len
    if frames == 0:
        raise ValueError("no valid MPEG audio frame found")
    modal = max(bitrates, key=lambda k: bitrates[k])
    return {
        "frames": frames,
        "duration_sec": round(duration, 4),
        "sample_rate": sample_rate,
        "bitrate_kbps": modal,
        "vbr": len(bitrates) > 1,
    }


# ------------------------------------------------------------------ MP4


def _boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for ISO-BMFF boxes in range."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", data, pos)[0]
        btype = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box header")
            size = struct.unpack_from(">Q", data, pos + 8)[0]
            hdr = 16
        elif size == 0:
            size = end - pos  # box extends to end of enclosing scope
        if size < hdr or pos + size > end:
            raise ValueError(f"bad box size {size} for {btype!r}")
        yield btype, pos + hdr, pos + size
        pos += size


def _first(data, start, end, btype):
    for t, s, e in _boxes(data, start, end):
        if t == btype:
            return s, e
    return None


def probe_mp4(payload: bytes) -> dict:
    """ISO-BMFF box walk -> {brand, duration_sec, tracks:[{kind, codec,
    width, height, n_samples, timescale}]}. Parses ftyp/moov(mvhd,
    trak(tkhd, mdia(mdhd, hdlr, minf/stbl(stsd, stsz)))); mdat is
    skipped untouched (that's the media). Raises ValueError on a
    malformed tree."""
    end = len(payload)
    brand = None
    out_tracks = []
    duration_sec = None
    moov = None
    for t, s, e in _boxes(payload, 0, end):
        if t == b"ftyp":
            brand = payload[s : s + 4].decode("latin1")
        elif t == b"moov":
            moov = (s, e)
    if moov is None:
        raise ValueError("MP4 missing moov box")
    s, e = moov
    mvhd = _first(payload, s, e, b"mvhd")
    if mvhd:
        ms, _me = mvhd
        ver = payload[ms]
        if ver == 1:
            timescale = struct.unpack_from(">I", payload, ms + 20)[0]
            dur = struct.unpack_from(">Q", payload, ms + 24)[0]
        else:
            timescale = struct.unpack_from(">I", payload, ms + 12)[0]
            dur = struct.unpack_from(">I", payload, ms + 16)[0]
        duration_sec = round(dur / timescale, 4) if timescale else None
    for t, ts_, te in _boxes(payload, s, e):
        if t != b"trak":
            continue
        track = {"kind": None, "codec": None, "width": 0, "height": 0,
                 "n_samples": 0, "timescale": 0}
        tkhd = _first(payload, ts_, te, b"tkhd")
        if tkhd:
            ks, ke = tkhd
            # width/height: 16.16 fixed point, last 8 bytes of the box
            track["width"] = struct.unpack_from(">I", payload, ke - 8)[0] >> 16
            track["height"] = struct.unpack_from(">I", payload, ke - 4)[0] >> 16
        mdia = _first(payload, ts_, te, b"mdia")
        if not mdia:
            out_tracks.append(track)
            continue
        ms, me = mdia
        mdhd = _first(payload, ms, me, b"mdhd")
        if mdhd:
            hs, _he = mdhd
            ver = payload[hs]
            track["timescale"] = struct.unpack_from(
                ">I", payload, hs + (20 if ver == 1 else 12)
            )[0]
        hdlr = _first(payload, ms, me, b"hdlr")
        if hdlr:
            hs, _he = hdlr
            handler = payload[hs + 8 : hs + 12]
            track["kind"] = {b"vide": "video", b"soun": "audio"}.get(
                handler, handler.decode("latin1")
            )
        minf = _first(payload, ms, me, b"minf")
        if minf:
            fs, fe = minf
            stbl = _first(payload, fs, fe, b"stbl")
            if stbl:
                bs, be = stbl
                stsd = _first(payload, bs, be, b"stsd")
                if stsd:
                    ds, _de = stsd
                    n_entries = struct.unpack_from(">I", payload, ds + 4)[0]
                    if n_entries:
                        track["codec"] = payload[ds + 12 : ds + 16].decode("latin1")
                stsz = _first(payload, bs, be, b"stsz")
                if stsz:
                    zs, _ze = stsz
                    track["n_samples"] = struct.unpack_from(">I", payload, zs + 8)[0]
        out_tracks.append(track)
    return {"brand": brand, "duration_sec": duration_sec, "tracks": out_tracks}


# ---------------------------------------------------------- BMP / PNG / JPEG


def probe_bmp(payload: bytes) -> tuple[int, int]:
    """(width, height) from the BITMAPINFOHEADER after the 14-byte file
    header; a negative height marks a top-down bitmap."""
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"BMP info header of {hdr_size} bytes is not a BITMAPINFOHEADER")
    width, height = struct.unpack_from("<ii", payload, 18)
    return width, abs(height)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def probe_png(payload: bytes) -> tuple[int, int]:
    """(width, height) from the IHDR chunk, which must come first after
    the signature; its CRC is checked."""
    if len(payload) < 33:
        raise ValueError("truncated PNG header")
    length, ctype = struct.unpack_from(">I4s", payload, 8)
    if ctype != b"IHDR" or length != 13:
        raise ValueError(f"PNG starts with chunk {ctype!r} of {length} bytes, not IHDR")
    if zlib.crc32(payload[12:29]) != struct.unpack_from(">I", payload, 29)[0]:
        raise ValueError("PNG chunk b'IHDR' CRC mismatch")
    width, height = struct.unpack_from(">II", payload, 16)
    return width, height


# SOFn markers (ITU-T T.81 B.1.1.3): C0-CF except DHT, JPG and DAC
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def probe_jpeg(payload: bytes) -> tuple[int, int]:
    """(width, height) from the first SOFn segment: a walk over the
    length-prefixed marker segments that precede it."""
    pos = 2  # after SOI
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = payload[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI, SOS
            break
        seg_len = struct.unpack_from(">H", payload, pos + 2)[0]
        if pos + 2 + seg_len > len(payload):
            raise ValueError("truncated JPEG segment")
        if marker in _JPEG_SOF:
            if seg_len < 8:
                raise ValueError(f"JPEG SOF segment of {seg_len} bytes")
            height, width = struct.unpack_from(">HH", payload, pos + 5)
            return width, height
        pos += 2 + seg_len
    raise ValueError("JPEG has no SOF marker before its scan")


# ------------------------------------------------------------------ WAV


def probe_wav(payload: bytes) -> tuple[int, float]:
    """(sample_rate, duration_sec) from the RIFF chunk walk: the rate
    from ``fmt ``, the length from the whole blocks in ``data``. Unknown
    chunks are skipped and odd sizes honour the RIFF pad byte; a chunk
    that runs past the end, a short ``fmt `` or a missing ``fmt ``/
    ``data`` raises ValueError."""
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        if pos + 8 + size > len(payload):
            raise ValueError(
                f"truncated WAV chunk {cid!r}: need {size} bytes, "
                f"have {len(payload) - pos - 8}"
            )
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"WAV fmt chunk too short ({size} < 16 bytes)")
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)
    if fmt is None or data_size is None:
        raise ValueError("WAV missing fmt/data chunk")
    _format, _channels, rate, _byte_rate, block_align, _bits = fmt
    if not rate or not block_align:
        raise ValueError(f"WAV fmt has rate {rate}, block align {block_align}")
    return rate, round(data_size // block_align / rate, 4)


# ------------------------------------------------- deterministic fixtures

def fake_bmp(media_id: int) -> bytes:
    """Header-valid 24-bit BMP of zero pixels keyed by media_id:
    (32 + 16·(id % 3)) × (24 + 8·(id % 2)), rows padded to 4 bytes."""
    w, h = 32 + (media_id % 3) * 16, 24 + (media_id % 2) * 8
    raw = bytes(((w * 3 + 3) & ~3) * h)
    return (
        b"BM" + struct.pack("<IHHI", 54 + len(raw), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raw), 2835, 2835, 0, 0)
        + raw
    )


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", zlib.crc32(ctype + body))


def fake_png(media_id: int) -> bytes:
    """Valid 8-bit grayscale PNG of zero pixels keyed by media_id:
    (24 + 8·(id % 3)) × (16 + 8·(id % 2)), one IDAT of filter-0 rows."""
    w, h = 24 + (media_id % 3) * 8, 16 + (media_id % 2) * 8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes((w + 1) * h)))
        + _png_chunk(b"IEND", b"")
    )


def fake_jpeg(media_id: int) -> bytes:
    """SOI, a one-component baseline SOF0 and EOI, keyed by media_id:
    (24 + 8·(id % 3)) × (16 + 8·(id % 2)). Header only: no tables, no
    scan."""
    w, h = 24 + (media_id % 3) * 8, 16 + (media_id % 2) * 8
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    return b"\xff\xd8" + sof0 + b"\xff\xd9"


def fake_wav(media_id: int) -> bytes:
    """Mono PCM16 WAV of 0.1 s of silence at 16 kHz, the same for every
    media_id."""
    sr = 16000
    data = bytes(sr // 10 * 2)
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def mp3_frame(bitrate_idx: int = 9, kbps: int = 128, sr: int = 44100,
              padding: int = 0) -> bytes:
    """One valid MPEG-1 Layer III frame (header + zero payload) — the
    spec arithmetic from ISO 11172-3: frame_len = 144*kbps*1000/sr."""
    b2 = (bitrate_idx << 4) | (0 << 2) | (padding << 1)
    header = bytes([0xFF, 0xFB, b2, 0x00])
    frame_len = 144 * kbps * 1000 // sr + padding
    return header + b"\x00" * (frame_len - 4)


def fake_mp3(media_id: int) -> bytes:
    """Deterministic MP3 payload keyed by media_id: odd sequence ids are
    VBR with an ID3v2 prefix (2 frames @128 + 1..3 @160), even ids CBR
    at a bitrate cycling 128/160/192/224 with 3..7 frames."""
    seq = media_id // 6
    if seq % 2:
        id3 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 20]) + b"\x00" * 20
        return id3 + mp3_frame(9, 128) * 2 + mp3_frame(10, 160) * (1 + seq % 3)
    idx, kbps = [(9, 128), (10, 160), (11, 192), (12, 224)][seq % 4]
    return mp3_frame(idx, kbps) * (3 + seq % 5)


def _mp4_box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


def fake_mp4(media_id: int) -> bytes:
    """Deterministic single-video-track MP4 keyed by media_id: dims
    320+16s × 180+9s, movie duration (1200+120s)/600 s, avc1 stsd entry,
    24+s samples (s = media_id // 6). Hand-assembled from ISO 14496-12
    box layouts — no muxer library."""
    seq = media_id // 6
    width, height = 320 + 16 * seq, 180 + 9 * seq
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"mp42")
    mvhd = _mp4_box(
        b"mvhd",
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", 600, 1200 + 120 * seq) + b"\x00" * 80,
    )
    tkhd = _mp4_box(
        b"tkhd",
        b"\x00\x00\x00\x07" + b"\x00" * 72
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = _mp4_box(
        b"mdhd",
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", 12288, 24576) + b"\x00" * 4,
    )
    hdlr = _mp4_box(b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + b"vide" + b"\x00" * 12)
    avc1 = struct.pack(">I", 16) + b"avc1" + b"\x00" * 8
    stsd = _mp4_box(b"stsd", b"\x00\x00\x00\x00" + struct.pack(">I", 1) + avc1)
    stsz = _mp4_box(b"stsz", b"\x00\x00\x00\x00" + struct.pack(">II", 0, 24 + seq))
    stbl = _mp4_box(b"stbl", stsd + stsz)
    minf = _mp4_box(b"minf", stbl)
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    mdat = _mp4_box(b"mdat", b"\x00" * 32)
    return ftyp + moov + mdat


MEDIA_DDL = "media_id long, payload binary"


def inventory_fixture(spark, n: int = 48, partitions: int = 4) -> DataFrame:
    """Deterministic all-format media table: media_id % 6 rotates
    BMP / PNG / JPEG / WAV / MP3 / MP4, each blob fully derived from
    media_id — the m1_media_inventory query reads it
    back and compares against the frozen expected-metadata oracle."""
    makers = [fake_bmp, fake_png, fake_jpeg, fake_wav, fake_mp3, fake_mp4]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {"media_id": ids, "payload": [makers[i % 6](i) for i in ids]}
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_DDL)


# --------------------------------------------------------- inventory stage

INVENTORY_DDL = (
    "media_id long, fmt string, width int, height int, sample_rate int, "
    "duration_sec double, bitrate_kbps int, codec string, err string"
)
_INVENTORY_COLS = ("fmt", "width", "height", "sample_rate", "duration_sec",
                   "bitrate_kbps", "codec", "err")


def _inventory_row(payload: bytes) -> dict:
    """Magic-byte dispatch to the header readers: dims for BMP/PNG/JPEG,
    rate + duration for WAV, the container walks for MP3/MP4. Pure
    function so the Spark stage and tests share it."""
    out = dict.fromkeys(_INVENTORY_COLS)
    if payload[:2] == b"BM":
        w, h = probe_bmp(payload)
        out.update(fmt="bmp", width=w, height=h)
    elif payload[: len(_PNG_SIG)] == _PNG_SIG:
        w, h = probe_png(payload)
        out.update(fmt="png", width=w, height=h)
    elif payload[:2] == b"\xff\xd8":
        w, h = probe_jpeg(payload)
        out.update(fmt="jpeg", width=w, height=h)
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        sr, dur = probe_wav(payload)
        out.update(fmt="wav", sample_rate=sr, duration_sec=dur)
    elif payload[:3] == b"ID3" or (
        len(payload) > 1 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        m = probe_mp3(payload)
        out.update(fmt="mp3", sample_rate=m["sample_rate"],
                   duration_sec=m["duration_sec"],
                   bitrate_kbps=m["bitrate_kbps"])
    elif len(payload) >= 12 and payload[4:8] == b"ftyp":
        m = probe_mp4(payload)
        vid = next((t for t in m["tracks"] if t["kind"] == "video"), None)
        out.update(fmt="mp4", duration_sec=m["duration_sec"],
                   codec=vid["codec"] if vid else None,
                   width=vid["width"] if vid else None,
                   height=vid["height"] if vid else None)
    else:
        out["err"] = "unrecognized container"
    return out


def media_inventory(media: DataFrame) -> DataFrame:
    """One Arrow-batched pass over a table of (media_id, payload) blobs
    that turns every blob into the metadata row a curation filter needs
    (format, dims, rate, duration, codec), read from its headers.
    Per-row fail-soft: a blob whose header cannot be read carries err,
    never kills the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    row = _inventory_row(bytes(payload))
                except Exception as e:  # noqa: BLE001 — per-row fail-soft
                    row = dict.fromkeys(_INVENTORY_COLS)
                    row["err"] = f"{type(e).__name__}: {e}"[:200]
                rows.append({"media_id": int(media_id), **row})
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(run, schema=INVENTORY_DDL)
