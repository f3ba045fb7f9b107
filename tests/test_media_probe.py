"""Header readers (JPEG SOFn walk, MP3 frame walk, MP4 box walk) against
hand-built spec fixtures and real third-party files, and the
media_inventory stage over every format. Expected values are computed
on paper from the public specs (ISO 11172-3, ISO 14496-12, T.81), not
from a reference tool. The BMP/PNG/WAV readers and the real-world JPEG
dimensions are covered in test_multimodal.py and test_jpeg.py."""

import struct

import pytest

from neuscraper_spark.operators.media_probe import (
    fake_bmp,
    fake_jpeg,
    fake_png,
    fake_wav,
    probe_jpeg,
    probe_mp3,
    probe_mp4,
)


def _mp3_frame(bitrate_idx=9, kbps=128, sr=44100, padding=0):
    # MPEG-1 Layer III: FF FB | bitrate/sr/padding | mode
    b2 = (bitrate_idx << 4) | (0 << 2) | (padding << 1)
    header = bytes([0xFF, 0xFB, b2, 0x00])
    frame_len = 144 * kbps * 1000 // sr + padding
    return header + b"\x00" * (frame_len - 4)


import glob as _glob

# real third-party MP3s found on the host (gsutil ships a tiny test
# asset) — the JPEG-validation precedent: glob-discovered, no
# env-specific strings beyond public package layouts, skipped
# gracefully where absent
_REAL_MP3_GLOBS = [
    "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/test_data/*.mp3",
    "/usr/share/sounds/**/*.mp3",
]
_REAL_MP3S = sorted(
    {p for g in _REAL_MP3_GLOBS for p in _glob.glob(g, recursive=True)}
)


@pytest.mark.skipif(not _REAL_MP3S, reason="no third-party MP3s on this host")
def test_mp3_probe_real_world_files():
    """The probe's numbers must be self-consistent on real files:
    duration == frames * samples_per_frame / rate, and the implied
    byte budget (bitrate * duration / 8) must land near the actual
    audio payload size (CBR) — cross-checks the frame walk, the
    version/layer tables, and the ID3 skip against reality."""
    for path in _REAL_MP3S:
        payload = open(path, "rb").read()
        info = probe_mp3(payload)
        assert info["frames"] > 0, path
        spf = 1152 if info["sample_rate"] >= 32000 else 576
        assert info["duration_sec"] == pytest.approx(
            info["frames"] * spf / info["sample_rate"], rel=1e-3
        ), path
        if not info["vbr"]:
            implied = info["bitrate_kbps"] * 1000 * info["duration_sec"] / 8
            assert abs(implied - len(payload)) / len(payload) < 0.15, path


def test_mp3_cbr_frames_and_duration():
    payload = _mp3_frame() * 5
    m = probe_mp3(payload)
    assert m["frames"] == 5
    assert m["sample_rate"] == 44100
    assert m["bitrate_kbps"] == 128
    assert m["vbr"] is False
    # 5 frames x 1152 samples at 44100 Hz
    assert abs(m["duration_sec"] - 5 * 1152 / 44100) < 1e-3


def test_mp3_id3_prefix_and_vbr():
    id3 = b"ID3\x03\x00\x00" + bytes([0, 0, 0, 20]) + b"\x00" * 20
    payload = id3 + _mp3_frame() * 2 + _mp3_frame(bitrate_idx=10, kbps=160) * 3
    m = probe_mp3(payload)
    assert m["frames"] == 5
    assert m["vbr"] is True
    assert m["bitrate_kbps"] == 160  # modal bitrate

    with pytest.raises(ValueError):
        probe_mp3(b"\x00\x01\x02 definitely not mpeg audio")


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


def _mp4_fixture() -> bytes:
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"mp42")
    # mvhd v0: timescale 600 @ +12, duration 1200 @ +16 -> 2.0 s
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", 600, 1200) + b"\x00" * 80,
    )
    # tkhd: width/height as 16.16 fixed in the LAST 8 bytes
    tkhd = _box(
        b"tkhd",
        b"\x00\x00\x00\x07" + b"\x00" * 72
        + struct.pack(">II", 640 << 16, 360 << 16),
    )
    mdhd = _box(
        b"mdhd",
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", 12288, 24576) + b"\x00" * 4,
    )
    hdlr = _box(b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + b"vide" + b"\x00" * 12)
    avc1 = struct.pack(">I", 16) + b"avc1" + b"\x00" * 8
    stsd = _box(b"stsd", b"\x00\x00\x00\x00" + struct.pack(">I", 1) + avc1)
    stsz = _box(b"stsz", b"\x00\x00\x00\x00" + struct.pack(">II", 0, 48))
    stbl = _box(b"stbl", stsd + stsz)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    mdat = _box(b"mdat", b"\x00" * 32)
    return ftyp + moov + mdat


def test_mp4_box_walk():
    m = probe_mp4(_mp4_fixture())
    assert m["brand"] == "isom"
    assert m["duration_sec"] == 2.0
    assert len(m["tracks"]) == 1
    t = m["tracks"][0]
    assert t["kind"] == "video" and t["codec"] == "avc1"
    assert (t["width"], t["height"]) == (640, 360)
    assert t["n_samples"] == 48 and t["timescale"] == 12288

    with pytest.raises(ValueError):
        probe_mp4(_box(b"ftyp", b"isom" + b"\x00" * 4))  # no moov
    with pytest.raises(ValueError):
        probe_mp4(b"\x00\x00\x00\xff" + b"moov")  # size past end


def test_jpeg_reader_walks_to_first_sof():
    """APPn and DHT segments before the frame header are skipped; any
    SOFn counts (here SOF2, progressive); a scan before a frame header
    and a frame header too short for its size fields are errors."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof2 = b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, 77, 1234, 1) + b"\x01\x11\x00"
    assert probe_jpeg(b"\xff\xd8" + app0 + sof2 + b"\xff\xd9") == (1234, 77)
    # DHT (C4) is not a frame header
    dht = b"\xff\xc4" + struct.pack(">H", 19) + b"\x00" * 17
    assert probe_jpeg(b"\xff\xd8" + dht + sof2) == (1234, 77)
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    with pytest.raises(ValueError, match="no SOF"):
        probe_jpeg(b"\xff\xd8" + app0 + sos + sof2)
    # a frame header too short to hold its size fields
    with pytest.raises(ValueError, match="SOF segment of 4 bytes"):
        probe_jpeg(b"\xff\xd8\xff\xc0\x00\x04\x08\x00" + b"\x00" * 16)


def test_media_inventory_all_formats(spark):
    """media_inventory dispatches every format: header reads for
    BMP/PNG/JPEG/WAV, container walks for MP3/MP4; a blob whose header
    cannot be read gives a row with err and the task survives."""
    import pandas as pd

    from neuscraper_spark.operators.media_probe import (
        MEDIA_DDL,
        fake_mp3,
        fake_mp4,
        inventory_fixture,
        media_inventory,
    )

    inv = media_inventory(inventory_fixture(spark, n=12)).toPandas()
    inv = inv.set_index("media_id").sort_index()
    assert inv["fmt"].tolist() == ["bmp", "png", "jpeg", "wav", "mp3", "mp4"] * 2
    assert inv["err"].isna().all()
    assert (inv.loc[0, "width"], inv.loc[0, "height"]) == (32, 24)
    assert (inv.loc[1, "width"], inv.loc[1, "height"]) == (32, 24)
    assert (inv.loc[2, "width"], inv.loc[2, "height"]) == (40, 16)
    assert inv.loc[3, "duration_sec"] == 0.1 and inv.loc[3, "sample_rate"] == 16000
    assert inv.loc[4, "bitrate_kbps"] == 128
    assert inv.loc[5, "codec"] == "avc1" and inv.loc[5, "width"] == 320
    # seq 1 variants: VBR mp3, scaled mp4
    assert inv.loc[10, "duration_sec"] == 0.1045
    assert (inv.loc[11, "width"], inv.loc[11, "height"]) == (336, 189)

    png = fake_png(1)
    wav = fake_wav(3)
    sof0 = fake_jpeg(2).index(b"\xff\xc0")
    bad = {
        99: fake_mp4(0)[:40] + b"\x00" * 4,
        100: fake_mp3(0)[:3],
        101: fake_bmp(0)[:40],  # cut inside the info header
        102: png[:25],  # cut inside IHDR
        103: fake_jpeg(2)[: sof0 + 6],  # cut inside SOF0
        104: wav[:30],  # cut inside fmt
        105: b"\xff\xd8\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00\xff\xd9",  # no SOFn
        106: wav[:40] + struct.pack("<I", 10**6) + wav[44:],  # data runs past the end
        107: png[:29] + bytes([png[29] ^ 1]) + png[30:],  # bad IHDR CRC
        108: b"garbage-bytes",
    }
    df = spark.createDataFrame(
        pd.DataFrame({"media_id": list(bad), "payload": list(bad.values())}),
        schema=MEDIA_DDL,
    )
    out = media_inventory(df).toPandas().set_index("media_id")
    assert sorted(out.index) == sorted(bad)
    assert out["err"].notna().all()
    assert pd.isna(out.loc[102, "fmt"]) and pd.isna(out.loc[102, "width"])
    assert "CRC mismatch" in out.loc[107, "err"]
    assert "no SOF" in out.loc[105, "err"]
    assert "truncated WAV chunk" in out.loc[106, "err"]
    assert out.loc[108, "err"] == "unrecognized container"
    assert pd.isna(out.loc[108, "fmt"])
