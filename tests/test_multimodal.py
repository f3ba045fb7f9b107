"""BMP, PNG and WAV header readers against hand-built spec layouts, and
the determinism of the all-format inventory fixture. Expected values
are computed on paper from the public specs (BITMAPINFOHEADER, PNG
IHDR, RIFF/WAVE), not from a reference tool."""

import struct
import zlib

import pytest

from neuscraper_spark.operators.media_probe import (
    INVENTORY_DDL,
    _inventory_row,
    fake_bmp,
    fake_png,
    fake_wav,
    inventory_fixture,
    media_inventory,
    probe_bmp,
    probe_png,
    probe_wav,
)


def test_schema_and_determinism(spark):
    """The fixture's blobs and the inventory rows do not depend on the
    partitioning, and the stage emits exactly INVENTORY_DDL."""
    four = inventory_fixture(spark, n=60, partitions=4)
    two = inventory_fixture(spark, n=60, partitions=2)
    a = four.toPandas().sort_values("media_id")["payload"].map(bytes).tolist()
    b = two.toPandas().sort_values("media_id")["payload"].map(bytes).tolist()
    assert len(a) == 60 and a == b

    inv = media_inventory(four)
    assert inv.schema == spark.createDataFrame([], INVENTORY_DDL).schema
    x = inv.toPandas().sort_values("media_id").reset_index(drop=True)
    y = media_inventory(two).toPandas().sort_values("media_id").reset_index(drop=True)
    assert x.equals(y)
    assert set(x["fmt"]) == {"bmp", "png", "jpeg", "wav", "mp3", "mp4"}
    assert x["err"].isna().all()


# ------------------------------------------------------------------ BMP


def test_bmp_golden_layout():
    """Pin the fixture's wire layout and read it back: 14-byte file
    header, 40-byte BITMAPINFOHEADER, 24 bpp rows padded to 4 bytes;
    a negative height (top-down rows) reads as its magnitude."""
    raw = fake_bmp(1)  # 48 x 32
    assert raw[:2] == b"BM"
    assert struct.unpack_from("<I", raw, 2)[0] == len(raw)
    assert struct.unpack_from("<I", raw, 10)[0] == 54  # no palette for 24bpp
    assert struct.unpack_from("<IiiHH", raw, 14) == (40, 48, 32, 1, 24)
    assert len(raw) == 54 + 48 * 3 * 32  # 144-byte rows need no pad
    assert probe_bmp(raw) == (48, 32)
    odd = fake_bmp(2)  # 64 x 24
    assert probe_bmp(odd) == (64, 24)

    # a hand-built 2 x 2 top-down bitmap: 6-byte rows padded to 8
    info = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, 16, 0, 0, 0, 0)
    top_down = b"BM" + struct.pack("<IHHI", 70, 0, 0, 54) + info + bytes(16)
    assert probe_bmp(top_down) == (2, 2)
    assert _inventory_row(top_down)["height"] == 2

    # an OS/2 BITMAPCOREHEADER (12 bytes) and a cut header raise
    core = bytearray(top_down)
    struct.pack_into("<I", core, 14, 12)
    with pytest.raises(ValueError, match="not a BITMAPINFOHEADER"):
        probe_bmp(bytes(core))
    with pytest.raises(ValueError, match="truncated BMP header"):
        probe_bmp(top_down[:53])


# ------------------------------------------------------------------ PNG


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body)))


_SIG = b"\x89PNG\r\n\x1a\n"


def test_png_hand_built_spec_vector():
    """A hand-assembled 3 x 4 grayscale PNG (one row per filter type):
    the IHDR read gives (3, 4) and the dispatch tags it png."""
    raw = (
        b"\x01\x0a\x05\x05"   # Sub
        b"\x02\x01\x02\x03"   # Up
        b"\x03\x04\x06\x08"   # Average
        b"\x04\x02\x03\x04"   # Paeth
    )
    payload = (
        _SIG
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 4, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    assert probe_png(payload) == (3, 4)
    row = _inventory_row(payload)
    assert (row["fmt"], row["width"], row["height"], row["err"]) == ("png", 3, 4, None)
    assert probe_png(fake_png(4)) == (32, 16)


def test_png_corruption_and_unsupported_raise():
    """A cut header, a flipped IHDR byte (CRC mismatch), a first chunk
    that is not IHDR and an IHDR of the wrong length raise ValueError.
    A corrupt IDAT lies past the header and still gives dimensions."""
    p = fake_png(1)  # 32 x 24
    with pytest.raises(ValueError, match="truncated PNG header"):
        probe_png(p[:32])
    with pytest.raises(ValueError, match="truncated PNG header"):
        probe_png(_SIG + b"not-chunks")
    bad = bytearray(p)
    bad[20] ^= 0xFF  # a width byte inside IHDR
    with pytest.raises(ValueError, match="CRC mismatch"):
        probe_png(bytes(bad))
    text_first = _SIG + _chunk(b"tEXt", b"k\x00v" + bytes(10)) + p[8:]
    with pytest.raises(ValueError, match="not IHDR"):
        probe_png(text_first)
    long_ihdr = _SIG + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0) + b"\x00")
    with pytest.raises(ValueError, match="not IHDR"):
        probe_png(long_ihdr)

    idat = bytearray(p)
    idat[p.index(b"IDAT") + 6] ^= 0xFF  # inside the zlib stream
    assert probe_png(bytes(idat)) == (32, 24)


# ------------------------------------------------------------------ WAV


def _wav(chunks: bytes) -> bytes:
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


_STEREO_FMT = b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
_DATA = b"data" + struct.pack("<I", 4 * 800) + bytes(4 * 800)


def test_wav_skips_extra_chunks_and_pads():
    """A LIST chunk before fmt and odd-size chunk padding are skipped;
    the rate comes from fmt and the length from whole blocks of data."""
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\0"  # 5 bytes + pad
    assert probe_wav(_wav(junk + _STEREO_FMT + _DATA)) == (8000, 0.1)
    tail = b"cue " + struct.pack("<I", 3) + b"abc" + b"\0"
    assert probe_wav(_wav(_STEREO_FMT + junk + _DATA + tail)) == (8000, 0.1)
    # a trailing part block does not count
    part = b"data" + struct.pack("<I", 4 * 800 + 3) + bytes(4 * 800 + 3) + b"\0"
    assert probe_wav(_wav(_STEREO_FMT + part)) == (8000, 0.1)
    assert probe_wav(fake_wav(3)) == (16000, 0.1)


def test_wav_truncated_and_short_fmt_raise():
    """A chunk that runs past the end, a fmt shorter than the 16-byte PCM
    header and a missing fmt or data chunk raise ValueError, never read
    as a shorter clip."""
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        probe_wav(_wav(_STEREO_FMT + _DATA)[:-5])
    with pytest.raises(ValueError, match="too short"):
        probe_wav(_wav(b"fmt " + struct.pack("<I", 8) + bytes(8) + _DATA))
    with pytest.raises(ValueError, match="missing fmt/data"):
        probe_wav(_wav(_STEREO_FMT))
    with pytest.raises(ValueError, match="missing fmt/data"):
        probe_wav(_wav(_DATA))
