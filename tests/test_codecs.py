"""Pure-stdlib media codec tests (no SparkSession needed).

These pin down the REAL decode path behind mm_decode_features
(VERDICT r3 item 4): PNG filter reconstruction for every filter type,
CRC integrity rejection, WAV RIFF parsing incl. odd-length word
alignment, and magic-byte container sniffing.
"""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kwery_spark.operators.multimodal import (
    _decode_real,
    _png_decode,
    _png_encode,
    _PNG_SIG,
    _wav_decode,
    _wav_encode,
)


def test_png_all_filter_types_roundtrip():
    # 6 rows of width 16 -> encoder emits filters 0,1,2,3,4,0: the
    # decoder must reconstruct through the full filter set
    data = bytes((x * 37 + y * 11) & 0xFF for y in range(6) for x in range(16))
    png = _png_encode(data, 16)
    idat = png.index(b"IDAT") + 4
    iend = png.rindex(b"IEND")
    raw = zlib.decompress(png[idat : iend - 8])  # strip IDAT crc + IEND len
    assert [raw[y * 17] for y in range(6)] == [0, 1, 2, 3, 4, 0]
    assert _png_decode(png) == data


def test_png_padding_cropped_by_content_len():
    data = b"short row"
    png = _png_encode(data, 64)
    dec = _png_decode(png)
    assert len(dec) == 64 and dec[: len(data)] == data
    assert set(dec[len(data) :]) == {0}


def test_png_crc_tamper_rejected():
    png = bytearray(_png_encode(b"payload bytes here", 8))
    idat = png.index(b"IDAT")
    png[idat + 6] ^= 0xFF  # flip a compressed byte, CRC now stale
    with pytest.raises(ValueError, match="CRC mismatch"):
        _png_decode(bytes(png))


def test_png_signature_and_depth_guards():
    with pytest.raises(ValueError, match="bad signature"):
        _png_decode(b"GIF89a not a png")
    # hand-build an IHDR claiming RGB (color type 2): decoder must refuse
    ihdr = struct.pack(">IIBBBBB", 4, 1, 8, 2, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="grayscale only"):
        _png_decode(_PNG_SIG + chunk)


def test_wav_roundtrip_and_rate():
    data = bytes(range(128))
    wav = _wav_encode(data, 16000)
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    samples, rate = _wav_decode(wav)
    assert samples == data and rate == 16000
    # RIFF length field must cover the whole body
    assert struct.unpack_from("<I", wav, 4)[0] == len(wav) - 8


def test_wav_odd_chunk_word_alignment():
    # insert an odd-length junk chunk before data: parser must pad-skip
    data = b"abc"
    wav = _wav_encode(data, 8000)
    fmt_end = wav.index(b"data")
    junk = b"JUNK" + struct.pack("<I", 3) + b"xy z"[:3] + b"\x00"  # pad byte
    patched = bytearray(wav[:fmt_end] + junk + wav[fmt_end:])
    struct.pack_into("<I", patched, 4, len(patched) - 8)
    samples, rate = _wav_decode(bytes(patched))
    assert samples == data and rate == 8000


def test_container_sniffing():
    assert _decode_real(_png_encode(b"xyz", 4))[:3] == b"xyz"
    assert _decode_real(_wav_encode(b"xyz", 8000)) == b"xyz"
    with pytest.raises(ValueError, match="unknown container"):
        _decode_real(b"\xff\xd8\xff\xe0JFIF")


@settings(max_examples=50, deadline=None)
@given(
    data=st.binary(min_size=1, max_size=600),
    width=st.integers(min_value=1, max_value=80),
)
def test_png_roundtrip_property(data, width):
    dec = _png_decode(_png_encode(data, width))
    assert dec[: len(data)] == data
    assert set(dec[len(data) :]) <= {0}


@settings(max_examples=50, deadline=None)
@given(data=st.binary(min_size=0, max_size=600))
def test_wav_roundtrip_property(data):
    samples, _ = _wav_decode(_wav_encode(data, 8000))
    assert samples == data
