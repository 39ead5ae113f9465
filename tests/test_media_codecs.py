"""Pure-stdlib media codecs: spec-layout decodes (hand-built bytes),
encoder round-trips, contract conformance, honest NotImplementedError for
compressed codecs, and the real decoder running distributed through the
unchanged decoded_stats Arrow kernel (r4 verdict item #9: real-codec
drop-in, contract tests unchanged)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from geografir_spark.operators.media_codecs import (
    decode_bmp,
    decode_media_real,
    decode_netpbm,
    decode_netpbm_stream,
    decode_wav,
    encode_bmp,
    encode_netpbm,
    encode_netpbm_stream,
    encode_wav,
    probe_media,
    sniff_codec,
    wav_info,
)
from geografir_spark.operators.multimodal import (
    decode_media,
    decoded_stats,
    validate_decoded,
)


# --- WAV -------------------------------------------------------------------


def _hand_wav_16bit() -> bytes:
    """Canonical mono 16-bit PCM WAV built field-by-field from the RIFF
    spec, NOT via encode_wav — pins the byte layout independently."""
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = struct.pack("<hh", 1000, -1000)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_spec_layout_decode():
    arr = decode_wav(_hand_wav_16bit())
    assert arr.dtype == np.int16 and arr.shape == (2, 1)
    np.testing.assert_array_equal(arr.ravel(), [1000, -1000])
    info = wav_info(_hand_wav_16bit())
    assert info["sample_rate"] == 8000 and info["channels"] == 1
    assert info["n_samples"] == 2
    assert info["duration_ms"] == 0  # 2 samples @ 8 kHz rounds to 0 ms


def test_wav_roundtrip_stereo():
    rng = np.random.RandomState(7)
    samples = rng.randint(-32768, 32767, size=(500, 2)).astype(np.int16)
    arr = decode_wav(encode_wav(samples, sample_rate=44100))
    np.testing.assert_array_equal(arr, samples)
    assert wav_info(encode_wav(samples, 44100))["duration_ms"] == 11  # 500/44100


def test_wav_odd_data_chunk_is_word_aligned():
    # 1 mono sample = 2 bytes (even); force odd via an 8-bit payload
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    data = bytes([128, 255, 0])  # 3 bytes → pad byte after chunk
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data + b"\x00"
    body += b"LIST" + struct.pack("<I", 4) + b"INFO"  # trailing chunk
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    arr = decode_wav(payload)
    assert arr.dtype == np.float32 and arr.shape == (3, 1)
    np.testing.assert_allclose(
        arr.ravel(), [(128 - 128) / 128, (255 - 128) / 128, -1.0]
    )


def test_wav_float32_clipped_to_contract():
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    data = struct.pack("<ff", 0.5, 1.5)  # 1.5 exceeds the contract range
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    arr = decode_wav(payload)
    np.testing.assert_allclose(arr.ravel(), [0.5, 1.0])
    validate_decoded(arr, "audio")


def test_wav_rejects_adpcm_and_truncation():
    fmt = struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 4)  # ADPCM
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 2) + b"\x00\x00"
    with pytest.raises(NotImplementedError, match="audio_format=2"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    good = _hand_wav_16bit()
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(good[:-1])


# --- netpbm ----------------------------------------------------------------


def test_netpbm_spec_layout_with_comments():
    raster = bytes(range(12))
    payload = b"P6\n# a comment\n2 2\n# another\n255\n" + raster
    arr = decode_netpbm(payload)
    assert arr.shape == (2, 2, 3) and arr.dtype == np.uint8
    np.testing.assert_array_equal(arr.ravel(), np.arange(12))


def test_netpbm_roundtrips_and_rejects():
    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, size=(5, 7, 3)).astype(np.uint8)
    np.testing.assert_array_equal(decode_netpbm(encode_netpbm(rgb)), rgb)
    gray = rng.randint(0, 256, size=(4, 6)).astype(np.uint8)
    out = decode_netpbm(encode_netpbm(gray))
    np.testing.assert_array_equal(out[:, :, 0], gray)
    validate_decoded(out, "image")
    with pytest.raises(NotImplementedError, match="maxval"):
        decode_netpbm(b"P5\n2 2\n65535\n" + b"\x00" * 8)
    with pytest.raises(ValueError, match="truncated"):
        decode_netpbm(b"P6\n4 4\n255\n" + b"\x00" * 10)


def test_netpbm_stream_video():
    rng = np.random.RandomState(11)
    frames = rng.randint(0, 256, size=(3, 4, 5, 3)).astype(np.uint8)
    vid = decode_netpbm_stream(encode_netpbm_stream(frames))
    np.testing.assert_array_equal(vid, frames)
    validate_decoded(vid, "video")
    mixed = encode_netpbm(frames[0]) + encode_netpbm(frames[0][:2])
    with pytest.raises(ValueError, match="disagree"):
        decode_netpbm_stream(mixed)
    with pytest.raises(ValueError, match="empty"):
        decode_netpbm_stream(b"  \n")


# --- BMP -------------------------------------------------------------------


def test_bmp_roundtrip_with_row_padding():
    rng = np.random.RandomState(5)
    # width 3 → 9-byte rows padded to 12: exercises the stride math
    rgb = rng.randint(0, 256, size=(4, 3, 3)).astype(np.uint8)
    arr = decode_bmp(encode_bmp(rgb))
    np.testing.assert_array_equal(arr, rgb)
    validate_decoded(arr, "image")


def test_bmp_top_down_and_32bit():
    # hand-build a 1×2 top-down (negative height) 32-bit BI_RGB BMP
    px = struct.pack("<BBBB", 10, 20, 30, 40)  # B,G,R,A of pixel (0,0)
    px += struct.pack("<BBBB", 50, 60, 70, 80)
    info = struct.pack("<IiiHHIIiiII", 40, 2, -1, 1, 32, 0, len(px),
                       2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 54)
    arr = decode_bmp(hdr + info + px)
    assert arr.shape == (1, 2, 4)
    np.testing.assert_array_equal(arr[0, 0], [30, 20, 10, 40])  # RGBA
    np.testing.assert_array_equal(arr[0, 1], [70, 60, 50, 80])


def test_bmp_rejects_compressed():
    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    payload = bytearray(encode_bmp(rgb))
    struct.pack_into("<I", payload, 30, 1)  # BI_RLE8
    with pytest.raises(NotImplementedError, match="compression"):
        decode_bmp(bytes(payload))


# --- dispatch / sniff / probe ---------------------------------------------


def test_sniff_and_compressed_codecs_stay_honest():
    assert sniff_codec(b"\x89PNG\r\n\x1a\n") == "png"
    assert sniff_codec(b"\xff\xd8\xff\xe0JFIF") == "jpeg"
    assert sniff_codec(b"\x00\x00\x00\x18ftypmp42") == "mp4"
    assert sniff_codec(b"\xff\xfb\x90\x64") == "mp3"  # MPEG frame sync, no ID3 tag
    assert sniff_codec(encode_wav(np.zeros(4, dtype=np.int16))) == "wav"
    for payload, mt in [
        (b"\x89PNG\r\n\x1a\n....", "image"),
        (b"\xff\xd8\xff\xe0....", "image"),
        (b"OggS....", "audio"),
        (b"\x00\x00\x00\x18ftypmp42....", "video"),
    ]:
        with pytest.raises(NotImplementedError, match="codec"):
            decode_media(payload, mt)


def test_decode_media_dispatch_meets_contract():
    wav = encode_wav(np.arange(-50, 50, dtype=np.int16), 8000)
    img = encode_netpbm(np.full((3, 3, 3), 9, dtype=np.uint8))
    bmp = encode_bmp(np.full((2, 5, 3), 7, dtype=np.uint8))
    vid = encode_netpbm_stream(np.zeros((2, 3, 3, 3), dtype=np.uint8))
    for payload, mt in [(wav, "audio"), (img, "image"),
                        (bmp, "image"), (vid, "video")]:
        validate_decoded(decode_media_real(payload, mt), mt)


def test_probe_media():
    wav = encode_wav(np.zeros((8000, 1), dtype=np.int16), 8000)
    assert probe_media(wav) == {
        "media_type": "audio", "codec": "wav", "width": None,
        "height": None, "duration_ms": 1000,
    }
    img = encode_netpbm(np.zeros((4, 7, 3), dtype=np.uint8))
    p = probe_media(img)
    assert (p["media_type"], p["codec"], p["width"], p["height"]) == (
        "image", "ppm", 7, 4)
    b = probe_media(encode_bmp(np.zeros((2, 3, 3), dtype=np.uint8)))
    assert (b["codec"], b["width"], b["height"]) == ("bmp", 3, 2)
    assert probe_media(b"????")["media_type"] is None


# --- distributed: the real decoder through the unchanged Arrow kernel ------


def test_real_decoder_distributed_through_decoded_stats(spark):
    wav_samples = np.arange(-100, 100, dtype=np.int16)
    img = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    frames = np.arange(54, dtype=np.uint8).reshape(2, 3, 3, 3)
    rows = [
        (1, "audio", bytearray(encode_wav(wav_samples, 8000))),
        (2, "image", bytearray(encode_netpbm(img))),
        (3, "image", bytearray(encode_bmp(img))),
        (4, "video", bytearray(encode_netpbm_stream(frames))),
    ]
    df = spark.createDataFrame(
        rows, "page_id bigint, media_type string, payload binary"
    ).repartition(3)
    out = {
        r["page_id"]: r
        for r in decoded_stats(df, decode_media).collect()
    }
    assert out[1]["shape"] == [200, 1] and out[1]["value_sum"] == float(
        wav_samples.sum())
    assert out[2]["shape"] == [3, 3, 3] and out[2]["value_sum"] == float(
        img.sum())
    assert out[3]["shape"] == [3, 3, 3] and out[3]["value_sum"] == float(
        img.sum())
    assert out[4]["shape"] == [2, 3, 3, 3] and out[4]["n_elems"] == 54
    # plan purity: Arrow kernel, never row-at-a-time Python
    plan = decoded_stats(df, decode_media)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_mislabeled_modality_raises_not_wrong_shape():
    """r5 self-review finding #4: a decodable codec whose modality
    contradicts the declared media_type must error at the seam, not hand
    back a wrong-modality array for downstream code to choke on."""
    wav = encode_wav(np.zeros(8, dtype=np.int16))
    img = encode_netpbm(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="does not carry"):
        decode_media_real(wav, "image")
    with pytest.raises(ValueError, match="does not carry"):
        decode_media_real(img, "audio")
    with pytest.raises(ValueError, match="does not carry"):
        decode_media_real(wav, "video")
    # bmp is image-only, not a video frame stream
    bmp = encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="does not carry"):
        decode_media_real(bmp, "video")


def test_truncated_bmp_is_valueerror_not_struct_error():
    """r5 self-review finding #6: truncated payloads sniffing as BMP must
    fail with the module's ValueError contract, not raw struct.error."""
    with pytest.raises(ValueError, match="truncated BMP"):
        probe_media(b"BM\x00\x01")
    with pytest.raises(ValueError, match="truncated BMP"):
        decode_bmp(b"BM" + b"\x00" * 20)


def test_truncated_wav_fmt_is_valueerror_not_struct_error():
    """r5 review: the malformed-input ValueError contract must cover WAV
    fmt-chunk truncation too, not only BMP headers."""
    short_fmt = b"\x00" * 4
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(short_fmt)) + short_fmt
    body += b"data" + struct.pack("<I", 2) + b"\x00\x00"
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match="truncated WAV fmt"):
        wav_info(payload)
    with pytest.raises(ValueError, match="truncated WAV fmt"):
        decode_wav(payload)
    assert probe_media(b"????")["codec"] == "unknown"  # probe still benign
