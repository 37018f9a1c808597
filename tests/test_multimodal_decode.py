"""Pure-Python media codec pins (no Spark): golden byte vectors for the
PPM / WAV / concatenated-PPM parsers, round-trip identity, and the
container robustness cases (comments, extra RIFF chunks, truncation).

These lock the byte-level container grammar independently of the
oracle-checked ``multimodal_decode_stats`` witness, so a codec regression
is localized to a 1-ms test instead of a differential mismatch.
"""

import numpy as np
import pytest

from gasket_rs_spark.operators.multimodal import (
    DecodedMedia,
    build_media_payload,
    decode_payload,
    encode_ppm,
    encode_wav,
    parse_ppm,
    parse_wav,
)


def test_ppm_golden_bytes():
    payload = encode_ppm(bytes(range(6)), 2, 1)
    assert payload == b"P6\n2 1\n255\n" + bytes([0, 1, 2, 3, 4, 5])
    w, h, vals, end = parse_ppm(payload)
    assert (w, h, end) == (2, 1, len(payload))
    assert vals.tolist() == [0, 1, 2, 3, 4, 5]


def test_ppm_header_comments_and_whitespace():
    raster = bytes([9, 8, 7])
    payload = b"P6 # binary pixmap\n# size\n  1\t1 # wxh\n255\n" + raster
    w, h, vals, end = parse_ppm(payload)
    assert (w, h) == (1, 1)
    assert vals.tolist() == [9, 8, 7]
    assert end == len(payload)


def test_ppm_rejects_bad_magic_and_truncation():
    with pytest.raises(ValueError, match="not a P6"):
        parse_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="truncated PPM raster"):
        parse_ppm(b"P6\n2 2\n255\n\x00\x01")
    with pytest.raises(ValueError, match="only 8-bit"):
        parse_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)


def test_wav_golden_bytes():
    samples = np.array([0, 1, -1, 32767, -32768], dtype=np.int16)
    payload = encode_wav(samples, sample_rate=8000)
    # 44-byte canonical header: RIFF size = 36 + data bytes.
    assert payload[:4] == b"RIFF"
    assert int.from_bytes(payload[4:8], "little") == 36 + 10
    assert payload[8:12] == b"WAVE"
    assert payload[12:16] == b"fmt "
    rate, channels, out = parse_wav(payload)
    assert (rate, channels) == (8000, 1)
    assert out.tolist() == samples.tolist()


def test_wav_chunk_walk_skips_unknown_chunks():
    samples = np.array([100, -100, 3], dtype=np.int16)
    payload = encode_wav(samples)
    # Splice a LIST chunk (odd-sized -> exercises even-byte padding)
    # between fmt and data, fixing up the RIFF size.
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    spliced = payload[:fmt_end] + extra + payload[fmt_end:]
    spliced = (b"RIFF"
               + (len(spliced) - 8).to_bytes(4, "little")
               + spliced[8:])
    rate, channels, out = parse_wav(spliced)
    assert out.tolist() == samples.tolist()
    with pytest.raises(ValueError, match="not a RIFF"):
        parse_wav(b"OggS" + payload[4:])
    with pytest.raises(ValueError, match="truncated WAV chunk"):
        parse_wav(payload[:20])
    with pytest.raises(ValueError, match="missing fmt/data"):
        parse_wav(b"RIFF" + (4).to_bytes(4, "little") + b"WAVE")


@pytest.mark.parametrize("modality", ["image", "audio", "video"])
def test_build_decode_round_trip(modality):
    data = bytes((i * 37 + 11) % 256 for i in range(101))
    media = decode_payload(build_media_payload(data, modality), modality)
    assert isinstance(media, DecodedMedia)
    if modality == "audio":
        expect = (np.frombuffer(data, np.uint8).astype(np.int16) - 128) * 256
        assert media.values.tolist() == expect.tolist()
        assert (media.n_frames, media.sample_rate) == (1, 8000)
    else:
        n_pix = len(data) // 3  # 33
        assert media.values.tolist() == list(data[: n_pix * 3])
        if modality == "image":
            assert (media.n_frames, media.width, media.height) == (1, n_pix, 1)
        else:
            # 33 pixels / ceil(33/4)=9 per frame -> frames of 9,9,9,6.
            assert media.n_frames == 4
            assert media.width == 9


def test_video_framing_small_inputs():
    # 1 pixel -> a single 1-frame stream, not 4 empty frames.
    media = decode_payload(build_media_payload(b"abc", "video"), "video")
    assert media.n_frames == 1
    assert media.values.tolist() == list(b"abc")
    # 5 pixels -> ceil(5/4)=2 per frame -> 2,2,1 pixels = 3 frames.
    media = decode_payload(build_media_payload(bytes(range(15)), "video"), "video")
    assert media.n_frames == 3
    assert media.values.tolist() == list(range(15))


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    data=st.binary(min_size=3, max_size=4096),
    modality=st.sampled_from(["image", "audio", "video"]),
)
def test_codec_round_trip_property(data, modality):
    """Property pin: for ANY payload ≥ 3 bytes, decode(build(x)) recovers
    exactly the encoded sample values — audio keeps every byte as one
    PCM16 sample, image/video keep the leading 3*(n//3) bytes as RGB
    samples (video framing never loses or duplicates a pixel)."""
    media = decode_payload(build_media_payload(data, modality), modality)
    if modality == "audio":
        expect = ((np.frombuffer(data, np.uint8).astype(np.int16) - 128) * 256)
        assert media.values.tolist() == expect.tolist()
    else:
        n = len(data) // 3 * 3
        assert media.values.tolist() == list(data[:n])


def test_audio_spectrum_sine_lands_in_predicted_bin(spark):
    """Physics pin for the rows-only spectrum witness: a pure sine at
    k cycles over n samples must put its rFFT peak exactly in bin k,
    and the dominant frequency must be k * rate / n."""
    import numpy as np

    from gasket_rs_spark.operators.multimodal import (
        decode_payload,
        encode_wav,
        parse_wav,
    )

    n, rate = 256, 8000
    for k in (3, 17, 60):
        t = np.arange(n)
        samples = (10000 * np.sin(2 * np.pi * k * t / n)).astype(np.int16)
        wav = encode_wav(samples, rate)
        got_rate, _, got = parse_wav(wav)
        assert got_rate == rate and np.array_equal(got, samples)
        mag = np.abs(np.fft.rfft(got.astype(np.float64)))
        assert int(np.argmax(mag[1:])) + 1 == k
        # centroid of a pure tone sits at (or adjacent to) the tone bin
        body = mag[1:]
        centroid = float((np.arange(1, mag.size) * body).sum() / body.sum())
        assert abs(centroid - k) < 1.0


def test_audio_spectrum_witness_shape(spark, sf_dir):
    from pyspark.sql import functions as F

    from gasket_rs_spark.operators.multimodal import q_multimodal_audio_spectrum

    out = q_multimodal_audio_spectrum(spark, sf_dir)
    rows = out.collect()
    assert rows, "audio docs must exist in the fixture"
    for r in rows:
        assert 0 <= r.dom_bin <= r.n_samples // 2
        assert r.dom_freq_hz <= r.sample_rate / 2 + 1e-9  # Nyquist
        assert 0.0 <= r.centroid_bin <= r.n_samples // 2


def test_resize_and_temporal_boundary_payloads(spark):
    """Size-guard boundaries for the decoded ops: a 24-byte payload is
    exactly 8 pixels (every resize block exactly 1 pixel); a 6-byte
    video is 2 pixels -> 2 one-pixel frames -> exactly one diff pair."""
    import numpy as np

    from gasket_rs_spark.operators.multimodal import (
        _RESIZE_BLOCKS,
        build_media_payload,
        decode_payload,
        parse_ppm,
    )

    payload = bytes(range(24))
    media = decode_payload(build_media_payload(payload, "image"), "image")
    assert media.width == 8
    M = media.values.reshape(8, 3)
    bounds = [b * 8 // _RESIZE_BLOCKS for b in range(_RESIZE_BLOCKS + 1)]
    assert bounds == list(range(9))  # every block exactly one pixel
    assert np.array_equal(M.flatten(), np.frombuffer(payload, np.uint8))

    stream = build_media_payload(bytes(range(6)), "video")
    frames, pos = [], 0
    while pos < len(stream):
        w, h, vals, pos = parse_ppm(stream, pos)
        frames.append(vals)
    assert len(frames) == 2 and all(f.size == 3 for f in frames)
    diff = np.abs(frames[0].astype(int) - frames[1].astype(int)).mean()
    assert diff == 3.0  # bytes 0,1,2 vs 3,4,5
