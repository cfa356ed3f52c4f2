"""Baseline JPEG codec (round-4 verdict ask #3): hand-rolled T.81
sequential DCT in pure stdlib/numpy. Roundtrips are exercised through
the encoder (the synthesis-inversion pattern of the PNG/WAV tiers);
unsupported modes fail loudly, corrupt streams raise, and the dHash
pipeline treats JPEG as just another container."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from webcrawler_spark.operators.multimodal import (
    decode_image,
    decode_jpeg,
    dhash_py,
    encode_jpeg,
    encode_ppm,
)


def _payload(tag: bytes, n: int) -> bytes:
    return b"".join(
        hashlib.md5(tag + str(k).encode()).digest() for k in range(-(-n // 16))
    )[:n]


def test_gray_near_lossless_roundtrip():
    raw = _payload(b"g", 16 * 16)
    img = decode_jpeg(encode_jpeg(raw, width=16, channels=1))
    orig = np.frombuffer(raw, np.uint8).reshape(16, 16, 1).astype(np.int32)
    assert img["width"] == 16 and img["height"] == 16
    # all-ones quantization on a single-component image: the only loss
    # is coefficient rounding, +-1 at half-integer boundaries
    assert np.abs(img["pixels"].astype(np.int32) - orig).max() <= 1


def test_rgb_444_roundtrip_bounded():
    raw = _payload(b"c", 17 * 11 * 3)
    img = decode_jpeg(encode_jpeg(raw, width=17, channels=3))
    orig = np.frombuffer(raw, np.uint8).reshape(11, 17, 3).astype(np.int32)
    # YCbCr forward/backward rounding: tiny, bounded error on random
    # pixels at qtable=1
    assert np.abs(img["pixels"].astype(np.int32) - orig).max() <= 3


def test_420_subsampling_and_odd_dims():
    # gray-valued RGB: chroma planes constant, so 2x2 box subsampling
    # is exact and the only error is luma roundoff
    sm = (np.add.outer(np.arange(23) * 3, np.arange(19) * 5) % 200).astype(
        np.uint8
    )
    raw = np.repeat(sm[:, :, None], 3, axis=2).tobytes()
    img = decode_jpeg(
        encode_jpeg(raw, width=19, channels=3, subsampling="420")
    )
    orig = np.frombuffer(raw, np.uint8).reshape(23, 19, 3).astype(np.int32)
    assert np.abs(img["pixels"].astype(np.int32) - orig).max() <= 2


def test_restart_markers_resync():
    raw = _payload(b"r", 33 * 9 * 3)
    plain = decode_jpeg(encode_jpeg(raw, width=33, channels=3))
    rst = decode_jpeg(
        encode_jpeg(raw, width=33, channels=3, restart_interval=2)
    )
    assert np.array_equal(plain["pixels"], rst["pixels"])


def test_fill_bytes_and_lengthless_markers_between_segments():
    # T.81 B.1.1.2: a marker may be preceded by any run of 0xFF fill
    # bytes, and TEM (0xFF01) and RSTn carry no length field
    raw = _payload(b"f", 17 * 11 * 3)
    jp = encode_jpeg(raw, width=17, channels=3)
    i = jp.find(b"\xff\xc0")
    padded = jp[:i] + b"\xff\x01\xff\xd3\xff\xff" + jp[i:]
    assert padded[i + 4 : i + 8] == b"\xff\xff\xff\xc0"
    assert np.array_equal(
        decode_jpeg(padded)["pixels"], decode_jpeg(jp)["pixels"]
    )


def test_lossy_qtable_still_decodes():
    raw = _payload(b"q", 24 * 24 * 3)
    img = decode_jpeg(encode_jpeg(raw, width=24, channels=3, qtable=16))
    orig = np.frombuffer(raw, np.uint8).reshape(24, 24, 3).astype(np.int32)
    # coarse quantization: lossy but sane (random pixels, q=16)
    assert np.abs(img["pixels"].astype(np.int32) - orig).mean() < 16


def test_progressive_rejected():
    jp = bytearray(encode_jpeg(_payload(b"p", 64), width=8, channels=1))
    i = jp.find(b"\xff\xc0")
    jp[i + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
    with pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg(bytes(jp))


def test_truncated_scan_raises():
    jp = encode_jpeg(_payload(b"t", 16 * 16), width=16, channels=1)
    with pytest.raises(ValueError):
        decode_jpeg(jp[: len(jp) // 2])


def test_not_a_jpeg_raises():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"GIF89a....")


def test_decode_image_sniffs_jpeg():
    jp = encode_jpeg(_payload(b"s", 64), width=8, channels=1)
    assert decode_image(jp)["kind"] == "image"


def test_dhash_jpeg_matches_exact_container():
    """The oracle fixture's core property: margin-robust gray levels
    survive the lossy container bit-for-bit at the dHash level, and a
    +10 brightness shift in an exact container lands at hamming 0."""
    prev = -1
    levels = []
    for b in _payload(b"d", 72):
        k = b % 7
        if k == prev:
            k = (k + 1) % 7
        levels.append(k)
        prev = k
    base = bytes(v for k in levels for v in (k * 32 + 8,) * 3)
    jp = encode_jpeg(
        base, width=9, channels=3, subsampling="420", restart_interval=2
    )
    shifted = bytes(b + 10 for b in base)
    assert dhash_py(jp) == dhash_py(encode_ppm(shifted, width=9))
