"""Multimodal plumbing: schema, Arrow batch shape, REAL codec paths
(WAV PCM audio, netpbm P6 images, multi-image PPM video — see
functions/multimodal.py), frame slicing, and nearest-neighbor resize.
"""

from __future__ import annotations

import numpy as np
import pytest

from flat_file_social_media_database_engine_spark.functions import multimodal as M

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    from flat_file_social_media_database_engine_spark.sources.catalog import read_table

    return M.synthesize_media_from_documents(read_table(spark, SF, "documents"))


def test_media_schema_and_metadata_typing(media):
    # name/type parity (nullability differs: literal-derived columns
    # come out non-nullable, which is strictly stronger)
    assert [(f.name, f.dataType) for f in media.schema.fields] == [
        (f.name, f.dataType) for f in M.MEDIA_SCHEMA.fields
    ]
    rows = media.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["media_type"], []).append(r)
    assert set(by_type) == {"image", "audio", "video"}
    assert all(r["sample_rate"] == 16_000 for r in by_type["audio"])
    assert all(r["sample_rate"] is None for r in by_type["image"])
    assert all(r["n_frames"] >= 2 for r in by_type["video"])
    assert all(r["n_frames"] == 1 for r in by_type["image"])
    # pixel metadata is real: width fixed, height tracks payload rows
    assert all(r["width"] == M.IMG_WIDTH for r in by_type["image"])
    assert all(r["height"] >= 1 for r in by_type["image"])


# ---------------------------------------------------------------------------
# PPM codec
# ---------------------------------------------------------------------------
def test_ppm_roundtrip_and_netpbm_grammar():
    """Writer→parser round-trip, plus a FOREIGN-formatted header
    (comments, arbitrary whitespace — the real netpbm grammar, which
    our writer never emits) to prove the parser is not just the
    writer inverted."""
    pixels = bytes(range(256)) * 3  # 16x16 RGB
    payload = M.ppm_encode(pixels, 16, 16)
    assert payload.startswith(b"P6\n16 16\n255\n")
    f = M.ppm_parse(payload)
    assert (f["width"], f["height"], f["maxval"]) == (16, 16, 255)
    assert f["pixels"] == pixels
    assert f["end"] == len(payload)

    foreign = b"P6 # comment\n  16\t16 # dims\n 255\n" + pixels
    g = M.ppm_parse(foreign)
    assert (g["width"], g["height"]) == (16, 16)
    assert g["pixels"] == pixels


def test_ppm_parse_rejects_malformed():
    ok = M.ppm_encode(b"\x00" * 12, 2, 2)
    for bad in (
        b"",
        b"P5\n2 2\n255\n" + b"\x00" * 12,  # wrong magic (PGM)
        b"P6\n2 2\n65535\n" + b"\x00" * 24,  # 16-bit maxval unsupported
        b"P6\n2 x\n255\n" + b"\x00" * 12,  # non-numeric token
        ok[:-1],  # truncated raster
        b"P6\n2 2\n255",  # missing raster separator
    ):
        with pytest.raises(ValueError):
            M.ppm_parse(bad)


def test_multi_image_stream_walks_every_frame():
    a = M.ppm_encode(b"\x01" * 12, 2, 2)
    b = M.ppm_encode(b"\x02" * 3, 1, 1)
    frames = M.ppm_parse_all(a + b + a)
    assert [(f["width"], f["height"]) for f in frames] == [(2, 2), (1, 1), (2, 2)]
    assert frames[1]["pixels"] == b"\x02" * 3
    with pytest.raises(ValueError):
        M.ppm_parse_all(a + b"garbage")


def test_image_payloads_are_real_ppm(media):
    """Every fixture image/video payload must parse as a valid PPM
    stream whose raster starts with the document's utf-8 bytes."""
    rows = [r for r in media.collect() if r["media_type"] != "audio"]
    assert rows
    for r in rows:
        frames = M.ppm_parse_all(bytes(r["content"]))
        assert len(frames) == r["n_frames"]
        assert all(f["width"] == r["width"] for f in frames)
        assert all(f["height"] == r["height"] for f in frames)


def test_decode_parses_pixels_and_counts_frames(spark, media):
    decoded = {r["media_id"]: r for r in M.decode_media(media).collect()}
    payloads = {r["media_id"]: r for r in media.collect()}
    assert set(decoded) == set(payloads)
    pix = next(
        mid for mid, r in sorted(payloads.items()) if r["media_type"] == "video"
    )
    d, m = decoded[pix], payloads[pix]
    assert d["decoder"] == "ppm-p6-v1"
    assert (d["width"], d["height"], d["n_frames"]) == (
        m["width"], m["height"], m["n_frames"],
    )
    raster = np.frombuffer(
        b"".join(f["pixels"] for f in M.ppm_parse_all(bytes(m["content"]))),
        dtype=np.uint8,
    )
    hist, _ = np.histogram(raster, bins=M.FEATURE_DIM, range=(0, 256))
    want = (hist / raster.size).astype(np.float32)
    assert np.array_equal(np.array(d["features"], dtype=np.float32), want)
    assert abs(sum(d["features"]) - 1.0) < 1e-3


def test_features_feed_similarity_shape(spark, media):
    """Every decoded row carries a FEATURE_DIM float vector — the
    embedding-ingest shape the similarity tier consumes."""
    out = M.decode_media(media).select("media_id", "features")
    assert out.schema["features"].dataType.simpleString() == "array<float>"
    rows = out.collect()
    assert rows and all(len(r["features"]) == M.FEATURE_DIM for r in rows)


def test_frame_sampling_slices_real_frames(media):
    """Column-math frame extraction: every sampled row must be a
    standalone, parseable P6 image equal to the corresponding frame
    of the decoded stream."""
    frames = M.sample_frames(media, every_k=2).collect()
    src = {r["media_id"]: r for r in media.collect()
           if r["media_type"] == "video"}
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == set(src)
    for mid, rows in by_media.items():
        want = M.ppm_parse_all(bytes(src[mid]["content"]))
        idxs = [r["frame_index"] for r in rows]
        assert idxs == list(range(0, src[mid]["n_frames"], 2))
        for r in rows:
            got = M.ppm_parse(bytes(r["frame"]))
            ref = want[r["frame_index"]]
            assert (got["width"], got["height"]) == (ref["width"], ref["height"])
            assert got["pixels"] == ref["pixels"]
            assert got["end"] == len(bytes(r["frame"]))  # exact slice


def test_resize_media_strides_pixel_grid(spark):
    """NN resize on a hand-built non-square PPM: stride comes from
    the longer side, output dims are ceil(w/s) x ceil(h/s), raster
    equals the numpy-strided grid, audio passes through."""
    grid = np.arange(64 * 32 * 3, dtype=np.uint8).reshape(32, 64, 3)
    still = M.ppm_encode(grid.tobytes(), 64, 32)
    rows = [
        (1, "image", still, 64, 32, 1, None),
        (2, "image", M.ppm_encode(b"\x07" * 48, 4, 4), 4, 4, 1, None),
        (3, "audio", M.wav_encode(b"pcm-bytes"), None, None, 1, 16000),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in M.resize_media(media, max_side=16).collect()}

    big = out[1]  # s = ceil(64/16) = 4 -> 16 x 8
    assert (big["width"], big["height"]) == (16, 8)
    f = M.ppm_parse(bytes(big["content"]))
    assert f["pixels"] == np.ascontiguousarray(grid[::4, ::4]).tobytes()
    assert big["resizer"] == "ppm-nn-v1"

    small = out[2]  # 4x4 <= max_side: s=1, bytes intact
    assert (small["width"], small["height"]) == (4, 4)
    assert bytes(small["content"]) == M.ppm_encode(b"\x07" * 48, 4, 4)

    audio = out[3]  # no pixel grid: untouched
    assert audio["width"] is None and audio["height"] is None
    assert bytes(audio["content"]) == M.wav_encode(b"pcm-bytes")
    assert audio["resizer"] == "passthrough"


def test_resized_video_is_valid_ppm_stream(spark, media):
    resized = M.resize_media(media, max_side=32)
    r = next(
        r for r in resized.collect() if r["media_type"] == "video"
    )
    frames = M.ppm_parse_all(bytes(r["content"]))
    assert all(
        (f["width"], f["height"]) == (r["width"], r["height"]) for f in frames
    )
    assert max(r["width"], r["height"]) <= 32


# ---------------------------------------------------------------------------
# WAV codec
# ---------------------------------------------------------------------------
def test_wav_encode_is_readable_by_stdlib_wave():
    """Golden check with an INDEPENDENT reader: Python's stdlib `wave`
    module must accept our writer's output and report the same
    parameters our parser extracts — writer and parser can't share a
    bug with a third implementation in the loop."""
    import io
    import wave as stdlib_wave

    for data in (b"", b"x", b"hello world", bytes(range(256)) * 7):
        payload = M.wav_encode(data, sample_rate=16_000)
        with stdlib_wave.open(io.BytesIO(payload)) as w:
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 2
            assert w.getframerate() == 16_000
            assert w.getnframes() == (len(data) + 1) // 2
            frames = w.readframes(w.getnframes())
        parsed = M.wav_parse_header(payload)
        assert parsed["sample_rate"] == 16_000
        assert parsed["n_channels"] == 1
        assert parsed["bits_per_sample"] == 16
        assert parsed["n_samples"] == (len(data) + 1) // 2
        assert parsed["data"] == frames


def test_wav_parse_rejects_malformed():
    for bad in (b"", b"RIFFxxxx", b"not a wav at all" * 4,
                M.wav_encode(b"ok")[:40]):
        with pytest.raises(ValueError):
            M.wav_parse_header(bad)


def test_audio_decode_is_real_wav_path(spark, media):
    """Fixture audio rows must round-trip: real WAV container out of
    synthesis, struct-parsed metadata out of decode, and features
    computed over the decoded int16 samples (not the raw bytes)."""
    decoded = {r["media_id"]: r for r in M.decode_media(media).collect()}
    payloads = {r["media_id"]: bytes(r["content"]) for r in media.collect()
                if r["media_type"] == "audio"}
    assert payloads, "fixture has no audio rows?"
    for mid, payload in payloads.items():
        d = decoded[mid]
        assert d["decoder"] == "wav-pcm-v1"
        assert payload[:4] == b"RIFF"
        assert d["sample_rate"] == 16_000
        assert d["n_channels"] == 1 and d["bits_per_sample"] == 16
        assert d["n_bytes"] == len(payload)
        assert d["width"] is None and d["n_frames"] is None
        data = payload[44:]
        assert d["n_samples"] == len(data) // 2
        samples = np.frombuffer(data, dtype="<i2")
        hist, _ = np.histogram(samples, bins=M.FEATURE_DIM,
                               range=(-32768, 32768))
        want = (hist / samples.size).astype(np.float32)
        assert np.array_equal(np.array(d["features"], dtype=np.float32), want)


# ---------------------------------------------------------------------------
# Codec property tests (hypothesis; no Spark session needed)
# ---------------------------------------------------------------------------
try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=1, max_value=8),
        st.integers(min_value=1, max_value=8),
        st.binary(min_size=0, max_size=8 * 8 * 3),
    )
    def test_ppm_encode_parse_roundtrip_property(w, h, noise):
        pixels = noise.ljust(w * h * 3, b"\x9c")[: w * h * 3]
        f = M.ppm_parse(M.ppm_encode(pixels, w, h))
        assert (f["width"], f["height"], f["pixels"]) == (w, h, pixels)

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def test_ppm_parse_garbage_never_misparses(data):
        """Arbitrary bytes either raise ValueError or parse into a
        self-consistent frame (declared dims match the raster taken)."""
        try:
            f = M.ppm_parse(data)
        except ValueError:
            return
        assert len(f["pixels"]) == f["width"] * f["height"] * 3
        assert f["end"] <= len(data)

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def test_wav_parse_garbage_never_misparses(data):
        try:
            w = M.wav_parse_header(data)
        except ValueError:
            return
        assert len(w["data"]) == w["n_samples"] * 2
        assert w["sample_rate"] > 0

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass
