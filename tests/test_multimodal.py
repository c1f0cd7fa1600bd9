"""Multimodal plumbing tests: schema contract, Arrow batch path,
deterministic stub features, metadata-only pruned reads, and the
honest NotImplementedError on real decode."""

from __future__ import annotations

import pytest

from ibd_pipeline_spark.operators import multimodal as M


def test_feature_extract_deterministic(spark):
    a = M.extract_features(M.asset_table(spark, M.asset_rows, 32), fake_decode=True).collect()
    b = M.extract_features(M.asset_table(spark, M.asset_rows, 32), fake_decode=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 32
    row = {r.asset_id: r for r in a}[0]
    assert len(row.content_sha256) == 64
    assert row.content_bytes > 0


def test_real_decode_is_honestly_stubbed():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\xff\xd8\xff", fake=False)


def test_metadata_profile_schema(spark):
    prof = M.metadata_profile(M.asset_table(spark, M.asset_rows, 30)).collect()
    assert {r.media_type for r in prof} == {"image", "audio", "video"}
    img = {r.media_type: r for r in prof}["image"]
    assert img.avg_width is not None
    assert img.avg_duration_ms is None


# every per-blob operator with its declared schema and the media type
# it keeps (None: it maps every blob)
_PER_BLOB_OPS = [
    (M.extract_features, M.FEATURE_SCHEMA, None),
    (M.resize_images, M.RESIZE_SCHEMA, "image"),
    (M.extract_video_metadata, M.VIDEO_META_SCHEMA, "video"),
    (M.extract_audio_features, M.AUDIO_FEATURE_SCHEMA, "audio"),
    (M.phash_signatures, M.PHASH_SCHEMA, None),
    (M.image_entropy_profile, M.ENTROPY_SCHEMA, None),
    (M.audio_quality_gates, M.AUDIO_GATE_SCHEMA, "audio"),
    (M.audio_spectral_features, M.SPECTRAL_SCHEMA, "audio"),
    (M.video_quality_gates, M.VIDEO_GATE_SCHEMA, "video"),
    (M.video_motion_features, M.VIDEO_MOTION_SCHEMA, "video"),
]


@pytest.mark.parametrize(
    "op, schema, media",
    _PER_BLOB_OPS,
    ids=[op.__name__ for op, _, _ in _PER_BLOB_OPS],
)
def test_per_blob_operator_empty_input(spark, op, schema, media):
    """Zero rows in the declared schema from an empty asset frame and,
    for an operator that keeps one media type, from a frame without
    it: batches left empty by the media filter are skipped, and the
    other media's blobs (which its decoder would reject) are never
    decoded."""
    frames = [spark.createDataFrame([], M.ASSET_SCHEMA)]
    if media is not None:
        frames.append(
            M.asset_table(spark, M.asset_rows, 12).filter(f"media_type != '{media}'")
        )
    for assets in frames:
        out = op(assets)
        assert out.schema == schema
        assert out.collect() == []


def test_resize_images_shape_and_determinism(spark):
    assets = M.asset_table(spark, M.asset_rows, 30)
    out = M.resize_images(assets, 224, 224).collect()
    n_images = assets.filter("media_type = 'image'").count()
    assert len(out) == n_images
    assert all(r.width == 224 and r.height == 224 for r in out)
    again = {r.asset_id: bytes(r.content) for r in M.resize_images(assets, 224, 224).collect()}
    assert {r.asset_id: bytes(r.content) for r in out} == again


def test_sample_video_frames_fanout(spark):
    assets = M.asset_table(spark, M.asset_rows, 30)
    frames = M.sample_video_frames(assets, every_ms=1000).collect()
    vids = {
        r.asset_id: r.duration_ms
        for r in assets.filter("media_type = 'video'").collect()
    }
    from collections import Counter

    per_vid = Counter(r.asset_id for r in frames)
    for vid, dur in vids.items():
        assert per_vid[vid] == max(1, dur // 1000)
    # frame timestamps are the sampling grid
    ts = sorted(r.frame_ts_ms for r in frames if r.asset_id == min(vids))
    assert ts == [i * 1000 for i in range(len(ts))]


def test_real_media_paths_honestly_stubbed(spark):
    assets = M.asset_table(spark, M.asset_rows, 3)
    # non-PNG blobs with no pillow: the per-blob guard raises from
    # the task (format is a property of the data, so the error is
    # lazy — surfaced at action time wrapped by the Python runner)
    if M._pil() is None:
        with pytest.raises(Exception, match="NotImplementedError|pillow"):
            M.resize_images(assets, fake=False).collect()


def test_binary_roundtrip_through_parquet(spark, tmp_path):
    """Binary columns survive a parquet write/read cycle and metadata
    queries don't change results after the roundtrip."""
    assets = M.asset_table(spark, M.asset_rows, 16)
    path = str(tmp_path / "assets.parquet")
    assets.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 16
    orig = {r.asset_id: bytes(r.content) for r in assets.collect()}
    readback = {r.asset_id: bytes(r.content) for r in back.collect()}
    assert orig == readback


def test_metadata_profile_prunes_blob_column(spark, tmp_path):
    """The profile over a parquet asset table must not read the binary
    content column — ReadSchema in the scan excludes it."""
    import ibd_pipeline_spark.operators.multimodal as M

    path = str(tmp_path / "assets.parquet")
    M.asset_table(spark, M.asset_rows, 30).write.parquet(path)
    prof = M.metadata_profile(spark.read.parquet(path))
    plan = prof._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("content," not in ln and "binary" not in ln for ln in read_schema)
    rows = {r.media_type: r.avg_bytes for r in prof.collect()}
    assert set(rows) == {"image", "audio", "video"} and all(v > 0 for v in rows.values())


def test_real_codec_paths_when_pillow_present(spark):
    """Real decode/resize run when pillow exists; otherwise they must
    raise NotImplementedError (the documented container behavior)."""
    import pytest
    import ibd_pipeline_spark.operators.multimodal as M

    if M._pil() is None:
        with pytest.raises(NotImplementedError):
            M.decode_image(b"\x00", fake=False)  # non-PNG, no pillow
        return
    # pillow installed: encode a tiny real PNG and round-trip it.
    import io

    Image = M._pil()
    buf = io.BytesIO()
    Image.new("L", (8, 8), color=128).save(buf, format="PNG")
    d = M.decode_image(buf.getvalue(), fake=False)
    assert 0.49 < d["mean_luma"] < 0.52 and d["edge_score"] == 0.0


def test_audio_decode_real_wav():
    """decode_audio parses genuine RIFF/WAV bytes — a real codec, not
    a digest stand-in: duration and peak must reflect the synthesis
    parameters, and a corrupted container must fail to parse."""
    import wave

    import pytest

    import ibd_pipeline_spark.operators.multimodal as M

    blob, duration_ms = M.synthesize_wav(7)
    d = M.decode_audio(blob)
    assert d["sample_rate"] == 8000 and d["n_channels"] == 1
    assert abs(d["duration_ms"] - duration_ms) <= 1
    amp = 8000 + (7 * 997) % 20000
    assert 0 < d["peak"] <= amp
    # sine RMS ~= amp/sqrt(2); loose band (quantization + partial cycles)
    assert 0.5 < float(d["rms"]) / (amp / 2**0.5) < 1.1
    with pytest.raises((wave.Error, EOFError)):
        M.decode_audio(blob[:16] + b"garbage")


def test_audio_features_distributed(spark):
    import ibd_pipeline_spark.operators.multimodal as M

    assets = M.asset_table(spark, M.audio_asset_rows, n=12)
    rows = M.extract_audio_features(assets).orderBy("asset_id").collect()
    assert len(rows) == 12
    assert [r.asset_id for r in rows] == list(range(12))
    # determinism across runs (hash-stable fixed-point rms)
    again = M.extract_audio_features(assets).orderBy("asset_id").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    # mixed-media frame: non-audio rows are filtered, audio survives
    mixed = M.asset_table(spark, M.asset_rows, n=9)
    feats = M.extract_audio_features(mixed)
    assert feats.columns[0] == "asset_id"


def test_multimodal_cache_purges_dead_sessions(spark):
    """On cache miss, entries keyed to OTHER applicationIds (stopped
    sessions) are dropped so a long-lived multi-session process never
    accumulates dead DataFrame references."""
    M._ASSET_FRAME_CACHE.clear()
    M._ASSET_FRAME_CACHE[("dead-app-1", M.asset_rows, 8, 1)] = object()
    M._ASSET_FRAME_CACHE[("dead-app-2", M.asset_rows, 8, 2)] = object()
    df = M.asset_table(spark, M.asset_rows, n=8, seed=99)
    assert df.count() == 8
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in M._ASSET_FRAME_CACHE)
    # second call hits the cache (no purge path, same object back)
    assert M.asset_table(spark, M.asset_rows, n=8, seed=99) is df


def test_mp4_container_round_trip():
    """synthesize_mp4 emits real ISO-BMFF framing; parse_mp4_meta
    walks it back — and rejects corrupted framing like any
    conformant reader."""
    import pytest

    import ibd_pipeline_spark.operators.multimodal as M

    blob, duration_ms = M.synthesize_mp4(3)
    meta = M.parse_mp4_meta(blob)
    assert meta["major_brand"] == "isom"
    assert meta["timescale"] == 1000
    assert meta["duration_ms"] == duration_ms
    assert meta["n_boxes"] == 4  # ftyp, moov, mvhd, mdat
    with pytest.raises(ValueError):
        M.parse_mp4_meta(blob[:20])  # truncated mid-box
    with pytest.raises(ValueError):
        M.parse_mp4_meta(b"\x00\x00\x00\x02abcd")  # size < header


def test_video_metadata_distributed(spark):
    import ibd_pipeline_spark.operators.multimodal as M

    assets = M.asset_table(spark, M.video_asset_rows, n=10)
    rows = M.extract_video_metadata(assets).orderBy("asset_id").collect()
    assert len(rows) == 10
    assert all(r.major_brand == "isom" for r in rows)
    durations = {r.asset_id: r.duration_ms for r in rows}
    for i in range(10):
        assert durations[i] == 1000 + (42 * 13 + i * 37) % 9000


def test_ahash_locality_and_pair_search(spark):
    """aHash contract: identical content → identical hash; a few
    flipped bytes → small Hamming distance; unrelated content → far.
    The pair search must recover the planted near-duplicates and
    nothing else at the threshold."""
    import random

    from ibd_pipeline_spark.operators.multimodal import (
        ahash64,
        phash_near_dup_pairs,
    )

    rng = random.Random(7)
    originals = [bytes(rng.randrange(256) for _ in range(4096)) for _ in range(6)]

    # identical → 0
    assert ahash64(originals[0]) == ahash64(bytes(originals[0]))

    def perturb(b, k):
        ba = bytearray(b)
        for pos in rng.sample(range(len(ba)), k):
            ba[pos] ^= 0xFF
        return bytes(ba)

    def ham(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    for b in originals:
        close = ahash64(perturb(b, 3))
        assert ham(ahash64(b), close) <= 8, "local edit moved too many bits"
    far = ham(ahash64(originals[0]), ahash64(originals[1]))
    assert far > 12, f"unrelated content too close ({far})"

    rows = []
    for i, b in enumerate(originals):
        rows.append((2 * i, "image/png", b))
        rows.append((2 * i + 1, "image/png", perturb(b, 3)))  # planted dup
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, content binary"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(assets, max_hamming=8).collect()
    }
    for i in range(len(originals)):
        assert (2 * i, 2 * i + 1) in pairs, f"planted pair {i} missed"
    for (ia, ib), h in pairs.items():
        assert h <= 8
        # only planted pairs should survive at this threshold
        assert ib == ia + 1 and ia % 2 == 0, (ia, ib, h)


def test_audio_planted_clipping_detected(spark):
    """Every i%4==1 clip is synthesized at 1.35×full-scale and clamped
    at pack time — true digital clipping; the gate must flag exactly
    those, and clean sines must read clip_rate == 0."""
    from ibd_pipeline_spark.operators import multimodal as M

    assets = M.asset_table(spark, M.audio_gate_asset_rows, n=32)
    rows = {r["asset_id"]: r for r in M.audio_quality_gates(assets).collect()}
    for i in range(32):
        r = rows[i]
        if i % 4 == 1:
            assert r["clip_rate"] > 0.001 and r["verdict"] == "clipped", r
            assert r["peak"] >= 32766
        elif i % 4 == 0:
            assert r["n_clipped"] == 0 and r["verdict"] == "pass", r


def test_audio_planted_silence_detected(spark):
    """quiet clips (amp 25 < threshold 100) read silence_ratio == 1.0
    and verdict 'silent'; half-silent clips read ≈ 0.5 (planted zeros
    plus the sine's own near-zero crossings) and still PASS the 0.6
    policy gate — the gate measures, policy decides."""
    from ibd_pipeline_spark.operators import multimodal as M

    assets = M.asset_table(spark, M.audio_gate_asset_rows, n=32)
    rows = {r["asset_id"]: r for r in M.audio_quality_gates(assets).collect()}
    for i in range(32):
        r = rows[i]
        if i % 4 == 3:
            assert r["silence_ratio"] == 1.0 and r["verdict"] == "silent", r
        elif i % 4 == 2:
            assert 0.5 <= r["silence_ratio"] < 0.55, r
            assert r["verdict"] == "pass", r
        elif i % 4 == 0:
            assert r["silence_ratio"] < 0.05, r


def test_audio_gate_stats_exactness_tiny_known_wav(spark):
    """Hand-built 6-sample WAV with known values: counts are exact
    integers, ratios exact divisions, peak the true max."""
    import io
    import struct
    import wave

    from ibd_pipeline_spark.operators.multimodal import audio_gate_stats

    samples = [0, 50, -32767, 32766, 12000, -99]
    pcm = b"".join(struct.pack("<h", s) for s in samples)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm)
    s = audio_gate_stats(buf.getvalue())
    assert s["n_frames"] == 6
    assert s["n_clipped"] == 2  # |−32767| and 32766
    assert s["n_silent"] == 3  # 0, 50, −99
    assert s["peak"] == 32767
    assert s["clip_rate"] == 2 / 6 and s["silence_ratio"] == 3 / 6


def test_audio_spectral_recovers_planted_tone(spark):
    """Clean corpus clips are known-frequency sines: the dominant FFT
    bin must land within one bin width of the planted frequency, and
    the centroid near it (harmonically light signal); the all-quiet
    clips still produce finite features."""
    from ibd_pipeline_spark.operators import multimodal as M

    assets = M.asset_table(spark, M.audio_gate_asset_rows, n=32)
    rows = {
        r["asset_id"]: r
        for r in M.audio_spectral_features(assets).collect()
    }
    for i in range(32):
        if i % 4 != 0:
            continue
        planted = 220.0 * (1 + (i % 5))
        r = rows[i]
        bin_hz = r["sample_rate"] / (2.0 * (r["n_bins"] - 1))
        assert abs(float(r["dominant_hz"]) - planted) <= bin_hz + 1e-9, (
            i, planted, r["dominant_hz"], bin_hz)
        # centroid sits ABOVE the tone (rectangular-window leakage
        # spreads magnitude to high bins) but stays the same order
        c = float(r["centroid_hz"])
        assert 0.8 * planted <= c <= 10.0 * planted, r


def test_audio_spectral_silent_clip_is_all_zero():
    """A digitally-silent WAV produces zero centroid/rolloff/dominant
    (guarded total-mass path), not NaNs."""
    import io
    import struct
    import wave

    from ibd_pipeline_spark.operators.multimodal import audio_spectral_stats

    pcm = b"".join(struct.pack("<h", 0) for _ in range(800))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(pcm)
    s = audio_spectral_stats(buf.getvalue())
    assert s["centroid_hz"] == "0.0000"
    assert s["rolloff85_hz"] == "0.0000"
    assert s["dominant_hz"] == "0.0000"


# ---------------------------------------------------------------------------
# Video frame-level gates (r14): planted-defect recovery + decoder
# structural-damage behavior + dual-parse consistency
# ---------------------------------------------------------------------------


def test_video_gate_planted_recovery():
    """Every planted defect class maps to exactly its verdict — no
    false positives on clean videos, no misses on planted ones."""
    from collections import Counter

    from ibd_pipeline_spark.operators import multimodal as M

    got = Counter()
    for i in range(24):
        blob, _dur, kind = M.synthesize_mp4_raw(i)
        v = M.video_gate_verdict(M.video_gate_stats(blob))
        got[(kind, v)] += 1
    assert got == {
        ("normal", "pass"): 6,
        ("black_heavy", "black"): 6,
        ("frozen", "frozen"): 6,
        ("short", "too_short"): 6,
    }


def test_video_gate_stats_exact_counts():
    """The planted construction puts ceil(0.7 n) defect frames in
    each damaged video; the decoder must count exactly those."""
    from ibd_pipeline_spark.operators import multimodal as M

    for i in (1, 2, 5, 6):  # black_heavy and frozen instances
        blob, _dur, kind = M.synthesize_mp4_raw(i)
        s = M.video_gate_stats(blob)
        n_defect = (7 * s["n_frames"] + 9) // 10
        if kind == "black_heavy":
            assert s["n_black"] == n_defect
            assert s["n_frozen"] == n_defect - 1  # identical black run
        elif kind == "frozen":
            # frame 0 repeated at positions 1..n_defect → n_defect
            # identical-adjacent pairs
            assert s["n_frozen"] == n_defect
            assert s["n_black"] == 0


def test_video_decoder_rejects_structural_damage():
    import struct

    import pytest

    from ibd_pipeline_spark.operators import multimodal as M

    blob, _dur, _kind = M.synthesize_mp4_raw(0)

    # truncate mdat: a sample now extends past end of file
    with pytest.raises(ValueError):
        M.decode_video_samples(blob[:-50])

    # corrupt a box size (first moov child): framing must fail loudly
    moov_at = blob.index(b"moov") - 4
    bad = bytearray(blob)
    struct.pack_into(">I", bad, moov_at + 8, 4)  # child size < 8
    with pytest.raises(ValueError):
        M.decode_video_samples(bytes(bad))

    # sample count inflated in stsz: locator must notice the shortfall
    stsz_at = blob.index(b"stsz")
    bad2 = bytearray(blob)
    # payload: version/flags(4) + uniform(4) + count(4)
    (count,) = struct.unpack_from(">I", blob, stsz_at + 12)
    struct.pack_into(">I", bad2, stsz_at + 12, count + 5)
    with pytest.raises(ValueError):
        M.decode_video_samples(bytes(bad2))


def test_raw_mp4_dual_parse_consistency():
    """The raw-frame container must be readable by BOTH the sample-
    table decoder and the r12 metadata box-walk — one corpus, two
    independent readers agreeing on the container facts."""
    from ibd_pipeline_spark.operators import multimodal as M

    for i in range(8):
        blob, dur, _kind = M.synthesize_mp4_raw(i)
        meta = M.parse_mp4_meta(blob)
        assert meta["duration_ms"] == dur
        assert meta["major_brand"] == "isom"
        w, h, frames = M.decode_video_samples(blob)
        assert (w, h) == (16, 12)
        assert all(len(f) == w * h for f in frames)
        # duration consistency: n_frames at 10 fps
        assert dur == len(frames) * 100
