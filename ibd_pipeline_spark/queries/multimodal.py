"""Registry entries for multimodal binary-column processing.

Assets are synthesized deterministically (no media tables in the
fixtures), so there is no shared parquet relation for a SQL oracle to
scan — instead, most queries here carry a VALUES-LITERAL oracle (the
weather_sim_golden precedent): the expected output is recomputed from
the same deterministic asset rows by a plain single-process Python
loop (no Spark, no Arrow, no partitioning) and rendered as a VALUES
table for DuckDB. The attested property is exactly the one a
distributed engine can get wrong — that the mapInPandas batching,
partitioning, and schema plumbing reproduce the straight-line
computation bit-for-bit. Codec correctness itself is property-tested
separately (tests/test_png.py, test_multimodal.py).

Oracles are registered as LAZY callables — generating the resize
expectation re-encodes 48 images in pure Python, which should not tax
plain registry imports.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.operators import multimodal as M
from ibd_pipeline_spark.queries import query


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _values_oracle(rows, cols, order_by: str) -> str:
    """Render expected rows as a typed VALUES table. `cols` is
    [(name, duckdb_type)] matching the Spark schema (the driver
    checks dtypes as well as values)."""
    vals = ",\n  ".join(
        "(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows
    )
    sel = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    names = ", ".join(n for n, _ in cols)
    return (
        f"SELECT {sel} FROM (VALUES\n  {vals}\n) AS t({names}) "
        f"ORDER BY {order_by}"
    )


def _round_half_up(x: float, nd: int) -> float:
    """Spark's round() on a double: HALF_UP on the shortest decimal
    repr (java.math.BigDecimal.valueOf semantics)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _feature_extract_expected() -> str:
    rows = []
    for i, media, blob, _nb, *_ in M.image_asset_rows(48):
        b = bytes(blob)
        d = M.decode_image(b, fake=False)
        rows.append(
            (
                i,
                media,
                hashlib.sha256(b).hexdigest(),
                len(b),
                f"{d['mean_luma']:.6f}",
            )
        )
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("media_type", "VARCHAR"),
            ("content_sha256", "VARCHAR"),
            ("content_bytes", "BIGINT"),
            ("feat_mean", "VARCHAR"),
        ],
        "asset_id",
    )


def _resize_expected() -> str:
    from ibd_pipeline_spark.operators import png as P

    rows = []
    for i, _media, blob, *_ in M.image_asset_rows(48):
        w, h, gray = P.decode_png_gray(bytes(blob))
        out = P.encode_png_gray(224, 224, P.resize_nearest(gray, w, h, 224, 224))
        rows.append((i, 224, 224, len(out)))
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("width", "INT"),
            ("height", "INT"),
            ("n_bytes", "INT"),
        ],
        "asset_id",
    )


def _frame_sample_expected() -> str:
    rows = []
    for i, media, blob, _nb, _w, _h, duration_ms, _u in M.asset_rows(64):
        if media != "video":
            continue
        for idx in range(max(1, duration_ms // 1000)):
            frame = hashlib.sha256(
                bytes(blob) + idx.to_bytes(4, "little")
            ).digest()
            rows.append((i, idx, idx * 1000, len(frame)))
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("frame_index", "INT"),
            ("frame_ts_ms", "INT"),
            ("n_bytes", "INT"),
        ],
        "asset_id, frame_index",
    )


def _video_metadata_expected() -> str:
    rows = []
    for i, _media, blob, *_ in M.video_asset_rows(24):
        meta = M.parse_mp4_meta(bytes(blob))
        rows.append(
            (
                i,
                meta["major_brand"],
                meta["timescale"],
                meta["duration_ms"],
                meta["n_boxes"],
            )
        )
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("major_brand", "VARCHAR"),
            ("timescale", "INT"),
            ("duration_ms", "INT"),
            ("n_boxes", "INT"),
        ],
        "asset_id",
    )


def _audio_features_expected() -> str:
    rows = []
    for i, _media, blob, *_ in M.audio_asset_rows(48):
        d = M.decode_audio(bytes(blob))
        rows.append(
            (
                i,
                d["sample_rate"],
                d["n_channels"],
                d["n_frames"],
                d["duration_ms"],
                d["rms"],
                d["peak"],
            )
        )
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("sample_rate", "INT"),
            ("n_channels", "INT"),
            ("n_frames", "INT"),
            ("duration_ms", "INT"),
            ("rms", "VARCHAR"),
            ("peak", "INT"),
        ],
        "asset_id",
    )


def _metadata_profile_expected() -> str:
    groups: dict = {}
    for _i, media, _b, nb, w, _h, dur, _u in M.asset_rows(64):
        g = groups.setdefault(media, {"n": 0, "bytes": [], "w": [], "dur": []})
        g["n"] += 1
        g["bytes"].append(nb)
        if w is not None:
            g["w"].append(w)
        if dur is not None:
            g["dur"].append(dur)

    def avg4(xs):
        return _round_half_up(sum(xs) / len(xs), 4) if xs else None

    rows = [
        (m, g["n"], avg4(g["bytes"]), avg4(g["w"]), avg4(g["dur"]))
        for m, g in sorted(groups.items())
    ]
    return _values_oracle(
        rows,
        [
            ("media_type", "VARCHAR"),
            ("n_assets", "BIGINT"),
            ("avg_bytes", "DOUBLE"),
            ("avg_width", "DOUBLE"),
            ("avg_duration_ms", "DOUBLE"),
        ],
        "media_type",
    )


@query("multimodal_feature_extract", oracle=_feature_extract_expected)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary
    content columns — REAL decode: assets are valid PNGs
    (image_asset_rows) and fake_decode=False routes every blob
    through the stdlib-zlib PNG codec (operators/png.py — gray/RGB/
    RGBA, all five scanline filters), no imaging library involved.
    Planted-image correctness (known means, gradient edges, resize
    invariants) is property-tested in tests/test_png.py."""
    assets = M.asset_table(spark, M.image_asset_rows, n=48)
    return M.extract_features(assets, fake_decode=False).orderBy("asset_id")


@query("multimodal_resize", oracle=_resize_expected)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize pass, REAL: stdlib PNG decode → nearest-neighbor
    resample → grayscale PNG re-encode per blob (operators/png.py)
    over mapInPandas — the standard pre-embedding normalization
    stage, running actual pixels in this container."""
    assets = M.asset_table(spark, M.image_asset_rows, n=48)
    return (
        M.resize_images(assets, 224, 224, fake=False)
        .select("asset_id", "width", "height", F.length("content").alias("n_bytes"))
        .orderBy("asset_id")
    )


@query("multimodal_frame_sample", oracle=_frame_sample_expected)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1 video row → N frame rows, extraction
    stubbed): the row-explosion contract of media preprocessing with
    typed frame timestamps."""
    assets = M.asset_table(spark, M.asset_rows, n=64)
    return (
        M.sample_video_frames(assets, every_ms=1000)
        .select("asset_id", "frame_index", "frame_ts_ms", F.length("frame").alias("n_bytes"))
        .orderBy("asset_id", "frame_index")
    )


@query("multimodal_video_metadata", oracle=_video_metadata_expected)
def multimodal_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF container parsing over Arrow batches: walk the
    MP4 box framing, decode mvhd timescale/duration — no media
    library needed for metadata (frame decode stays codec-gated).
    Structurally valid synthesized MP4s, like the audio path's WAVs."""
    assets = M.asset_table(spark, M.video_asset_rows, n=24)
    return M.extract_video_metadata(assets).orderBy("asset_id")


@query("multimodal_audio_features", oracle=_audio_features_expected)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode over Arrow batches: valid RIFF/WAV blobs
    (stdlib wave codec — nothing stubbed) → sample-rate / duration /
    RMS / peak per clip. The one modality whose media path runs
    end-to-end against true encoded bytes in this container."""
    assets = M.asset_table(spark, M.audio_asset_rows, n=48)
    return M.extract_audio_features(assets).orderBy("asset_id")


@query("multimodal_metadata_profile", oracle=_metadata_profile_expected)
def multimodal_metadata_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only profile over the asset table — the
    column-pruned path that never reads blob bytes. Rows-only like
    the rest of the multimodal family: inputs are synthesized binary
    assets, not fixture tables, so there is no shared relation for a
    DuckDB oracle to scan; determinism is asserted in
    tests/test_multimodal.py."""
    assets = M.asset_table(spark, M.asset_rows, n=64)
    prof = M.metadata_profile(assets)
    return prof.select(
        "media_type",
        "n_assets",
        F.round("avg_bytes", 4).alias("avg_bytes"),
        F.round("avg_width", 4).alias("avg_width"),
        F.round("avg_duration_ms", 4).alias("avg_duration_ms"),
    )


def _phash_near_dup_expected() -> str:
    """Pure-Python twin of the whole phash query: plant the same
    3-byte-flip near-copies, compute byte-window aHash signatures, run the
    two-table (hi/lo 16-bit slice) blocked Hamming search in a plain
    nested loop, and render the surviving pairs as VALUES."""
    mask64 = (1 << 64) - 1
    sigs: dict[int, int] = {}
    for i, _media, blob, *_ in M.asset_rows(48):
        base_id = i * 2
        b = bytes(blob)
        sigs[base_id] = M.ahash64(b) & mask64
        pb = bytearray(b)
        for k in range(3):
            pos = (base_id * 131 + k * 977) % len(pb)
            pb[pos] ^= 0xFF
        sigs[base_id + 1] = M.ahash64(bytes(pb)) & mask64
    ids = sorted(sigs)
    rows = []
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            sa, sb = sigs[a], sigs[b]
            if (sa >> 48) != (sb >> 48) and (sa & 0xFFFF) != (sb & 0xFFFF):
                continue
            h = bin(sa ^ sb).count("1")
            if h <= 8:
                rows.append((a, b, h))
    return _values_oracle(
        rows,
        [("id_a", "BIGINT"), ("id_b", "BIGINT"), ("hamming", "INT")],
        "id_a, id_b",
    )


@query("multimodal_phash_near_dup", oracle=_phash_near_dup_expected)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (aHash) near-duplicate detection over binary image
    content, hash-attested: every synthesized asset gets a planted
    near-copy (three deterministic byte flips — the re-encode/
    watermark stand-in), and the prefix-blocked Hamming pair search
    must recover exactly the planted pairs. Output: (id_a, id_b,
    hamming) per recovered pair, compared against a VALUES oracle
    computed by a plain nested-loop Python twin of the same
    signature/blocking/verify math (locality + recovery stay
    property-tested in tests/test_multimodal.py).

    This is the IMAGE twin of the text near-dup family: content
    digests (dedup_exact) break on a single changed byte; aHash's
    Hamming distance is the structural similarity that survives small
    edits. Scale notes on operators/multimodal.py:
    phash_near_dup_pairs (simhash-geometry prefix blocking).
    """
    # the session-cached asset frame arrives pre-coalesced and
    # checkpointed (operators/multimodal.py:asset_table)
    base = M.asset_table(spark, M.asset_rows, n=48).select(
        (F.col("asset_id") * 2).alias("asset_id"), "media_type", "content"
    )
    # the 3-byte deterministic perturbation runs in the same Arrow
    # stage style as the decode (byte-exact surgery isn't a JVM
    # binary-function strength); it keeps its own mapInPandas because
    # it rewrites asset_id and content, which M._map_blobs carries through
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("media_type", StringType()),
            StructField("content", BinaryType()),
        ]
    )

    def perturb_batches(it):
        import pandas as pd

        for pdf in it:
            out_ids, out_media, out_content = [], [], []
            for aid, media, content in zip(
                pdf["asset_id"], pdf["media_type"], pdf["content"]
            ):
                b = bytearray(bytes(content))
                for k in range(3):
                    pos = (int(aid) * 131 + k * 977) % len(b)
                    b[pos] ^= 0xFF
                out_ids.append(int(aid) + 1)
                out_media.append(media)
                out_content.append(bytes(b))
            yield pd.DataFrame(
                {
                    "asset_id": out_ids,
                    "media_type": out_media,
                    "content": out_content,
                }
            )

    copies = base.mapInPandas(perturb_batches, schema)
    assets = base.unionByName(copies)
    return (
        M.phash_near_dup_pairs(assets, max_hamming=8)
        .orderBy("id_a", "id_b")
    )


def _image_entropy_expected() -> str:
    """VALUES oracle: the same pure-Python decode + entropy fold
    (operators/multimodal.py:image_entropy) over the same
    deterministic asset rows — attesting that the Arrow batching and
    schema plumbing reproduce the straight-line computation."""
    rows = []
    for r in M.image_asset_rows(48):
        n, levels, ent = M.image_entropy(r[2])
        rows.append((r[0], r[1], n, levels, ent))
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("media_type", "VARCHAR"),
            ("n_pixels", "BIGINT"),
            ("n_levels", "BIGINT"),
            ("entropy_nats", "DOUBLE"),
        ],
        "asset_id",
    )


@query("multimodal_image_entropy", oracle=_image_entropy_expected)
def multimodal_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-entropy information-density gate over REAL-decoded
    PNGs (stdlib-zlib codec, Arrow-batched mapInPandas) — blank-frame
    and noise detection for image curation: per asset, pixel count,
    occupied gray levels, and H = −Σ p·ln p in nats."""
    assets = M.asset_table(spark, M.image_asset_rows, n=48)
    return M.image_entropy_profile(assets).orderBy("asset_id")


def _audio_gates_expected() -> str:
    rows = []
    for i, _media, blob, *_ in M.audio_gate_asset_rows(32):
        s = M.audio_gate_stats(bytes(blob))
        rows.append(
            (
                i,
                s["sample_rate"],
                s["n_frames"],
                s["peak"],
                s["n_clipped"],
                s["n_silent"],
                s["clip_rate"],
                s["silence_ratio"],
                s["rms"],
                M.gate_verdict(s),
            )
        )
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("sample_rate", "INT"),
            ("n_frames", "INT"),
            ("peak", "INT"),
            ("n_clipped", "INT"),
            ("n_silent", "INT"),
            ("clip_rate", "DOUBLE"),
            ("silence_ratio", "DOUBLE"),
            ("rms", "VARCHAR"),
            ("verdict", "VARCHAR"),
        ],
        "asset_id",
    )


@query("multimodal_audio_quality_gates", oracle=_audio_gates_expected)
def multimodal_audio_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip audio quality gates over a REAL wave-codec decode of
    the planted-defect WAV corpus (clean / hard-clipped / half-silent
    / all-quiet clips): clipping rate, silence ratio, RMS, peak, and
    a first-failing-gate verdict — the keep/drop screen a training-
    audio sweep runs before featurization. Oracle replays the same
    decode in Python (integer counts; the two ratios are single
    integer-over-integer double divisions)."""
    assets = M.asset_table(spark, M.audio_gate_asset_rows, n=32)
    return M.audio_quality_gates(assets).orderBy("asset_id")


def _audio_gate_summary_expected() -> str:
    agg: dict = {}
    for _i, _media, blob, *_ in M.audio_gate_asset_rows(32):
        s = M.audio_gate_stats(bytes(blob))
        v = M.gate_verdict(s)
        g = agg.setdefault(
            v,
            {
                "n": 0,
                "frames": 0,
                "silent": 0,
                "clipped": 0,
                "peak": 0,
            },
        )
        g["n"] += 1
        g["frames"] += s["n_frames"]
        g["silent"] += s["n_silent"]
        g["clipped"] += s["n_clipped"]
        g["peak"] = max(g["peak"], s["peak"])
    rows = [
        (
            v,
            g["n"],
            g["frames"],
            g["silent"],
            g["clipped"],
            g["peak"],
        )
        for v, g in sorted(agg.items())
    ]
    return _values_oracle(
        rows,
        [
            ("verdict", "VARCHAR"),
            ("n_clips", "BIGINT"),
            ("total_frames", "BIGINT"),
            ("silent_samples", "BIGINT"),
            ("clipped_samples", "BIGINT"),
            ("max_peak", "INT"),
        ],
        "verdict",
    )


@query("multimodal_audio_gate_summary", oracle=_audio_gate_summary_expected)
def multimodal_audio_gate_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level audio-gate rollup: clips / frames / defect-sample
    totals / max peak per verdict class. The aggregation is pure
    integer arithmetic on the gate frame (counts and maxima commute
    across partitions — no float order sensitivity), so the JVM-side
    groupBy is exact; the VALUES oracle replays the same decode and
    the same integer sums."""
    assets = M.asset_table(spark, M.audio_gate_asset_rows, n=32)
    g = M.audio_quality_gates(assets)
    return (
        g.groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("n_frames").alias("total_frames"),
            F.sum("n_silent").alias("silent_samples"),
            F.sum("n_clipped").alias("clipped_samples"),
            F.max("peak").alias("max_peak"),
        )
        .orderBy("verdict")
    )


def _audio_spectral_expected() -> str:
    rows = []
    for i, _media, blob, *_ in M.audio_gate_asset_rows(32):
        s = M.audio_spectral_stats(bytes(blob))
        rows.append(
            (
                i,
                s["sample_rate"],
                s["n_bins"],
                s["centroid_hz"],
                s["rolloff85_hz"],
                s["dominant_hz"],
            )
        )
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("sample_rate", "INT"),
            ("n_bins", "INT"),
            ("centroid_hz", "VARCHAR"),
            ("rolloff85_hz", "VARCHAR"),
            ("dominant_hz", "VARCHAR"),
        ],
        "asset_id",
    )


@query("multimodal_audio_spectral", oracle=_audio_spectral_expected)
def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral centroid / 85% rolloff / dominant frequency per clip
    over a real wave decode + numpy rfft in Arrow mapInPandas — the
    frequency-domain audio featurizer next to the time-domain gates
    (a clip can pass the clipping/silence gates and still be a pure
    test tone; the dominant-bin and centroid features catch that
    class). Planted-tone correctness: each clean corpus clip is a
    known-frequency sine, and the dominant bin recovers it
    (tests/test_multimodal.py)."""
    assets = M.asset_table(spark, M.audio_gate_asset_rows, n=32)
    return M.audio_spectral_features(assets).orderBy("asset_id")


# ---------------------------------------------------------------------------
# Video frame-level gates (the WAV-gate precedent applied to video on a
# stdlib-decodable raw-frame corpus: real decode, exact counts)
# ---------------------------------------------------------------------------


def _video_gates_expected() -> str:
    rows = []
    for i, _media, blob, *_ in M.video_gate_asset_rows(24):
        s = M.video_gate_stats(bytes(blob))
        rows.append(
            (
                i,
                s["width"],
                s["height"],
                s["n_frames"],
                s["n_black"],
                s["n_frozen"],
                s["black_ratio"],
                s["frozen_ratio"],
                s["mean_luma"],
                M.video_gate_verdict(s),
            )
        )
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("width", "INT"),
            ("height", "INT"),
            ("n_frames", "INT"),
            ("n_black", "INT"),
            ("n_frozen", "INT"),
            ("black_ratio", "DOUBLE"),
            ("frozen_ratio", "DOUBLE"),
            ("mean_luma", "VARCHAR"),
            ("verdict", "VARCHAR"),
        ],
        "asset_id",
    )


@query("multimodal_video_quality_gates", oracle=_video_gates_expected)
def multimodal_video_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video FRAME-level quality gates over a REAL ISO-BMFF
    sample-table decode (stsd dimensions → stsz sizes → stsc/stco
    offsets → raw grayscale frames) of the planted-defect corpus
    (clean / black-heavy / frozen / too-short videos): black-frame
    ratio, frozen-adjacent ratio, mean luma, first-failing verdict —
    the keep/drop screen a training-video sweep runs before any
    codec-heavy work. Counts are exact integers; ratios single
    integer/integer divisions; the VALUES oracle replays the same
    decode in pure Python."""
    assets = M.asset_table(spark, M.video_gate_asset_rows, n=24)
    return M.video_quality_gates(assets).orderBy("asset_id")


def _video_gate_summary_expected() -> str:
    agg: dict = {}
    for _i, _media, blob, *_ in M.video_gate_asset_rows(24):
        s = M.video_gate_stats(bytes(blob))
        v = M.video_gate_verdict(s)
        g = agg.setdefault(
            v, {"n": 0, "frames": 0, "black": 0, "frozen": 0}
        )
        g["n"] += 1
        g["frames"] += s["n_frames"]
        g["black"] += s["n_black"]
        g["frozen"] += s["n_frozen"]
    rows = [
        (v, g["n"], g["frames"], g["black"], g["frozen"])
        for v, g in sorted(agg.items())
    ]
    return _values_oracle(
        rows,
        [
            ("verdict", "VARCHAR"),
            ("n_videos", "BIGINT"),
            ("total_frames", "BIGINT"),
            ("black_frames", "BIGINT"),
            ("frozen_frames", "BIGINT"),
        ],
        "verdict",
    )


@query("multimodal_video_gate_summary", oracle=_video_gate_summary_expected)
def multimodal_video_gate_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level video-gate rollup per verdict class — videos,
    frames, defect-frame totals. Pure integer groupBy on the gate
    frame (counts commute across partitions); the VALUES oracle
    replays the same decode and integer sums."""
    assets = M.asset_table(spark, M.video_gate_asset_rows, n=24)
    g = M.video_quality_gates(assets)
    return (
        g.groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_videos"),
            F.sum("n_frames").cast("bigint").alias("total_frames"),
            F.sum("n_black").cast("bigint").alias("black_frames"),
            F.sum("n_frozen").cast("bigint").alias("frozen_frames"),
        )
        .orderBy("verdict")
    )


def _video_motion_expected() -> str:
    rows = []
    for i, _media, blob, *_ in M.video_gate_asset_rows(24):
        s = M.video_motion_stats(bytes(blob))
        rows.append(
            (
                i,
                s["n_frames"],
                s["n_pairs"],
                s["static_pairs"],
                s["motion_energy"],
                s["peak_pair_delta"],
            )
        )
    return _values_oracle(
        rows,
        [
            ("asset_id", "BIGINT"),
            ("n_frames", "INT"),
            ("n_pairs", "INT"),
            ("static_pairs", "INT"),
            ("motion_energy", "VARCHAR"),
            ("peak_pair_delta", "BIGINT"),
        ],
        "asset_id",
    )


@query("multimodal_video_motion_energy", oracle=_video_motion_expected)
def multimodal_video_motion_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-activity features per video over the real sample-table
    decode: mean |luma delta| between adjacent frames (motion energy —
    static slideshows score ~0, the keystream corpus scores high),
    peak pair delta, and exact-static pair counts. The feature column
    beside the r14 video GATES: frozen videos show motion_energy 0 on
    their repeated span, black-heavy videos show bursts at the
    black↔content boundaries — the VALUES oracle replays the same
    integer pixel-delta sums in pure Python."""
    assets = M.asset_table(spark, M.video_gate_asset_rows, n=24)
    return M.video_motion_features(assets).orderBy("asset_id")
