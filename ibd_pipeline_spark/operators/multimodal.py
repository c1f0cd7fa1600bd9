"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (north-star set, SURVEY.md §2.2).

What's real here (and tested): the schema contract, the Arrow-batched
mapInPandas plumbing, batch shapes, partition sizing for large blobs —
and the ENTIRE audio path (synthesize_wav/decode_audio),
which runs a genuine RIFF/WAV codec from the Python stdlib, no
external library needed. PNG decode/resize run real through the
stdlib codec (operators/png.py), other image formats behind a guarded
pillow import; ISO-BMFF container metadata and raw-frame sample tables
decode for real; video frame SAMPLING is a deterministic digest
stand-in (no codec is installed) with the fan-out contract fully
tested.

Scale design for binary columns:
  * store blobs in Parquet binary columns NEXT TO their metadata —
    readers that only need metadata never touch blob bytes (column
    pruning);
  * cap spark.sql.files.maxPartitionBytes so a partition of blobs
    fits executor memory; for >100 MB media, store a reference
    (uri, offset, length) instead and stream in the UDF;
  * all per-blob compute goes through mapInPandas (Arrow batches),
    never row-at-a-time Python — and, but for the 1→N frame fan-out,
    through the one mapper _map_blobs.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Contract schema for a multimodal asset row. content_bytes is
# precomputed at ingest (len of the blob) so metadata-only queries
# never have to touch the binary column — see metadata_profile.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),  # image|audio|video
        StructField("content", BinaryType()),  # opaque encoded bytes
        StructField("content_bytes", LongType()),  # len(content), ingest-time
        StructField("width", IntegerType()),  # media metadata (nullable)
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("source_uri", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("content_sha256", StringType()),
        StructField("content_bytes", LongType()),
        StructField("feat_mean", StringType()),  # stub feature payload
    ]
)


def _map_blobs(
    assets: DataFrame,
    schema: StructType,
    per_blob: "Callable[[bytes], dict]",
    media_type: "str | None" = None,
) -> DataFrame:
    """The one per-blob Arrow boundary of this module: mapInPandas
    over `assets`, keeping only `media_type` rows when it is given,
    skipping batches left empty, calling `per_blob` on each blob's
    bytes (it returns a dict of output columns), carrying `asset_id`
    and `media_type` through when `schema` names them, and emitting
    the columns in `schema` order. Blob bytes never reach the
    driver."""
    names = [f.name for f in schema.fields]
    carried = [c for c in ("asset_id", "media_type") if c in names]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if media_type is not None:
                pdf = pdf[pdf["media_type"] == media_type]
            if pdf.empty:
                continue
            out = pd.DataFrame([per_blob(bytes(b)) for b in pdf["content"]])
            for c in carried:
                out[c] = pdf[c].values
            yield out[names]

    return assets.mapInPandas(batches, schema)


def _asset_row(
    i: int,
    media: str,
    blob: bytes,
    width: "int | None",
    height: "int | None",
    duration_ms: "int | None",
    uri: str,
) -> tuple:
    """One ASSET_SCHEMA row; content_bytes is the blob's length."""
    return (i, media, bytearray(blob), len(blob), width, height, duration_ms, uri)


def asset_rows(n: int = 64, seed: int = 42) -> "list[tuple]":
    """The deterministic fake-asset rows (pure Python, no Spark) —
    shared by asset_table and the VALUES-literal oracle generators in
    queries/multimodal.py, which recompute the expected query outputs
    from these same inputs in a plain driver loop."""
    rows = []
    for i in range(n):
        media = ("image", "audio", "video")[i % 3]
        blob = hashlib.sha512(f"{seed}:{i}".encode()).digest() * (4 + i % 5)
        rows.append(
            _asset_row(
                i,
                media,
                blob,
                64 + i % 512 if media == "image" else None,
                64 + (i * 3) % 512 if media == "image" else None,
                1000 + i * 37 if media != "image" else None,
                f"synthetic://assets/{media}/{i}",
            )
        )
    return rows


# Session-keyed cache of the synthesized asset frames: a fresh
# createDataFrame local relation pays ~0.7-1.7 s on its FIRST
# action in this Spark version, and the multimodal queries each
# re-synthesized the same fixture — so the decoded/encoded asset
# relation is built ONCE per (session, row builder, n, seed), eagerly
# localCheckpointed (asset-count-sized rows pinned to executor-local
# blocks), and every consumer reads the materialized frame. Holding
# the DataFrame reference keeps the checkpoint blocks alive; a new
# session (new applicationId) rebuilds.
_ASSET_FRAME_CACHE: "dict[tuple, DataFrame]" = {}


def asset_table(
    spark, rows: "Callable[[int, int], list[tuple]]", n: int, seed: int = 42
) -> DataFrame:
    """The ASSET_SCHEMA table of `rows(n, seed)` — one of the
    *_asset_rows builders below — cached per session: the first call
    builds and checkpoints it, later calls return the same frame."""
    key = (spark.sparkContext.applicationId, rows, n, seed)
    df = _ASSET_FRAME_CACHE.get(key)
    if df is None:
        # drop entries from other (stopped) sessions so a long-lived
        # process creating many sessions never accumulates dead
        # DataFrame references and their lineage
        app = key[0]
        for k in [k for k in _ASSET_FRAME_CACHE if k[0] != app]:
            del _ASSET_FRAME_CACHE[k]
        # coalesce before the checkpoint: n≲100 rows across 32
        # createDataFrame slices would otherwise spin a python worker
        # per near-empty partition in every downstream Arrow stage
        df = (
            spark.createDataFrame(rows(n, seed), ASSET_SCHEMA)
            .coalesce(4)
            .localCheckpoint(eager=True)
        )
        _ASSET_FRAME_CACHE[key] = df
    return df


def image_asset_rows(n: int = 48, seed: int = 42) -> "list[tuple]":
    """REAL-PNG asset rows: each blob is a valid 8-bit PNG
    (operators/png.py encoder) of a seeded gradient+hash-noise
    pattern, cycling gray / RGB / RGBA color types so the decoder's
    channel handling is exercised in-pipeline — decode/resize run
    these with fake=False, no imaging library anywhere."""
    from ibd_pipeline_spark.operators import png as P

    rows = []
    for i in range(n):
        w = 16 + (i % 4) * 8
        h = 16 + ((i * 3) % 5) * 4
        color_type = (0, 2, 6)[i % 3]
        channels = {0: 1, 2: 3, 6: 4}[color_type]
        noise = hashlib.sha512(f"{seed}:{i}".encode()).digest()
        px = bytearray(w * h * channels)
        for y in range(h):
            for x in range(w):
                base = (y * w + x) * channels
                g = (x * 255) // max(w - 1, 1)
                nz = noise[(x * 7 + y * 13) % len(noise)] >> 3
                for c in range(channels):
                    v = min(255, g + nz + c * 9)
                    px[base + c] = v
                if color_type == 6:
                    px[base + 3] = 255  # opaque alpha
        blob = P.encode_png(w, h, bytes(px), color_type)
        rows.append(
            _asset_row(i, "image", blob, w, h, None, f"synthetic://assets/png/{i}")
        )
    return rows


def _pil():
    """Optional-import hook for a real imaging library. Returns the
    PIL.Image module when pillow is installed, else None — the
    container default. Tests exercise both branches (real branch
    skips when pillow is absent)."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _gray_stats(px: "bytes | list", w: int) -> dict:
    """mean luma + mean |horizontal neighbor delta| over a grayscale
    plane — the shared statistic of every decode route."""
    mean = sum(px) / (255.0 * len(px)) if len(px) else 0.0
    diffs = [abs(px[i] - px[i - 1]) for i in range(1, len(px)) if i % w]
    edge = (sum(diffs) / (255.0 * len(diffs))) if diffs else 0.0
    return {"mean_luma": mean, "edge_score": edge}


def decode_image(content: bytes, fake: bool = False) -> dict:
    """Decode an encoded image to pixel statistics.

    fake=True computes deterministic pseudo-features from the bytes so
    the distributed plumbing is testable end-to-end with no codec.
    fake=False decodes for REAL: PNG content goes through the
    stdlib-zlib codec (operators/png.py — no imaging library needed,
    the WAV/ISO-BMFF precedent); other formats use pillow when
    installed (guarded import) and raise NotImplementedError
    otherwise, per the build contract."""
    if fake:
        h = hashlib.sha256(content).digest()
        return {"mean_luma": h[0] / 255.0, "edge_score": h[1] / 255.0}
    from ibd_pipeline_spark.operators import png as P

    if P.is_png(content):
        w, _h, gray = P.decode_png_gray(content)
        return _gray_stats(gray, w)
    Image = _pil()
    if Image is None:
        raise NotImplementedError(
            "non-PNG image decode requires pillow, not present in this "
            "environment; PNG decodes for real (operators/png.py), or "
            "pass fake=True for the deterministic stand-in"
        )
    import io

    with Image.open(io.BytesIO(content)) as im:
        gray = im.convert("L")
        return _gray_stats(list(gray.getdata()), gray.width)


def extract_features(assets: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Per-asset feature extraction via mapInPandas: Arrow-batched,
    one pandas frame per input batch, blob bytes never cross the
    driver. The decode call is the stub; the batch shape, schema and
    partitioning are the real production pattern."""

    def features(b: bytes) -> dict:
        d = decode_image(b, fake=fake_decode)
        return {
            "content_sha256": hashlib.sha256(b).hexdigest(),
            "content_bytes": len(b),
            "feat_mean": f"{d['mean_luma']:.6f}",
        }

    return _map_blobs(assets, FEATURE_SCHEMA, features)


RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("content", BinaryType()),
    ]
)


def resize_images(
    assets: DataFrame, target_w: int = 224, target_h: int = 224, fake: bool = True
) -> DataFrame:
    """Image resize over mapInPandas — the standard pre-embedding
    normalization pass.

    Decode/encode is fake by default: the fake path emits a
    deterministic pseudo-resized payload (sha512-seeded bytes of the
    right nominal size) so schema, batching, and partition behavior
    are testable with arbitrary blobs. fake=False resizes for REAL —
    PNG content through the stdlib-zlib codec (operators/png.py:
    decode → nearest-neighbor resample → grayscale PNG re-encode, no
    imaging library needed), other formats through pillow when
    installed; a non-PNG blob with no pillow raises
    NotImplementedError from the task (the per-blob guard — format
    is a property of the data, not the driver). The Spark-side
    plumbing is identical on every route."""

    def _fake_resize(content: bytes) -> bytes:
        h = hashlib.sha512(content).digest()
        need = max(1, (target_w * target_h) // 256)
        return (h * ((need // len(h)) + 1))[:need]

    def _real_resize(content: bytes) -> bytes:
        from ibd_pipeline_spark.operators import png as P

        if P.is_png(content):
            w, h, gray = P.decode_png_gray(content)
            return P.encode_png_gray(
                target_w, target_h, P.resize_nearest(gray, w, h, target_w, target_h)
            )
        import io

        Image = _pil()
        if Image is None:
            raise NotImplementedError(
                "non-PNG resize requires pillow, not present in this "
                "environment; PNG resizes for real (operators/png.py), "
                "or pass fake=True for the deterministic stand-in"
            )
        with Image.open(io.BytesIO(content)) as im:
            out = io.BytesIO()
            im.resize((target_w, target_h)).save(out, format=im.format or "PNG")
            return out.getvalue()

    resize_fn = _fake_resize if fake else _real_resize
    return _map_blobs(
        assets,
        RESIZE_SCHEMA,
        lambda b: {"width": target_w, "height": target_h, "content": resize_fn(b)},
        "image",
    )


FRAME_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_ts_ms", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_video_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling (1 row in → N frame rows out) over
    mapInPandas — the fan-out shape of media preprocessing.

    No video codec is installed, so frames are deterministic digests
    of (content, index); the row-explosion contract (duration_ms //
    every_ms frames per video, at least one, typed timestamps on the
    every_ms grid) is the real, tested part."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vids = pdf[pdf["media_type"] == "video"]
            out = {"asset_id": [], "frame_index": [], "frame_ts_ms": [], "frame": []}
            for aid, duration_ms, content in zip(
                vids["asset_id"], vids["duration_ms"], vids["content"]
            ):
                blob = bytes(content)
                for i in range(max(1, int(duration_ms) // every_ms)):
                    out["asset_id"].append(aid)
                    out["frame_index"].append(i)
                    out["frame_ts_ms"].append(i * every_ms)
                    out["frame"].append(
                        hashlib.sha256(blob + i.to_bytes(4, "little")).digest()
                    )
            if out["asset_id"]:
                yield pd.DataFrame(out)

    return assets.mapInPandas(batches, FRAME_SCHEMA)


# -- video: REAL container parsing (ISO-BMFF box walk) -------------------

VIDEO_META_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("major_brand", StringType()),
        StructField("timescale", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("n_boxes", IntegerType()),
    ]
)


def _box(kind: bytes, payload: bytes) -> bytes:
    """One ISO-BMFF box: 32-bit big-endian size, fourcc, payload."""
    return struct.pack(">I", 8 + len(payload)) + kind + payload


def _full_box(kind: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(kind, struct.pack(">B3s", version, flags.to_bytes(3, "big")) + payload)


_FTYP = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")


def _mvhd(timescale: int, duration: int) -> bytes:
    """A version-0 mvhd box carrying a genuine timescale/duration."""
    return _full_box(
        b"mvhd",
        0,
        0,
        struct.pack(">II", 0, 0)  # creation/modification time
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume
        + b"\x00" * 10  # reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", 2),  # next_track_id
    )


def _boxes(buf: bytes, offset: int, end: int):
    """Walk the box framing of buf[offset:end], yielding (fourcc,
    payload_start, box_end). Framing that overruns `end`, a size
    below the 8-byte header, or trailing bytes that are not a box
    raise ValueError, like any conformant reader."""
    while offset + 8 <= end:
        size, kind = struct.unpack_from(">I4s", buf, offset)
        if size < 8 or offset + size > end:
            raise ValueError(f"bad box size {size} at {offset}")
        yield kind, offset + 8, offset + size
        offset += size
    if offset != end:
        raise ValueError("trailing bytes are not a box")


def synthesize_mp4(i: int, seed: int = 42) -> tuple[bytes, int]:
    """A minimal but structurally REAL ISO-BMFF (MP4) container:
    ftyp + moov(mvhd) + mdat boxes with correct 32-bit big-endian
    size/type framing and an mvhd v0 payload carrying a genuine
    timescale/duration. Parsers that walk boxes (including
    parse_mp4_meta below, ffprobe, mp4dump) read it; only media
    samples are absent. Returns (bytes, duration_ms)."""
    duration_ms = 1000 + (seed * 13 + i * 37) % 9000
    moov = _box(b"moov", _mvhd(1000, duration_ms))
    mdat = _box(b"mdat", hashlib.sha512(f"{seed}:{i}".encode()).digest())
    return _FTYP + moov + mdat, duration_ms


def parse_mp4_meta(content: bytes) -> dict:
    """REAL ISO-BMFF metadata parse with no media library: walk the
    top-level box framing (32-bit size + fourcc), recurse into moov,
    and decode the mvhd v0/v1 timescale + duration fields. This is
    the actual wire format every MP4 tool speaks — corrupt framing
    raises, unknown boxes are skipped by size like any conformant
    reader. Frame DECODE still needs a codec; container metadata
    does not."""
    major = None
    timescale = duration = None
    n_boxes = 0
    for kind, lo, hi in _boxes(content, 0, len(content)):
        n_boxes += 1
        if kind == b"ftyp":
            major = content[lo : lo + 4].decode("ascii")
        elif kind == b"moov":
            for k2, l2, h2 in _boxes(content, lo, hi):
                n_boxes += 1
                if k2 == b"mvhd":
                    version = content[l2]
                    if version == 1:
                        timescale, duration = struct.unpack_from(
                            ">IQ", content, l2 + 4 + 16
                        )
                    else:
                        _, _, timescale, duration = struct.unpack_from(
                            ">IIII", content, l2 + 4
                        )
    if timescale is None:
        raise ValueError("no mvhd box found")
    return {
        "major_brand": major,
        "timescale": int(timescale),
        "duration_ms": int(duration * 1000 // timescale),
        "n_boxes": n_boxes,
    }


def video_asset_rows(n: int = 24, seed: int = 42) -> "list[tuple]":
    """Asset rows of structurally valid MP4 blobs (synthesize_mp4)."""
    rows = []
    for i in range(n):
        blob, duration_ms = synthesize_mp4(i, seed)
        rows.append(
            _asset_row(
                i,
                "video",
                blob,
                None,
                None,
                duration_ms,
                f"synthetic://assets/video/{i}.mp4",
            )
        )
    return rows


def extract_video_metadata(assets: DataFrame) -> DataFrame:
    """Per-video container metadata via mapInPandas — REAL box-walk
    parse (parse_mp4_meta), same Arrow batching rules as every other
    media op; blob bytes never reach the driver."""
    return _map_blobs(assets, VIDEO_META_SCHEMA, parse_mp4_meta, "video")


# -- audio: REAL codec path (stdlib wave — no external dependency) ------

AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("rms", StringType()),  # fixed-point string: stable hashing
        StructField("peak", IntegerType()),
    ]
)


def _sine_wav(
    n: int, amp: int, freq: float, sample_rate: int, silent_until: int = 0
) -> bytes:
    """RIFF/WAV bytes of n 16-bit mono PCM samples: digital zero
    before `silent_until`, then amp·sin(2π·freq·t/rate) clamped to
    the int16 range — a requested amplitude above full scale clips
    for real."""
    import io
    import math
    import wave

    pcm = b"".join(
        struct.pack(
            "<h",
            0
            if t < silent_until
            else max(
                -32768,
                min(
                    32767,
                    int(amp * math.sin(2 * math.pi * freq * t / sample_rate)),
                ),
            ),
        )
        for t in range(n)
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm)
    return buf.getvalue()


def _read_pcm16(content: bytes):
    """Decode a RIFF/WAV blob with the stdlib wave module: (sample
    rate, channels, frames, int16 samples). Only 16-bit PCM is
    supported; other widths raise ValueError."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(content), "rb") as w:
        rate, ch, width, n = (
            w.getframerate(),
            w.getnchannels(),
            w.getsampwidth(),
            w.getnframes(),
        )
        if width != 2:
            raise ValueError(f"only 16-bit PCM supported, got width={width}")
        return rate, ch, n, np.frombuffer(w.readframes(n), dtype="<i2")


def synthesize_wav(
    i: int, seed: int = 42, sample_rate: int = 8000
) -> tuple[bytes, int]:
    """A real RIFF/WAV blob: 16-bit PCM mono sine burst whose
    frequency, amplitude and duration derive deterministically from
    (seed, i). Unlike the image/video stand-ins these bytes are a
    *valid media container* — the decode below is a genuine codec
    pass, not a digest trick. Returns (bytes, duration_ms)."""
    duration_ms = 200 + (seed * 7 + i * 37) % 800
    freq = 220.0 * (1 + (i % 5))
    amp = 8000 + (i * 997) % 20000  # inside int16: never clamped
    n = sample_rate * duration_ms // 1000
    return _sine_wav(n, amp, freq, sample_rate), duration_ms


def audio_asset_rows(n: int = 48, seed: int = 42) -> "list[tuple]":
    """Asset rows of real WAV blobs (synthesize_wav)."""
    rows = []
    for i in range(n):
        blob, duration_ms = synthesize_wav(i, seed)
        rows.append(
            _asset_row(
                i,
                "audio",
                blob,
                None,
                None,
                duration_ms,
                f"synthetic://assets/audio/{i}.wav",
            )
        )
    return rows


def decode_audio(content: bytes) -> dict:
    """REAL audio decode via the stdlib wave module: parses the RIFF
    container, reads PCM frames, computes sample-rate/duration/RMS/
    peak. No fake path needed — the codec ships with Python, which is
    exactly why audio is the modality where this engine's media
    plumbing runs end-to-end against true encoded bytes even in a
    minimal container."""
    import numpy as np

    rate, ch, n, pcm = _read_pcm16(content)
    samples = pcm.astype(np.float64)
    rms = float(np.sqrt(np.mean(samples**2))) if samples.size else 0.0
    return {
        "sample_rate": rate,
        "n_channels": ch,
        "n_frames": n,
        "duration_ms": int(n * 1000 // rate) if rate else 0,
        # fixed-point (4 dp) string: float64 RMS is deterministic here
        # (single-pass numpy sum over a fixed-order buffer), rendered
        # in a hash-stable form for the rows-only driver check
        "rms": f"{rms:.4f}",
        "peak": int(np.max(np.abs(samples))) if samples.size else 0,
    }


def extract_audio_features(assets: DataFrame) -> DataFrame:
    """Per-clip audio features via mapInPandas: Arrow batches of
    binary WAV blobs decoded JVM→Python once per batch, never on the
    driver. Same partition-sizing rules as image features; the decode
    itself is real (see decode_audio)."""
    return _map_blobs(assets, AUDIO_FEATURE_SCHEMA, decode_audio, "audio")


def metadata_profile(assets: DataFrame) -> DataFrame:
    """Metadata-only profile — touches ONLY metadata columns (size
    comes from the ingest-time content_bytes column, never
    length(content)), so parquet column pruning reads zero blob
    bytes; the query that must stay cheap at 100 TB."""
    return (
        assets.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.avg("content_bytes").alias("avg_bytes"),
            F.avg("width").alias("avg_width"),
            F.avg("duration_ms").alias("avg_duration_ms"),
        )
        .orderBy("media_type")
    )


def ahash64(content: bytes) -> int:
    """64-bit average hash (aHash) of a blob: 64 evenly-sized byte
    windows play the 8×8 grid cells of the classic perceptual
    fingerprint, and bit i is set when window i's mean exceeds the
    global mean. Unlike a content digest, which any single byte flips
    completely, local perturbations flip few bits (the pair tests
    assert it), and the path is deterministic and codec-free."""
    n = len(content)
    if n == 0:
        return 0
    cells = [
        content[(i * n) // 64 : max((i * n) // 64 + 1, ((i + 1) * n) // 64)]
        for i in range(64)
    ]
    means = [sum(c) / len(c) for c in cells]
    overall = sum(means) / 64.0
    bits = 0
    for i, m in enumerate(means):
        if m > overall:
            bits |= 1 << i
    # interpret as signed 64-bit (Spark LongType)
    return bits - (1 << 64) if bits >= 1 << 63 else bits


PHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("ahash", LongType()),
    ]
)


def phash_signatures(assets: DataFrame) -> DataFrame:
    """(asset_id, ahash) via Arrow-batched mapInPandas — blobs stay on
    executors, one 64-bit signature per asset comes out. The signature
    table is what the pair search operates on; the blob column is
    never touched again (the same two-phase shape as SimHash over
    text)."""
    return _map_blobs(assets, PHASH_SCHEMA, lambda b: {"ahash": ahash64(b)})


def phash_near_dup_pairs(assets: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Perceptual near-duplicate pairs: aHash signatures, TWO-table
    blocked self-join — candidates share the 16-bit prefix OR the
    16-bit suffix (near-identical hashes agree on a fixed slice
    unless an edit lands in it; two disjoint slices halve the miss
    odds — a pair escapes only when edits hit BOTH) — then Hamming
    verification ≤ max_hamming. Returns (id_a, id_b, hamming),
    id_a < id_b, deduplicated across tables.

    Scale: identical geometry to dedup.simhash32_pairs — each
    table's join key is a hash slice, so candidate volume is
    per-block quadratic, never corpus-quadratic; adding tables trades
    shuffle volume for recall exactly like sign-LSH's multi-table
    rotation (measured here: one table recovers 37/48 planted dups on
    the fixture, two recover 45/48)."""
    from ibd_pipeline_spark.operators.dedup import hamming64

    # Materialize the signature frame ONCE: it is referenced four
    # times below (two blocks × two join sides), and without the
    # checkpoint each reference re-executes the whole Python decode/
    # signature stage (measured 11 s -> ~1 s on the 96-asset
    # fixture). Asset-count-sized rows — cheap to pin.
    sig = (
        phash_signatures(assets)
        .select(
            "asset_id",
            "ahash",
            F.shiftrightunsigned("ahash", 48).alias("block_hi"),
            (F.col("ahash").bitwiseAND(F.lit(0xFFFF))).alias("block_lo"),
        )
        .localCheckpoint(eager=True)
    )
    pairs = None
    for block in ("block_hi", "block_lo"):
        a = sig.alias("a")
        b = sig.alias("b")
        t = a.join(
            b,
            (F.col(f"a.{block}") == F.col(f"b.{block}"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        ).select(
            F.col("a.asset_id").alias("id_a"),
            F.col("b.asset_id").alias("id_b"),
            hamming64(F.col("a.ahash"), F.col("b.ahash")).alias("hamming"),
        )
        pairs = t if pairs is None else pairs.unionByName(t)
    return (
        pairs.filter(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.first("hamming").alias("hamming"))
    )


ENTROPY_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_pixels", LongType()),
        StructField("n_levels", LongType()),
        StructField("entropy_nats", DoubleType()),
    ]
)


def image_entropy(content: bytes) -> "tuple[int, int, float]":
    """Grayscale histogram entropy of a REAL-decoded PNG: 256-bin
    luma histogram → H = −Σ p·ln p (nats), plus pixel count and the
    number of occupied gray levels. Pure single-process Python — the
    same function backs the distributed mapInPandas pass AND the
    VALUES oracle, so cross-engine agreement is bit-for-bit by
    construction (fixed bin iteration order; HALF_UP 8-dp rounding in
    the decimal domain, matching Spark round() semantics)."""
    from decimal import ROUND_HALF_UP, Decimal
    from math import log

    from ibd_pipeline_spark.operators import png as P

    _w, _h, gray = P.decode_png_gray(content)
    hist = [0] * 256
    for b in gray:
        hist[b] += 1
    n = len(gray)
    ent = 0.0
    levels = 0
    for c in hist:
        if c:
            levels += 1
            p = c / n
            ent -= p * log(p)
    ent = float(
        Decimal(repr(ent)).quantize(Decimal("1e-8"), rounding=ROUND_HALF_UP)
    )
    return n, levels, ent


def image_entropy_profile(assets: DataFrame) -> DataFrame:
    """Per-asset histogram-entropy profile via Arrow-batched
    mapInPandas (REAL stdlib-zlib PNG decode, no imaging library) —
    the information-density gate of an image curation pipeline:
    near-zero entropy marks blank/synthetic frames, max entropy
    (ln 256 ≈ 5.545) marks noise. Blob bytes never cross the driver;
    per-batch work is decode + a 256-bin fold."""
    return _map_blobs(
        assets,
        ENTROPY_SCHEMA,
        lambda b: dict(
            zip(("n_pixels", "n_levels", "entropy_nats"), image_entropy(b))
        ),
    )


# ---------------------------------------------------------------------------
# Audio quality gates: clipping rate + silence ratio over planted clips
# ---------------------------------------------------------------------------

def synthesize_wav_gate(
    i: int, seed: int = 42, sample_rate: int = 8000
) -> "tuple[bytes, int, str]":
    """WAV corpus with PLANTED quality defects, deterministic in
    (seed, i) — the audio twin of the planted-image entropy corpus.
    Four modes by i % 4:

      0 normal      clean sine burst (amp inside int16, audible)
      1 clipped     requested amplitude 1.35×32767, clamped at pack
                    time — true digital clipping (samples pinned at
                    full scale), not a metadata flag
      2 half_silent first half of the clip is digital zero, second
                    half a clean sine — silence_ratio ≈ 0.5 plus the
                    sine's own near-zero crossings
      3 quiet       amplitude 25 (below any sane silence threshold)
                    — the whole clip reads as silence

    Returns (wav_bytes, duration_ms, kind)."""
    kind = ("normal", "clipped", "half_silent", "quiet")[i % 4]
    duration_ms = 200 + (seed * 11 + i * 53) % 600
    freq = 220.0 * (1 + (i % 5))
    amp = {
        "normal": 8000 + (i * 997) % 20000,
        "clipped": int(1.35 * 32767),
        "half_silent": 12000 + (i * 499) % 8000,
        "quiet": 25,
    }[kind]
    n = sample_rate * duration_ms // 1000
    silent_until = n // 2 if kind == "half_silent" else 0
    return _sine_wav(n, amp, freq, sample_rate, silent_until), duration_ms, kind


def audio_gate_asset_rows(n: int = 32, seed: int = 42) -> "list[tuple]":
    """ASSET_SCHEMA rows over the planted-defect WAV corpus; the kind
    rides in source_uri so tests can assert planted vs detected
    without a side channel."""
    rows = []
    for i in range(n):
        blob, duration_ms, kind = synthesize_wav_gate(i, seed)
        rows.append(
            _asset_row(
                i,
                "audio",
                blob,
                None,
                None,
                duration_ms,
                f"synthetic://assets/audio-gate/{kind}/{i}.wav",
            )
        )
    return rows


def audio_gate_stats(
    content: bytes,
    silence_threshold: int = 100,
    clip_level: int = 32766,
) -> dict:
    """Per-clip quality-gate statistics from a REAL wave-module decode
    (same codec pass as decode_audio): integer sample counts for the
    two defect classes plus RMS/peak. All counts are exact integers;
    the ratios are single double divisions of those integers — both
    deterministic and replayable by the VALUES oracle, which runs this
    same function."""
    import numpy as np

    rate, _ch, n, pcm = _read_pcm16(content)
    samples = pcm.astype(np.int64)
    absx = np.abs(samples)
    n_clipped = int(np.count_nonzero(absx >= clip_level))
    n_silent = int(np.count_nonzero(absx < silence_threshold))
    rms = float(np.sqrt(np.mean((samples.astype(np.float64)) ** 2))) if n else 0.0
    return {
        "sample_rate": rate,
        "n_frames": n,
        "peak": int(absx.max()) if n else 0,
        "n_clipped": n_clipped,
        "n_silent": n_silent,
        "clip_rate": (n_clipped / n) if n else 0.0,
        "silence_ratio": (n_silent / n) if n else 1.0,
        "rms": f"{rms:.4f}",
    }


def gate_verdict(
    stats: dict,
    max_clip_rate: float = 0.001,
    max_silence_ratio: float = 0.6,
) -> str:
    """First-failing-gate verdict, checked in severity order: clipped
    (irrecoverable distortion) → silent (no usable signal) → pass.
    Thresholds are corpus-policy, not codec facts — callers tune."""
    if stats["clip_rate"] > max_clip_rate:
        return "clipped"
    if stats["silence_ratio"] > max_silence_ratio:
        return "silent"
    return "pass"


AUDIO_GATE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("peak", IntegerType()),
        StructField("n_clipped", IntegerType()),
        StructField("n_silent", IntegerType()),
        StructField("clip_rate", DoubleType()),
        StructField("silence_ratio", DoubleType()),
        StructField("rms", StringType()),
        StructField("verdict", StringType()),
    ]
)


def audio_quality_gates(
    assets: DataFrame,
    silence_threshold: int = 100,
    clip_level: int = 32766,
    max_clip_rate: float = 0.001,
    max_silence_ratio: float = 0.6,
) -> DataFrame:
    """Per-clip audio QUALITY GATES via Arrow mapInPandas — the audio
    twin of multimodal_image_entropy's keep/drop screen: clipping rate
    (|s| ≥ clip_level) and silence ratio (|s| < silence_threshold)
    over a real RIFF/WAV decode, with a first-failing-gate verdict.
    A 100 TB training-audio sweep runs exactly this shape: blobs stay
    in executor Arrow batches, the output is metadata-sized, and the
    downstream filter (verdict = 'pass') prunes before any expensive
    featurization.

    Reference parity: none (the reference has no media path at all —
    its whole surface is `spark_processor.py`); north-star multimodal
    row (SURVEY §2.2)."""

    def gate(b: bytes) -> dict:
        s = audio_gate_stats(b, silence_threshold, clip_level)
        return s | {"verdict": gate_verdict(s, max_clip_rate, max_silence_ratio)}

    return _map_blobs(assets, AUDIO_GATE_SCHEMA, gate, "audio")


# ---------------------------------------------------------------------------
# Audio spectral features: centroid / rolloff / dominant frequency
# ---------------------------------------------------------------------------

def audio_spectral_stats(content: bytes) -> dict:
    """Per-clip magnitude-spectrum features from a real wave decode +
    numpy rfft: spectral centroid (the magnitude-weighted mean
    frequency — the classic brightness feature), 85% rolloff (the
    frequency below which 85% of magnitude mass sits), and the
    dominant bin frequency. Deterministic: rfft of a fixed int16
    buffer is pure IEEE arithmetic, and the VALUES oracle replays
    this exact function, so the attestation pins the distributed
    Arrow plumbing bit-for-bit (float outputs ride as fixed-point
    strings, the decode_audio rms convention)."""
    import numpy as np

    rate, _ch, _n, pcm = _read_pcm16(content)
    samples = pcm.astype(np.float64)
    mag = np.abs(np.fft.rfft(samples))
    freqs = np.fft.rfftfreq(samples.size, d=1.0 / rate)
    total = float(mag.sum())
    if total <= 0.0:
        centroid = 0.0
        rolloff = 0.0
        dominant = 0.0
    else:
        centroid = float((freqs * mag).sum() / total)
        cum = np.cumsum(mag)
        rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * total))])
        dominant = float(freqs[int(np.argmax(mag))])
    return {
        "sample_rate": rate,
        "n_bins": int(mag.size),
        "centroid_hz": f"{centroid:.4f}",
        "rolloff85_hz": f"{rolloff:.4f}",
        "dominant_hz": f"{dominant:.4f}",
    }


SPECTRAL_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_bins", IntegerType()),
        StructField("centroid_hz", StringType()),
        StructField("rolloff85_hz", StringType()),
        StructField("dominant_hz", StringType()),
    ]
)


def audio_spectral_features(assets: DataFrame) -> DataFrame:
    """Spectral features via Arrow mapInPandas over binary WAV blobs —
    same batch shape and partition-sizing rules as the gate/feature
    extractors; the FFT runs vectorized per clip inside the executor
    Python worker, never on the driver."""
    return _map_blobs(assets, SPECTRAL_SCHEMA, audio_spectral_stats, "audio")


# ---------------------------------------------------------------------------
# Video FRAME-level gates over a stdlib-decodable planted-defect corpus
# (the WAV-gate precedent applied to video: real decode, planted
# defects, exact counts)
# ---------------------------------------------------------------------------


def _raw_frame(seed: int, i: int, f: int, w: int, h: int) -> bytes:
    """Deterministic 'normal' grayscale frame: sha512 keystream tiled
    to w*h — adjacent frames never identical, never black."""
    need = w * h
    out = bytearray()
    ctr = 0
    while len(out) < need:
        out += hashlib.sha512(f"{seed}:{i}:{f}:{ctr}".encode()).digest()
        ctr += 1
    return bytes(out[:need])


def synthesize_mp4_raw(i: int, seed: int = 42) -> "tuple[bytes, int, str]":
    """An ISO-BMFF container with a COMPLETE sample table and
    UNCOMPRESSED 8-bit grayscale frames in mdat — the video twin of
    synthesize_wav_gate: every box (ftyp, moov/mvhd, trak/tkhd,
    mdia/mdhd/hdlr, minf/vmhd/dinf/dref, stbl/stsd/stts/stsc/stsz/
    stco) carries spec-layout payloads, and frames are located the
    way every real MP4 reader locates them: stsd gives dimensions,
    stsz sample sizes, stco the absolute chunk offset into the file.
    The one corpus convention (documented, not hidden) is the codec:
    sample entry fourcc 'raw ' with depth 8 = one luma byte per pixel,
    so the stdlib can decode frames with no media library — the
    box-structure plumbing is real, the codec is trivially real.

    Planted defects by i % 4 (kind in the returned tuple and in
    source_uri): 0 normal (keystream frames), 1 black_heavy (70% of
    frames all-zero), 2 frozen (frame 0 repeated for 70% of
    positions), 3 short (2 frames — below any sane minimum).
    Returns (mp4_bytes, duration_ms, kind)."""
    kind = ("normal", "black_heavy", "frozen", "short")[i % 4]
    w, h = 16, 12
    fps = 10
    n_frames = 2 if kind == "short" else 8 + (seed * 7 + i * 31) % 9  # 8..16
    frames: list[bytes] = []
    n_defect = (7 * n_frames + 9) // 10  # ceil(0.7 n)
    for f in range(n_frames):
        if kind == "black_heavy" and f < n_defect:
            frames.append(b"\x00" * (w * h))
        elif kind == "frozen" and 0 < f <= n_defect:
            frames.append(frames[0])
        else:
            frames.append(_raw_frame(seed, i, f, w, h))
    duration_ms = n_frames * 1000 // fps

    frame_size = w * h
    timescale = 1000
    duration = duration_ms

    mvhd = _mvhd(timescale, duration)
    tkhd = _full_box(
        b"tkhd",
        0,
        7,  # enabled | in_movie | in_preview
        struct.pack(">II", 0, 0)  # creation/modification
        + struct.pack(">I", 1)  # track id
        + b"\x00" * 4
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">hhhh", 0, 0, 0, 0)  # layer, group, volume, reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", w << 16, h << 16),
    )
    mdhd = _full_box(
        b"mdhd",
        0,
        0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und', pre_defined
    )
    hdlr = _full_box(
        b"hdlr",
        0,
        0,
        struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"GrayRawHandler\x00",
    )
    vmhd = _full_box(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dref = _full_box(
        b"dref", 0, 0, struct.pack(">I", 1) + _full_box(b"url ", 0, 1, b"")
    )
    dinf = _box(b"dinf", dref)

    compressor = b"gray8 raw"
    sample_entry = _box(
        b"raw ",
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + struct.pack(">HH", 0, 0)  # pre_defined, reserved
        + b"\x00" * 12  # pre_defined
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4
        + struct.pack(">H", 1)  # frame_count
        + struct.pack(">B", len(compressor))
        + compressor
        + b"\x00" * (31 - len(compressor))  # pascal-string pad to 32
        + struct.pack(">H", 8)  # depth: 8-bit grayscale
        + struct.pack(">h", -1),
    )
    stsd = _full_box(b"stsd", 0, 0, struct.pack(">I", 1) + sample_entry)
    stts = _full_box(
        b"stts",
        0,
        0,
        struct.pack(">I", 1)
        + struct.pack(">II", n_frames, timescale // fps),
    )
    stsc = _full_box(
        b"stsc", 0, 0, struct.pack(">I", 1) + struct.pack(">III", 1, n_frames, 1)
    )
    stsz = _full_box(
        b"stsz", 0, 0, struct.pack(">II", frame_size, n_frames)
    )

    def moov_bytes(chunk_offset: int) -> bytes:
        stco = _full_box(
            b"stco", 0, 0, struct.pack(">I", 1) + struct.pack(">I", chunk_offset)
        )
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _box(b"minf", vmhd + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak = _box(b"trak", tkhd + mdia)
        return _box(b"moov", mvhd + trak)

    # stco stores the ABSOLUTE file offset of the first (only) chunk;
    # moov size is offset-independent (stco payload is fixed-width),
    # so one placeholder pass sizes it and the second pass patches.
    moov_len = len(moov_bytes(0))
    chunk_offset = len(_FTYP) + moov_len + 8  # + mdat header
    moov = moov_bytes(chunk_offset)
    assert len(moov) == moov_len
    mdat = _box(b"mdat", b"".join(frames))
    return _FTYP + moov + mdat, duration_ms, kind


def decode_video_samples(content: bytes) -> "tuple[int, int, list[bytes]]":
    """REAL (subset) ISO-BMFF sample-table reader, no media library:
    walk boxes to moov/trak/mdia/minf/stbl, take dimensions from the
    stsd VisualSampleEntry, per-sample sizes from stsz (uniform or
    table), the chunk layout from stsc/stco, and read the frames from
    their absolute stco offsets — the exact lookup chain ffprobe or
    any conformant demuxer performs. Returns (width, height,
    [frame bytes]). Raises ValueError on any structural damage
    (bad box framing, missing table, offsets outside the file,
    frame size ≠ width*height)."""

    def find(lo, hi, kind):
        for k, l2, h2 in _boxes(content, lo, hi):
            if k == kind:
                return l2, h2
        raise ValueError(f"missing {kind!r} box")

    lo, hi = find(0, len(content), b"moov")
    for kind in (b"trak", b"mdia", b"minf", b"stbl"):
        lo, hi = find(lo, hi, kind)
    stbl_lo, stbl_hi = lo, hi

    # stsd → VisualSampleEntry → width/height at fixed spec offsets
    lo, hi = find(stbl_lo, stbl_hi, b"stsd")
    (n_entries,) = struct.unpack_from(">I", content, lo + 4)
    if n_entries != 1:
        raise ValueError(f"expected 1 sample entry, got {n_entries}")
    entry_lo = lo + 8  # past version/flags + entry_count
    # VisualSampleEntry: 8 hdr + 6 reserved + 2 dref_idx + 16 pre/res
    w, h = struct.unpack_from(">HH", content, entry_lo + 8 + 6 + 2 + 16)

    lo, hi = find(stbl_lo, stbl_hi, b"stsz")
    uniform, n_samples = struct.unpack_from(">II", content, lo + 4)
    if uniform:
        sizes = [uniform] * n_samples
    else:
        sizes = list(
            struct.unpack_from(f">{n_samples}I", content, lo + 12)
        )

    lo, hi = find(stbl_lo, stbl_hi, b"stco")
    (n_chunks,) = struct.unpack_from(">I", content, lo + 4)
    offsets = list(struct.unpack_from(f">{n_chunks}I", content, lo + 8))

    lo, hi = find(stbl_lo, stbl_hi, b"stsc")
    (n_stsc,) = struct.unpack_from(">I", content, lo + 4)
    runs = [
        struct.unpack_from(">III", content, lo + 8 + 12 * k)
        for k in range(n_stsc)
    ]

    # expand chunk → sample mapping (spec: each stsc run applies until
    # the next run's first_chunk)
    frames: list[bytes] = []
    sample = 0
    for ci, chunk_off in enumerate(offsets, start=1):
        per = None
        for first, n_per, _desc in runs:
            if ci >= first:
                per = n_per
        if per is None:
            raise ValueError("stsc does not cover chunk 1")
        pos = chunk_off
        for _ in range(per):
            if sample >= n_samples:
                break
            sz = sizes[sample]
            if pos + sz > len(content):
                raise ValueError("sample extends past end of file")
            frame = content[pos : pos + sz]
            if sz != w * h:
                raise ValueError(
                    f"frame size {sz} != {w}x{h} for 8-bit grayscale"
                )
            frames.append(frame)
            pos += sz
            sample += 1
    if sample != n_samples:
        raise ValueError(f"located {sample}/{n_samples} samples")
    return int(w), int(h), frames


def video_gate_stats(content: bytes, black_threshold: int = 2) -> dict:
    """Per-video frame-level gate statistics from a real sample-table
    decode: exact integer counts of black frames (max luma ≤
    threshold) and frozen frames (byte-identical to the previous
    frame), mean luma as a fixed-point string (integer sum over
    integer count — stable hashing), ratios as single integer/integer
    double divisions. The VALUES oracle replays this same function."""
    w, h, frames = decode_video_samples(content)
    n = len(frames)
    n_black = sum(1 for f in frames if max(f) <= black_threshold)
    n_frozen = sum(
        1 for a, b in zip(frames, frames[1:]) if a == b
    )
    luma_sum = sum(sum(f) for f in frames)
    denom = n * w * h
    return {
        "width": w,
        "height": h,
        "n_frames": n,
        "n_black": n_black,
        "n_frozen": n_frozen,
        "black_ratio": (n_black / n) if n else 1.0,
        "frozen_ratio": (n_frozen / (n - 1)) if n > 1 else 0.0,
        "mean_luma": f"{(luma_sum / denom) if denom else 0.0:.4f}",
    }


def video_gate_verdict(
    stats: dict,
    min_frames: int = 4,
    max_black_ratio: float = 0.5,
    max_frozen_ratio: float = 0.5,
) -> str:
    """First-failing-gate verdict in severity order: too_short (no
    usable stream) → black (no usable picture) → frozen (stuck
    encoder/capture) → pass. Thresholds are corpus policy, exactly
    like gate_verdict for audio."""
    if stats["n_frames"] < min_frames:
        return "too_short"
    if stats["black_ratio"] > max_black_ratio:
        return "black"
    if stats["frozen_ratio"] > max_frozen_ratio:
        return "frozen"
    return "pass"


def video_gate_asset_rows(n: int = 24, seed: int = 42) -> "list[tuple]":
    """ASSET_SCHEMA rows over the planted-defect raw-MP4 corpus; the
    planted kind rides in source_uri (same contract as the WAV gate
    corpus)."""
    rows = []
    for i in range(n):
        blob, duration_ms, kind = synthesize_mp4_raw(i, seed)
        rows.append(
            _asset_row(
                i,
                "video",
                blob,
                16,
                12,
                duration_ms,
                f"synthetic://assets/video-gate/{kind}/{i}.mp4",
            )
        )
    return rows


VIDEO_GATE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_black", IntegerType()),
        StructField("n_frozen", IntegerType()),
        StructField("black_ratio", DoubleType()),
        StructField("frozen_ratio", DoubleType()),
        StructField("mean_luma", StringType()),
        StructField("verdict", StringType()),
    ]
)


def video_quality_gates(
    assets: DataFrame,
    black_threshold: int = 2,
    min_frames: int = 4,
    max_black_ratio: float = 0.5,
    max_frozen_ratio: float = 0.5,
) -> DataFrame:
    """Per-video FRAME-level quality gates via Arrow mapInPandas —
    the video twin of audio_quality_gates, over a REAL sample-table
    decode (stsd/stsz/stsc/stco chain, decode_video_samples): black-
    frame ratio, frozen-frame (identical-adjacent) ratio, minimum
    usable length, first-failing verdict. A 100 TB training-video
    sweep runs exactly this shape: blobs stay in executor Arrow
    batches, output is metadata-sized, and the verdict='pass' filter
    prunes before any codec-heavy featurization."""

    def gate(b: bytes) -> dict:
        s = video_gate_stats(b, black_threshold)
        return s | {
            "verdict": video_gate_verdict(
                s, min_frames, max_black_ratio, max_frozen_ratio
            )
        }

    return _map_blobs(assets, VIDEO_GATE_SCHEMA, gate, "video")


def video_motion_stats(content: bytes) -> dict:
    """Temporal-activity features from the real sample-table decode:
    motion energy (mean |luma delta| between adjacent frames, the
    cheapest action-vs-static screen), peak frame-to-frame delta, and
    the static-pair count (exactly zero delta — the frozen-gate
    boundary case). Integer sums over integer pixel deltas; the two
    means are fixed-point strings of integer/integer divisions."""
    w, h, frames = decode_video_samples(content)
    n = len(frames)
    px = w * h
    total_abs = 0
    peak = 0
    static_pairs = 0
    for a, b in zip(frames, frames[1:]):
        d = sum(abs(x - y) for x, y in zip(a, b))
        total_abs += d
        peak = max(peak, d)
        if d == 0:
            static_pairs += 1
    pairs = n - 1
    return {
        "n_frames": n,
        "n_pairs": pairs,
        "static_pairs": static_pairs,
        "motion_energy": (
            f"{total_abs / (pairs * px):.4f}" if pairs else "0.0000"
        ),
        "peak_pair_delta": peak,
    }


VIDEO_MOTION_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("n_pairs", IntegerType()),
        StructField("static_pairs", IntegerType()),
        StructField("motion_energy", StringType()),
        StructField("peak_pair_delta", LongType()),
    ]
)


def video_motion_features(assets: DataFrame) -> DataFrame:
    """Per-video temporal-activity features via Arrow mapInPandas over
    the raw-frame corpus — the feature sibling of video_quality_gates
    (a video can pass every gate and still be a static slideshow; the
    motion energy column catches that class before it wastes
    codec-heavy featurization downstream)."""
    return _map_blobs(assets, VIDEO_MOTION_SCHEMA, video_motion_stats, "video")
