"""Multimodal column support: binary payloads + typed metadata.

Design (north-star extension, BASELINE.json:6): image/audio/video
payloads travel as opaque ``binary`` columns with a typed metadata
struct alongside; decode / feature-extract / resize / frame-sample
run as Arrow-batched Pandas functions over ``mapInPandas``.

Codec work is pluggable behind ``set_decoder``:
- default ``"fake"`` decoder: deterministic, pure-Python header parse
  + content-hash features (real Spark plumbing, fake pixels);
- ``"png"``: REAL decode for the stdlib-codec formats — PNG pixels
  via functions/png.py (zlib inflate + per-scanline unfilter), WAV
  samples via functions/wav.py (RIFF walk + PCM unpack), baseline
  JPEG via functions/jpeg.py (Huffman + IDCT + fixed-point color),
  and uncompressed-AVI video via functions/avi.py — fake features
  elsewhere;
- ``"pil"``: Pillow-backed image decode when the wheel is present;
- ``"strict"``: real decode where a real codec exists (PNG, WAV,
  JPEG, raw AVI, and — round 11 — Motion-JPEG AVI, so compressed
  video decodes for real too), raises NotImplementedError only for
  inter-frame codecs (mp4/h264), marking exactly where ffmpeg
  plugs in.

What IS real and tested: the schema contract, the Arrow batch path,
partition-preserving execution, and batch-shape independence (results
must not depend on how rows land in batches/partitions — the property
that matters at 100 TB when batch boundaries are arbitrary).
"""

from __future__ import annotations

import hashlib
import os
import struct as _struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("format", StringType()),     # png | wav | mp4 | ...
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),     # -1 when unknown/not applicable
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_DIM = 16

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("format", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_sha", StringType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

_DECODER_MODE = "fake"


def pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def set_decoder(mode: str) -> None:
    """Select the decode implementation:

    - ``'fake'`` (default): deterministic stub — header parse +
      content-hash features.  Keeps the x35 oracle reproducible
      anywhere, codecs or not.
    - ``'png'``: real decode for the zero-dependency stdlib-codec
      formats — ``'png'`` via functions/png.py (16-bin luma-histogram
      features, the same contract as 'pil'), ``'wav'`` via
      functions/wav.py (16-bin amplitude histogram), ``'jpeg'`` via
      functions/jpeg.py, and ``'avi'`` video via functions/avi.py
      (per-frame-pooled luma histogram).  Other formats keep the
      fake features.  Corrupt bytes fail loudly (ValueError), as a
      real codec would.
    - ``'strict'``: real decode where a real codec exists (PNG, WAV,
      JPEG, AVI — all four media kinds via the stdlib codecs);
      raises NotImplementedError only for compressed video
      (mp4/h264) — marking exactly where ffmpeg plugs in.
    - ``'pil'``: real image decode via Pillow (true width/height +
      16-bin grayscale-histogram features); non-image kinds keep the
      fake features.  Registration fails fast with ImportError if
      Pillow isn't importable on the driver (executors import it per
      worker — install the wheel cluster-wide, same discipline as
      any Python dependency).
    """
    global _DECODER_MODE
    if mode not in ("fake", "strict", "pil", "png"):
        raise ValueError(
            "decoder mode must be 'fake', 'strict', 'pil', or 'png'"
        )
    if mode == "pil" and not pil_available():
        raise ImportError(
            "set_decoder('pil') requires Pillow; it is not importable here — "
            "install it or stay on the deterministic 'fake' decoder"
        )
    _DECODER_MODE = mode


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic unit-norm feature vector from a content hash.

    Stands in for a real encoder; byte-identical across machines so
    downstream similarity tests are reproducible.
    """
    h = hashlib.sha256(payload).digest()
    raw = [
        _struct.unpack(">h", h[2 * i : 2 * i + 2])[0] / 32768.0
        for i in range(FEATURE_DIM)
    ]
    norm = sum(x * x for x in raw) ** 0.5 or 1.0
    return [float(x / norm) for x in raw]


def make_decode_batch(mode: str):
    """Build the mapInPandas worker fn with the decoder mode captured
    in the closure — module globals set on the driver do NOT reach
    executor processes (they re-import the module), closures pickle
    by value.

    One output row per input row; output depends only on row content,
    never on batch composition.
    """

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if mode == "strict":
                # real decode where a real codec exists; the raise is
                # narrowed to the formats that still need PIL/ffmpeg
                features = []
                for b, f in zip(pdf["payload"], pdf["format"]):
                    if f == "png":
                        features.append(_png_features(bytes(b)))
                    elif f == "wav":
                        features.append(_wav_features(bytes(b)))
                    elif f in ("jpeg", "jpg"):
                        features.append(_jpeg_features(bytes(b)))
                    elif f == "avi":
                        features.append(_avi_features(bytes(b)))
                    else:
                        raise NotImplementedError(
                            f"real {f} decode requires ffmpeg (inter-frame "
                            "codecs: mp4/h264; intra-coded MJPEG-AVI decodes "
                            "natively); register a codec-backed decoder via "
                            "multimodal.set_decoder"
                        )
            elif mode == "png":
                features = [
                    _png_features(bytes(b))
                    if f == "png"
                    else _wav_features(bytes(b))
                    if f == "wav"
                    else _jpeg_features(bytes(b))
                    if f in ("jpeg", "jpg")
                    else _avi_features(bytes(b))
                    if f == "avi"
                    else _fake_features(bytes(b))
                    for b, f in zip(pdf["payload"], pdf["format"])
                ]
            elif mode == "pil":
                features = [
                    _pil_features(bytes(b))
                    if k == "image"
                    else _fake_features(bytes(b))
                    for b, k in zip(pdf["payload"], pdf["kind"])
                ]
            else:
                features = [_fake_features(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "format": pdf["format"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "payload_sha": pdf["payload"].map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                    "features": features,
                }
            )

    return decode_batch


def _png_features(payload: bytes) -> list[float]:
    """Real PNG features via the stdlib codec: FEATURE_DIM-bin luma
    histogram, unit-normalized — the same contract as
    :func:`_pil_features` but with zero dependencies."""
    from go_mapreduce_spark.functions.png import decode_png, gray_histogram

    return [float(x) for x in gray_histogram(decode_png(payload), FEATURE_DIM)]


def _wav_features(payload: bytes) -> list[float]:
    """Real WAV features via the stdlib codec: FEATURE_DIM-bin
    amplitude histogram, unit-normalized — the audio analogue of
    :func:`_png_features`, same vector contract so decoded audio
    drops into the similarity/dedup operators unchanged."""
    from go_mapreduce_spark.functions.wav import amplitude_histogram, decode_wav

    return [float(x) for x in amplitude_histogram(decode_wav(payload), FEATURE_DIM)]


def _jpeg_features(payload: bytes) -> list[float]:
    """Real JPEG features via the stdlib baseline codec
    (functions/jpeg.py): FEATURE_DIM-bin luma histogram over decoded
    pixels (gray channel, or the G channel of RGB as the luma proxy),
    unit-normalized — same vector contract as :func:`_png_features`."""
    from go_mapreduce_spark.functions.jpeg import decode_jpeg

    d = decode_jpeg(payload)
    px = d["pixels"]
    luma = px if d["channels"] == 1 else px[1::3]
    counts = [0] * FEATURE_DIM
    for s in luma:
        counts[s * FEATURE_DIM // 256] += 1
    norm = sum(c * c for c in counts) ** 0.5 or 1.0
    return [c / norm for c in counts]


def _avi_features(payload: bytes) -> list[float]:
    """Real video features via the stdlib AVI codec: FEATURE_DIM-bin
    luma histogram pooled over ALL frames (luma = the G channel, the
    dominant CCIR 601 term), unit-normalized — same vector contract
    as :func:`_png_features`."""
    from go_mapreduce_spark.functions.avi import decode_avi

    d = decode_avi(payload)
    counts = [0] * FEATURE_DIM
    for f in d["frames"]:
        for s in f[1::3]:
            counts[s * FEATURE_DIM // 256] += 1
    norm = sum(c * c for c in counts) ** 0.5 or 1.0
    return [c / norm for c in counts]


def _pil_features(payload: bytes) -> list[float]:
    """Real image features: FEATURE_DIM-bin grayscale histogram,
    unit-normalized.  Import is per-call-site (executor processes
    re-import the module; Pillow must be installed there)."""
    import io

    import PIL.Image

    img = PIL.Image.open(io.BytesIO(payload)).convert("L")
    hist = img.histogram()  # 256 bins
    step = 256 // FEATURE_DIM
    raw = [float(sum(hist[i * step : (i + 1) * step])) for i in range(FEATURE_DIM)]
    norm = sum(x * x for x in raw) ** 0.5 or 1.0
    return [x / norm for x in raw]


def decode_media(media: DataFrame) -> DataFrame:
    """Decode a MEDIA_SCHEMA DataFrame → DECODED_SCHEMA.

    Arrow-batched (``spark.sql.execution.arrow.maxRecordsPerBatch``
    bounds per-batch memory — size it so batch_bytes ≈ batch_rows ×
    max payload fits the executor); partitioning of the input is
    preserved, so a corpus pre-partitioned by media_id stays
    co-located for downstream joins.
    """
    from go_mapreduce_spark.session import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)
    return media.mapInPandas(make_decode_batch(_DECODER_MODE), schema=DECODED_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame
    timestamp (JVM-side explode of the sample grid; the per-frame
    pixel decode is the stubbed step).

    At scale this is the right shape: the (cheap) frame-grid explode
    happens before the (expensive) decode, so decode parallelism is
    per-frame, not per-video — a 2-hour video fans out to thousands
    of independently-schedulable rows instead of one straggler task.
    """
    frames = media.filter(F.col("kind") == "video").select(
        "media_id",
        "format",
        "payload",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
    return frames


FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "media.parquet",
)


def x35_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible multimodal query: decode the committed media
    fixture and emit per-media (kind, format, byte count, payload
    sha256).

    ``sf_dir`` is ignored — media payloads are fixture-scale-
    independent; the committed parquet (tools/make_media_fixture.py)
    gives the DuckDB oracle a stable absolute path, and its
    independent BLOB length/sha computation cross-checks the Arrow
    mapInPandas decode path end-to-end.  The ``features`` vector stays
    pytest-only (its formula is the fake-decoder's, not SQL).
    """
    media = spark.read.parquet(FIXTURE_PATH)
    return (
        decode_media(media)
        .select("media_id", "kind", "format", "n_bytes", "payload_sha")
        .orderBy("media_id")
    )


def synthetic_media(spark, n: int = 64):
    """Deterministic fake media table for tests/demos (seeded bytes)."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        fmt = {"image": "png", "audio": "wav", "video": "mp4"}[kind]
        payload = hashlib.sha256(f"media:{i}".encode()).digest() * (4 + i % 5)
        rows.append(
            (
                i,
                kind,
                fmt,
                bytearray(payload),
                64 + i if kind == "image" else -1,
                48 + i if kind == "image" else -1,
                (i + 1) * 3000 if kind == "video" else -1,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def x71_frame_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible frame-sample accounting: per video, the number
    of frame rows the sample grid fans out to (1 frame/second).

    Drives :func:`frame_sample_plan`'s JVM-side sequence-explode
    through the correctness gate — the oracle recomputes the grid
    arithmetic (⌊(duration−1)/step⌋ + 1) from the metadata alone, so
    a fan-out bug (off-by-one, empty-video handling) hash-mismatches.
    ``sf_dir`` ignored: media is the committed fixture (see x35).
    """
    media = spark.read.parquet(FIXTURE_PATH)
    frames = frame_sample_plan(media, every_ms=1000)
    return (
        frames.groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# x122: exact media dedup by content hash
# ---------------------------------------------------------------------------

DUP_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "media_dup.parquet",
)


def x122_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over binary media payloads: group by the
    payload's sha256, keep groups with > 1 row, report the canonical
    id (min media_id), copy count, and the redundant-byte total a
    dedup pass would reclaim.

    The multimodal twin of x1's text dedup: hashing happens JVM-side
    (``sha2`` over the binary column — payloads never reach Python),
    the shuffle key is the 64-hex digest (uniform by construction, no
    skew), and per-group state is three scalars.  Runs on the
    dedicated dup fixture (fixtures/media_dup.parquet) — the primary
    media fixture is duplicate-free by design (x35's decode oracle
    wants one row per id).
    """
    media = spark.read.parquet(DUP_FIXTURE_PATH)
    return (
        media.select(
            "media_id",
            "kind",
            F.sha2(F.col("payload"), 256).alias("payload_sha"),
            F.length(F.col("payload")).alias("n_bytes"),
        )
        .groupBy("payload_sha", "kind")
        .agg(
            F.min("media_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            # payload length is constant within a sha group
            F.min("n_bytes").alias("n_bytes"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "payload_sha",
            "kind",
            "canonical_id",
            "n_copies",
            ((F.col("n_copies") - 1) * F.col("n_bytes")).alias("reclaim_bytes"),
        )
        .orderBy("canonical_id")
    )


# ---------------------------------------------------------------------------
# x414: REAL PNG decode via the stdlib codec (wave 99)
# ---------------------------------------------------------------------------

PNG_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "media_png.parquet",
)

PNG_DECODE_SCHEMA = (
    "media_id bigint, width int, height int, channels int, "
    "bit_depth int, n_pixels bigint, luma_total bigint"
)


def x414_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode through the multimodal plumbing: inflate +
    unfilter every committed PNG payload (fixtures/media_png.parquet,
    tools/make_png_fixture.py — genuine PNGs spanning all five
    supported color types with every scanline filter exercised) and
    emit per-image dimensions, channel count, and the EXACT integer
    luma total.

    The oracle never touches the payload bytes: every image parameter
    is arithmetic on media_id (see the generator's docstring), so
    DuckDB recomputes width/height/channels/luma from first
    principles — a wrong unfilter branch, palette expansion, or luma
    mix hash-mismatches.  All-integer output; no float rounding in
    the contract.  ``sf_dir`` ignored (payloads are scale-free, same
    as x35).  The per-pixel Python loop is the documented slow path —
    at cluster scale a C-backed codec (PIL) plugs into the identical
    Arrow-batched ``mapInPandas`` shape.
    """
    from go_mapreduce_spark.functions.png import decode_png, luma_stats
    from go_mapreduce_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)

    def decode_pngs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_png(bytes(payload))
                total, n = luma_stats(d)
                recs.append(
                    (
                        int(mid),
                        d["width"],
                        d["height"],
                        d["channels"],
                        d["bit_depth"],
                        n,
                        total,
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "channels",
                    "bit_depth",
                    "n_pixels",
                    "luma_total",
                ],
            )

    media = spark.read.parquet(PNG_FIXTURE_PATH).select("media_id", "payload")
    return media.mapInPandas(decode_pngs, schema=PNG_DECODE_SCHEMA).orderBy(
        "media_id"
    )


# ---------------------------------------------------------------------------
# x415: REAL WAV decode via the stdlib codec (wave 100)
# ---------------------------------------------------------------------------

WAV_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "media_wav.parquet",
)

WAV_DECODE_SCHEMA = (
    "media_id bigint, sample_rate int, channels int, bit_depth int, "
    "n_frames bigint, n_samples bigint, sum_abs bigint, peak int, "
    "duration_us bigint"
)

_WAV_DECODE_COLUMNS = [
    "media_id",
    "sample_rate",
    "channels",
    "bit_depth",
    "n_frames",
    "n_samples",
    "sum_abs",
    "peak",
    "duration_us",
]


def _decode_wav_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batch WAV decode shared by batch x415 and streaming x416
    (their row-identity contract REQUIRES one implementation): per
    payload, RIFF chunk walk + PCM unpack + exact integer amplitude
    stats, emitted under ``_WAV_DECODE_COLUMNS`` ≡
    ``WAV_DECODE_SCHEMA``."""
    from go_mapreduce_spark.functions.wav import amplitude_stats, decode_wav

    for pdf in batches:
        recs = []
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            d = decode_wav(bytes(payload))
            sum_abs, peak, n_samples = amplitude_stats(d)
            recs.append(
                (
                    int(mid),
                    d["sample_rate"],
                    d["channels"],
                    d["bit_depth"],
                    d["n_frames"],
                    n_samples,
                    sum_abs,
                    peak,
                    d["n_frames"] * 1_000_000 // d["sample_rate"],
                )
            )
        yield pd.DataFrame(recs, columns=_WAV_DECODE_COLUMNS)


def x415_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode through the multimodal plumbing: RIFF chunk
    walk + PCM unpack of every committed WAV payload
    (fixtures/media_wav.parquet, tools/make_wav_fixture.py — genuine
    PCM WAVs spanning both bit depths, mono/stereo, four sample
    rates, ancillary chunks on every third clip) and emit per-clip
    framing plus EXACT integer amplitude statistics.

    The oracle never touches the payload bytes: every clip parameter
    is arithmetic on media_id (see the generator's docstring), so
    DuckDB recomputes rate/channels/framing/amplitude sums from first
    principles — a wrong chunk walk, excess-128 recenter, or frame
    split hash-mismatches.  All-integer output; no float rounding in
    the contract.  ``sf_dir`` ignored (payloads are scale-free, same
    as x414).  The per-sample Python unpack is the documented slow
    path — at cluster scale a C-backed decoder (soundfile/ffmpeg)
    plugs into the identical Arrow-batched ``mapInPandas`` shape.
    """
    from go_mapreduce_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)

    media = spark.read.parquet(WAV_FIXTURE_PATH).select("media_id", "payload")
    return media.mapInPandas(_decode_wav_batches, schema=WAV_DECODE_SCHEMA).orderBy(
        "media_id"
    )


# ---------------------------------------------------------------------------
# x416: streaming media decode (wave 100) — the WAV codec through the
# Structured Streaming path
# ---------------------------------------------------------------------------


def x416_stream_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental media decode: replay the committed WAV fixture as a
    4-file parquet stream (availableNow, maxFilesPerTrigger=1 → four
    micro-batches) through the SAME Arrow-batched ``mapInPandas``
    decode as x415, append-sinked to parquet — the shape of a media
    ingest pipeline that decodes clips as they land instead of in a
    nightly batch.

    Stateless transform → append mode needs no watermark; the file
    sink keeps driver memory flat and the checkpoint makes the replay
    restart-safe (the streaming suite's exactly-once discipline).
    Result rows are identical to the batch x415 by construction —
    decode depends only on row content, never on batch boundaries —
    so the oracle is the same media_id arithmetic.  ``sf_dir`` only
    keys the sink's scratch dir (payloads are scale-free).
    """
    from go_mapreduce_spark.session import ensure_package_on_executors
    from go_mapreduce_spark.streaming.events import _replay_to_parquet, write_replay

    ensure_package_on_executors(spark)

    src_dir = write_replay(
        "media_wav_src",
        lambda: spark.read.parquet(WAV_FIXTURE_PATH).select("media_id", "payload"),
        ["media_id"],
        4,
        WAV_FIXTURE_PATH,
    )
    stream = (
        spark.readStream.schema("media_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .mapInPandas(_decode_wav_batches, schema=WAV_DECODE_SCHEMA)
    )
    return _replay_to_parquet(spark, sf_dir, "media_decode", stream).orderBy(
        "media_id"
    )


# ---------------------------------------------------------------------------
# x417: REAL baseline-JPEG decode via the stdlib codec (round 10)
# ---------------------------------------------------------------------------

JPEG_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "media_jpeg.parquet",
)

JPEG_DECODE_SCHEMA = (
    "media_id bigint, width int, height int, channels int, "
    "n_pixels bigint, sum_r bigint, sum_g bigint, sum_b bigint"
)


def x417_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JPEG decode through the multimodal plumbing: canonical-
    Huffman entropy decode + dequantize + 8×8 IDCT + fixed-point
    YCbCr→RGB of every committed baseline-JPEG payload
    (fixtures/media_jpeg.parquet, tools/make_jpeg_fixture.py —
    genuine SOF0 streams, gray and 4:4:4 color, edge-cropped
    dimensions, COM segments, restart intervals) and emit per-image
    dimensions plus EXACT integer per-channel sums.

    JPEG is lossy in general; the fixture restricts itself to the
    codec's EXACT subspace — constant-per-block samples under unity
    quantization are DC-only and the IDCT returns them bit-perfectly,
    and the RGB transform is integer fixed-point (functions/jpeg.py
    module docstring) — so the oracle recomputes every decoded pixel
    from media_id arithmetic in SQL without touching payload bytes: a
    wrong Huffman walk, DC predictor, restart resync, dequant, IDCT
    scale, edge crop, or color-transform constant hash-mismatches.
    All-integer output.  ``sf_dir`` ignored (payloads are scale-free,
    same as x414/x415).  The per-coefficient Python loop is the
    documented slow path — at cluster scale a C codec (libjpeg-turbo
    via PIL) plugs into the identical Arrow-batched ``mapInPandas``
    shape.
    """
    from go_mapreduce_spark.functions.jpeg import decode_jpeg, rgb_sums
    from go_mapreduce_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)

    def decode_jpegs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_jpeg(bytes(payload))
                sr, sg, sb, n = rgb_sums(d)
                recs.append(
                    (
                        int(mid),
                        d["width"],
                        d["height"],
                        d["channels"],
                        n,
                        sr,
                        sg,
                        sb,
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "channels",
                    "n_pixels",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                ],
            )

    media = spark.read.parquet(JPEG_FIXTURE_PATH).select("media_id", "payload")
    return media.mapInPandas(decode_jpegs, schema=JPEG_DECODE_SCHEMA).orderBy(
        "media_id"
    )


# ---------------------------------------------------------------------------
# x418: REAL video decode via the stdlib AVI codec (round 10)
# ---------------------------------------------------------------------------

AVI_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "media_avi.parquet",
)

AVI_DECODE_SCHEMA = (
    "media_id bigint, frame_idx int, width int, height int, "
    "n_frames int, duration_us bigint, sum_r bigint, sum_g bigint, "
    "sum_b bigint"
)


def x418_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real VIDEO decode through the multimodal plumbing: RIFF/AVI
    container walk + per-frame BI_RGB DIB decode of every committed
    AVI payload (fixtures/media_avi.parquet,
    tools/make_avi_fixture.py — genuine uncompressed AVIs with
    hdrl/strh/strf headers, idx1 indexes, JUNK chunks on every third
    file) — emitting ONE ROW PER FRAME with exact integer channel
    sums, the frame-explode shape every video pipeline fans out to
    (frame sampling, per-frame feature extraction).

    Uncompressed DIB frames round-trip bit-exactly (bottom-up padded
    BGR → top-down RGB is pure byte shuffling), so the oracle replays
    every decoded pixel from (media_id, frame_idx) arithmetic in SQL
    without touching payload bytes: a wrong row order, BGR swap,
    stride padding, chunk walk, or rate/scale duration hash-
    mismatches.  All-integer output.  ``sf_dir`` ignored (payloads
    are scale-free, same as x414/x415/x417).  With this, ALL FOUR
    media kinds decode real bytes from the stdlib (PNG x414, WAV
    x415, JPEG x417, AVI video x418); the strict-mode raise now
    covers only formats that genuinely need a C codec (mp4/h264).
    """
    from go_mapreduce_spark.functions.avi import decode_avi, frame_rgb_sums
    from go_mapreduce_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)

    def decode_avis(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_avi(bytes(payload))
                dur = d["n_frames"] * 1_000_000 * d["scale"] // d["rate"]
                for t, (sr, sg, sb) in enumerate(frame_rgb_sums(d)):
                    recs.append(
                        (
                            int(mid),
                            t,
                            d["width"],
                            d["height"],
                            d["n_frames"],
                            dur,
                            sr,
                            sg,
                            sb,
                        )
                    )
            yield pd.DataFrame(
                recs,
                columns=[
                    "media_id",
                    "frame_idx",
                    "width",
                    "height",
                    "n_frames",
                    "duration_us",
                    "sum_r",
                    "sum_g",
                    "sum_b",
                ],
            )

    media = spark.read.parquet(AVI_FIXTURE_PATH).select("media_id", "payload")
    return media.mapInPandas(decode_avis, schema=AVI_DECODE_SCHEMA).orderBy(
        "media_id", "frame_idx"
    )


# ---------------------------------------------------------------------------
# x419: REAL compressed-video decode — Motion-JPEG in AVI (round 11)
# ---------------------------------------------------------------------------

MJPEG_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "media_mjpeg.parquet",
)

MJPEG_DECODE_SCHEMA = (
    "media_id bigint, frame_idx int, width int, height int, "
    "n_frames int, duration_us bigint, sum_r bigint, sum_g bigint, "
    "sum_b bigint"
)


def x419_mjpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real COMPRESSED-video decode: Motion-JPEG AVIs
    (fixtures/media_mjpeg.parquet, tools/make_mjpeg_fixture.py)
    decoded end-to-end by composing the two stdlib codecs — the
    RIFF/AVI container walk of functions/avi.py dispatching each
    '00dc' chunk into functions/jpeg.py's baseline-JPEG entropy
    decoder (canonical Huffman + dequant + IDCT + fixed-point
    YCbCr→RGB).  One row per frame with exact integer channel sums,
    same shape as x418.

    The frames are confined to the JPEG codec's exact subspace
    (DC-only blocks under unity quantization round-trip bit-
    perfectly), so the x417 per-pixel oracle arithmetic carries over
    verbatim with per-frame offsets — the oracle replays every
    decoded pixel of every frame from (media_id, frame_idx) in SQL.
    With this, the strict-mode raise covers ONLY inter-frame codecs
    (h264/mp4), which genuinely need ffmpeg; every intra-coded media
    kind (PNG, WAV, JPEG, raw AVI, MJPEG AVI) decodes real bytes
    from the stdlib.  ``sf_dir`` ignored (payloads are scale-free).
    """
    from go_mapreduce_spark.functions.avi import decode_avi, frame_rgb_sums
    from go_mapreduce_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)

    def decode_mjpegs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_avi(bytes(payload))
                if d["codec"] != "mjpg":
                    raise ValueError("x419 fixture must be MJPG-coded")
                dur = d["n_frames"] * 1_000_000 * d["scale"] // d["rate"]
                for t, (sr, sg, sb) in enumerate(frame_rgb_sums(d)):
                    recs.append(
                        (
                            int(mid), t, d["width"], d["height"],
                            d["n_frames"], dur, sr, sg, sb,
                        )
                    )
            yield pd.DataFrame(
                recs,
                columns=[
                    "media_id", "frame_idx", "width", "height",
                    "n_frames", "duration_us", "sum_r", "sum_g", "sum_b",
                ],
            )

    media = spark.read.parquet(MJPEG_FIXTURE_PATH).select("media_id", "payload")
    return media.mapInPandas(decode_mjpegs, schema=MJPEG_DECODE_SCHEMA).orderBy(
        "media_id", "frame_idx"
    )


# ---------------------------------------------------------------------------
# x196: payload byte-frequency audit (corruption / randomness signal)
# ---------------------------------------------------------------------------


def x196_byte_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload byte-frequency profile: total bytes, distinct byte
    values, the dominant byte and its share — the cheap first-pass
    corruption/randomness screen for opaque media columns (an
    all-one-byte payload is padding, a near-uniform histogram at high
    distinct count is ciphertext/noise, text-like payloads sit in
    between).

    Everything is IN-ROW expression work on the hex rendering of the
    binary column: byte list → distinct values → per-value counts
    (nested filter lambda) → max count, with ties broken toward the
    smallest byte via an explicit filter+array_min — no explode, no
    shuffle beyond the final sort, so the audit costs one codegen
    pass however wide the corpus gets (the 256x row-explosion a
    naive groupBy-per-byte plan would pay is avoided BY SHAPE).
    Payload bytes never reach Python; DuckDB replays the identical
    list pipeline on ``hex(payload)``.
    """
    media = spark.read.parquet(FIXTURE_PATH)
    n = F.length("payload")
    hx = F.hex(F.col("payload"))
    d = media.select(
        "media_id",
        "kind",
        n.alias("n_bytes"),
        F.transform(
            F.sequence(F.lit(1), n), lambda i: F.substr(hx, i * 2 - 1, F.lit(2))
        ).alias("bytes"),
    )
    d = d.select(
        "media_id",
        "kind",
        "n_bytes",
        "bytes",
        F.array_distinct("bytes").alias("db"),
    )
    cnts = F.transform(
        F.col("db"),
        lambda b: F.size(F.filter(F.col("bytes"), lambda x: x == b)),
    )
    d = d.select(
        "media_id",
        "kind",
        "n_bytes",
        "bytes",
        "db",
        cnts.alias("cnts"),
        F.array_max(cnts).alias("mc"),
    )
    top = F.array_min(
        F.transform(
            F.filter(
                F.zip_with(
                    F.col("db"),
                    F.col("cnts"),
                    lambda b, c: F.struct(b.alias("b"), c.alias("c")),
                ),
                lambda p: p["c"] == F.col("mc"),
            ),
            lambda p: p["b"],
        )
    )
    return d.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.size("db").cast("int").alias("n_distinct_bytes"),
        top.alias("top_byte"),
        F.round(F.col("mc").cast("double") / F.col("n_bytes"), 6).alias(
            "top_share"
        ),
    ).orderBy("media_id")
