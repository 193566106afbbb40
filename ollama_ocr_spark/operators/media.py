"""Multimodal-column operators over ``binary`` payload columns.

Model: media travels as an opaque ``binary`` column plus typed metadata
columns; heavy per-item work runs in Arrow-batched Python (one
:func:`~.extract.map_rows` stage per operator: a per-row function plus one
``pa.schema``) with parsers initialized once per worker. Dimension/container
metadata is extracted for real from file headers (functions.media);
pixel-level decode is a clearly-marked stub (no codec library needed) with
the batching, schema, and partitioning contracts real and tested —
production swaps the kernel, not the plumbing.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.media import (image_metadata, mp4_metadata, mp4_timing,
                               wav_metadata)
from .extract import map_rows

_URL = ("url", pa.string())

IMAGE_META_SCHEMA = pa.schema([
    _URL, ("format", pa.string()), ("width", pa.int32()),
    ("height", pa.int32()), ("bytes", pa.int64()),
])

MEDIA_META_SCHEMA = pa.schema([
    _URL, ("media_type", pa.string()), ("format", pa.string()),
    ("width", pa.int32()), ("height", pa.int32()), ("channels", pa.int32()),
    ("sample_rate", pa.int32()), ("duration_secs", pa.float64()),
    ("bytes", pa.int64()),
])

FEATURE_DIM = 8

IMAGE_FEATURES_SCHEMA = pa.schema([
    _URL, ("feature", pa.list_(pa.float32())), ("feature_dim", pa.int32()),
])


def _image_meta_row(payload: bytes | None) -> tuple[tuple]:
    return ((*image_metadata(payload),
             len(payload) if payload is not None else 0),)


def image_metadata_stage(pages: DataFrame) -> DataFrame:
    """Real header-level metadata: container format + dimensions + size.

    Only the payload reaches Python; the url passes through as Arrow and
    the parquet scan is pruned to (url, html).
    """
    return map_rows(pages, _image_meta_row, ("html",), IMAGE_META_SCHEMA,
                    keep=("url",))


def synthesize_media_stage(docs: DataFrame) -> DataFrame:
    """documents(doc_id) → deterministic audio/video fixture payloads
    ``(url, html)`` — the media twin of ``corpus``' pages synthesis.

    Arithmetic contract (mirrored by the ``media_metadata`` oracle SQL):
    even doc_id → WAV with channels ``1 + (doc_id % 4) // 2``, rate
    ``[8000, 16000, 44100][doc_id % 3]``, ``1 + doc_id % 5`` seconds;
    odd doc_id → MP4 (brand isom, timescale 600) with duration
    ``300 * (1 + doc_id % 10)`` ticks = ``(1 + doc_id % 10) / 2`` secs.
    """
    from ..functions.media import build_mp4, build_wav

    rates = (8000, 16000, 44100)

    def _payload(doc_id: int) -> bytes:
        if doc_id % 2 == 0:
            return build_wav(channels=1 + (doc_id % 4) // 2,
                             rate=rates[doc_id % 3],
                             seconds=1 + doc_id % 5)
        return build_mp4(timescale=600, duration=300 * (1 + doc_id % 10))

    def _media_row(doc_id: int) -> tuple[tuple]:
        return (("media://%d.bin" % doc_id, _payload(int(doc_id))),)

    return map_rows(docs, _media_row, ("doc_id",),
                    pa.schema([_URL, ("html", pa.binary())]))


def _media_meta_row(payload: bytes | None) -> tuple[tuple]:
    n = len(payload) if payload else 0
    if payload:
        fmt, w, h = image_metadata(payload)
        if fmt:
            return (("image", fmt, w, h, None, None, None, n),)
        wav = wav_metadata(payload)
        if wav:
            return (("audio", "wav", None, None, *wav, n),)
        mp4 = mp4_metadata(payload)
        if mp4:
            return (("video", mp4[0], None, None, None, None, mp4[1], n),)
    return ((None,) * 7 + (n,),)


def media_metadata_stage(pages: DataFrame) -> DataFrame:
    """Unified multimodal metadata: image (jpeg/png dims), audio (WAV
    channels/rate/duration), video (MP4 brand/duration) — all header-level
    parses of the opaque ``binary`` column, dispatched on magic bytes.
    Non-media payloads yield ``media_type=NULL`` rows (filter downstream).
    """
    return map_rows(pages, _media_meta_row, ("html",), MEDIA_META_SCHEMA,
                    keep=("url",))


RESIZE_SCHEMA = pa.schema([
    _URL, ("src_w", pa.int32()), ("src_h", pa.int32()), ("out_w", pa.int32()),
    ("out_h", pa.int32()), ("plan_bytes", pa.int64()),
    ("resized", pa.binary()),
])

FRAME_TIMING_SCHEMA = pa.schema([
    _URL, ("timescale", pa.int32()), ("duration_ticks", pa.int64()),
])

FRAME_SCHEMA = pa.schema([
    _URL, ("frame_idx", pa.int64()), ("ts_ticks", pa.int64()),
    ("ts_ms", pa.int64()), ("frame", pa.binary()),
])


def _stub_resize_pixels(payload: bytes, src_w: int, src_h: int,
                        out_w: int, out_h: int) -> bytes:
    """STUB pixel resample (no codec library in-sandbox): a deterministic
    plan-string payload instead of pixels. The real dimensions/plan around
    it are exact; a production kernel returns the actual resampled buffer
    (``out_w * out_h * 3`` bytes — the ``plan_bytes`` column) and nothing
    else in the stage changes."""
    return f"resized://{src_w}x{src_h}->{out_w}x{out_h}".encode("ascii")


def _stub_frame_pixels(url: str, ts_ticks: int) -> bytes:
    """STUB frame grab (no ffmpeg in-sandbox): deterministic bytes naming
    the (video, tick) a real decoder would seek to."""
    return f"frame://{url}@{ts_ticks}".encode("ascii")


# Swap seam for the pixel-level media kernels (same contract as
# functions.router.OCR_KERNELS): production registers PIL/cv2/ffmpeg-backed
# functions here — batching, schema, frame planning, and partitioning are
# unchanged. The stage builders capture the registered kernel into their
# row function's closure at PLAN-BUILD time, so a driver-side
# register_media_kernel() call propagates to workers with the closure.
MEDIA_KERNELS: dict[str, object] = {
    "resize_pixels": _stub_resize_pixels,
    "frame_pixels": _stub_frame_pixels,
}


def register_media_kernel(name: str, fn) -> None:
    """Register a pixel-level media kernel: ``resize_pixels(payload, src_w,
    src_h, out_w, out_h) -> bytes`` or ``frame_pixels(url, ts_ticks) ->
    bytes``."""
    MEDIA_KERNELS[name] = fn


def fit_box(src_w: int, src_h: int, box_w: int, box_h: int) -> tuple[int, int]:
    """Aspect-preserving fit of (src_w, src_h) into (box_w, box_h) — pure
    integer arithmetic (floor division, no float scale factor) so the plan
    is bit-identical on any engine; the DuckDB oracle mirrors these exact
    expressions. The limiting side lands exactly on the box; the other is
    floored, never zero."""
    if src_w * box_h <= box_w * src_h:  # height-limited (or exact fit)
        return max(1, (src_w * box_h) // src_h), box_h
    return box_w, max(1, (src_h * box_w) // src_w)


def resize_images_stage(pages: DataFrame, box_w: int = 128,
                        box_h: int = 128, kernel=None) -> DataFrame:
    """Distributed image resize: one Arrow-batched ``map_rows`` wave,
    column-pruned to (url, html). REAL per row: the header dimension parse
    (JPEG SOF / PNG IHDR) and the integer fit-within-box plan
    (:func:`fit_box`, oracle-mirrored). STUB: the pixel resample
    (``MEDIA_KERNELS['resize_pixels']``) — swap in PIL/cv2 via
    :func:`register_media_kernel` and only the ``resized`` bytes change.
    Non-image payloads are dropped (no dimensions, nothing to plan).

    Scale shape: embarrassingly parallel map stage, no shuffle; the Arrow
    exchange carries only the pruned columns in; ``plan_bytes``
    (``out_w*out_h*3``) is what a real RGB kernel would emit per row —
    size output partitions by it, not by the input bytes.

    Reference analog: the model-input resize inside TrOCR preprocessing
    (`ocr_router.py:42-43` — `Image.open(...).convert('RGB')` then
    `processor(images=...)`, which rescales to the encoder's input size);
    here the geometry plan is explicit and engine-exact, the resample is
    the swappable kernel.
    """
    resample = kernel or MEDIA_KERNELS["resize_pixels"]

    def _resize_row(payload: bytes | None) -> tuple[tuple, ...]:
        fmt, w, h = image_metadata(payload)
        if fmt is None or not w or not h:
            return ()
        ow, oh = fit_box(w, h, box_w, box_h)
        return ((w, h, ow, oh, ow * oh * 3, resample(payload, w, h, ow, oh)),)

    return map_rows(pages, _resize_row, ("html",), RESIZE_SCHEMA,
                    keep=("url",))


def _frame_timing_row(payload: bytes | None) -> tuple[tuple]:
    return (mp4_timing(payload) or (None, None),)


def video_frame_timing_stage(videos: DataFrame) -> DataFrame:
    """REAL header-level video timing: (timescale, duration_ticks) from the
    ISO-BMFF ``mvhd`` box (:func:`~ollama_ocr_spark.functions.media
    .mp4_timing`), integer-exact for frame planning. Non-video payloads
    yield NULL timing (filter downstream). Column-pruned map stage."""
    return map_rows(videos, _frame_timing_row, ("html",), FRAME_TIMING_SCHEMA,
                    keep=("url",))


def sample_frames_stage(videos: DataFrame, step_ticks: int = 300,
                        kernel=None) -> DataFrame:
    """Distributed frame sampling: REAL timing parse (Arrow kernel) → REAL
    frame plan built ENGINE-SIDE (``sequence``/``explode`` over tick
    arithmetic — the row expansion scales in whole-stage codegen, no
    Python in the explode) → STUB frame-grab kernel over the post-explode
    rows (``MEDIA_KERNELS['frame_pixels']``; swap in ffmpeg via
    :func:`register_media_kernel`).

    One frame every ``step_ticks`` movie ticks starting at 0, strictly
    before the duration; ``ts_ms = ts_ticks * 1000 div timescale``
    (integer floor, oracle-mirrored). Rows without readable timing (or
    zero duration) produce no frames — the when-guard keeps ``sequence``
    ascending (``sequence(1, 0)`` yields a DESCENDING array, not empty).

    Scale shape: map → explode → map; no shuffle. Output rows multiply by
    duration/step — repartition AFTER this stage if a real decode kernel
    follows (frame work, not video count, is the unit of cost).

    Reference analog: `ocr_router.py:105-119` ``convert_pdf_to_images``
    (one raster per page of a paged container, then per-page OCR) — the
    same expand-then-process shape applied to timed media, with the
    expansion planned engine-side instead of inside the decoder call.
    """
    if step_ticks <= 0:  # interpolated into SQL below: 0 divides, <0
        raise ValueError(  # builds a descending (wrong-frame) sequence
            f"step_ticks must be positive, got {step_ticks}")
    grab = kernel or MEDIA_KERNELS["frame_pixels"]
    timing = video_frame_timing_stage(videos).filter(
        F.col("timescale").isNotNull() & (F.col("timescale") > 0)
        & F.col("duration_ticks").isNotNull()
        & (F.col("duration_ticks") > 0)
    )
    last_idx = F.expr(f"(duration_ticks - 1) div {int(step_ticks)}")
    plan = (
        timing.withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0).cast("bigint"), last_idx)),
        )
        .withColumn("ts_ticks", F.col("frame_idx") * F.lit(int(step_ticks)))
        .withColumn("ts_ms", F.expr("ts_ticks * 1000 div timescale"))
        .select("url", "frame_idx", "ts_ticks", "ts_ms")
    )

    def _frame_row(url: str, ts_ticks: int) -> tuple[tuple]:
        return ((grab(url, int(ts_ticks)),),)

    return map_rows(plan, _frame_row, ("url", "ts_ticks"), FRAME_SCHEMA,
                    keep=("url", "frame_idx", "ts_ticks", "ts_ms"))


def image_features(payload: bytes | None) -> list[float]:
    """REAL deterministic 8-dim feature vector from the image bytes —
    classical header/byte-level features, no learned encoder:

    ``[width/1024, height/1024, aspect (w/h), bytes/4096,
       comment_bytes/bytes, alpha_ratio, digit_ratio, is_jpeg]``

    Dimensions come from the actual JPEG SOF / PNG IHDR parse, the textual
    payload from the COM/tEXt segment walk, size from the raw bytes. All
    components are ratios of integers (IEEE-exact doubles), so a DuckDB
    oracle reproduces every bit from the corpus mapping. Non-image or
    empty payloads yield the zero vector. A production vision encoder
    swaps this kernel; the Arrow batching / schema / partition
    amortization in :func:`image_features_stage` carry over unchanged.
    Reference analog: the feature-extraction step of `ocr_router.py:38-46`.
    """
    if not payload:
        return [0.0] * FEATURE_DIM
    fmt, w, h = image_metadata(payload)
    if fmt is None or not w or not h:
        return [0.0] * FEATURE_DIM
    from ..functions.media import image_comment_text

    text = image_comment_text(payload)
    nbytes = len(payload)
    tbytes = len(text.encode("utf-8"))
    nchars = len(text)
    nalpha = sum(1 for c in text if "a" <= c <= "z" or "A" <= c <= "Z")
    ndigit = sum(1 for c in text if "0" <= c <= "9")
    return [
        w / 1024.0,
        h / 1024.0,
        w / h,
        nbytes / 4096.0,
        tbytes / nbytes,
        nalpha / max(1, nchars),
        ndigit / max(1, nchars),
        1.0 if fmt == "jpeg" else 0.0,
    ]


def _image_features_row(payload: bytes | None) -> tuple[tuple]:
    return ((image_features(payload), FEATURE_DIM),)


def image_features_stage(pages: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the opaque ``binary`` column:
    one ``map_rows`` wave, column-pruned to (url, html), parser state
    amortized per batch. The kernel (:func:`image_features`) is a real
    byte-level extractor with a bit-exact DuckDB oracle."""
    return map_rows(pages, _image_features_row, ("html",),
                    IMAGE_FEATURES_SCHEMA, keep=("url",))
