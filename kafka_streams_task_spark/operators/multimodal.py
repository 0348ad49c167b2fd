"""Multimodal column conventions: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched ``mapInPandas``.

The Spark-side plumbing — schema convention, batch iteration, partition
sizing — is real and tested; codec calls default to deterministic stubs
because media libraries aren't available in this container (clearly
marked below). Image ops additionally take ``codec="pil"``/``"auto"``:
an import-guarded Pillow path (real decode/resize where PIL exists)
with the stub kept as the oracle-checked default and test seam — see
``_resolve_codec``. Audio/video stay stub-only until their libraries
(soundfile/pyav) have the same treatment.

Schema convention for a multimodal asset column:
    payload  BINARY                 -- the encoded bytes
    meta     STRUCT<mime: STRING, n_bytes: LONG, checksum: STRING>
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_FEATURES = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
    ]
)


def attach_asset_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Derive the typed metadata struct from a binary payload column —
    pure column expressions (length/md5 stay JVM-side)."""
    p = F.col(payload_col)
    return df.withColumn(
        "meta",
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(p).cast("long").alias("n_bytes"),
            F.md5(p).alias("checksum"),
        ),
    )


def pil_available() -> bool:
    """True when Pillow can be imported (import-guarded; never raises)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def fake_decode_image(payload: bytes) -> tuple[int, int, int]:
    """Deterministic FAKE image decode (STUB) — the test seam.

    Derives stable pseudo-dimensions from the byte length, keeping the
    Spark plumbing (batching, schema, partitioning) fully exercisable and
    oracle-checkable on synthetic payloads. The real path is
    :func:`pil_decode_image` behind ``codec="pil"``/``"auto"``.
    """
    n = len(payload)
    return (n % 64) + 1, ((n * 7) % 64) + 1, 3


def pil_decode_image(payload: bytes) -> tuple[int, int, int]:
    """REAL image decode via Pillow (available only where PIL is
    installed; see :func:`pil_available`)."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload))
    return img.width, img.height, len(img.getbands())


def _resolve_codec(codec: str, real_name: str) -> str:
    """Validate a codec mode and return it: ``"stub"`` always fakes;
    ``"pil"`` requires Pillow (fails fast driver-side, rather than
    per-task on executors); ``"auto"`` uses Pillow when importable and
    falls back to the stub otherwise — and that probe must run ON THE
    EXECUTOR (:func:`_codec_fn`), not here: a driver with Pillow in front
    of executors without it (image/venv skew) would otherwise bake
    ``use_real=True`` into the closure and fail every task instead of
    falling back. The DEFAULT everywhere is ``"stub"`` because the
    engine's oracle checks and the driver's synthetic payloads are
    defined in stub semantics — real codecs would (correctly) reject
    random bytes; opt into ``"auto"``/``"pil"`` where payloads are
    genuine media."""
    if codec not in ("stub", "pil", "auto"):
        raise ValueError(f"codec must be 'stub', 'pil' or 'auto', got {codec!r}")
    if codec == "pil" and not pil_available():
        raise ImportError(
            f"codec='pil' requested for {real_name} but Pillow is not installed"
        )
    return codec


def _codec_fn(mode: str, real_fn, stub_fn):
    """Task-side codec choice: called INSIDE the mapInPandas closure so
    ``"auto"`` probes Pillow on the executor that will actually decode
    (``"pil"`` intent was already validated driver-side; if an executor
    still lacks Pillow under ``"pil"``, the import error is the correct
    loud failure — only ``"auto"`` promises a fallback)."""
    if mode == "pil":
        return real_fn
    if mode == "auto" and pil_available():
        return real_fn
    return stub_fn


def decode_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    codec: str = "stub",
) -> DataFrame:
    """Extract per-image features via mapInPandas (Arrow batches).

    mapInPandas (not a scalar UDF) because real decoders want batch-level
    amortization (shared codec contexts) and may change cardinality (e.g.
    video frame sampling emits N rows per asset).

    ``codec``: ``"stub"`` (default — deterministic fake, the oracle-checked
    contract), ``"pil"`` (real Pillow decode, raises if not installed), or
    ``"auto"`` (Pillow when importable, stub otherwise). See
    :func:`_resolve_codec` for why the stub is the default.
    """
    mode = _resolve_codec(codec, "decode_image_features")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # codec chosen inside the task: 'auto' probes Pillow on the
        # executor itself (driver/executor environment skew safe)
        decode = _codec_fn(mode, pil_decode_image, fake_decode_image)
        for pdf in it:
            decoded = [decode(b) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_channels": [d[2] for d in decoded],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, IMAGE_FEATURES)


def fake_frame_slices(payload: bytes, every_n: int) -> list[tuple[int, bytes]]:
    """Deterministic FAKE frame sampler (STUB) — the shared slicing
    contract of :func:`sample_video_frames` AND the video fingerprint
    stage (``image_hash.video_frame_hashes``): frame count derives from
    byte length, frame payloads are contiguous slices, every
    ``every_n``-th frame is emitted. A real sampler (pyav keyframe
    extraction) plugs in at the same seam."""
    n_frames = max(1, (len(payload) % 32))  # FAKE frame count
    step = max(1, len(payload) // max(n_frames, 1))
    return [
        (fi, bytes(payload[fi * step : (fi + 1) * step]))
        for fi in range(0, n_frames, every_n)
    ]


def sample_video_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n: int = 4,
) -> DataFrame:
    """Frame-sampling plumbing (STUB decode): emits one row per sampled
    frame — demonstrates cardinality-changing mapInPandas, the shape a real
    pyav-based sampler uses. Slicing contract: :func:`fake_frame_slices`."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, blobs = [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                for fi, fb in fake_frame_slices(payload, every_n):
                    ids.append(did)
                    idxs.append(fi)
                    blobs.append(fb)
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_bytes": blobs})

    return df.select(id_col, payload_col).mapInPandas(batches, schema)


RESIZED_IMAGE = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def fake_resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic FAKE image resize (STUB) — the test seam.

    Emits exactly ``width*height*3`` bytes derived by cycling the input
    payload — output size is the real invariant a resize pipeline relies
    on for downstream batch sizing, and it is checkable in SQL. The real
    path is :func:`pil_resize_image` behind ``codec="pil"``/``"auto"``.
    """
    out_len = width * height * 3
    if not payload:
        return bytes(out_len)
    reps = -(-out_len // len(payload))  # ceil
    return (bytes(payload) * reps)[:out_len]


def pil_resize_image(payload: bytes, width: int, height: int) -> bytes:
    """REAL image resize via Pillow: decode, resize, re-encode PNG."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(payload))
    buf = io.BytesIO()
    img.resize((width, height)).save(buf, "PNG")
    return buf.getvalue()


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    codec: str = "stub",
) -> DataFrame:
    """Batch image resize via mapInPandas: same Arrow-batched shape a
    PIL/turbojpeg resizer plugs into. With the default stub codec the
    output payload size is fixed at ``width*height*3`` (stub invariant),
    so downstream packing can size partitions deterministically; at
    100 TB this is a map-only stage — no shuffle, parallelism = input
    file splits. ``codec`` as in :func:`decode_image_features` (the PNG
    re-encode under ``"pil"`` makes output size payload-dependent)."""
    if width <= 0 or height <= 0:
        raise ValueError(f"target dims must be positive, got {width}x{height}")
    mode = _resolve_codec(codec, "resize_images")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        resize = _codec_fn(mode, pil_resize_image, fake_resize_image)
        for pdf in it:
            resized = [resize(b, width, height) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "payload": resized,
                    "width": width,
                    "height": height,
                    "n_bytes": [len(b) for b in resized],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, RESIZED_IMAGE)


AUDIO_FEATURES = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def fake_decode_audio(payload: bytes) -> tuple[int, int, int]:
    """Deterministic FAKE audio decode (STUB).

    A real implementation would be::

        import soundfile as sf; data, sr = sf.read(io.BytesIO(payload))
        return sr, len(data), data.ndim if data.ndim > 1 else 1

    soundfile/librosa are not available in this container; the stub derives
    stable pseudo-parameters from the byte length, keeping the Spark
    plumbing (schema, batching, resample math) fully exercisable.
    """
    n = len(payload)
    sr = (8000, 16000, 44100, 48000)[n % 4]
    channels = (n % 2) + 1
    n_samples = (n * 37) % 100000 + 1
    return sr, n_samples, channels


def extract_audio_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-asset audio features via mapInPandas (STUB decode): sample rate,
    sample count, channels, and derived duration — same Arrow-batched shape
    a real soundfile/ffmpeg decoder plugs into (batch-level codec reuse,
    schema fixed up front)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [fake_decode_audio(b) for b in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "sample_rate": [d[0] for d in decoded],
                    "n_samples": [d[1] for d in decoded],
                    "n_channels": [d[2] for d in decoded],
                    "duration_s": [d[1] / d[0] for d in decoded],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, AUDIO_FEATURES)
