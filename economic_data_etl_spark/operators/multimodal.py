"""Multimodal column operators: opaque binary payloads + typed metadata.

Design (the 100 TB story): image/audio/video payloads travel as `binary`
columns next to typed metadata, decoded/processed per partition with
Arrow-batched `mapInPandas` — the payload bytes never round-trip through
Python row-by-row, and partition sizing is controlled by
`spark.sql.files.maxPartitionBytes` exactly as for any other column.

Two tiers of decode:

- **Container-header parsing is REAL** (`parse_container_header`): PNG
  IHDR, GIF logical screen, BMP info header, and WAV fmt chunks are
  struct-unpacked with no codec library — the format-routing /
  corrupt-screening / dimension-accounting first stage of a media
  ingest, end-to-end oracle-checked via `build_sample_container`
  round-trips and pinned against reference byte strings.
- **Pixel/audio decode is REAL for PNG, BMP, GIF, PCM WAV, and
  baseline JPEG** (operators/codecs.py + operators/jpeg.py — stdlib +
  numpy, no codec library: full PNG filter reconstruction, BMP
  padding/BGR/bottom-up handling, GIF LZW decompression, RIFF chunk
  walking, canonical-Huffman + 8×8-DCT JPEG), certified end-to-end by
  the cross-engine `multimodal_real_pixel_decode` and
  `multimodal_jpeg_decode` queries. `decode_image_real` dispatches
  there; the NotImplementedError seam now covers only arithmetic-coded
  JPEG (plus exotic sampling layouts) and inter-frame-predictive video
  (H.264-class) — MJPEG AVI and progressive JPEG decode for real.
  `decode_media_metadata` keeps the deterministic byte-length stub for
  opaque-payload plumbing tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("byte_len", LongType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("n_frames", IntegerType(), False),
    ]
)


def decode_image_real(payload: bytes) -> dict:
    """Real decode with no codec library — every legal PNG profile,
    BMP, GIF (LZW), WAV (PCM/float/G.711/ADPCM), baseline JPEG
    (gray + color), and MJPEG AVI video (operators/codecs.py,
    operators/jpeg.py). Only non-baseline JPEG modes and inter-frame
    video still raise NotImplementedError — the remaining seam."""
    from economic_data_etl_spark.operators.codecs import decode_media

    return decode_media(payload)


def _fake_decode(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for a codec: metadata derived purely from
    the byte length, so results are reproducible and SQL-checkable."""
    n = len(payload)
    return n, n % 64 + 16, (n // 64) % 64 + 16, n % 10


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Testdata adapter: materialize an opaque binary column (UTF-8 bytes
    of the text). With real media tables the payload arrives as binary
    from parquet and this step disappears."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def decode_media_metadata(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas decode: per Arrow batch, emit typed metadata per payload.

    This is the real plumbing a codec UDF needs: iterator-of-batches in,
    iterator-of-batches out, no driver involvement, output schema declared
    up front.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [_fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "byte_len": pd.Series([m[0] for m in meta], dtype="int64"),
                    "width": pd.Series([m[1] for m in meta], dtype="int32"),
                    "height": pd.Series([m[2] for m in meta], dtype="int32"),
                    "n_frames": pd.Series([m[3] for m in meta], dtype="int32"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(decode, MEDIA_META_SCHEMA)


# ---------------------------------------------------------------------------
# REAL container-header parsing (no codec libraries needed).
#
# Pixel/audio DECODE needs PIL/ffmpeg (the decode_image_real seam above),
# but the container METADATA — dimensions, sample rate, channels — is
# plain struct unpacking of the file header, implementable today and the
# first stage of any real media-ingest pipeline (route by format, drop
# corrupt payloads, partition-size by dimensions before paying for full
# decode).
# ---------------------------------------------------------------------------

CONTAINER_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
    ]
)


def parse_container_header(payload: bytes) -> dict:
    """Parse real media container headers: PNG (IHDR), GIF (logical
    screen), BMP (BITMAPINFOHEADER), WAV (RIFF fmt chunk). Returns
    format plus whichever of width/height/sample_rate/channels the
    container carries (others None); unrecognized payloads come back as
    format='unknown' rather than raising — corrupt bytes are data, not
    exceptions, at corpus scale."""
    import struct

    out = {
        "format": "unknown",
        "width": None,
        "height": None,
        "sample_rate": None,
        "channels": None,
    }
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
            w, h = struct.unpack(">II", payload[16:24])
            out.update(format="png", width=w, height=h)
        elif payload[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", payload[6:10])
            out.update(format="gif", width=w, height=h)
        elif payload[:2] == b"BM" and len(payload) >= 26:
            w, h = struct.unpack("<ii", payload[18:26])
            out.update(format="bmp", width=w, height=abs(h))
        elif (
            payload[:4] == b"RIFF"
            and payload[8:12] == b"WAVE"
            and payload[12:16] == b"fmt "
        ):
            channels, rate = struct.unpack("<HI", payload[22:28])
            out.update(format="wav", sample_rate=rate, channels=channels)
    except (struct.error, IndexError):
        pass  # truncated header → unknown
    return out


def build_sample_container(doc_id: int) -> bytes:
    """Deterministic test-payload synthesizer: a REAL (header-valid)
    PNG/GIF/BMP/WAV whose header fields derive from doc_id, so parsing
    it back is an end-to-end round-trip check of the parser against
    arithmetic an oracle can state. Format cycles by doc_id % 4."""
    import struct

    d = int(doc_id)
    fmt = d % 4
    w = 16 + d % 64
    h = 16 + (d // 64) % 64
    if fmt == 0:  # PNG: signature + IHDR chunk (length, type, fields)
        body = struct.pack(">II", w, h) + bytes([8, 6, 0, 0, 0])
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + body
            + b"\x00\x00\x00\x00"  # CRC not validated by the header parser
        )
    if fmt == 1:  # GIF89a logical screen descriptor
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"
    if fmt == 2:  # BMP: BITMAPFILEHEADER (14) + start of BITMAPINFOHEADER
        return (
            b"BM"
            + struct.pack("<IHHI", 70, 0, 0, 54)
            + struct.pack("<I", 40)
            + struct.pack("<ii", w, h)
            + struct.pack("<HH", 1, 24)
        )
    # WAV: RIFF header + canonical fmt chunk
    rate = 8000 + (d % 8) * 1000
    channels = 1 + d % 2
    return (
        b"RIFF"
        + struct.pack("<I", 36)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, rate, rate * channels, channels, 8)
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("resized", BinaryType(), False),
        StructField("media_kind", StringType(), False),
        StructField("orig_bytes", LongType(), False),
        StructField("resized_bytes", LongType(), False),
    ]
)


def resize_media(
    df: DataFrame, factor: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """REAL media resize (binary→binary): payloads that decode as
    IMAGES (PNG/BMP/GIF/JPEG, any profile the codecs support) are
    box-mean downsampled by `factor` in exact integer pixel space
    (operators/resize.py) and re-encoded as PNG; WAV AUDIO is
    group-average decimated by `factor` (crude low-pass + decimate)
    and re-encoded at rate//factor; MJPEG VIDEO resizes every frame
    and re-encodes the container. Payloads that do not decode as
    media fall back to the original byte-block average — kept as the
    documented degraded lane for opaque formats — with media_kind
    'opaque' so callers can audit which lane fired. Per-row
    independent, Arrow-batched, no driver involvement."""
    import numpy as np

    if factor < 1:
        raise ValueError("factor must be >= 1")

    def _shrunk(n: int) -> int:
        return max(1, n // factor)

    def _decimate(samples: "np.ndarray") -> "np.ndarray":
        # exact group means (floor), groups of `factor` samples
        n = samples.shape[0]
        starts = np.arange(0, n, factor)
        sums = np.add.reduceat(samples.astype(np.int64), starts, axis=0)
        counts = np.minimum(starts + factor, n) - starts
        return (sums // counts[:, None]).astype(np.int16)

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from economic_data_etl_spark.operators.codecs import (
            decode_mjpeg_avi,
            decode_wav,
            encode_mjpeg_avi,
            encode_png,
            encode_wav,
            try_decode_media,
        )
        from economic_data_etl_spark.operators.resize import (
            box_resize_exact,
        )

        for pdf in batches:
            out, kinds, orig_n, new_n = [], [], [], []
            for payload in pdf["payload"]:
                raw = bytes(payload)
                small = None
                kind = "opaque"
                if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
                    try:
                        frames = decode_mjpeg_avi(raw)
                        resized = [
                            box_resize_exact(
                                f,
                                _shrunk(f.shape[0]),
                                _shrunk(f.shape[1]),
                            )
                            for f in frames
                        ]
                        small = encode_mjpeg_avi(resized)
                        kind = "video"
                    except (ValueError, NotImplementedError):
                        small = None
                elif raw[:4] == b"RIFF" and raw[8:12] == b"WAVE":
                    try:
                        rate, samples = decode_wav(raw)
                        samples = np.atleast_2d(samples.T).T
                        if samples.dtype == np.uint8:
                            # 8-bit PCM is offset-binary (midpoint
                            # 128): recenter and rescale to the int16
                            # domain before decimating, else the
                            # 16-bit re-encode keeps a +128 DC offset
                            # at 1/256 amplitude instead of the signal.
                            samples = (
                                samples.astype(np.int16) - 128
                            ) * 256
                        elif samples.dtype.kind == "f":
                            # float32 WAV decodes to [-1, 1]; integer
                            # group means would truncate every sample
                            # to 0 — scale to int16 first.
                            samples = np.clip(
                                np.rint(samples * 32767.0),
                                -32768,
                                32767,
                            ).astype(np.int16)
                        dec = _decimate(samples)
                        small = encode_wav(
                            dec[:, 0] if dec.shape[1] == 1 else dec,
                            max(1, rate // factor),
                            channels=dec.shape[1],
                        )
                        kind = "audio"
                    except (ValueError, NotImplementedError):
                        small = None
                else:
                    media = try_decode_media(raw)
                    if media is not None and getattr(
                        media["data"], "ndim", 0
                    ) in (2, 3):
                        img = media["data"]
                        small = encode_png(
                            box_resize_exact(
                                img,
                                _shrunk(img.shape[0]),
                                _shrunk(img.shape[1]),
                            )
                        )
                        kind = "image"
                if small is None:
                    # opaque byte-block average (degraded lane)
                    arr = np.frombuffer(raw, dtype=np.uint8)
                    pad = (-len(arr)) % factor
                    if pad:
                        arr = np.concatenate(
                            [arr, np.zeros(pad, dtype=np.uint8)]
                        )
                    small = (
                        arr.reshape(-1, factor)
                        .mean(axis=1)
                        .astype(np.uint8)
                        .tobytes()
                    )
                    kind = "opaque"
                out.append(small)
                kinds.append(kind)
                orig_n.append(len(raw))
                new_n.append(len(small))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "resized": out,
                    "media_kind": kinds,
                    "orig_bytes": pd.Series(orig_n, dtype="int64"),
                    "resized_bytes": pd.Series(new_n, dtype="int64"),
                }
            )

    return df.select(id_col, "payload").mapInPandas(resize, RESIZED_SCHEMA)


def extract_features(
    df: DataFrame, dim: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """REAL content features: payload → fixed-dim unit-normalized
    float vector, by media lane. IMAGES (any decodable profile):
    the sqrt(dim) x sqrt(dim) exact box-mean grid of the grayscale
    pixels — the downsampled-luminance embedding perceptual search
    uses (re-encoded copies land near their originals in cosine
    space). WAV AUDIO: `dim` equal-width frequency-band energies of
    the whole signal's rFFT (a coarse spectrum embedding). MJPEG
    VIDEO: the first frame's image features (keyframe convention).
    Payloads that do not decode as media keep the original
    byte-statistics vector — the documented degraded lane, unchanged
    so opaque/text corpora embed exactly as before. Deterministic,
    per-row independent, Arrow-batched; feeds the ANN operators
    (operators/similarity.py): decode → embed → index → search."""
    import numpy as np
    from pyspark.sql.types import ArrayType, FloatType

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("features", ArrayType(FloatType()), False),
        ]
    )
    side = int(np.sqrt(dim))
    grid_dim = side * side  # image grid uses the square part of dim

    def _unit(v: "np.ndarray") -> list[float]:
        n = np.linalg.norm(v)
        return (v / n if n else v).astype(np.float32).tolist()

    def _byte_features(raw: bytes) -> list[float]:
        arr = np.frombuffer(raw, dtype=np.uint8)
        pad = (-len(arr)) % dim
        if pad:
            arr = np.concatenate([arr, np.zeros(pad, dtype=np.uint8)])
        return _unit(arr.reshape(-1, dim).mean(axis=0).astype(np.float64))

    def _image_features(img: "np.ndarray") -> list[float]:
        from economic_data_etl_spark.operators.resize import (
            box_resize_exact,
        )

        a = img
        if a.ndim == 3:
            a = a.astype(np.int64).mean(axis=2).astype(np.uint8)
        grid = box_resize_exact(a, side, side).astype(np.float64)
        v = np.zeros(dim, dtype=np.float64)
        v[:grid_dim] = grid.ravel()
        return _unit(v)

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from economic_data_etl_spark.operators.codecs import (
            try_decode_media,
        )

        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                raw = bytes(payload)
                media = try_decode_media(raw)
                if media is None:
                    feats.append(_byte_features(raw))
                    continue
                data = media["data"]
                if media["format"] == "avi":
                    feats.append(
                        _image_features(data[0])
                        if len(data)
                        else _byte_features(raw)
                    )
                elif media["format"] == "wav":
                    samples = np.asarray(data, dtype=np.float64)
                    if samples.ndim == 2:
                        samples = samples.mean(axis=1)
                    spec = np.abs(np.fft.rfft(samples))
                    bands = np.array_split(spec, dim)
                    v = np.array(
                        [
                            float((b * b).sum()) if b.size else 0.0
                            for b in bands
                        ]
                    )
                    feats.append(_unit(np.sqrt(v)))
                else:
                    feats.append(_image_features(data))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "features": feats}
            )

    return df.select(id_col, "payload").mapInPandas(featurize, schema)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_bytes", BinaryType(), False),
    ]
)


def sample_frames(
    df: DataFrame, every_n_bytes: int = 64, max_frames: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Video-style frame sampling stub: slice the payload into fixed-size
    chunks and keep every chunk up to max_frames — a 1-to-N mapInPandas
    (the decode-explode shape real frame extraction has)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                chunks = [
                    payload[i : i + every_n_bytes]
                    for i in range(0, len(payload), every_n_bytes)
                ][:max_frames]
                for i, c in enumerate(chunks):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(bytes(c))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_bytes": frames,
                }
            )

    return df.select(id_col, "payload").mapInPandas(sample, FRAME_SCHEMA)


SAMPLED_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("height", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("val_sum", LongType(), False),
    ]
)


def sample_video_frames(
    df: DataFrame,
    every_n: int = 2,
    max_frames: int | None = None,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL video frame sampling over MJPEG-AVI payload columns: each
    payload row explodes to one row per KEPT frame, decoded for real
    (operators/codecs.py:decode_mjpeg_avi_sampled). Skipped frames are
    seeked past at the container level — decode cost is proportional
    to frames kept, not frames stored, which is the lever that makes
    1-fps sampling of a 30-fps corpus 30× cheaper, not merely 30×
    smaller. Supersedes the byte-slicing `sample_frames` stub for AVI
    payloads (the stub remains for opaque-payload plumbing tests)."""
    import numpy as np

    from economic_data_etl_spark.operators.codecs import (
        decode_mjpeg_avi_sampled,
    )
    from economic_data_etl_spark.operators.mcvideo import (
        decode_mc_avi_sampled,
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                blob = bytes(payload)
                # stream fourcc routing: the engine's own inter-frame
                # codec (GOP-granular seek) vs the intra MJPEG path
                # (frame-granular seek). Both keep decode cost
                # proportional to frames KEPT.
                sampler = (
                    decode_mc_avi_sampled
                    if b"MCDV" in blob[:256]
                    else decode_mjpeg_avi_sampled
                )
                for idx, frame in sampler(
                    blob, every_n, max_frames
                ):
                    arr = frame.astype(np.int64)
                    rows.append(
                        (
                            int(doc_id),
                            int(idx),
                            int(frame.shape[0]),
                            int(frame.shape[1]),
                            int(arr.sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "height", "width", "val_sum"
                ],
            ).astype(
                {
                    "doc_id": "int64",
                    "frame_idx": "int32",
                    "height": "int32",
                    "width": "int32",
                    "val_sum": "int64",
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        sample, SAMPLED_FRAME_SCHEMA
    )


BYTE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("byte_len", LongType(), False),
        StructField("n_distinct_bytes", IntegerType(), False),
        StructField("entropy", DoubleType(), False),
    ]
)


def byte_entropy_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-payload byte histogram stats via mapInArrow — the zero-copy
    lane for binary columns.

    mapInPandas materializes each binary cell as a Python bytes object
    inside a pandas column; mapInArrow hands the raw Arrow buffers
    straight to numpy (`np.frombuffer` is a view, not a copy), which is
    the right default for payload-heavy media tables where the decode
    input dominates the batch. Emits (id, byte_len, n_distinct_bytes,
    shannon entropy in bits/byte) — the standard cheap screen for
    corrupt/compressed/encrypted payloads before real decode."""
    import numpy as np
    import pyarrow as pa

    def stats(batches):
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col))
            payloads = batch.column(batch.schema.get_field_index(payload_col))
            lens: list[int] = []
            nds: list[int] = []
            ents: list[float] = []
            for buf in payloads:
                a = np.frombuffer(buf.as_py() or b"", dtype=np.uint8)
                if a.size == 0:
                    lens.append(0)
                    nds.append(0)
                    ents.append(0.0)
                    continue
                cnt = np.bincount(a, minlength=256)
                nz = cnt[cnt > 0]
                p = nz / a.size
                lens.append(int(a.size))
                nds.append(int(nz.size))
                ents.append(float(-(p * np.log2(p)).sum()))
            yield pa.RecordBatch.from_arrays(
                [
                    ids.cast(pa.int64()),
                    pa.array(lens, pa.int64()),
                    pa.array(nds, pa.int32()),
                    pa.array(ents, pa.float64()),
                ],
                names=["doc_id", "byte_len", "n_distinct_bytes", "entropy"],
            )

    return df.select(id_col, payload_col).mapInArrow(stats, BYTE_STATS_SCHEMA)
