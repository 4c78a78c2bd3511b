"""North-star multimodal asset pipeline: opaque binary columns + typed
metadata, processed with Arrow-batched ``mapInPandas``.

The payloads are REAL container formats built and parsed with the
byte-exact public layouts — no codec library needed:

- image → BMP: ``BM`` file header (14 bytes) + BITMAPINFOHEADER
  (40 bytes, little-endian width/height/bpp) + pixel data
- audio → WAV: RIFF/WAVE with a canonical 16-byte ``fmt `` chunk
  (PCM, mono, 8-bit) + ``data`` chunk, odd chunks padded per RIFF
- video → RIFF/``AVI `` with an ``avih`` chunk in the real
  AVIMAINHEADER field layout (dwTotalFrames at +16, dwWidth at +32,
  dwHeight at +36) + a ``movi`` data chunk.  Not a playable AVI (no
  nested stream LISTs), but the chunk grammar and header offsets are
  the genuine RIFF ones, so the decoder is a real chunk walk.

The decode side (``decode_asset``) dispatches on magic bytes and
parses headers with ``struct.unpack`` — ``mm_decode_features``
computes every output field from actual payload bytes inside the
``mapInPandas`` kernel, and ``mm_frame_sample`` reads n_frames/
width/height from the AVI header rather than the metadata struct.
The sample "pixel/sample" data is ascii-normalized document text, so
a DuckDB oracle recomputes the data-section statistics character-wise
and the header framing arithmetically (header size + RIFF pad byte):
parity proves the encoder's framing and the decoder's parsing, not
just row counts.

Pixel-perfect image resampling (``resize_image``) still prefers a
codec library; without one it falls back to pure-numpy nearest-
neighbor over an exact ``width*height`` 8-bit buffer and refuses
inconsistent buffers instead of guessing.

Scale notes: encode and decode are stateless per-row maps — zero
shuffle, embarrassingly parallel per parquet split; Arrow batch size
(``spark.sql.execution.arrow.maxRecordsPerBatch``) bounds peak memory
per task, the knob that matters when payloads are MBs not KBs.  Frame
sampling multiplies rows (fan-out ~n_frames/stride) — at 100 TB you
repartition *after* the fan-out, not before, to keep input splits
file-aligned.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from ..functions.text import HASH_MOD
from ..plans.registry import registered_query as _q

FRAME_STRIDE = 30

#: container overhead in bytes (before the RIFF odd-length pad):
#: BMP = 14 (file header) + 40 (info header);
#: WAV = 12 (RIFF/WAVE) + 24 (fmt chunk) + 8 (data chunk header);
#: AVI = 12 (RIFF/AVI ) + 64 (avih chunk) + 8 (movi chunk header).
BMP_OVERHEAD, WAV_OVERHEAD, AVI_OVERHEAD = 54, 44, 84

_SAMPLE_RATE = 16000

try:  # pragma: no cover - codec libs absent in this container
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


# --- real encoders (byte-exact public container layouts) --------------------


def encode_bmp(data: bytes, width: int, height: int) -> bytes:
    """8-bpp BMP: ``BM`` file header + BITMAPINFOHEADER + raw data.

    Header-exact, not pixel-layout-exact: rows are stored unpadded,
    whereas external BMP readers expect each row padded to a 4-byte
    boundary (same caveat as the AVI ``movi`` framing below).  The
    in-repo decoder and the oracle both treat ``data`` as an opaque
    section, so the round trip is byte-exact either way.
    """
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(data), 2835, 2835, 0, 0
    )
    hdr = struct.pack("<2sIHHI", b"BM", BMP_OVERHEAD + len(data), 0, 0, BMP_OVERHEAD)
    return hdr + info + data


def encode_wav(data: bytes, sample_rate: int) -> bytes:
    """Canonical PCM WAV: RIFF/WAVE + 16-byte fmt chunk + data chunk."""
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate, 1, 8)
    pad = b"\x00" * (len(data) & 1)  # RIFF chunks are even-aligned
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", 16)
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
        + pad
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_avi(data: bytes, n_frames: int, width: int, height: int) -> bytes:
    """RIFF/``AVI `` with an AVIMAINHEADER-layout ``avih`` chunk."""
    avih = struct.pack(
        "<14I", 33333, 0, 0, 0, n_frames, 0, 1, 0, width, height, 0, 0, 0, 0
    )
    pad = b"\x00" * (len(data) & 1)
    body = (
        b"AVI "
        + b"avih"
        + struct.pack("<I", 56)
        + avih
        + b"movi"
        + struct.pack("<I", len(data))
        + data
        + pad
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# --- real decoder: magic dispatch + header parse / RIFF chunk walk ----------


def _riff_chunks(payload: bytes) -> Iterator[tuple[bytes, bytes]]:
    """Walk RIFF sub-chunks: yields (fourcc, chunk bytes).

    Raises ``ValueError`` when a chunk's declared size runs past the
    payload end — silent Python-slice clamping would hand downstream
    decoders a short buffer that *looks* valid.
    """
    off = 12  # past RIFF header + form type
    while off + 8 <= len(payload):
        fourcc, size = struct.unpack_from("<4sI", payload, off)
        if off + 8 + size > len(payload):
            raise ValueError(
                f"truncated RIFF chunk {fourcc!r}: declares {size} bytes, "
                f"{len(payload) - off - 8} remain"
            )
        yield fourcc, payload[off + 8 : off + 8 + size]
        off += 8 + size + (size & 1)  # odd chunks are pad-aligned


def decode_asset(payload: bytes) -> dict:
    """Parse a BMP/WAV/AVI payload from its actual bytes.

    Returns ``{kind, width, height, n_frames, sample_rate, data}``
    (header fields ``None`` where the format doesn't carry them).
    Raises ``ValueError`` on unknown magic or truncated headers.
    """
    payload = bytes(payload)
    if payload[:2] == b"BM":
        if len(payload) < BMP_OVERHEAD:
            raise ValueError("truncated BMP header")
        _, _, _, _, data_off = struct.unpack_from("<2sIHHI", payload, 0)
        hdr_size, width, height, _, _ = struct.unpack_from("<IiiHH", payload, 14)
        if hdr_size != 40:
            raise ValueError(f"unsupported BMP info header size {hdr_size}")
        if data_off > len(payload):
            raise ValueError(
                f"truncated BMP: pixel data offset {data_off} past payload "
                f"end ({len(payload)} bytes)"
            )
        return {
            "kind": "image",
            "width": width,
            "height": height,
            "n_frames": None,
            "sample_rate": None,
            "data": payload[data_off:],
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        sample_rate, data = None, b""
        for fourcc, chunk in _riff_chunks(payload):
            if fourcc == b"fmt ":
                if len(chunk) < 16:
                    raise ValueError(f"truncated fmt chunk ({len(chunk)} bytes)")
                _, _, sample_rate, _, _, _ = struct.unpack_from("<HHIIHH", chunk, 0)
            elif fourcc == b"data":
                data = chunk
        if sample_rate is None:
            raise ValueError("WAV without fmt chunk")
        return {
            "kind": "audio",
            "width": None,
            "height": None,
            "n_frames": None,
            "sample_rate": sample_rate,
            "data": data,
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        hdr, data = None, b""
        for fourcc, chunk in _riff_chunks(payload):
            if fourcc == b"avih":
                if len(chunk) < 56:
                    raise ValueError(f"truncated avih chunk ({len(chunk)} bytes)")
                hdr = struct.unpack_from("<14I", chunk, 0)
            elif fourcc == b"movi":
                data = chunk
        if hdr is None:
            raise ValueError("AVI without avih chunk")
        return {
            "kind": "video",
            "width": hdr[8],
            "height": hdr[9],
            "n_frames": hdr[4],
            "sample_rate": None,
            "data": data,
        }
    raise ValueError(f"unknown container magic {payload[:4]!r}")


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a BMP payload → (width, height, pixel bytes)."""
    info = decode_asset(payload)
    if info["kind"] != "image":
        raise ValueError(f"not an image payload: {info['kind']}")
    return info["width"], info["height"], info["data"]


def resize_image(
    payload: bytes, width: int, height: int
) -> bytes:  # pragma: no cover - PIL branch untestable here
    """Resize a BMP payload to (width, height).

    With PIL present, delegates to the codec; otherwise pure-numpy
    nearest-neighbor over the 8-bit pixel buffer — which requires the
    buffer to actually be ``src_w * src_h`` bytes (refuses to guess on
    inconsistent buffers, e.g. the fake text-backed assets).
    """
    src_w, src_h, data = decode_image(payload)
    if _HAS_PIL:
        img = Image.frombytes("L", (src_w, src_h), bytes(data))
        out = img.resize((width, height), Image.NEAREST)
        return encode_bmp(out.tobytes(), width, height)
    import numpy as np

    if len(data) != src_w * src_h:
        raise ValueError(
            f"pixel buffer is {len(data)} bytes, header says {src_w}x{src_h}"
        )
    px = np.frombuffer(bytes(data), dtype=np.uint8).reshape(src_h, src_w)
    rows = (np.arange(height) * src_h) // height
    cols = (np.arange(width) * src_w) // width
    return encode_bmp(px[np.ix_(rows, cols)].tobytes(), width, height)


# --- asset table: binary payload + typed metadata ---------------------------

_CLEAN_S = "regexp_replace(lower(text), '[^a-z0-9 ]', '')"
_CLEAN_D = "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')"


# returnType as a DataType object (not a DDL string): the decorator
# runs at import time, where no SparkSession exists yet to parse DDL.
@F.pandas_udf(BinaryType())
def _encode_payload(
    media_type: pd.Series,
    clean: pd.Series,
    width: pd.Series,
    height: pd.Series,
    n_frames: pd.Series,
    sample_rate: pd.Series,
) -> pd.Series:
    out = []
    for mt, c, w, h, nf, sr in zip(
        media_type, clean, width, height, n_frames, sample_rate
    ):
        data = bytes(c)
        if mt == "image":
            out.append(encode_bmp(data, int(w), int(h)))
        elif mt == "audio":
            out.append(encode_wav(data, int(sr)))
        else:
            out.append(encode_avi(data, int(nf), int(w), int(h)))
    return pd.Series(out)


def asset_frame(docs: DataFrame) -> DataFrame:
    """documents -> multimodal asset table.

    payload: a real BMP/WAV/AVI container whose data section is the
    ascii-normalized text bytes; meta: the same header fields as a
    typed struct (the "catalog" view of what the container carries).
    """
    base = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode(F.expr(_CLEAN_S), "UTF-8").alias("data"),
        (F.col("n_chars") % 1920 + 16).cast("int").alias("width"),
        (F.col("n_chars") % 1080 + 16).cast("int").alias("height"),
        (F.col("n_chars") % 240 + 1).cast("int").alias("n_frames"),
        F.lit(_SAMPLE_RATE).cast("int").alias("sample_rate"),
    )
    return base.select(
        "asset_id",
        "media_type",
        _encode_payload(
            "media_type", "data", "width", "height", "n_frames", "sample_rate"
        ).alias("payload"),
        F.struct("width", "height", "n_frames", "sample_rate").alias("meta"),
    )


_ASSET_CTE = f"""
    assets AS (
        SELECT doc_id AS asset_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               {_CLEAN_D} AS clean,
               CAST(n_chars % 1920 + 16 AS INTEGER) AS width,
               CAST(n_chars % 1080 + 16 AS INTEGER) AS height,
               CAST(n_chars % 240 + 1 AS INTEGER) AS n_frames
        FROM documents
    )
"""

#: the oracle's view of the container framing: fixed header overhead
#: plus the RIFF pad byte on odd-length WAV/AVI data sections.
_N_BYTES_D = f"""
    length(clean) + CASE WHEN media_type = 'image' THEN {BMP_OVERHEAD}
                         WHEN media_type = 'audio'
                             THEN {WAV_OVERHEAD} + length(clean) % 2
                         ELSE {AVI_OVERHEAD} + length(clean) % 2 END
"""


@_q(
    "mm_asset_table",
    "north-star: multimodal ingest — binary payload + typed metadata struct",
    f"""
    WITH {_ASSET_CTE}
    SELECT asset_id, media_type,
           CAST({_N_BYTES_D} AS INTEGER) AS n_bytes,
           width, height, n_frames
    FROM assets
    """,
)
def _mm_assets(spark, t):
    # octet_length(payload) measures the REAL encoded container, so
    # parity against the arithmetic oracle pins the framing (header
    # sizes + RIFF padding) byte-for-byte.
    return asset_frame(t["documents"]).select(
        "asset_id",
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
    )


# --- feature extraction via mapInPandas -------------------------------------

_FEATURES_SCHEMA = (
    "asset_id long, media_type string, n_bytes int, mean_byte double, "
    "max_byte int, width int, height int, n_frames int, sample_rate int"
)


def _decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched REAL decode: parse each payload's container header
    (magic dispatch + struct.unpack / RIFF chunk walk) and compute the
    data-section byte statistics.  Every output field derives from the
    payload bytes; the DuckDB oracle recomputes the header fields
    arithmetically and the stats character-wise, so parity proves the
    full encode→decode round trip.
    """
    import numpy as np

    for pdf in batches:
        cols: dict[str, list] = {
            k: []
            for k in (
                "n_bytes",
                "mean_byte",
                "max_byte",
                "width",
                "height",
                "n_frames",
                "sample_rate",
            )
        }
        for p in pdf["payload"]:
            info = decode_asset(p)
            a = np.frombuffer(info["data"], dtype=np.uint8)
            cols["n_bytes"].append(a.size)
            cols["mean_byte"].append(round(float(a.mean()), 6) if a.size else 0.0)
            cols["max_byte"].append(int(a.max()) if a.size else 0)
            for k in ("width", "height", "n_frames", "sample_rate"):
                cols[k].append(info[k])
        yield pd.DataFrame(
            {"asset_id": pdf["asset_id"], "media_type": pdf["media_type"], **cols}
        )


@_q(
    "mm_decode_features",
    "north-star: mapInPandas real container decode over binary payloads",
    f"""
    WITH {_ASSET_CTE},
    bytes AS (
        SELECT asset_id, media_type, length(clean) AS n_bytes,
               list_transform(string_split(clean, ''), x -> ascii(x)) AS bs,
               width, height, n_frames
        FROM assets WHERE length(clean) > 0
    )
    SELECT asset_id, media_type, CAST(n_bytes AS INTEGER) AS n_bytes,
           round(CAST(list_reduce(list_prepend(0, bs), (a, x) -> a + x) AS DOUBLE)
                 / n_bytes, 6) AS mean_byte,
           CAST(list_reduce(list_prepend(0, bs), (a, x) -> greatest(a, x)) AS INTEGER)
               AS max_byte,
           CASE WHEN media_type IN ('image', 'video') THEN width END AS width,
           CASE WHEN media_type IN ('image', 'video') THEN height END AS height,
           CASE WHEN media_type = 'video' THEN n_frames END AS n_frames,
           CASE WHEN media_type = 'audio' THEN {_SAMPLE_RATE} END AS sample_rate
    FROM bytes
    """,
)
def _mm_features(spark, t):
    assets = asset_frame(t["documents"])
    decoded = assets.select("asset_id", "media_type", "payload").mapInPandas(
        _decode_features, _FEATURES_SCHEMA
    )
    # empty data sections (punctuation-only docs) are skipped, matching
    # the pre-container semantics; the filter runs on the DECODED size.
    return decoded.filter(F.col("n_bytes") > 0)


# --- frame sampling via mapInPandas (row fan-out) ---------------------------

_FRAMES_SCHEMA = "asset_id long, frame_idx int, byte_offset long, frame_key long"


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Every FRAME_STRIDE-th frame of each video asset: one output row
    per sampled frame (1->N fan-out inside mapInPandas).  n_frames,
    width and height are parsed from the AVI header bytes, not read
    from the metadata struct.
    """
    for pdf in batches:
        out: dict[str, list] = {
            k: [] for k in ("asset_id", "frame_idx", "byte_offset", "frame_key")
        }
        for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
            info = decode_asset(payload)
            frame_size = int(info["width"]) * int(info["height"])
            for idx in range(0, int(info["n_frames"]), FRAME_STRIDE):
                out["asset_id"].append(aid)
                out["frame_idx"].append(idx)
                out["byte_offset"].append(idx * frame_size)
                out["frame_key"].append((int(aid) * 1000003 + idx) % HASH_MOD)
        yield pd.DataFrame(out)


@_q(
    "mm_frame_sample",
    "north-star: video frame sampling (mapInPandas 1->N fan-out)",
    f"""
    WITH {_ASSET_CTE}
    SELECT asset_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(frame_idx * width * height AS BIGINT) AS byte_offset,
           (asset_id * 1000003 + frame_idx) % {HASH_MOD} AS frame_key
    FROM (SELECT asset_id, width, height,
                 unnest(range(0, n_frames, {FRAME_STRIDE})) AS frame_idx
          FROM assets WHERE media_type = 'video')
    """,
)
def _mm_frames(spark, t):
    vids = (
        asset_frame(t["documents"])
        .filter(F.col("media_type") == "video")
        .select("asset_id", "payload")
    )
    return vids.mapInPandas(_sample_frames, _FRAMES_SCHEMA)
