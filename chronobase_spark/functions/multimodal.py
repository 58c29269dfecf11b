"""Multimodal column handling: image/audio/video as opaque binary
payloads with typed metadata (SURVEY.md §2.4).

This mirrors the reference's data model — its ``Row.Data []byte`` is an
opaque payload the engine carries untouched (reference
internal/storage/row.go:9) — lifted to a typed Spark schema:

    payload: binary, meta: struct<media_type, n_bytes, ...>

The Spark-side plumbing (schema, partition-preserving mapInPandas,
Arrow batch shape) is real and tested, and so is the image decode:
``decode_ppm`` parses binary PPM (P6) payloads with a pure-Python
header tokenizer + numpy raster math and emits real pixel statistics.
Compressed codecs (JPEG / PCM audio / video containers) would slot in
at the same ``_decode_bytes`` boundary but their libraries are not in
this container, so ``decode_stub`` keeps that path exercisable with
deterministic byte math. Per-batch vectorized processing via
mapInPandas keeps the hot path Arrow-batched, never row-at-a-time.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("checksum", LongType()),
    ]
)


def to_payload(df: DataFrame) -> DataFrame:
    """Wrap a column as an opaque binary payload + metadata struct —
    the canonical multimodal row shape."""
    payload = F.encode(F.col("text"), "UTF-8")
    return df.select(
        F.col("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("media_type"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_bytes(buf: bytes) -> dict:
    """Deterministic byte-math 'decode' for payloads whose real codec
    (JPEG / PCM / video) is not present in this container — the real
    decoder slots in at exactly this boundary (see ``_decode_ppm_bytes``
    for the PPM one that IS real). Derives the same feature shape from
    the raw bytes so the pipeline stays fully exercisable."""
    n = len(buf)
    checksum = 0
    for b in buf[:128]:
        checksum = (checksum * 31 + b) % 2147483647
    return {"n_frames": n // 100 + 1, "checksum": checksum}


def decode_stub(payloads: DataFrame) -> DataFrame:
    """Vectorized 'decode / feature-extract' over payload batches via
    mapInPandas — Arrow-batched, partition-preserving (no shuffle).

    Raises nothing here; a production decoder that *cannot* run in this
    container should raise NotImplementedError at the `_decode_bytes`
    boundary instead of silently passing.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload/meta (e.g. a NULL source document) -> NULL
            # features, SQL-style; bytes(None) would crash the worker.
            feats = [
                None if p is None else _decode_bytes(bytes(p))
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [
                        None if m is None else m["media_type"] for m in pdf["meta"]
                    ],
                    "n_bytes": [
                        None
                        if m is None or m["n_bytes"] is None
                        else int(m["n_bytes"])
                        for m in pdf["meta"]
                    ],
                    "n_frames": [None if f is None else f["n_frames"] for f in feats],
                    "checksum": [None if f is None else f["checksum"] for f in feats],
                }
            )

    return payloads.mapInPandas(extract, FEATURE_SCHEMA)


PPM_WIDTH = 16  # fixture image width (pixels); 48 payload bytes per row

PPM_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("r_sum", LongType()),
        StructField("g_sum", LongType()),
        StructField("b_sum", LongType()),
    ]
)


def ppm_payload_col(text_col):
    """The PPM (P6) payload as a pure COLUMN expression (JVM-side
    encode/concat/repeat, no Python) — shared by the batch
    ``to_ppm_payload`` frame builder and the streaming ``phash_stage``
    so the encoded bytes can never drift between surfaces."""
    data = F.encode(text_col, "UTF-8")
    n = F.length(data)
    h = F.greatest(F.ceil(n / F.lit(float(PPM_WIDTH * 3))).cast("int"), F.lit(1))
    pad = (h * PPM_WIDTH * 3 - n).cast("int")
    header = F.concat(
        F.lit(f"P6\n{PPM_WIDTH} "), h.cast("string"), F.lit("\n255\n")
    )
    return F.concat(
        F.encode(header, "UTF-8"),
        data,
        F.encode(F.repeat(F.lit("\x00"), pad), "UTF-8"),
    )


def to_ppm_payload(df: DataFrame) -> DataFrame:
    """Encode each document as a REAL binary PPM (P6) image whose raster
    is the document's bytes, zero-padded to ``PPM_WIDTH`` × height × 3 —
    built entirely JVM-side (encode/concat/repeat, no Python). The
    payload is a spec-valid netpbm file any external PPM reader can
    open; height varies per document, exercising real header parsing
    downstream instead of fixed-shape assumptions."""
    payload = ppm_payload_col(F.col("text"))
    return df.select(
        F.col("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image/x-portable-pixmap").alias("media_type"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _parse_ppm(buf: bytes) -> tuple[int, int, int, bytes]:
    """Parse a binary PPM (P6) header per the netpbm spec — magic, then
    three whitespace-separated decimal tokens (width, height, maxval)
    with ``#``-to-EOL comments allowed between tokens, then exactly one
    whitespace byte before the raster. Returns (width, height, maxval,
    raster)."""
    if buf[:2] != b"P6":
        raise ValueError(f"not a P6 PPM (magic {buf[:2]!r})")
    vals: list[int] = []
    idx = 2
    while len(vals) < 3:
        while idx < len(buf) and buf[idx : idx + 1].isspace():
            idx += 1
        if buf[idx : idx + 1] == b"#":
            while idx < len(buf) and buf[idx] != 0x0A:
                idx += 1
            continue
        start = idx
        while idx < len(buf) and not buf[idx : idx + 1].isspace():
            idx += 1
        if idx == start:
            raise ValueError("truncated PPM header")
        vals.append(int(buf[start:idx]))
    idx += 1  # the single whitespace byte that terminates the header
    w, h, maxval = vals
    raster = buf[idx : idx + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError(f"raster short: want {w * h * 3}, have {len(raster)}")
    return w, h, maxval, raster


def _decode_ppm_bytes(buf: bytes) -> dict:
    """Real image decode: PPM header parse + numpy channel statistics.
    Channel SUMS (not means) keep the features integer-exact, so the
    SQL oracle can reproduce them without float-rounding hazards."""
    w, h, _maxval, raster = _parse_ppm(buf)
    px = np.frombuffer(raster, dtype=np.uint8).reshape(-1, 3)
    sums = px.sum(axis=0, dtype=np.int64)
    return {
        "width": w,
        "height": h,
        "r_sum": int(sums[0]),
        "g_sum": int(sums[1]),
        "b_sum": int(sums[2]),
    }


def decode_ppm(payloads: DataFrame) -> DataFrame:
    """Vectorized REAL image decode over payload batches via
    mapInPandas — Arrow-batched, partition-preserving (no shuffle). At
    100 TB of media the payload bytes never leave the executor that
    read them; only the fixed-width feature rows flow on."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload/meta -> NULL feature row (SQL semantics);
            # bytes(None) would crash the Arrow worker.
            feats = [
                None if p is None else _decode_ppm_bytes(bytes(p))
                for p in pdf["payload"]
            ]

            def col(k):
                return [None if f is None else f[k] for f in feats]

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [
                        None if m is None else m["media_type"] for m in pdf["meta"]
                    ],
                    "n_bytes": [
                        None
                        if m is None or m["n_bytes"] is None
                        else int(m["n_bytes"])
                        for m in pdf["meta"]
                    ],
                    "width": col("width"),
                    "height": col("height"),
                    "r_sum": col("r_sum"),
                    "g_sum": col("g_sum"),
                    "b_sum": col("b_sum"),
                }
            )

    return payloads.mapInPandas(extract, PPM_FEATURE_SCHEMA)


PHASH_GRID = 8  # dHash pooling grid (8x8 cells -> 64 bits)

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("c0", LongType()),
        StructField("c1", LongType()),
        StructField("c2", LongType()),
        StructField("c3", LongType()),
    ]
)


def _raster_grid(w: int, h: int, raster: bytes) -> np.ndarray:
    """8x8 integer pooling grid of a decoded raster: grayscale is the
    per-pixel CHANNEL SUM (not a weighted float average), pooled by the
    index map row -> row*8//h / col -> col*8//w. Integer-exact, so an
    external engine reproduces every cell from the same bytes."""
    g = PHASH_GRID
    px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
    gray = px.sum(axis=2, dtype=np.int64)
    grid = np.zeros((g, g), dtype=np.int64)
    np.add.at(
        grid,
        ((np.arange(h) * g // h)[:, None], (np.arange(w) * g // w)[None, :]),
        gray,
    )
    return grid


def _dhash_chunks_of_raster(w: int, h: int, raster: bytes) -> list[int]:
    """64-bit dHash of a decoded raster, returned as four UNSIGNED
    16-bit chunk ints (the simhash_md5_chunks representation, safe in
    any engine's BIGINT): bit (gr, gc) is the strict compare
    cell(gr, gc) > cell(gr, (gc+1)%8) over the _raster_grid pooling —
    the wrap-around horizontal gradient. All integer compares, no
    float hazard."""
    g = PHASH_GRID
    grid = _raster_grid(w, h, raster)
    bits = grid > np.roll(grid, -1, axis=1)
    chunks = []
    for j in range(4):
        v = 0
        for gr in (2 * j, 2 * j + 1):
            for gc in range(g):
                v |= int(bits[gr, gc]) << ((gr % 2) * g + gc)
        chunks.append(v)
    return chunks


def dhash_chunks(payloads: DataFrame) -> DataFrame:
    """Perceptual-hash signatures over REAL decoded rasters: parse each
    PPM payload (full netpbm header tokenizer, same decoder as
    decode_ppm) and compute the 64-bit dHash of the raster, emitted as
    four 16-bit chunks ready for the pigeonhole band join. Arrow-
    batched mapInPandas, partition-preserving — at 100 TB of media the
    payload bytes never shuffle; only (doc_id, 4 ints) flows on."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": pdf["doc_id"], "c0": [], "c1": [], "c2": [], "c3": []}
            for p in pdf["payload"]:
                if p is None:
                    cs = [None] * 4
                else:
                    w, h, _maxval, raster = _parse_ppm(bytes(p))
                    cs = _dhash_chunks_of_raster(w, h, raster)
                for j in range(4):
                    out[f"c{j}"].append(cs[j])
            yield pd.DataFrame(out)

    return payloads.mapInPandas(extract, PHASH_SCHEMA)


def dhash_annotate(df: DataFrame) -> DataFrame:
    """Append dHash chunk columns c0..c3 to EVERY input row, decoding
    ``_payload`` with the real PPM parser and dropping it — the
    carry-all-columns twin of ``dhash_chunks`` for pipelines (batch or
    streaming) that must keep the row intact. NULL payload → NULL
    chunks. Stateless Arrow-batched mapInPandas; output schema =
    input schema minus the payload plus four LongType chunks."""
    out_schema = StructType(
        [f for f in df.schema.fields if f.name != "_payload"]
        + [StructField(f"c{j}", LongType()) for j in range(4)]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cs: dict[str, list] = {f"c{j}": [] for j in range(4)}
            for p in pdf["_payload"]:
                if p is None:
                    vals = [None] * 4
                else:
                    w, h, _maxval, raster = _parse_ppm(bytes(p))
                    vals = _dhash_chunks_of_raster(w, h, raster)
                for j in range(4):
                    cs[f"c{j}"].append(vals[j])
            yield pdf.drop(columns=["_payload"]).assign(**cs)

    return df.mapInPandas(extract, out_schema)


GRID_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("g", ArrayType(LongType())),
    ]
)


def raster_grids(payloads: DataFrame) -> DataFrame:
    """(doc_id, g: array<bigint>[64]) — the row-major flattened 8x8
    pooling grid of each REAL decoded raster, the integer feature
    vector the multimodal similarity search ranks by. Arrow-batched
    mapInPandas, partition-preserving; payload bytes never shuffle,
    only 64 ints per image flow on."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grids = []
            for p in pdf["payload"]:
                if p is None:
                    grids.append(None)
                else:
                    w, h, _maxval, raster = _parse_ppm(bytes(p))
                    grids.append([int(x) for x in _raster_grid(w, h, raster).ravel()])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "g": grids})

    return payloads.mapInPandas(extract, GRID_SCHEMA)


def frame_sample(payloads: DataFrame, every_n_bytes: int = 100) -> DataFrame:
    """'Frame sampling' plumbing: explode each payload into frame-offset
    rows (deterministic byte-offset fake of video frame extraction).
    Native explode over a sequence — demonstrates the fan-out shape a
    real frame sampler would produce, with no Python in the loop."""
    n_frames = (F.length("payload").cast("long") / every_n_bytes).cast("int") + 1
    return payloads.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        (F.col("meta.n_bytes")).alias("n_bytes"),
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("media_type", StringType()),
                    StructField("n_bytes", LongType()),
                    StructField("scale_denom", IntegerType()),
                ]
            ),
        ),
    ]
)


def resize_stub(payloads: DataFrame, scale_denom: int = 4) -> DataFrame:
    """STUB 'resize/downsample': keep every ``scale_denom``-th payload
    byte (a real implementation decodes, resamples pixels/PCM, and
    re-encodes at this exact boundary — same in/out schema). The output
    is the multimodal row shape again, so resize composes with
    ``decode_stub``/``frame_sample`` downstream. mapInPandas keeps the
    transform Arrow-batched and partition-preserving — at 100 TB of
    media the bytes never leave the executor that read them."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload -> NULL payload + NULL meta (SQL semantics).
            out = [
                None if p is None else bytes(bytes(p)[::scale_denom])
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": out,
                    "meta": [
                        None
                        if b is None or m is None
                        else {
                            "media_type": m["media_type"],
                            "n_bytes": len(b),
                            "scale_denom": scale_denom,
                        }
                        for m, b in zip(pdf["meta"], out)
                    ],
                }
            )

    return payloads.mapInPandas(resize, RESIZED_SCHEMA)


WAV_SAMPLE_RATE = 8000

WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("duration_ms", LongType()),
        StructField("peak_abs", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("zero_crossings", LongType()),
    ]
)


def _le_bytes(v, nbytes: int):
    """Little-endian byte string of an int column as latin-1 chars
    (codepoints 0-255 encode 1:1 to bytes under ISO-8859-1)."""
    parts = []
    for k in range(nbytes):
        parts.append(F.chr(F.shiftright(v.cast("long"), 8 * k) % 256))
    return F.concat(*parts)


def to_wav_payload(df: DataFrame) -> DataFrame:
    """Encode each document as a REAL RIFF/WAVE file (PCM16 mono,
    8 kHz) whose samples are the document's bytes centered and scaled:
    sample_i = (byte_i − 96)·256 — built entirely JVM-side. Centering
    at 96 (between ASCII punctuation/space and the lowercase range)
    makes the sign of a sample track character class, so the
    zero-crossing feature counts real word-boundary transitions
    instead of degenerating to 0 as a 128-centering would on ASCII.
    The little-endian int16 of such a sample is exactly the byte pair
    (0x00, (byte_i + 160) mod 256), so the data chunk is a per-char
    string transform encoded via ISO-8859-1 (codepoints 0-255 ↔ bytes
    1:1); the 44-byte canonical header is chr()-built LE fields. The
    payload opens in any WAV reader (stdlib ``wave`` validates it in
    pytest) — the same REAL-codec standard the PPM image path set."""
    t = F.col("text")
    n = F.length(F.encode(t, "UTF-8")).cast("long")
    # length > 0 guard: split("", "") is [""] (one phantom element),
    # which would fabricate a bogus -32768 sample for empty documents
    sample_str = F.when(F.length(t) > 0, F.array_join(
        F.transform(
            F.split(t, ""),
            lambda c: F.concat(
                F.chr(F.lit(0)), F.chr((F.ascii(c) + 160) % 256)
            ),
        ),
        "",
    )).otherwise(F.lit(""))
    header_str = F.concat(
        F.lit("RIFF"),
        _le_bytes(F.lit(36).cast("long") + n * 2, 4),
        F.lit("WAVEfmt "),
        _le_bytes(F.lit(16), 4),
        _le_bytes(F.lit(1), 2),  # PCM
        _le_bytes(F.lit(1), 2),  # mono
        _le_bytes(F.lit(WAV_SAMPLE_RATE), 4),
        _le_bytes(F.lit(WAV_SAMPLE_RATE * 2), 4),  # byte rate
        _le_bytes(F.lit(2), 2),  # block align
        _le_bytes(F.lit(16), 2),  # bits/sample
        F.lit("data"),
        _le_bytes(n * 2, 4),
    )
    payload = F.encode(F.concat(header_str, sample_str), "ISO-8859-1")
    # spread (r17): the per-char sample-string transform is heavy-CPU
    # map work AND the Arrow decoder downstream runs one Python worker
    # per partition — on an unsplittable scan that is ONE worker.
    # Interleaved A/B at sf0.1 (payload+decode): 0.89 s → 0.61 s.
    from chronobase_spark.catalog import spread

    df = spread(df, key="doc_id")
    return df.select(
        F.col("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("audio/wav").alias("media_type"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _parse_wav(buf: bytes) -> tuple[int, np.ndarray]:
    """Real RIFF chunk walker: validate the RIFF/WAVE container, read
    the fmt chunk (PCM16 mono required), return (sample_rate,
    int16 sample array from the data chunk)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE file (magic {buf[:4]!r})")
    idx = 12
    rate = None
    data = None
    while idx + 8 <= len(buf):
        cid = buf[idx : idx + 4]
        size = int.from_bytes(buf[idx + 4 : idx + 8], "little")
        body = buf[idx + 8 : idx + 8 + size]
        if cid == b"fmt ":
            fmt_tag = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if (fmt_tag, channels, bits) != (1, 1, 16):
                raise ValueError(f"unsupported WAV format {(fmt_tag, channels, bits)}")
        elif cid == b"data":
            data = body
        idx += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, np.frombuffer(data, dtype="<i2")


def _decode_wav_bytes(buf: bytes) -> dict:
    """Real audio decode: RIFF parse + numpy sample statistics, all
    integer-exact (abs sums, strict-sign zero crossings) so the SQL
    oracle reproduces them from the source bytes without float
    hazards."""
    rate, samples = _parse_wav(buf)
    s = samples.astype(np.int64)
    return {
        "sample_rate": rate,
        "n_samples": int(s.size),
        "duration_ms": int(s.size * 1000 // rate),
        "peak_abs": 0 if s.size == 0 else int(np.abs(s).max()),
        "sum_abs": int(np.abs(s).sum()),
        "zero_crossings": 0
        if s.size < 2
        else int(((s[:-1] * s[1:]) < 0).sum()),
    }


def decode_wav(payloads: DataFrame) -> DataFrame:
    """Vectorized REAL audio decode over payload batches via
    mapInPandas — Arrow-batched, partition-preserving (no shuffle);
    only fixed-width feature rows flow on, never the waveform."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                None if p is None else _decode_wav_bytes(bytes(p))
                for p in pdf["payload"]
            ]

            def col(k):
                return [None if f is None else f[k] for f in feats]

            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [
                        None if m is None else m["media_type"] for m in pdf["meta"]
                    ],
                    "n_bytes": [
                        None
                        if m is None or m["n_bytes"] is None
                        else int(m["n_bytes"])
                        for m in pdf["meta"]
                    ],
                    "sample_rate": col("sample_rate"),
                    "n_samples": col("n_samples"),
                    "duration_ms": col("duration_ms"),
                    "peak_abs": col("peak_abs"),
                    "sum_abs": col("sum_abs"),
                    "zero_crossings": col("zero_crossings"),
                }
            )

    return payloads.mapInPandas(extract, WAV_FEATURE_SCHEMA)
