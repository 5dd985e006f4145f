"""Multimodal columns — opaque binary payloads with typed metadata.

Images/audio/video ride through the engine as ``binary`` columns plus a
metadata struct; Spark treats them as bytes (columnar, dictionary-free).
Decode / feature-extraction runs as Arrow-batched ``mapInPandas`` — the only
sanctioned Python hot path, because codecs don't exist as JVM expressions.

No codec LIBRARY exists in this container, so the decoders are pure
Python/numpy and ALL real: BMP (24bpp), PPM (P6), baseline JPEG
(operators/jpeg.py), PNG (operators/png.py — own RFC 1951 inflate) and
GIF (operators/gif.py — own variable-width LZW). ``extract_features``
remains a deterministic fake with the REAL Spark plumbing: schema
contract, Arrow batch iteration, per-partition execution, no driver
collect.

Scale notes (100 TB of media): payloads dominate row size — keep
``spark.sql.files.maxPartitionBytes`` at the default 128 MB so a partition
holds ~hundreds of payloads, and never groupBy on a payload column (hash the
bytes first, exactly like dedup_exact hashes text). Feature extraction is
embarrassingly parallel: one ``mapInPandas`` pass, output pruned to features
so the binary column drops out of downstream shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_model_spark.functions.partitioning import spread_for_fanout

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("byte_sum_mod", T.IntegerType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
    ]
)


def sniff_format(content) -> F.Column:
    """Magic-byte format sniffer over a ``binary`` column as a pure JVM
    expression (``substring`` works on BinaryType — no UDF, stays inside
    whole-stage codegen): png/jpeg/gif/wav/mp4/unknown. The ingest-side
    classifier for a mixed binaryFile asset tree
    (sources/files.py:read_binary_files) — route each modality to its
    decoder without a Python round trip."""
    head4 = F.substring(content, 1, 4)
    return (
        F.when(
            F.substring(content, 1, 8) == F.lit(bytes.fromhex("89504e470d0a1a0a")),
            "png",
        )
        .when(F.substring(content, 1, 3) == F.lit(b"\xff\xd8\xff"), "jpeg")
        .when(head4 == F.lit(b"GIF8"), "gif")
        .when(
            (head4 == F.lit(b"RIFF"))
            & (F.substring(content, 9, 4) == F.lit(b"WAVE")),
            "wav",
        )
        .when(F.substring(content, 5, 4) == F.lit(b"ftyp"), "mp4")
        .when(F.substring(content, 1, 2) == F.lit(b"BM"), "bmp")
        .when(F.substring(content, 1, 2) == F.lit(b"P6"), "ppm")
        .otherwise("unknown")
    )


def synthetic_image_media(
    docs: DataFrame, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """(doc_id, payload) with REAL image payloads built deterministically
    from table columns — BMP for even ids, PPM (P6) for odd; W = (n % 13)
    + 2, H = (n % 7) + 2; flat pixel i = (doc_id + i) % 256, row-major
    RGB. Because the pixel law is closed-form in (doc_id, n), a SQL
    oracle can predict every decoded feature WITHOUT parsing bytes — so
    a hash match proves the encode → decode round trip reproduces the
    constructed pixels exactly. (In production this column comes from
    the source shards; datagen-less construction keeps the query
    runnable at the driver's fixed testdata too.)"""

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, n in zip(pdf[id_col], pdf[size_col]):
                w = int(n) % 13 + 2
                h = int(n) % 7 + 2
                flat = (int(did) + np.arange(w * h * 3, dtype=np.int64)) % 256
                arr = flat.astype(np.uint8).reshape(h, w, 3)
                payloads.append(
                    encode_bmp(arr) if int(did) % 2 == 0 else encode_ppm(arr)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return spread_for_fanout(docs.select(id_col, size_col), id_col).mapInPandas(
        _build,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def synthetic_jpeg_media(
    docs: DataFrame, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """(doc_id, payload) with REAL baseline-JPEG payloads built
    deterministically from table columns: grayscale, W = 8·((n % 3) + 1),
    H = 8·((n % 2) + 1), and the 8×8 block at row-major grid index b is
    CONSTANT with value (doc_id + b) % 256. A constant block's DCT is a
    single integer DC coefficient, so with the encoder's all-ones
    quantization table the lossy pipeline is bit-exact on these inputs
    (operators/jpeg.py) — which is what lets a SQL oracle predict every
    decoded feature from the pixel law without parsing bytes, the same
    falsifiability contract as synthetic_image_media for BMP/PPM."""
    from mapreduce_model_spark.operators.jpeg import encode_jpeg

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, n in zip(pdf[id_col], pdf[size_col]):
                w = 8 * (int(n) % 3 + 1)
                h = 8 * (int(n) % 2 + 1)
                blocks = (
                    int(did) + np.arange((h // 8) * (w // 8), dtype=np.int64)
                ) % 256
                img = np.repeat(
                    np.repeat(blocks.astype(np.uint8).reshape(h // 8, w // 8), 8, 0),
                    8,
                    1,
                )
                payloads.append(encode_jpeg(img))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return spread_for_fanout(docs.select(id_col, size_col), id_col).mapInPandas(
        _build,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def synthetic_png_media(
    docs: DataFrame, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """(doc_id, payload) with REAL PNG payloads built deterministically
    from table columns: greyscale, W = 4·((n % 3) + 1), H = 4·((n % 2)
    + 1), pixel (y, x) = (doc_id + 3x + 7y) % 256 — a per-PIXEL gradient
    (unlike the JPEG twin's constant blocks: PNG is lossless, so no
    constancy trick is needed, and the gradient drives non-trivial
    Sub/Up/Average/Paeth filter deltas). Encoded with the row-cycling
    filter chooser and dynamic-Huffman deflate blocks
    (operators/png.py), so the hash-checked query decodes through the
    full inflate + unfilter pipeline; the SQL oracle predicts every
    feature from the pixel law without parsing bytes."""
    from mapreduce_model_spark.operators.png import encode_png

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, n in zip(pdf[id_col], pdf[size_col]):
                w = 4 * (int(n) % 3 + 1)
                h = 4 * (int(n) % 2 + 1)
                x = np.arange(w, dtype=np.int64)
                y = np.arange(h, dtype=np.int64)
                img = ((int(did) + 3 * x[None, :] + 7 * y[:, None]) % 256).astype(
                    np.uint8
                )
                payloads.append(encode_png(img, block="dynamic", filters="cycle"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return spread_for_fanout(docs.select(id_col, size_col), id_col).mapInPandas(
        _build,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def synthetic_gif_media(
    docs: DataFrame, id_col: str = "doc_id", size_col: str = "n_chars"
) -> DataFrame:
    """(doc_id, payload) with REAL GIF payloads built deterministically
    from table columns: identity greyscale 256-color table, W = 4·((n %
    3) + 1), H = 4·((n % 2) + 1), palette index (y, x) = (doc_id + 5x +
    11y) % 256. Odd doc_ids are written INTERLACED (the four-pass row
    order), so the hash-checked query exercises both raster layouts.
    GIF's LZW is lossless and index == grey value by construction, so
    the SQL oracle predicts every decoded feature from the index law
    without parsing bytes — the same falsifiability contract as the
    BMP/PPM/JPEG/PNG twins."""
    from mapreduce_model_spark.operators.gif import encode_gif

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, n in zip(pdf[id_col], pdf[size_col]):
                w = 4 * (int(n) % 3 + 1)
                h = 4 * (int(n) % 2 + 1)
                x = np.arange(w, dtype=np.int64)
                y = np.arange(h, dtype=np.int64)
                img = ((int(did) + 5 * x[None, :] + 11 * y[:, None]) % 256).astype(
                    np.uint8
                )
                payloads.append(encode_gif(img, interlace=bool(int(did) % 2)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return spread_for_fanout(docs.select(id_col, size_col), id_col).mapInPandas(
        _build,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def attach_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a media table: utf-8 payload bytes + typed metadata struct.
    (In production this column comes from the source parquet/tar shards.)"""
    return docs.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "meta",
        F.struct(
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
            F.col("n_chars").alias("n_chars"),
            F.lit("utf8-blob").alias("format"),
        ),
    )


def encode_bmp(arr: np.ndarray) -> bytes:
    """Minimal spec-conformant 24-bit uncompressed BMP writer
    (BITMAPFILEHEADER + BITMAPINFOHEADER, BGR, bottom-up rows padded to
    4 bytes) — pure Python/numpy, no codec library. ``arr`` is (H, W, 3)
    uint8 RGB."""
    h, w, _ = arr.shape
    row = (w * 3 + 3) & ~3
    # RGB → BGR, top-down → bottom-up, pad each row to 4-byte multiple
    px = np.zeros((h, row), dtype=np.uint8)
    px[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
    body = px.tobytes()
    size = 14 + 40 + len(body)
    file_hdr = b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
    info_hdr = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)  # positive → bottom-up
        + (1).to_bytes(2, "little")             # planes
        + (24).to_bytes(2, "little")            # bits per pixel
        + (0).to_bytes(4, "little")             # BI_RGB (uncompressed)
        + len(body).to_bytes(4, "little")
        + (2835).to_bytes(4, "little", signed=True)   # 72 DPI
        + (2835).to_bytes(4, "little", signed=True)
        + (0).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
    )
    return file_hdr + info_hdr + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP reader — the inverse of :func:`encode_bmp`,
    but driven purely by the header fields (pixel-data offset, signed
    height for row order, 4-byte row padding), so it reads any conformant
    BI_RGB/24bpp file, not just our own output. Returns (H, W, 3) uint8
    RGB."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only 24bpp uncompressed BMP supported (got bpp={bpp}, "
            f"compression={comp})"
        )
    bottom_up = h > 0
    h = abs(h)
    row = (w * 3 + 3) & ~3
    px = np.frombuffer(payload, np.uint8, count=row * h, offset=off).reshape(h, row)
    arr = px[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    return arr[::-1] if bottom_up else arr


def encode_ppm(arr: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) writer: ASCII header + raw RGB rows,
    top-down."""
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) reader with full header tokenization (arbitrary
    whitespace and ``#`` comments per the netpbm spec). Returns (H, W, 3)
    uint8 RGB."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # exactly ONE whitespace byte after maxval, per spec
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError("only maxval=255 PPM supported")
    return np.frombuffer(payload, np.uint8, count=w * h * 3, offset=pos).reshape(
        h, w, 3
    )


def decode_image(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch to the REAL pure-Python decoders: BMP (24bpp
    uncompressed), PPM (P6), baseline-sequential JPEG (SOF0/SOF1,
    operators/jpeg.py — full marker walk, Huffman entropy decode, exact
    IDCT, 4:2:0/4:2:2 chroma upsampling), and PNG (operators/png.py —
    full RFC 1951 inflate incl. dynamic Huffman + LZ77, adler32/CRC-32
    verification, all five scanline filters, color types 0/2/3/4/6).
    GIF still requires an LZW codec and keeps the documented stub
    behavior; progressive JPEG / interlaced PNG raise inside their
    decoders. The pure-Python paths are correctness faces — in
    production swap in PIL/libjpeg-turbo/libpng behind the same
    contract."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:3] == b"\xff\xd8\xff":
        from mapreduce_model_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from mapreduce_model_spark.operators.png import decode_png

        return decode_png(payload)
    if payload[:4] == b"GIF8":
        from mapreduce_model_spark.operators.gif import decode_gif

        return decode_gif(payload)
    raise ValueError(
        "unrecognized image payload (no BMP/PPM/JPEG/PNG/GIF magic bytes)"
    )


def extract_features(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake feature extraction over the binary column via
    Arrow-batched mapInPandas (the production shape for decode/resize/
    frame-sample). Pure function of the bytes → reproducible anywhere."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            lens = payloads.map(len).to_numpy(dtype=np.int64)
            # One concatenated buffer + segmented reduce: the whole Arrow
            # batch is summed in C, no per-payload Python call. Offsets of
            # zero-length payloads are masked out (reduceat misreads empty
            # segments); their sum is 0 by definition.
            byte_sum = np.zeros(len(lens), dtype=np.int64)
            nz = lens > 0
            if nz.any():
                concat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                offsets = np.zeros(len(lens), dtype=np.int64)
                np.cumsum(lens[:-1], out=offsets[1:])
                byte_sum[nz] = np.add.reduceat(
                    concat.astype(np.int64), offsets[nz]
                )
            byte_sum %= 997
            widths = np.sqrt(lens).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": lens.astype("int32"),
                    "byte_sum_mod": byte_sum.astype("int32"),
                    # fake decode: pretend bytes are a square-ish image
                    "fake_width": widths.astype("int32"),
                    "fake_height": (lens // np.maximum(widths, 1)).astype("int32"),
                }
            )

    # Parallelism of mapInPandas == input partitions: one low-split scan
    # would mean ONE Python worker for the whole table.
    return spread_for_fanout(media.select(id_col, "payload"), id_col).mapInPandas(
        _extract, FEATURE_SCHEMA
    )


DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pix_sum_mod", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
    ]
)


def decode_image_features(media: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL-decode feature extraction: each binary payload is parsed by
    :func:`decode_image` (BMP/PPM, pure Python — no codec lib) and the
    features come from the DECODED PIXELS, not the raw bytes: parsed
    width/height, total pixel-value sum mod 997, mean of the R channel.
    Same Arrow-batched mapInPandas plumbing as extract_features — this is
    the path a PIL-backed extractor drops into unchanged."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, sums, means = [], [], [], []
            for payload in pdf["payload"]:
                arr = decode_image(bytes(payload))
                h, w, _ = arr.shape
                ws.append(w)
                hs.append(h)
                sums.append(int(arr.sum(dtype=np.int64)) % 997)
                means.append(float(arr[:, :, 0].mean(dtype=np.float64)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "pix_sum_mod": pd.Series(sums, dtype="int32"),
                    "mean_r": pd.Series(means, dtype="float64"),
                }
            )

    return spread_for_fanout(media.select(id_col, "payload"), id_col).mapInPandas(
        _decode, DECODE_SCHEMA
    )


RESIZE_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
    ]
)


def resize_image_real(
    media: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL image resize: decode (BMP/PPM), nearest-neighbor resample to
    (out_h, out_w) — src index = floor(dst · src_dim / dst_dim), the
    deterministic integer form an oracle can replay — and re-encode in
    the ORIGINAL format. The 1→1 payload-rewrite shape of resize_media
    with the codec stage real instead of a byte-truncation stand-in."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for payload in pdf["payload"]:
                b = bytes(payload)
                arr = decode_image(b)
                h, w, _ = arr.shape
                ri = (np.arange(out_h, dtype=np.int64) * h) // out_h
                ci = (np.arange(out_w, dtype=np.int64) * w) // out_w
                out = arr[ri][:, ci]
                outs.append(encode_bmp(out) if b[:2] == b"BM" else encode_ppm(out))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": pd.Series(outs, dtype="object"),
                    "out_width": pd.Series([out_w] * len(outs), dtype="int32"),
                    "out_height": pd.Series([out_h] * len(outs), dtype="int32"),
                }
            )

    return spread_for_fanout(media.select(id_col, "payload"), id_col).mapInPandas(
        _resize, RESIZE_REAL_SCHEMA
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("orig_bytes", T.IntegerType()),
        T.StructField("resized_bytes", T.IntegerType()),
        T.StructField("truncated", T.BooleanType()),
    ]
)


def resize_media(
    media: DataFrame, target_bytes: int = 128, id_col: str = "doc_id"
) -> DataFrame:
    """Resize: the 1→1 payload-rewrite mapInPandas shape (thumbnailing,
    re-encoding, downsampling). The stand-in transform truncates or
    zero-pads to ``target_bytes`` — a real resize swaps in the codec call
    (``decode_image`` contract) with identical Spark plumbing. Output
    payloads are fixed-size, so downstream batch memory is exactly
    predictable (rows × target_bytes per Arrow batch)."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            orig = pdf["payload"].map(len)
            resized = pdf["payload"].map(
                lambda b: b[:target_bytes]
                if len(b) >= target_bytes
                else b + b"\x00" * (target_bytes - len(b))
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": resized,
                    "orig_bytes": orig.astype("int32"),
                    "resized_bytes": resized.map(len).astype("int32"),
                    "truncated": (orig > target_bytes),
                }
            )

    return spread_for_fanout(media.select(id_col, "payload"), id_col).mapInPandas(
        _resize, RESIZE_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
        T.StructField("frame_len", T.IntegerType()),
    ]
)


def sample_frames(
    media: DataFrame,
    frame_bytes: int = 256,
    every_k: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Frame sampling: the 1→N mapInPandas shape for video/audio — each
    payload splits into fixed-size frames and every k-th frame is emitted
    with its index. A real codec replaces the byte-slicer (stub contract as
    ``decode_image``); the Spark plumbing — row explosion inside Arrow
    batches, binary output column, partition-bound memory — is the
    production shape. Output rows ≈ |payload|/(frame_bytes·k) per doc."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for did, payload in zip(pdf[id_col], pdf["payload"]):
                n = len(payload)
                for j, start in enumerate(range(0, n, frame_bytes)):
                    if j % every_k == 0:
                        chunk = payload[start : start + frame_bytes]
                        ids.append(did)
                        idxs.append(j)
                        frames.append(chunk)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype="object"),
                    "frame_len": pd.Series(
                        [len(f) for f in frames], dtype="int32"
                    ),
                }
            )

    return spread_for_fanout(media.select(id_col, "payload"), id_col).mapInPandas(
        _frames, FRAME_SCHEMA
    )
