"""Multimodal-column queries: binary payload + struct/array/map round-trip
(oracle-checked) and the mapInPandas feature-extraction path (rows-only —
pandas UDFs are not SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_model_spark.operators.multimodal import (
    attach_payload,
    extract_features,
    sample_frames,
)
from mapreduce_model_spark.registry import query, table


@query(
    "multimodal_cols",
    oracle="""
SELECT doc_id,
       octet_length(encode(text))          AS payload_len,
       md5(text)                         AS payload_md5,
       lang                              AS meta_lang,
       source                            AS meta_source,
       n_chars                           AS meta_n_chars,
       'utf8-blob'                       AS meta_format,
       len(string_split(source, 'c'))    AS src_parts
FROM documents
WHERE octet_length(encode(text)) > 64
""",
)
def multimodal_cols(spark, sf_dir):
    """Binary + nested columns carried through scan/filter/projection:
    payload bytes hashed and measured, metadata struct fields projected
    back out — proves BinaryType/StructType/ArrayType survive the engine."""
    docs = attach_payload(table(spark, sf_dir, "documents"))
    return (
        docs.filter(F.octet_length("payload") > 64)
        .withColumn("src_parts", F.size(F.split("source", "c", -1)).cast("long"))
        .select(
            "doc_id",
            F.octet_length("payload").cast("long").alias("payload_len"),
            F.md5("payload").alias("payload_md5"),
            F.col("meta.lang").alias("meta_lang"),
            F.col("meta.source").alias("meta_source"),
            F.col("meta.n_chars").alias("meta_n_chars"),
            F.col("meta.format").alias("meta_format"),
            "src_parts",
        )
    )


@query(
    "multimodal_features",
    oracle="""
WITH b AS (
    SELECT doc_id,
           octet_length(encode(text)) AS n,
           hex(encode(text)) AS h
    FROM documents
), s AS (
    -- byte_sum_mod: the payload's bytes summed mod 997, reassembled from
    -- the hex stream two chars per byte — byte-exact for any content
    SELECT doc_id, n,
           CASE WHEN n = 0 THEN 0 ELSE
               list_sum(list_transform(range(0, n),
                        i -> ('0x' || substr(h, i * 2 + 1, 2))::BIGINT)) % 997
           END AS bs,
           CAST(trunc(sqrt(n)) AS BIGINT) AS w
    FROM b
)
SELECT doc_id,
       CAST(n AS INTEGER)                    AS n_bytes,
       CAST(bs AS INTEGER)                   AS byte_sum_mod,
       CAST(w AS INTEGER)                    AS fake_width,
       CAST(n // greatest(w, 1) AS INTEGER)  AS fake_height
FROM s
""",
)
def multimodal_features(spark, sf_dir):
    """Arrow-batched feature extraction over binary payloads (the decode
    stub's plumbing): deterministic fake features, real mapInPandas shape.
    The fake features are pure byte arithmetic (length, byte-sum mod 997,
    trunc-sqrt geometry), so the mapInPandas path IS hash-checkable — the
    DuckDB twin recomputes each from the hex byte stream (r6: formerly
    rows-only; the byte-exact pin in tests stays as defense in depth)."""
    media = attach_payload(table(spark, sf_dir, "documents"))
    return extract_features(media)


@query(
    "multimodal_frames",
    oracle="""
WITH f AS (
    SELECT doc_id,
           octet_length(encode(text)) AS n,
           unnest(range(0, CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT))) AS j
    FROM documents
)
SELECT doc_id,
       CAST(j AS INTEGER) AS frame_idx,
       CAST(least(256, n - j * 256) AS INTEGER) AS frame_len
FROM f WHERE j % 4 = 0
""",
)
def multimodal_frames(spark, sf_dir):
    """Frame sampling (video/audio shape): payloads split into 256-byte
    frames, every 4th emitted. The oracle checks the sampling geometry
    (doc, index, length) — the binary frame column itself is exercised by
    tests (BinaryType is not hash-comparable across engines)."""
    media = attach_payload(table(spark, sf_dir, "documents"))
    return sample_frames(media, frame_bytes=256, every_k=4).select(
        "doc_id", "frame_idx", "frame_len"
    )


@query(
    "multimodal_resize",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER)      AS orig_bytes,
       CAST(128 AS INTEGER)                           AS resized_bytes,
       octet_length(encode(text)) > 128                 AS truncated
FROM documents
""",
)
def multimodal_resize(spark, sf_dir):
    """Payload resize (thumbnail/re-encode shape): truncate-or-pad to a
    fixed 128 bytes via mapInPandas. The oracle checks the size metadata;
    the byte-exact payload contract (prefix / zero-pad) is pinned in
    tests/test_similarity_multimodal.py."""
    from mapreduce_model_spark.operators.multimodal import resize_media

    media = attach_payload(table(spark, sf_dir, "documents"))
    return resize_media(media, target_bytes=128).select(
        "doc_id", "orig_bytes", "resized_bytes", "truncated"
    )


@query(
    "multimodal_frame_dedup",
    oracle="""
WITH f AS (
    SELECT doc_id, text,
           unnest(range(0, CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT))) AS j
    FROM documents
), fr AS (
    -- slice BYTES, not characters: hex(encode(text)) is the byte stream
    -- at 2 chars/byte, so frame j is hex chars [j*512+1, j*512+512] —
    -- identical to the engine's payload[j*256 : j*256+256] for ANY
    -- content, multi-byte UTF-8 included (review-caught char/byte skew;
    -- DuckDB 1.0 md5 is VARCHAR-only, hence hashing the hex form)
    SELECT doc_id, CAST(j AS INTEGER) AS frame_idx,
           md5(substr(hex(encode(text)), CAST(j * 512 + 1 AS BIGINT), 512)) AS h
    FROM f WHERE j % 4 = 0
), ranked AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, frame_idx) AS rn
    FROM fr
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first_seen,
       round(1 - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) + 1e-9, 4)
           AS dup_frac
FROM ranked GROUP BY doc_id
""",
)
def multimodal_frame_dedup(spark, sf_dir):
    """Cross-asset frame deduplication — the video-corpus near-dup signal
    (shared intros, mirrored uploads, repeated stock footage): sampled
    frames are content-hashed and a frame counts as FIRST-SEEN only in the
    lowest (doc_id, frame_idx) carrying those exact bytes; per-asset
    dup_frac is the curation score. Composes the sample_frames mapInPandas
    plumbing (operators/multimodal.py:236) with the same first-writer-wins
    discipline as chunk_dedup — over BINARY frames instead of text chunks.

    Scale: frames hash in the stage that produced them (F.md5 on the
    binary column, JVM-side); the exchanges carry (doc_id, frame_idx,
    32-char md5), never frame bytes. A real pHash/codec replaces the
    byte-slicer per the decode-stub contract; the dedup topology is
    unchanged."""
    from pyspark.sql import Window

    media = attach_payload(table(spark, sf_dir, "documents"))
    # content key = md5 of the frame's HEX form: injective in the frame
    # bytes (so dedup semantics are unchanged) and reproducible in
    # VARCHAR-only md5 engines — the oracle hashes the same hex slice
    frames = sample_frames(media, frame_bytes=256, every_k=4).select(
        "doc_id", "frame_idx", F.md5(F.hex(F.col("frame"))).alias("h")
    )
    w = Window.partitionBy("h").orderBy("doc_id", "frame_idx")
    ranked = frames.withColumn("rn", F.row_number().over(w))
    first_seen = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        first_seen.alias("n_first_seen"),
        F.round(1 - first_seen / F.count(F.lit(1)) + 1e-9, 4).alias("dup_frac"),
    )


_RSZ_W, _RSZ_H = 4, 3   # nearest-neighbor resize target (out_w, out_h)


@query(
    "multimodal_decode_real",
    oracle="""
WITH base AS (
    SELECT doc_id,
           CAST((n_chars % 13) + 2 AS INTEGER) AS w,
           CAST((n_chars % 7) + 2 AS INTEGER) AS h,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt
    FROM documents
), px AS (
    SELECT doc_id, fmt, w, h, unnest(range(0, w * h * 3)) AS i FROM base
)
SELECT doc_id, fmt, w AS width, h AS height,
       CAST(sum((doc_id + i) % 256) % 997 AS INTEGER) AS pix_sum_mod,
       round(avg(CASE WHEN i % 3 = 0 THEN (doc_id + i) % 256 END) + 1e-9, 4)
           AS mean_r
FROM px GROUP BY doc_id, fmt, w, h
""",
)
def multimodal_decode_real(spark, sf_dir):
    """REAL image decode, hash-checked end to end: every doc gets a real
    BMP (even ids) or P6 PPM (odd) payload whose pixels follow a
    closed-form law (synthetic_image_media), the pure-Python decoders
    (operators/multimodal.py decode_bmp/decode_ppm — BITMAPINFOHEADER
    row padding, bottom-up BGR, netpbm header tokenization) parse the
    BYTES back to pixels, and the features come from the DECODED ARRAY.
    The oracle predicts each feature from the pixel law alone — it never
    sees the bytes — so a hash match proves the encode→decode round trip
    is exact. Format comes from the JVM magic-byte sniffer over the real
    payloads (sniff_format), not from the id parity.

    Scale: one mapInPandas encode pass + one decode pass, both
    embarrassingly parallel, features-only downstream of the decode (the
    binary column never shuffles); spec-conformance of the decoders is
    additionally pinned against hand-built byte goldens in
    tests/test_round9_multimodal.py. JPEG/PNG remain env-blocked
    (decode_image docstring)."""
    from mapreduce_model_spark.functions.rounding import rnd
    from mapreduce_model_spark.operators.multimodal import (
        decode_image_features,
        sniff_format,
        synthetic_image_media,
    )

    # media feeds TWO consumers (the sniffer branch and the decode branch);
    # without materialization the join re-runs the whole encode pass per
    # branch (r11 plan audit: the encode MapInPandas appeared twice).
    # Checkpoint = one encode pass at any scale; payloads are size-bounded.
    media = synthetic_image_media(table(spark, sf_dir, "documents")).localCheckpoint(eager=False)
    fmts = media.select("doc_id", sniff_format(F.col("payload")).alias("fmt"))
    feats = decode_image_features(media)
    return feats.join(fmts, "doc_id").select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "pix_sum_mod",
        rnd(F.col("mean_r"), 4).alias("mean_r"),
    )


@query(
    "multimodal_resize_real",
    oracle=f"""
WITH base AS (
    SELECT doc_id,
           CAST((n_chars % 13) + 2 AS INTEGER) AS w,
           CAST((n_chars % 7) + 2 AS INTEGER) AS h,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt
    FROM documents
), px AS (
    SELECT doc_id, fmt, w, h, unnest(range(0, {_RSZ_W * _RSZ_H * 3})) AS i
    FROM base
), v AS (
    -- dst flat index i → (row, col, channel) → nearest-neighbor source
    -- pixel → the synthetic pixel law at that source index
    SELECT doc_id, fmt, i,
           (doc_id
            + (((i // {_RSZ_W * 3}) * h) // {_RSZ_H} * w
               + ((i % {_RSZ_W * 3}) // 3 * w) // {_RSZ_W}) * 3
            + i % 3) % 256 AS val
    FROM px
)
SELECT doc_id, fmt,
       {_RSZ_W} AS out_width, {_RSZ_H} AS out_height,
       CAST(sum(val) % 997 AS INTEGER) AS pix_sum_mod,
       round(avg(CASE WHEN i % 3 = 0 THEN val END) + 1e-9, 4) AS mean_r
FROM v GROUP BY doc_id, fmt
""",
)
def multimodal_resize_real(spark, sf_dir):
    """REAL resize through the codec round trip, hash-checked: synthetic
    BMP/PPM payloads are DECODED, nearest-neighbor-resampled to a fixed
    4×3 grid (integer src = dst·src_dim // dst_dim — exactly
    replayable in SQL), RE-ENCODED in the original format
    (resize_image_real), then decoded AGAIN by the feature pass — so the
    hash check covers encoder output bytes, not just in-memory arrays.
    The oracle predicts the resampled pixel values straight from the
    pixel law and the index arithmetic. Format sniffed from the
    RE-ENCODED payload's magic bytes.

    Scale: two 1→1 mapInPandas passes over fixed-size payloads; the
    resized frame is width-bounded (out_w·out_h·3 bytes + header), so
    downstream batch memory is exact — the thumbnailing shape of
    resize_media with the codec real."""
    from mapreduce_model_spark.functions.rounding import rnd
    from mapreduce_model_spark.operators.multimodal import (
        decode_image_features,
        resize_image_real,
        sniff_format,
        synthetic_image_media,
    )

    media = synthetic_image_media(table(spark, sf_dir, "documents"))
    # resized feeds both the sniffer and the decode branch: checkpoint so the
    # encode→resize→re-encode chain runs ONCE, not once per branch (r11
    # plan audit: 5 MapInPandas nodes, i.e. build and resize duplicated).
    resized = resize_image_real(media, out_w=_RSZ_W, out_h=_RSZ_H).localCheckpoint(eager=False)
    fmts = resized.select(
        "doc_id", sniff_format(F.col("payload")).alias("fmt"),
        "out_width", "out_height",
    )
    feats = decode_image_features(resized)
    return feats.join(fmts, "doc_id").select(
        "doc_id",
        "fmt",
        F.col("out_width").cast("int").alias("out_width"),
        F.col("out_height").cast("int").alias("out_height"),
        "pix_sum_mod",
        rnd(F.col("mean_r"), 4).alias("mean_r"),
    )


@query(
    "multimodal_decode_jpeg",
    oracle="""
WITH base AS (
    SELECT doc_id,
           CAST(8 * ((n_chars % 3) + 1) AS INTEGER) AS w,
           CAST(8 * ((n_chars % 2) + 1) AS INTEGER) AS h
    FROM documents
), blk AS (
    SELECT doc_id, w, h,
           unnest(range(0, (w // 8) * (h // 8))) AS b
    FROM base
)
SELECT doc_id, 'jpeg' AS fmt, w AS width, h AS height,
       CAST((192 * sum((doc_id + b) % 256)) % 997 AS INTEGER) AS pix_sum_mod,
       round(avg((doc_id + b) % 256) + 1e-9, 4) AS mean_r
FROM blk GROUP BY doc_id, w, h
""",
)
def multimodal_decode_jpeg(spark, sf_dir):
    """REAL baseline-JPEG decode, hash-checked through the FULL lossy
    pipeline: every doc gets a grayscale SOF0 JPEG payload whose 8×8
    blocks are constant under a closed-form law (synthetic_jpeg_media),
    the pure-Python decoder (operators/jpeg.py: marker walk, canonical
    Huffman decode with byte unstuffing, DC prediction, dequantize +
    de-zigzag, exact float64 IDCT) parses the BYTES back to pixels, and
    the features come from the DECODED ARRAY. Constant blocks + the
    all-ones quantization table make JPEG lossless on exactly these
    inputs, so the oracle predicts every decoded feature from the pixel
    law without parsing bytes — a hash match proves the entropy-coded
    round trip is exact, the BMP/PPM falsifiability contract extended
    through a DCT codec. pix_sum covers all 3 replicated channels
    (192 = 3 channels × 64 pixels per block); mean_r is the gray mean.
    Format comes from the JVM magic-byte sniffer (FFD8FF → 'jpeg'), so
    the sniffer's JFIF recognition is hash-pinned too.

    Scale: one mapInPandas encode pass + one decode pass, features-only
    downstream (the binary column never shuffles). The pure-Python
    entropy coder is the correctness face — at 100 TB the same
    mapInPandas slot runs libjpeg-turbo via PIL with identical plumbing.
    Lossy-content accuracy (±2 on random images at unit quant) and the
    progressive/12-bit rejection paths are pinned in tests/test_jpeg.py."""
    from mapreduce_model_spark.functions.rounding import rnd
    from mapreduce_model_spark.operators.multimodal import (
        decode_image_features,
        sniff_format,
        synthetic_jpeg_media,
    )

    # checkpoint: two consumers (sniff + decode), one encode pass — see
    # multimodal_decode_real
    media = synthetic_jpeg_media(table(spark, sf_dir, "documents")).localCheckpoint(eager=False)
    fmts = media.select("doc_id", sniff_format(F.col("payload")).alias("fmt"))
    feats = decode_image_features(media)
    return feats.join(fmts, "doc_id").select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "pix_sum_mod",
        rnd(F.col("mean_r"), 4).alias("mean_r"),
    )


@query(
    "multimodal_decode_png",
    oracle="""
WITH base AS (
    SELECT doc_id,
           CAST(4 * ((n_chars % 3) + 1) AS INTEGER) AS w,
           CAST(4 * ((n_chars % 2) + 1) AS INTEGER) AS h
    FROM documents
), px AS (
    SELECT doc_id, w, h,
           unnest(range(0, w * h)) AS i
    FROM base
)
SELECT doc_id, 'png' AS fmt, w AS width, h AS height,
       CAST((3 * sum((doc_id + 3 * (i % w) + 7 * (i // w)) % 256)) % 997
            AS INTEGER) AS pix_sum_mod,
       round(avg((doc_id + 3 * (i % w) + 7 * (i // w)) % 256) + 1e-9, 4)
            AS mean_r
FROM px GROUP BY doc_id, w, h
""",
)
def multimodal_decode_png(spark, sf_dir):
    """REAL PNG decode, hash-checked end-to-end through the compression
    pipeline: every doc gets a greyscale PNG payload whose pixels follow
    a closed-form gradient law (synthetic_png_media), encoded by our own
    emitter with dynamic-Huffman deflate blocks and row-cycling filters
    (None/Sub/Up/Average/Paeth), and the pure-Python decoder
    (operators/png.py: chunk walk + CRC-32, RFC 1951 inflate incl.
    dynamic code-length alphabets, adler32, filter reconstruction)
    parses the BYTES back to pixels; features come from the DECODED
    ARRAY. PNG is lossless, so the oracle predicts every feature from
    the pixel law without parsing bytes — a hash match proves the
    inflate + unfilter round trip is exact. i runs row-major over w·h
    pixels: x = i % w, y = i // w; pix_sum covers the 3 replicated grey
    channels; mean_r is the grey mean. Format comes from the JVM
    magic-byte sniffer (\\x89PNG → 'png').

    Scale: identical shape to multimodal_decode_jpeg — one mapInPandas
    encode pass + one decode pass, features-only downstream, the binary
    column never shuffles. The pure-Python inflate is the correctness
    face; at 100 TB the same mapInPandas slot runs libpng/PIL with
    identical plumbing. Foreign-stream coverage (stdlib-zlib-compressed
    PNGs with real LZ77 matches, all five filters, color types
    0/2/3/4/6, CRC/adler corruption, Adam7/16-bit rejection) is pinned
    in tests/test_png.py."""
    from mapreduce_model_spark.functions.rounding import rnd
    from mapreduce_model_spark.operators.multimodal import (
        decode_image_features,
        sniff_format,
        synthetic_png_media,
    )

    # checkpoint: two consumers (sniff + decode), one encode pass — see
    # multimodal_decode_real
    media = synthetic_png_media(table(spark, sf_dir, "documents")).localCheckpoint(eager=False)
    fmts = media.select("doc_id", sniff_format(F.col("payload")).alias("fmt"))
    feats = decode_image_features(media)
    return feats.join(fmts, "doc_id").select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "pix_sum_mod",
        rnd(F.col("mean_r"), 4).alias("mean_r"),
    )


@query(
    "multimodal_decode_gif",
    oracle="""
WITH base AS (
    SELECT doc_id,
           CAST(4 * ((n_chars % 3) + 1) AS INTEGER) AS w,
           CAST(4 * ((n_chars % 2) + 1) AS INTEGER) AS h
    FROM documents
), px AS (
    SELECT doc_id, w, h,
           unnest(range(0, w * h)) AS i
    FROM base
)
SELECT doc_id, 'gif' AS fmt, w AS width, h AS height,
       CAST((3 * sum((doc_id + 5 * (i % w) + 11 * (i // w)) % 256)) % 997
            AS INTEGER) AS pix_sum_mod,
       round(avg((doc_id + 5 * (i % w) + 11 * (i // w)) % 256) + 1e-9, 4)
            AS mean_r
FROM px GROUP BY doc_id, w, h
""",
)
def multimodal_decode_gif(spark, sf_dir):
    """REAL GIF decode, hash-checked end-to-end through LZW: every doc
    gets a GIF payload whose palette indices follow a closed-form
    gradient law over an identity greyscale color table
    (synthetic_gif_media; odd doc_ids interlaced), and the pure-Python
    decoder (operators/gif.py: screen/image descriptors, sub-block
    reassembly, variable-width LZW with dictionary growth + KwKwK,
    four-pass de-interlace, palette resolution) parses the BYTES back to
    pixels; features come from the DECODED ARRAY. LZW is lossless and
    index == grey by construction, so the oracle predicts every feature
    from the index law without parsing bytes — with this, all three
    classic compression families (DCT entropy coding, DEFLATE, LZW) are
    hash-pinned through their registered decode queries. i runs
    row-major: x = i % w, y = i // w; pix_sum covers the 3 replicated
    grey channels. Format comes from the JVM magic-byte sniffer
    (GIF8 → 'gif').

    Scale: identical shape to the JPEG/PNG twins — one mapInPandas
    encode pass + one decode pass, features-only downstream, the binary
    column never shuffles; in production the same slot runs PIL. LZW
    spec vectors, 4096-reset coverage and rejection paths are pinned in
    tests/test_gif.py."""
    from mapreduce_model_spark.functions.rounding import rnd
    from mapreduce_model_spark.operators.multimodal import (
        decode_image_features,
        sniff_format,
        synthetic_gif_media,
    )

    # checkpoint: two consumers (sniff + decode), one encode pass — see
    # multimodal_decode_real
    media = synthetic_gif_media(table(spark, sf_dir, "documents")).localCheckpoint(eager=False)
    fmts = media.select("doc_id", sniff_format(F.col("payload")).alias("fmt"))
    feats = decode_image_features(media)
    return feats.join(fmts, "doc_id").select(
        "doc_id",
        "fmt",
        "width",
        "height",
        "pix_sum_mod",
        rnd(F.col("mean_r"), 4).alias("mean_r"),
    )
