"""Multimodal column handling (extension scope, SURVEY.md §7):
image/audio/video as opaque BINARY payloads + typed metadata, with
decode / feature-extract / resize implemented as
Arrow-batched Pandas functions over ``mapInPandas``.

Two REAL stdlib codecs carry the pixel path: a full P6 PPM parser
(header grammar incl. comments, buffer validation) and a PNG
encoder/decoder (8-bit truecolor, chunk CRC32 validation, zlib
inflate, scanline defiltering for filter types 0-4). Only formats
that genuinely need an external library (JPEG/WebP) raise
NotImplementedError behind an import-try. Everything Spark-side is
real and tested: the binary column construction, the mapInPandas batch
iterator signature, the output schema, and the partition-preserving
plan (map-only — no shuffle at any scale).

The fixtures carry no binary columns, so payloads are synthesized from
`documents.text` (utf-8 bytes) — which also makes the whole pipeline
DuckDB-oracle-checkable: every decoded value is pure arithmetic on
the text bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from propensity_spark.io import load_table


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Serialize raw RGB bytes as a binary P6 PPM (netpbm spec:
    magic, ASCII dims/maxval separated by whitespace, then the raw
    width*height*3 pixel buffer)."""
    if len(pixels) != 3 * width * height:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes; {width}x{height} RGB needs "
            f"{3 * width * height}"
        )
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real stdlib P6 PPM parser -> (width, height, maxval, pixels).

    Handles the full header grammar (whitespace runs, `#` comments)
    and validates the pixel buffer length — this is the genuine byte
    path, not the arithmetic stub."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6 magic missing)")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header")
        vals.append(int(payload[start:pos]))
    width, height, maxval = vals
    pos += 1  # exactly one whitespace byte separates maxval from pixels
    pixels = payload[pos : pos + 3 * width * height]
    if len(pixels) != 3 * width * height:
        raise ValueError("truncated PPM pixel buffer")
    return width, height, maxval, pixels


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG spec Paeth predictor (left, up, up-left)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(width: int, height: int, pixels: bytes) -> bytes:
    """Real stdlib PNG encoder: 8-bit truecolor (color type 2), one
    IDAT, zlib level 0 (stored deflate blocks — DETERMINISTIC length,
    so a byte-arithmetic oracle can pin the payload size: raw scanline
    bytes h*(1+3w) compress to exactly raw+11 below one stored block).
    Each scanline is filtered with filter type (row % 5), so a decoder
    must genuinely reverse None/Sub/Up/Average/Paeth to recover the
    buffer — round-trip equality proves the defilter math."""
    import struct
    import zlib

    if len(pixels) != 3 * width * height:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes; {width}x{height} RGB needs "
            f"{3 * width * height}"
        )
    stride = 3 * width
    raw_len = height * (1 + stride)
    if raw_len >= 65535:
        # Larger images need the multi-stored-block length formula in the
        # oracle too — fail loudly rather than silently breaking the pin.
        raise ValueError(
            f"filtered stream is {raw_len} bytes (>= one stored deflate "
            "block): extend encode_png AND the media_pipeline oracle's "
            "byte_len formula together"
        )
    # Vectorized per scanline: every filter is a pure function of the
    # CURRENT raw line and the PRIOR raw line (no sequential dependency
    # on the encode side), so each row is one numpy expression — the
    # per-byte Python loop cost 6x on the sf0.1 bench.
    import numpy as np

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, stride).astype(np.int16)
    left = np.zeros_like(img)
    left[:, 3:] = img[:, :-3]
    up = np.zeros_like(img)
    up[1:] = img[:-1]
    ul = np.zeros_like(img)
    ul[1:, 3:] = img[:-1, :-3]
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    paeth = np.where(
        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
    )
    preds = (np.zeros_like(img), left, up, (left + up) >> 1, paeth)
    filtered = bytearray(raw_len)
    for row in range(height):
        f = row % 5
        pos = row * (1 + stride)
        filtered[pos] = f
        filtered[pos + 1 : pos + 1 + stride] = (
            (img[row] - preds[f][row]) & 0xFF
        ).astype(np.uint8).tobytes()
    comp = zlib.compress(bytes(filtered), 0)
    if len(comp) != raw_len + 11:  # the invariant the oracle relies on
        raise AssertionError(
            f"stored-deflate length {len(comp)} != raw+11 ({raw_len + 11})"
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", comp)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real stdlib PNG decoder -> (width, height, maxval, pixels).

    Critical chunks only (IHDR/IDAT/IEND, ancillary chunks skipped),
    per-chunk CRC32 validation, zlib inflate of the concatenated IDAT
    stream, and full scanline defiltering for filter types 0-4 —
    8-bit truecolor, non-interlaced (the honest subset; other color
    types/depths raise)."""
    import struct
    import zlib

    if not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG (signature missing)")
    pos, width, height, idat = 8, None, None, bytearray()
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk body")
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise NotImplementedError(
                    "only 8-bit truecolor non-interlaced PNG is supported "
                    f"(got depth={depth} color={ctype} interlace={interlace})"
                )
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = 3 * width
    if len(raw) != height * (1 + stride):
        raise ValueError("PNG filtered stream length mismatch")
    # Defilter vectorized per scanline: None/Up are one numpy expression,
    # Sub is a per-channel running sum (cumsum mod 256 — the recurrence
    # recon[x] = filt[x] + recon[x-3] telescopes), Average/Paeth keep
    # their inherent left-to-right dependency but step per PIXEL
    # (3-wide vector ops), not per byte.
    import numpy as np

    out = np.zeros((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, 1 + stride)
    for row in range(height):
        f = int(arr[row, 0])
        line = arr[row, 1:].astype(np.int32)
        if f == 0:
            recon = line
        elif f == 1:
            recon = np.cumsum(line.reshape(-1, 3), axis=0).reshape(-1) % 256
        elif f == 2:
            recon = (line + prior) % 256
        elif f in (3, 4):
            # Left-to-right recurrence: plain int math beats 3-element
            # numpy ops by ~10x (array-creation overhead dominates at
            # width 3).
            lf = line.tolist()
            pr = prior.tolist()
            rec = [0] * stride
            for x in range(stride):
                a = rec[x - 3] if x >= 3 else 0
                b = pr[x]
                if f == 3:
                    px = (a + b) >> 1
                else:
                    c = pr[x - 3] if x >= 3 else 0
                    px = _paeth(a, b, c)
                rec[x] = (lf[x] + px) & 0xFF
            recon = np.asarray(rec, dtype=np.int32)
        else:
            raise ValueError(f"PNG filter type {f} is invalid")
        out[row] = recon
        prior = recon
    return width, height, 255, out.tobytes()


def resize_rgb_nearest(pixels: bytes, w: int, h: int, out_w: int, out_h: int) -> bytes:
    """Real nearest-neighbor resample of a raw RGB buffer (the classic
    floor(target*src/out) index map), vectorized with numpy."""
    import numpy as np

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3)
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return img[rows][:, cols].tobytes()


def decode_image(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an image payload -> (width, height, maxval, pixels).
    PPM and PNG decode with the real stdlib parsers above; any other
    format (JPEG, WebP, ...) raises NotImplementedError."""
    if payload.startswith(b"P6"):
        return decode_ppm(payload)
    if payload.startswith(b"\x89PNG"):
        return decode_png(payload)
    raise NotImplementedError(
        f"image decoding supports PPM (P6) and PNG only; got signature {payload[:4]!r}"
    )


def with_media_columns(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary payload + typed metadata columns —
    the multimodal column convention (payload BINARY, mime STRING)."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.when(F.col("source") == "web", "image/jpeg")
        .when(F.col("source") == "api", "audio/wav")
        .otherwise("video/mp4")
        .alias("mime"),
    )


# Synthetic PPM geometry: w in [4, 63], h in [4, 47] keeps per-doc pixel
# volume bounded (<9 KiB) while exercising non-square dims and multi-digit
# header widths. RESIZE_SMALL is the thumbnail edge for the resize leg.
PPM_W_MOD, PPM_H_MOD = 60, 44
RESIZE_SMALL = 8
PPM_META_SCHEMA = (
    "doc_id bigint, byte_len bigint, width int, height int, "
    "px_sum bigint, r8_sum bigint, n_frames int"
)


def synth_pixels(text_bytes: bytes) -> tuple[int, int, bytes]:
    """Deterministic raw RGB buffer from a document's UTF-8 bytes:
    dims derive from the byte length, the pixel buffer is the text
    bytes tiled to fill width*height*3 — so a DuckDB oracle can verify
    the DECODED pixels with pure byte arithmetic, whatever container
    format (PPM or PNG) wraps them."""
    n_bytes = len(text_bytes)
    width = 4 + n_bytes % PPM_W_MOD
    height = 4 + (n_bytes * 7) % PPM_H_MOD
    need = 3 * width * height
    if n_bytes == 0:
        pixels = b"\x00" * need
    else:
        pixels = (text_bytes * (need // n_bytes + 1))[:need]
    return width, height, pixels


def synth_ppm_payload(text_bytes: bytes) -> bytes:
    """Deterministic real PPM payload (see synth_pixels)."""
    return encode_ppm(*synth_pixels(text_bytes))


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal path on REAL pixel bytes, one gate entry:
    synthesize a genuine binary P6 PPM per document -> parse it with
    the real decoder (header grammar + pixel-buffer validation) ->
    nearest-neighbor resize to an 8x8 thumbnail -> re-encode/re-decode
    the thumbnail -> emit decoded width/height and pixel checksums of
    BOTH buffers, then the frame-sampling explode. One Arrow-batched
    mapInPandas over the documents scan — map-only end to end, no
    shuffle at any scale. The DuckDB oracle re-derives every decoded
    value from byte arithmetic over the same parquet, so the pixel
    path (encode -> decode -> resample -> decode) is value-checked,
    not just shape-checked."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # empty docs are excluded on BOTH sides: the oracle's byte CTE has
    # no rows for them (the fixtures ship none; the guard is for scale)
    docs = docs.where(F.octet_length("text") > 0)
    # Decouple decode parallelism from scan splits: the codec work is
    # ~10^3x the payload bytes, so a small corpus in one parquet file
    # would otherwise pin the whole pixel path to ONE task (observed:
    # 7s single-task at sf0.1 vs sub-second spread). The shuffle moves
    # only (doc_id, text) — negligible next to the per-row compute at
    # every scale; at 100 TB the scan already has enough splits and
    # this becomes a cheap rebalance.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)

    def pipeline(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "byte_len", "width", "height", "px_sum", "r8_sum", "n_frames"
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                tb = text.encode("utf-8")
                # odd doc_ids take the PNG leg: zlib container, CRC'd
                # chunks, per-row filters 0-4 that the decoder must
                # genuinely reverse; even doc_ids take the PPM leg.
                # Same deterministic pixel buffer either way, so the
                # oracle's pixel arithmetic covers both paths and only
                # byte_len/mime differ by container.
                if doc_id % 2 == 1:
                    payload = encode_png(*synth_pixels(tb))
                else:
                    payload = synth_ppm_payload(tb)
                w, h, _maxval, px = decode_image(payload)  # REAL parse
                small = resize_rgb_nearest(px, w, h, RESIZE_SMALL, RESIZE_SMALL)
                _sw, _sh, _sm, spx = decode_ppm(
                    encode_ppm(RESIZE_SMALL, RESIZE_SMALL, small)
                )
                out["doc_id"].append(doc_id)
                out["byte_len"].append(len(payload))
                out["width"].append(w)
                out["height"].append(h)
                out["px_sum"].append(int(np.frombuffer(px, np.uint8).sum()))
                out["r8_sum"].append(int(np.frombuffer(spx, np.uint8).sum()))
                out["n_frames"].append(1 + len(tb) % 24)
            yield pd.DataFrame(out)

    meta = docs.mapInPandas(pipeline, schema=PPM_META_SCHEMA)
    return meta.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 1, "image/png")
        .otherwise("image/x-portable-pixmap")
        .alias("mime"),
        "byte_len",
        "width",
        "height",
        "px_sum",
        "r8_sum",
        "n_frames",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(5))).alias("frame_idx"),
    )


def resize_media(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: (doc_id, payload, mime) -> same schema plus the
    target dims, payload rewritten by the (stubbed) resampler. The real
    implementation decodes, resamples, re-encodes inside the same
    mapInPandas worker (PIL/libav absent in this container — the stub
    truncates/pads bytes to a deterministic target length so byte_len
    tracks the requested resolution). Map-only; Arrow batch size bounds
    executor memory exactly as in the metadata extractor."""
    target_len = width * height // 8  # stub: fake compressed size

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                (p[:target_len] if len(p) >= target_len else p.ljust(target_len, b"\0"))
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "mime": pdf["mime"],
                    "width": width,
                    "height": height,
                }
            )

    return media.mapInPandas(
        _resize,
        schema="doc_id bigint, payload binary, mime string, width int, height int",
    )


EMB_DIM = 16


def _extract_embeddings(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: payload bytes -> L2-normalized byte-histogram
    embedding (EMB_DIM buckets over byte values). Stands in for a real
    image/audio encoder (CLIP/wav2vec): deterministic, vectorized with
    numpy over the whole Arrow batch, and exactly the array<float>
    shape a learned encoder would emit — so the downstream ANN/dedup
    operators run unchanged when a real model replaces it."""
    import numpy as np

    for pdf in batches:
        mats = np.zeros((len(pdf), EMB_DIM), dtype="float32")
        for i, payload in enumerate(pdf["payload"]):  # per-doc histogram
            arr = np.frombuffer(payload, dtype=np.uint8)
            hist = np.bincount(arr // (256 // EMB_DIM), minlength=EMB_DIM)
            mats[i] = hist
        norms = np.linalg.norm(mats, axis=1, keepdims=True)
        mats = mats / np.where(norms == 0, 1.0, norms)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": list(mats)})


def extract_embeddings(media: DataFrame) -> DataFrame:
    """The multimodal -> vector bridge: (doc_id, payload) -> (doc_id,
    embedding array<float>) via Arrow-batched mapInPandas. Map-only —
    no shuffle at any scale; executor memory is bounded by the Arrow
    batch size. The output is join-compatible with every operator in
    `vector/similarity.py` (brute-force top-k, LSH buckets, IVF,
    quantization)."""
    return media.mapInPandas(
        _extract_embeddings, schema="doc_id bigint, embedding array<float>"
    )


ORACLES = {
    # Byte-arithmetic twin of the REAL pixel path: the engine builds a
    # genuine P6 PPM per document, parses it back, NN-resizes, and
    # checksums decoded buffers; the oracle re-derives each decoded
    # value from the same parquet bytes. Pixel byte j of a w*h image is
    # text_byte[j % L] (the synth tiles the text), so
    #   px_sum = (3wh // L) * sum(bytes) + prefix_sum(3wh % L)
    # and the 8x8 nearest-neighbor thumbnail sum joins each target
    # (row, col, channel) back to its source byte via the floor index
    # map — exactly what resize_rgb_nearest computes on real buffers.
    "media_pipeline": f"""
        WITH b AS (
            SELECT doc_id, i,
                   (strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*i-1, 1)) - 1) * 16
                   + strpos('0123456789ABCDEF', substr(hex(encode(text)), 2*i, 1)) - 1 AS bv
            FROM (SELECT doc_id, text,
                         unnest(range(1, octet_length(encode(text)) + 1)) AS i
                  FROM documents) t
        ),
        agg AS (
            SELECT doc_id, count(*) AS L, CAST(sum(bv) AS BIGINT) AS S
            FROM b GROUP BY doc_id
        ),
        pref AS (
            SELECT doc_id, i,
                   CAST(sum(bv) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT) AS ps
            FROM b
        ),
        meta AS (
            SELECT doc_id, L, S,
                   4 + L % {PPM_W_MOD} AS w,
                   4 + (L * 7) % {PPM_H_MOD} AS h,
                   3 * (4 + L % {PPM_W_MOD}) * (4 + (L * 7) % {PPM_H_MOD}) AS n,
                   1 + L % 24 AS n_frames
            FROM agg
        ),
        pxs AS (
            SELECT m.doc_id,
                   (m.n // m.L) * m.S + COALESCE(p.ps, 0) AS px_sum
            FROM meta m
            LEFT JOIN pref p ON p.doc_id = m.doc_id AND p.i = m.n % m.L
        ),
        r8 AS (
            SELECT m.doc_id, CAST(sum(bb.bv) AS BIGINT) AS r8_sum
            FROM meta m
            CROSS JOIN (SELECT unnest(range(0, {RESIZE_SMALL})) AS r) rr
            CROSS JOIN (SELECT unnest(range(0, {RESIZE_SMALL})) AS c) cc
            CROSS JOIN (SELECT unnest(range(0, 3)) AS ch) chh
            JOIN b bb ON bb.doc_id = m.doc_id
               AND bb.i = (((rr.r * m.h) // {RESIZE_SMALL} * m.w
                            + (cc.c * m.w) // {RESIZE_SMALL}) * 3 + chh.ch) % m.L + 1
            GROUP BY m.doc_id
        )
        SELECT m.doc_id,
               CASE WHEN m.doc_id % 2 = 1 THEN 'image/png'
                    ELSE 'image/x-portable-pixmap' END AS mime,
               -- PPM: header "P6", LF, w, space, h, LF, "255", LF = 9
               -- fixed bytes + the dims' digit counts + the raw buffer.
               -- PNG: 8 sig + 25 IHDR + 12 IEND + 12 IDAT framing + the
               -- zlib stored stream (2 hdr + 5 block + 4 adler) around
               -- h*(1+3w) filtered bytes = 68 + h + n exactly (encoder
               -- asserts the single-stored-block invariant).
               CASE WHEN m.doc_id % 2 = 1
                    THEN CAST(68 + m.h + m.n AS BIGINT)
                    ELSE CAST(9 + length(CAST(m.w AS VARCHAR))
                              + length(CAST(m.h AS VARCHAR)) + m.n AS BIGINT)
               END AS byte_len,
               CAST(m.w AS INT) AS width, CAST(m.h AS INT) AS height,
               p.px_sum, r.r8_sum,
               CAST(m.n_frames AS INT) AS n_frames,
               CAST(unnest(range(0, m.n_frames, 5)) AS INT) AS frame_idx
        FROM meta m
        JOIN pxs p USING (doc_id)
        JOIN r8 r USING (doc_id)
    """,
}

QUERIES = {
    "media_pipeline": q_media_pipeline,
}


def cogroup_align(events: DataFrame, features: DataFrame) -> DataFrame:
    """The cogrouped-pandas operator surface
    (`groupBy.cogroup.applyInPandas`): per-key alignment of two frames
    in one Arrow-batched worker — the shape for custom per-entity
    merges no built-in join expresses (pandas merge_asof, per-user
    sessionized reconciliation, ...). Demonstrated with a per-user
    summary either side could not compute alone: event count + value
    sum from the left, feature-row count from the right. Both sides
    shuffle once on the key; worker memory holds ONE key's rows from
    each side, not a partition."""
    import pandas as pd

    def align(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        uid = (left["user_id"] if len(left) else right["user_id"]).iloc[0]
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [len(left)],
                "sum_value": [float(left["value"].sum()) if len(left) else 0.0],
                "n_feature_rows": [len(right)],
            }
        )

    return (
        events.groupBy("user_id")
        .cogroup(features.groupBy("user_id"))
        .applyInPandas(
            align,
            schema="user_id bigint, n_events bigint, sum_value double, n_feature_rows bigint",
        )
    )


# ---------------------------------------------------------------------------
# media_bridge: ONE tagged-union gate entry for the multimodal bridge
# surface. Normalized (section, k1 BIGINT, k2 BIGINT, n BIGINT, v DOUBLE):
#   hist    — (doc_id, bucket, count, 0.0): integer byte-histogram counts
#             RECOVERED from the real `extract_embeddings` output. The
#             embedding is L2-normalized, but sum(counts) = byte_len, so
#             norm = byte_len / sum(emb) and cnt_i = round(emb_i * norm)
#             — an exact-integer check of the Arrow mapInPandas encoder
#             (float32 error ~1e-4 per count, far below the rounding
#             threshold).
#   resize  — (doc_id, new_byte_len, first_byte, 0.0): resize_media
#             plumbing; the stub pads/truncates to width*height/8 bytes
#             and must preserve the leading payload bytes.
#   cogroup — (user_id, n_feature_rows, n_events, sum_value): the
#             cogrouped applyInPandas per-key merge of events with a
#             click-derived feature frame.
# ---------------------------------------------------------------------------

RESIZE_W, RESIZE_H = 64, 32  # stub target length = 64*32/8 = 256 bytes


def q_media_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # r09: a scan floor before the two mapInPandas branches was tried
    # and measured SLOWER (noop 3.49 -> 4.02 s, min-of-4 interleaved):
    # spinning 32 Python workers per branch costs more than the serial
    # decode of these small payloads. See OPTIMIZATION_r09.md.
    docs = load_table(spark, sf_dir, "documents")
    media = with_media_columns(docs)

    emb = extract_embeddings(media)
    exploded = emb.select("doc_id", F.posexplode("embedding").alias("bucket", "val"))
    # BYTES, not characters: the encoder histograms the UTF-8 payload,
    # so the recovery scale must be octet_length — F.length (chars)
    # would desync the two on any non-ASCII document.
    lens = docs.select("doc_id", F.octet_length("text").cast("double").alias("byte_len"))
    hist = (
        exploded.withColumn("s", F.sum("val").over(Window.partitionBy("doc_id")))
        .join(F.broadcast(lens), "doc_id")
        .withColumn(
            "cnt",
            F.when(F.col("s") > 0, F.round(F.col("val") * F.col("byte_len") / F.col("s")))
            .otherwise(0)
            .cast("bigint"),
        )
        .where(F.col("cnt") > 0)
        .select(
            F.lit("hist").alias("section"),
            F.col("doc_id").alias("k1"),
            F.col("bucket").cast("bigint").alias("k2"),
            F.col("cnt").alias("n"),
            F.lit(0.0).alias("v"),
        )
    )

    resized = resize_media(media, RESIZE_W, RESIZE_H).select(
        F.lit("resize").alias("section"),
        F.col("doc_id").alias("k1"),
        F.octet_length("payload").cast("bigint").alias("k2"),
        # First payload BYTE as an integer (hex round-trip): casting the
        # binary to string and taking ascii() would decode UTF-8 — and
        # the 256-byte truncation can split a multi-byte character,
        # making that cast undefined on non-ASCII payloads.
        F.expr("conv(hex(substring(payload, 1, 1)), 16, 10)")
        .cast("bigint")
        .alias("n"),
        F.lit(0.0).alias("v"),
    )

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select("user_id", "event_id")
    cg = cogroup_align(events.select("user_id", "value"), clicks).select(
        F.lit("cogroup").alias("section"),
        F.col("user_id").alias("k1"),
        F.col("n_feature_rows").alias("k2"),
        F.col("n_events").alias("n"),
        F.round(F.col("sum_value") + 1e-6, 2).alias("v"),
    )
    return hist.unionByName(resized).unionByName(cg)


ORACLES["media_bridge"] = f"""
    -- Byte-level twin of the engine: every section reads the UTF-8
    -- payload bytes via hex() nibbles, never characters, so non-ASCII
    -- documents hash identically on both sides. Byte i's high nibble
    -- (= byte // 16, the EMB_DIM=16 bucket) sits at hex position 2i-1.
    WITH bytes AS (
        SELECT doc_id,
               strpos('0123456789ABCDEF', substr(hex(encode(text)), 2 * i - 1, 1))
                   - 1 AS bucket
        FROM (SELECT doc_id, text,
                     unnest(range(1, octet_length(encode(text)) + 1)) AS i
              FROM documents) t
    )
    SELECT 'hist' AS section, doc_id AS k1, CAST(bucket AS BIGINT) AS k2,
           count(*) AS n, 0.0 AS v
    FROM bytes GROUP BY doc_id, bucket
    UNION ALL
    SELECT 'resize', doc_id, {RESIZE_W * RESIZE_H // 8},
           CASE WHEN octet_length(encode(text)) = 0 THEN 0
                ELSE (strpos('0123456789ABCDEF', substr(hex(encode(text)), 1, 1)) - 1)
                     * 16
                     + strpos('0123456789ABCDEF', substr(hex(encode(text)), 2, 1)) - 1
           END,
           0.0
    FROM documents
    UNION ALL
    SELECT 'cogroup', user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT),
           count(*), round(1e-6 + sum(value), 2)
    FROM events GROUP BY user_id
"""

QUERIES["media_bridge"] = q_media_bridge
