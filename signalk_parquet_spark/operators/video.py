"""AVI (RIFF) container walking and MJPEG video frame decode — pure
Python + numpy, no codec library.

This extends the media family (operators/multimodal.py, operators/jpeg.py,
operators/raster.py) with REAL video-frame decode for the one video codec
whose frames are decodable with what this repo already has: MJPEG (each
frame chunk is a self-contained baseline JPEG; OpenDML AVI files may omit
the Huffman tables, which operators/jpeg.py now backfills with the T.81
Annex K defaults per the MJPEG convention). Compressed inter-frame codecs
(H.26x/VP9/AV1) remain codec-library territory and return None — callers
quarantine, never crash (the decode_png_pixels contract).

Everything here derives from the public AVI RIFF layout (MainAVIHeader /
AVISTREAMHEADER / BITMAPINFOHEADER as documented in the Microsoft
multimedia file-format specs and the OpenDML AVI extension): 'hdrl' holds
the headers, 'movi' holds '##dc'/'##db' frame chunks for stream ##,
word-aligned; 'rec ' LISTs may group interleaved chunks.

Scale note: container walking is cheap metadata work; JPEG entropy decode
is the cost and is per-frame independent, so frame sampling decodes ONLY
the sampled frames (unlike GIF, whose animation model forces sequential
compositing). Runs inside Arrow-batched map stages — one task per media
partition, no shuffle.
"""

from __future__ import annotations

import struct

#: fourccs that mean "each video chunk is a standalone JPEG"
_MJPEG_CODECS = {"MJPG", "MJPEG", "DMB1"}


def _iter_riff(buf: bytes, start: int, end: int):
    """Walk RIFF chunks in buf[start:end] → (fourcc, body_start, body_end).
    Chunks are word-aligned: an odd-sized body is followed by a pad byte."""
    i = start
    while i + 8 <= end:
        cid = buf[i : i + 4]
        (size,) = struct.unpack("<I", buf[i + 4 : i + 8])
        body = i + 8
        if body + size > end:
            return
        yield cid, body, body + size
        i = body + size + (size & 1)


def parse_avi_header(payload: bytes) -> dict | None:
    """Real AVI container decode of the header fields: dimensions, fps,
    frame count, codec fourcc, stream count, duration. Works for ANY
    codec (metadata never needs the codec); returns None for anything
    that isn't parseable AVI."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    try:
        out: dict = {
            "format": "avi", "width": None, "height": None, "fps": None,
            "n_frames": None, "codec": None, "n_streams": 0,
            "duration_s": None, "video_stream": None,
        }
        stream_no = -1
        for cid, body, cend in _iter_riff(payload, 12, len(payload)):
            if cid != b"LIST" or payload[body : body + 4] != b"hdrl":
                continue
            for c2, b2, e2 in _iter_riff(payload, body + 4, cend):
                if c2 == b"avih":
                    (us_per_frame, _maxbps, _pad, _flags, total, _init,
                     streams, _bufsz, w, h) = struct.unpack(
                        "<10I", payload[b2 : b2 + 40]
                    )
                    out["n_streams"] = streams
                    out["n_frames"] = total
                    out["width"], out["height"] = w, h
                    if us_per_frame:
                        out["fps"] = 1e6 / us_per_frame
                elif c2 == b"LIST" and payload[b2 : b2 + 4] == b"strl":
                    stream_no += 1
                    fcc_type = fcc_handler = compression = None
                    scale = rate = length = None
                    for c3, b3, _e3 in _iter_riff(payload, b2 + 4, e2):
                        if c3 == b"strh":
                            fcc_type = payload[b3 : b3 + 4]
                            fcc_handler = payload[b3 + 4 : b3 + 8]
                            scale, rate = struct.unpack(
                                "<II", payload[b3 + 20 : b3 + 28]
                            )
                            (length,) = struct.unpack(
                                "<I", payload[b3 + 32 : b3 + 36]
                            )
                        elif c3 == b"strf" and fcc_type == b"vids":
                            # BITMAPINFOHEADER: biCompression at offset 16
                            compression = payload[b3 + 16 : b3 + 20]
                    if fcc_type == b"vids" and out["video_stream"] is None:
                        out["video_stream"] = stream_no
                        codec = (
                            (compression or fcc_handler or b"")
                            .decode("ascii", "replace")
                            .strip("\x00 ")
                            .upper()
                        )
                        out["codec"] = codec or None
                        if rate and scale:
                            out["fps"] = rate / scale
                        if length:
                            out["n_frames"] = length
                            if rate and scale:
                                out["duration_s"] = length * scale / rate
            return out if out["n_streams"] else None
        return None
    except (struct.error, IndexError, ValueError):
        return None


def _movi_chunks(payload: bytes, start: int, end: int, want: set):
    for cid, body, cend in _iter_riff(payload, start, end):
        if cid == b"LIST":  # 'rec ' interleave groups
            yield from _movi_chunks(payload, body + 4, cend, want)
        elif cid in want:
            # zero-length chunks (dropped-frame placeholders) are yielded
            # too: skipping them would SHIFT every later frame index and
            # misalign clips against their placeholder-free twins; the
            # decode step quarantines them per-chunk instead
            yield payload[body:cend]


def iter_video_chunks(payload: bytes, stream_no: int):
    """Yield the raw frame chunks ('##dc'/'##db') of one video stream, in
    container order, descending into 'rec ' interleave groups. The walk
    honors the RIFF header's declared size: bytes appended past the
    container's end (broken muxers, polyglot files) must not parse as
    phantom top-level chunks."""
    want = {b"%02ddb" % stream_no, b"%02ddc" % stream_no}
    end = len(payload)
    if len(payload) >= 8:
        (declared,) = struct.unpack("<I", payload[4:8])
        end = min(end, 8 + declared)
    for cid, body, cend in _iter_riff(payload, 12, end):
        if cid == b"LIST" and payload[body : body + 4] == b"movi":
            yield from _movi_chunks(payload, body + 4, cend, want)


def decode_avi_frames(
    payload: bytes, max_frames: int = 64, every_n: int = 1
):
    """REAL video frame decode for MJPEG-in-AVI: every ``every_n``-th frame
    chunk of the first video stream is decoded as a standalone JPEG, up to
    ``max_frames`` sampled frames. Frames are independent (no inter-frame
    prediction in MJPEG), so only the SAMPLED frames pay entropy-decode
    cost; the rest are skipped at container level.

    Returns ``(n_frames_total, [(frame_idx, (H, W, C) uint8 array), ...])``
    with C=1 grayscale or C=3 RGB, or None outside coverage (not AVI, no
    video stream, or a non-MJPEG codec)."""
    meta = parse_avi_header(payload)
    if meta is None or meta["video_stream"] is None:
        return None
    if (meta["codec"] or "") not in _MJPEG_CODECS:
        return None
    from .jpeg import decode_jpeg_pixels

    frames = []
    total = 0
    for idx, chunk in enumerate(iter_video_chunks(payload, meta["video_stream"])):
        total += 1
        if idx % every_n or len(frames) >= max_frames:
            continue
        px = decode_jpeg_pixels(chunk)
        if px is not None:
            frames.append((idx, px))
    return (total, frames) if frames else None


def video_frame_hashes(df, id_col: str = "media_id", payload_col: str = "payload",
                       every_n: int = 1, max_frames: int = 16):
    """(id, frame_idx, h) rows: the 64-bit dHash of each sampled decoded
    frame (animated GIF or MJPEG-AVI — operators.multimodal._sampled_
    frames dispatch). Undecodable payloads yield no rows."""
    from pyspark.sql import types as T

    from .multimodal import _frame_rows, dhash_pixels

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("h", T.LongType()),
        ]
    )
    return _frame_rows(
        df, id_col, payload_col, every_n, max_frames, out_schema,
        lambda mid, idx, n_frames, px: (mid, idx, dhash_pixels(px)),
    )


def video_neardup_pairs(
    df,
    id_col: str = "media_id",
    payload_col: str = "payload",
    every_n: int = 1,
    max_frames: int = 16,
    min_frac: float = 0.5,
    max_hamming: int = 3,
    max_df: int | None = 1000,
    min_aligned: int = 2,
):
    """Distributed video near-dup — the VIDEO rung of the modality-complete
    dedup ladder (text/embeddings/audio/images/this): clips match when at
    least ``min_frac`` of their aligned sampled frames match perceptually
    (per-frame dHash within ``max_hamming``). Candidates come from an
    equality join on (frame_idx, 16-bit hash band); the verify then
    scores ALL frames present in BOTH clips JVM-side via a per-frame
    equi-join on frame_idx — no second decode, and alignment survives an
    undecodable frame in one clip (a positional zip would shift every
    subsequent frame and kill true matches).

    Returns (id_a, id_b, n_aligned, n_match, frac). Never all-pairs; both
    shuffles key on the banded frame hash or the pair."""
    from pyspark.sql import functions as F

    fh = video_frame_hashes(df, id_col, payload_col, every_n, max_frames)
    fh.persist().count()  # materialize before the self-join (CLAUDE.md)
    # candidates: share a 16-bit BAND of some aligned frame's hash — the
    # image_neardup_pairs pigeonhole (4 bands cover Hamming <= 3): any
    # frame pair the verify will count as matching is GUARANTEED to meet
    # in at least one band, so candidate recall at max_hamming <= 3 is
    # exact (a re-encode rarely keeps any frame hash bit-identical)
    band_rows = fh.select(
        "id",
        "frame_idx",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band_idx"),
                    F.shiftrightunsigned("h", 16 * j)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("band_val"),
                )
                for j in range(4)
            ])
        ).alias("b"),
    ).select("id", "frame_idx", "b.band_idx", "b.band_val")
    if max_df is not None:
        # blank/letterboxed frames all hash alike: drop ubiquitous
        # (frame_idx, band, value) buckets before the self-join (the
        # winnowing stop-fingerprint cap — no pair signal in them anyway)
        hot = (
            band_rows.groupBy("frame_idx", "band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("frame_idx", "band_idx", "band_val")
        )
        band_rows = band_rows.join(
            F.broadcast(hot), ["frame_idx", "band_idx", "band_val"], "left_anti"
        )
    a, b = band_rows.alias("a"), band_rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.frame_idx") == F.col("b.frame_idx"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    fa = fh.select(F.col("id").alias("id_a"), "frame_idx", F.col("h").alias("h_a"))
    fb = fh.select(F.col("id").alias("id_b"), "frame_idx", F.col("h").alias("h_b"))
    per_frame = cand.join(fa, "id_a").join(fb, ["id_b", "frame_idx"])
    matched = (
        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))) <= max_hamming
    ).cast("long")
    return (
        per_frame.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_aligned"),
            F.sum(matched).alias("n_match"),
        )
        .withColumn("frac", F.col("n_match") / F.col("n_aligned"))
        # min_aligned floor: a mostly-corrupt clip co-decodable with
        # another on ONE frame would otherwise reach frac=1.0 from a
        # single aligned match — too little evidence to call a dup
        .filter((F.col("n_aligned") >= min_aligned) & (F.col("frac") >= min_frac))
        .select("id_a", "id_b", "n_aligned", "n_match", "frac")
    )


def video_frame_luma_stats(
    df,
    id_col: str = "media_id",
    payload_col: str = "payload",
    every_n: int = 1,
    max_frames: int = 16,
):
    """Exact-INTEGER per-frame luma statistics — the oracle-able twin of
    multimodal.frame_sample_features: where that operator emits float
    mean/std over a box-resized thumb (production features), this one emits
    (luma_sum, luma_min, luma_max) over the RAW decoded frame as BIGINTs,
    so a planted corpus has analytic SQL truth with zero float risk
    (the micro_avg lesson applied to media: never value-hash a float you
    can state as an integer). Grayscale frames use the channel directly;
    RGB frames use the integer milli-weight luma 299R + 587G + 114B
    (BT.601 x1000 — exact int64 arithmetic).

    One multimodal._frame_rows map stage (per-frame JPEG/GIF decode);
    undecodable payloads yield no rows."""
    from pyspark.sql import types as T

    from .multimodal import _frame_rows

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("luma_sum", T.LongType()),
            T.StructField("luma_min", T.LongType()),
            T.StructField("luma_max", T.LongType()),
        ]
    )

    def row(mid, idx, n_frames, px):
        import numpy as np

        a = px.astype(np.int64)
        if a.ndim == 3 and a.shape[2] >= 3:
            luma = 299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]
        else:
            luma = a.reshape(a.shape[0], a.shape[1], -1)[:, :, 0]
        return (mid, idx, n_frames, int(luma.sum()), int(luma.min()), int(luma.max()))

    return _frame_rows(df, id_col, payload_col, every_n, max_frames, out_schema, row)
