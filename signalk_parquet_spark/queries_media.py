"""Media keep/drop end-product gate: image near-dup pairs → per-item
decisions, oracle-checked against a planted-duplicate corpus.

The text dedup family already verifies its keep policies against recursive
CTE oracles (dedup_keep_corpus); the media rungs were pytest-only because
DuckDB cannot hash image bytes. This gate closes that gap with a planted
plant the oracle CAN know: every ``doc_id // 4`` group shares one
pseudorandom picture, encoded as 24-bit BMP for even ids and grayscale PNG
for odd ids (functions/mediagen). The Spark side must genuinely decode two
codecs, dHash, band-join, transitively close the pair relation and apply
the keep-min-id policy to land exactly on the SQL's window-min answer —
any missed within-group pair (decode divergence, band bug) or false
cross-group pair (hash collapse) diverges from the oracle. Cross-group
dHashes are effectively uniform 64-bit draws (measured min Hamming 17 over
200 groups; verify radius is 3), so the plant is exact, not probabilistic.

Reference analogue: the reference has no media dedup at all — this is the
LLM-pipeline extension surface (image near-dup end product), mirroring
src/api.ts's dedup-decision shape for text.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .registry import load, register

_GROUP = 4  # doc_id // _GROUP = planted content group
#: evaluation-corpus bound, mirrored in every oracle (WHERE doc_id < cap):
#: covers sf0.001/sf0.01 entirely (500 docs) and 600 planted groups at
#: sf0.1 — the gate verifies pipeline correctness, not throughput (the
#: _NQ/_SEM_SLICE precedent; scaling is measured by the media_* ramps of
#: python tools/ramp.py, which ramp the SAME operators uncapped). NOT a
#: silent cap: stated here, in each docstring, and in the oracle text.
_CAP = 2400


def _synthetic_corpus(docs: DataFrame, gen_name: str) -> DataFrame:
    """(doc_id, payload) with the planted group structure — generated
    executor-side in one Arrow map stage (at corpus scale the payloads
    would arrive from the lake; the generator stands in for the scan).
    ``gen_name`` is a functions.mediagen generator, resolved INSIDE the
    batch fn so only the name is captured by the closure."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .functions import mediagen

        gen = getattr(mediagen, gen_name)
        for pdf in it:
            ids = [int(x) for x in pdf["doc_id"].tolist()]
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [gen(i, _GROUP) for i in ids]}
            )

    return docs.select("doc_id").mapInPandas(_batches, schema=out_schema)


def synthetic_image_corpus(docs: DataFrame) -> DataFrame:
    return _synthetic_corpus(docs, "payload_for")


_PLANT_ORACLE = f"""
    SELECT doc_id AS id,
           min(doc_id) OVER (PARTITION BY doc_id // {_GROUP}) AS cluster_rep,
           doc_id = min(doc_id) OVER (PARTITION BY doc_id // {_GROUP}) AS kept
    FROM documents
    WHERE doc_id < {_CAP}
    """


@register("image_dedup_decisions", _PLANT_ORACLE)
def image_dedup_decisions(spark: SparkSession, sf: str) -> DataFrame:
    """Image dHash pairs → keep/drop decisions (pairs_to_decisions), the
    media mirror of dedup_keep_corpus: decode (BMP + PNG) → dHash → band
    equality join → Hamming verify → connected components → keep min id
    per cluster. The oracle knows the planted truth analytically (see
    module docstring), so a green row certifies the WHOLE media pipeline
    end-to-end, not just the pair stream. Scale shape: generation/decode/
    hash is one Arrow map stage; candidates come from 16-bit band equality
    joins with the max_df stop cap — never all-pairs; the decision step
    reuses the size-adaptive connected_components."""
    from .operators.dedup import pairs_to_decisions
    from .operators.multimodal import image_neardup_pairs

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < _CAP)
    imgs = synthetic_image_corpus(docs)
    pairs = image_neardup_pairs(
        imgs, id_col="doc_id", payload_col="payload", max_hamming=3, bands=4
    )
    return pairs_to_decisions(docs.select("doc_id"), pairs, id_col="doc_id")


@register("audio_dedup_decisions", _PLANT_ORACLE)
def audio_dedup_decisions(spark: SparkSession, sf: str) -> DataFrame:
    """Audio Haitsma-Kalker pairs → keep/drop decisions — the audio leg of
    keep-policy parity. Planted variants are mono vs stereo-with-L=R WAVs
    of the same group noise: decode_wav_samples channel-averaging makes
    their fingerprints bit-identical (the mean of two equal floats is that
    float), so within-group pairs verify at BER 0 while cross-group noise
    shares zero (pos, sub-fingerprint) buckets (measured) and any stray
    bucket collision dies at the BER≈0.5 verify. Same analytic window-min
    oracle as the image gate. Scale shape: one Arrow stage for
    generate+STFT+fingerprint, (pos, sub) equality join with max_df stop
    caps, JVM-side BER verify, shared connected_components."""
    from .operators.audio import audio_neardup_pairs
    from .operators.dedup import pairs_to_decisions

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < _CAP)
    wavs = _synthetic_corpus(docs, "audio_payload_for")
    pairs = audio_neardup_pairs(
        wavs, id_col="doc_id", payload_col="payload", max_ber=0.35, min_hits=1
    )
    return pairs_to_decisions(docs.select("doc_id"), pairs, id_col="doc_id")


@register("video_dedup_decisions", _PLANT_ORACLE)
def video_dedup_decisions(spark: SparkSession, sf: str) -> DataFrame:
    """Video per-frame-banding pairs → keep/drop decisions — the video leg
    of keep-policy parity. Planted variants are animated GIFs of the same
    four group-noise frames: even ids with the identity gray palette, odd
    ids with BOTH the palette and index planes permuted per-doc, so the
    bytes (palette + LZW streams) differ item-to-item but the decoded RGB
    — and hence every frame dHash — is identical. A green row therefore
    certifies real LZW + palette decode, frame-INDEX alignment (not list
    position), banding, and the keep policy end-to-end against the same
    analytic window-min oracle."""
    from .operators.dedup import pairs_to_decisions
    from .operators.video import video_neardup_pairs

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < _CAP)
    gifs = _synthetic_corpus(docs, "video_payload_for")
    pairs = video_neardup_pairs(
        gifs, id_col="doc_id", payload_col="payload",
        max_frames=8, min_frac=0.5, max_hamming=3,
    )
    return pairs_to_decisions(docs.select("doc_id"), pairs, id_col="doc_id")


@register("image_dedup_decisions_phash", _PLANT_ORACLE)
def image_dedup_decisions_phash(spark: SparkSession, sf: str) -> DataFrame:
    """The SECOND image-hash lens (pHash — DCT low-frequency, the lens for
    flat-block content where dHash's adjacent-pixel ties flip, SCALE.md)
    driven to the same keep/drop end product against the same planted
    oracle: until r5 pHash had only pytest evidence while dHash had the
    gate. Within-group pHash is bit-identical across the BMP/PNG variants
    (lossless decode + integer luma), and cross-group noise measures
    >=16 bits apart at the Hamming-3 verify radius — the plant is exact
    for this lens too. Same plan shape as the dHash gate (one Arrow hash
    stage, band equality join, shared connected_components).

    Added post-window in r5 (the window was already committed); rotates
    into the r6 window per the CLAUDE.md policy; until then evidence is
    local parity + driver-sim at both SFs."""
    from .operators.dedup import pairs_to_decisions
    from .operators.multimodal import image_neardup_pairs

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < _CAP)
    imgs = synthetic_image_corpus(docs)
    pairs = image_neardup_pairs(
        imgs, id_col="doc_id", payload_col="payload",
        max_hamming=3, bands=4, method="phash",
    )
    return pairs_to_decisions(docs.select("doc_id"), pairs, id_col="doc_id")


_MJPEG_ORACLE = f"""
    WITH v AS (
      SELECT d.doc_id, f.i AS frame_idx,
             ((d.doc_id // {_GROUP})*73 + f.i*31 + b.i*17) % 251 + 2 AS val
      FROM (SELECT doc_id FROM documents WHERE doc_id < {_CAP}) d,
           range(4) f(i), range(12) b(i)
    )
    SELECT doc_id, frame_idx, 4 AS n_frames,
           CAST(sum(val) * 64 AS BIGINT) AS luma_sum,
           CAST(min(val) AS BIGINT) AS luma_min,
           CAST(max(val) AS BIGINT) AS luma_max
    FROM v GROUP BY 1, 2
    """


@register("mjpeg_frame_features", _MJPEG_ORACLE)
def mjpeg_frame_features(spark: SparkSession, sf: str) -> DataFrame:
    """MJPEG-in-AVI frame pipeline, driver-gated (r8 verdict Next #6 — the
    last declared-in-scope media format): AVI container walk ('movi'/'00dc'
    chunks, operators/video.iter_video_chunks) -> per-frame baseline JPEG
    entropy decode (operators/jpeg, Annex-K no-DHT MJPEG convention) ->
    exact-integer luma stats per frame. The planted corpus's 8x8-block
    values are SQL-expressible (mediagen.mjpeg_block_value), and the
    DC-only all-ones-quant encoding round-trips EXACTLY through the real
    decoder, so frame luma sums/min/max have analytic BIGINT truth — any
    container-walk slip (frame shift), Huffman/predictor bug, or IDCT
    deviation lands a hard hash mismatch. Scale shape: one Arrow map stage,
    frame sampling decodes only sampled frames (MJPEG frames are
    independent), no shuffle before the tiny stat rows."""
    from .operators.video import video_frame_luma_stats

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < _CAP)
    avis = _synthetic_corpus(docs, "mjpeg_payload_for")
    stats = video_frame_luma_stats(
        avis, id_col="doc_id", payload_col="payload", max_frames=8
    )
    return stats.select(
        F.col("id").alias("doc_id"), "frame_idx", "n_frames",
        "luma_sum", "luma_min", "luma_max",
    )
