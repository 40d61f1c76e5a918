"""Measured scale ramp for the media operators (SCALE.md source).

- frame_sample_features: N MJPEG-AVI payloads (one encoder-built clip,
  replicated with distinct ids — per-payload decode work is identical),
  wall vs N. Expect ~linear: one Arrow map stage, no shuffle.
- audio_neardup_pairs: N executor-generated WAV clips (seeded sine-mix
  synthesis inside mapInPandas — no driver materialization), every 10th
  clip a noisy copy of an earlier one. Wall + found pairs vs N.

Each rung is its own ramp: media_frames, media_mjpeg, media_audio,
media_image, media_video, media_decisions, and the streaming rungs
media_stream_audio, media_stream_image, media_stream_video.

Run: python tools/ramp.py media_audio
"""

import io
import os
import shutil
import tempfile
import wave
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from signalk_parquet_spark.functions import mediagen
from signalk_parquet_spark.operators import audio, multimodal, video
from signalk_parquet_spark.operators.dedup import pairs_to_decisions
from signalk_parquet_spark.streaming import stateful
from tools.ramps import Ramp

#: payloads per micro-batch file of the streaming rungs
PER_BATCH = 60


def _wav_bytes(x: np.ndarray, rate: int = 8000) -> bytes:
    pcm = np.clip(np.round(x * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def _clip(seed: int, n: int = 8000) -> bytes:
    """Deterministic clip: seeds ending in 9 are noisy copies of seed-9."""
    base_seed = seed - 9 if seed % 10 == 9 else seed
    rng = np.random.RandomState(base_seed)
    f1, f2 = rng.uniform(200, 1800, 2)
    x = 0.4 * np.sin(2 * np.pi * f1 * np.arange(n) / 8000)
    x += 0.25 * np.sin(2 * np.pi * f2 * np.arange(n) / 8000)
    x += 0.05 * rng.standard_normal(n)
    if seed % 10 == 9:
        x = x + 0.01 * np.random.RandomState(seed).standard_normal(n)
    return _wav_bytes(x * 0.8)


def smooth(seed, h=16, w=16):
    """Distinct PHOTO-LIKE content: a random low-frequency cosine field.
    Two failure modes this dodges, both measured: a shared ramp + noise
    makes EVERY image a near-dup of every other (dHash correctly collapses
    them — 680k pairs at n=4000), and flat blocks make every luma
    comparison a TIE that requantization flips (re-encode Hamming 8-21 —
    dHash's documented weakness on synthetic flat content). Smooth fields
    measure re-encode Hamming 0-6 vs unrelated 19-46 on a small sample,
    but among n=1000 fields 7 unrelated pairs fall within the image
    operator's radius (reported as ``unplanted``)."""
    rng = np.random.RandomState(seed)
    y, x = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w))
    for _ in range(3):
        fy, fx = rng.uniform(0.3, 1.5, 2)
        py, px_ = rng.uniform(0, 2 * np.pi, 2)
        img += rng.uniform(0.5, 1.0) * np.cos(
            2 * np.pi * fy * y / h + py
        ) * np.cos(2 * np.pi * fx * x / w + px_)
    img -= img.min()
    img *= 255.0 / max(img.max(), 1e-9)
    return img


def planted(i: int) -> tuple[int, int]:
    """(content seed, JPEG quality): every 10th payload is a re-encode of
    an earlier one — the near-dup mass."""
    return (i - 9, 20) if i % 10 == 9 else (i, 16)


def jpg(seed: int, q: int) -> bytes:
    from tests.test_jpeg import encode_jpeg

    return encode_jpeg([smooth(seed)], 16, 16, [(1, 1)], [[q] * 64])[0]


def image_payload(i: int) -> bytes:
    return jpg(*planted(i))


def clip_payload(i: int) -> bytes:
    from tests.test_video import make_avi

    base, q = planted(i)
    return make_avi([jpg(base * 4 + k, q) for k in range(4)], 16, 16)


@contextmanager
def generated(spark, n: int, payload, id_col: str = "media_id"):
    """n payloads synthesized executor-side from their seed ids."""

    def gen(it):
        import pandas as pd

        for pdf in it:
            ids = [int(i) for i in pdf["id"].tolist()]
            yield pd.DataFrame({id_col: ids, "payload": [payload(i) for i in ids]})

    yield n, spark.range(n).repartition(32).mapInPandas(gen, f"{id_col} long, payload binary")


@contextmanager
def replicated_avi(spark, n: int):
    """One encoder-built 4-frame 64x64 MJPEG AVI replicated with distinct
    ids — per-payload decode work is identical."""
    from tests.test_jpeg import _QLUMA, _test_image, encode_jpeg
    from tests.test_video import make_avi

    frames = [encode_jpeg([_test_image(64, 64, seed=k)], 64, 64, [(1, 1)], [_QLUMA])[0]
              for k in range(4)]
    avi = make_avi(frames, 64, 64)
    yield n, spark.range(n).repartition(32).select(
        F.col("id").alias("media_id"), F.lit(bytearray(avi)).alias("payload"))


def mjpeg_stats(spark, inp) -> tuple[int, int]:
    """The r9 gate's pipeline uncapped: executor-generated planted MJPEG-AVI
    corpus (mediagen.mjpeg_payload_for — DC-only exact-round-trip JPEG) ->
    container walk -> per-frame entropy decode -> integer luma stats; the
    plant gives every run an EXACTNESS check, not just a wall clock.
    Returns (frames off the plant, frame rows)."""
    stats = video.video_frame_luma_stats(
        inp[1], id_col="doc_id", payload_col="payload", max_frames=8)
    # luma_sum must equal the analytic plant (mediagen.mjpeg_block_value
    # as a native expression — 12 blocks, so the interpreted HOF re-eval
    # cost is nil)
    expected = F.expr(
        "64 * aggregate(sequence(0, 11), 0L, (acc, b) -> "
        "acc + (CAST(id / 4 AS LONG) * 73 + frame_idx * 31 + b * 17) % 251 + 2)"
    )
    return stats.filter(F.col("luma_sum") != expected).count(), stats.count()


def kept(spark, inp) -> int:
    """END-TO-END keep/drop decisions (the image_dedup_decisions pipeline,
    UNCAPPED): planted mediagen corpus of N items -> decode(BMP+PNG) ->
    dHash -> band join -> CC -> keep-min-id."""
    n, imgs = inp
    pairs = multimodal.image_neardup_pairs(
        imgs, id_col="doc_id", payload_col="payload", max_hamming=3, bands=4)
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    return pairs_to_decisions(docs, pairs, id_col="doc_id").filter("kept").count()


SCHEMA = "media_id long, payload binary"


@contextmanager
def micro_batches(spark, n: int, payload):
    """n payloads as n / PER_BATCH parquet files, one per micro-batch."""
    d = tempfile.mkdtemp(prefix="media_stream_")
    try:
        for b in range(n // PER_BATCH):
            ids = range(b * PER_BATCH, (b + 1) * PER_BATCH)
            spark.createDataFrame([(i, bytearray(payload(i))) for i in ids], SCHEMA) \
                .coalesce(1).write.mode("append").parquet(os.path.join(d, "src"))
        yield n, d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def planted_found(spark, inp, results: dict) -> dict:
    """Reports how many (later, earlier) matches are planted re-encodes
    (the later id ends in 9 and copies the id 9 below it) and how many are
    not; passes when some planted copy is found. Neither recall nor the
    unplanted count is exact: dHash misses some Hamming 4-6 re-encodes,
    and unrelated smooth fields do collide (7 pairs at n=1000)."""
    pairs = next(iter(results.values()))
    found = sum(b % 10 == 9 and a == b - 9 for b, a in pairs)
    return {"pairs": len(pairs), "flagged": len({b for b, _ in pairs}),
            "planted": inp[0] // 10, "planted_found": found,
            "unplanted": len(pairs) - found, "ok": found > 0}


def batch_pairs(op):
    """(later, earlier) id pairs the batch near-dup operator finds."""
    return lambda spark, inp: {
        (max(r), min(r)) for r in op(inp[1]).select("id_a", "id_b").collect()}


def stream_flagged(op):
    """Every micro-batch through one streaming near-dup rung (memory sink,
    availableNow); returns its (media_id, dup_of) matches."""

    def flagged(spark, inp) -> int:
        d = inp[1]
        name = os.path.basename(d)
        stream = spark.readStream.schema(SCHEMA) \
            .option("maxFilesPerTrigger", "1").parquet(os.path.join(d, "src"))
        q = (op(stream).writeStream.outputMode("append").format("memory")
             .queryName(name).option("checkpointLocation", os.path.join(d, "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        return {tuple(r) for r in spark.sql(f"SELECT media_id, dup_of FROM {name}").collect()}

    return flagged


RAMPS = {
    # every payload decodes to its 4 frames
    "media_frames": Ramp(
        sizes=(200, 1000, 4000),
        build=replicated_avi,
        variants={"features": lambda spark, inp: multimodal.frame_sample_features(
            inp[1], thumb=(8, 8)).count()},
        check=lambda spark, inp, r: {"rows": r["features"],
                                     "ok": r["features"] == 4 * inp[0]},
    ),
    "media_mjpeg": Ramp(
        sizes=(2_000, 8_000, 32_000),
        build=lambda spark, n: generated(spark, n, mediagen.mjpeg_payload_for, "doc_id"),
        variants={"features": mjpeg_stats},
        check=lambda spark, inp, r: {"rows": r["features"][1], "mismatches": r["features"][0],
                                     "ok": r["features"] == (0, 4 * inp[0])},
    ),
    # the gate's _CAP is purely an evaluation bound: the pipeline keeps
    # recovering exactly N/4 planted groups as N ramps past it
    "media_decisions": Ramp(
        sizes=(2_000, 8_000, 32_000),
        build=lambda spark, n: generated(spark, n, mediagen.payload_for, "doc_id"),
        variants={"decisions": kept},
        check=lambda spark, inp, r: {"kept": r["decisions"], "expected": (inp[0] + 3) // 4,
                                     "ok": r["decisions"] == (inp[0] + 3) // 4},
    ),
    **{
        f"media_{kind}": Ramp(
            sizes=sizes,
            build=lambda spark, n, payload=payload: generated(spark, n, payload),
            variants={"pairs": batch_pairs(op)},
            check=planted_found,
        )
        for kind, sizes, payload, op in (
            ("audio", (250, 1000, 4000), _clip, audio.audio_neardup_pairs),
            ("image", (200, 1000, 4000), image_payload, multimodal.image_neardup_pairs),
            ("video", (200, 1000, 4000), clip_payload, video.video_neardup_pairs),
        )
    },
    **{
        f"media_stream_{kind}": Ramp(
            sizes=(10 * PER_BATCH,),
            build=lambda spark, n, payload=payload: micro_batches(spark, n, payload),
            variants={"stream": stream_flagged(op)},
            check=planted_found,
        )
        for kind, payload, op in (
            ("audio", _clip, stateful.streaming_audio_neardup),
            ("image", image_payload, stateful.streaming_image_neardup),
            ("video", clip_payload, stateful.streaming_video_neardup),
        )
    },
}
