"""Audio feature extraction over decoded PCM — pure numpy, no media
library. Extends the sample-level WAV path (operators/multimodal.
audio_sample_features: rms/peak) with the frequency-domain features a
training-data pipeline screens and dedups audio with:

- ``audio_spectral_features``: Hann-window STFT power spectrum →
  per-band mean log-energies, spectral centroid, zero-crossing rate.
- ``audio_fingerprint``: the Haitsma-Kalker sign-of-band-energy-delta
  fingerprint (public: "A Highly Robust Audio Fingerprint System", ISMIR
  2002) — one integer sub-fingerprint per STFT frame whose bits are the
  sign of the time- and band-difference of band energies. Robust to mild
  noise/level changes; near-dup audio = small Hamming distance between
  aligned sub-fingerprints, which slots into the existing simhash-style
  Hamming machinery (operators/similarity).

Scale note: per-payload work inside Arrow-batched map stages (the
frame_sample_features pattern); nothing here shuffles. All arithmetic is
float64 numpy — deterministic per platform, so fingerprints are stable
join keys within a cluster run.
"""

from __future__ import annotations

import io
import struct

#: STFT geometry shared by the spectral features and the fingerprint. The
#: fingerprint's bit width (and so every bit-error-rate denominator)
#: follows from N_FFT and FINGERPRINT_BANDS through fingerprint_bits().
N_FFT = 256
HOP = 128
SPECTRAL_BANDS = 8
FINGERPRINT_BANDS = 33


def decode_wav_samples(payload: bytes):
    """PCM WAV → (sample_rate, n_channels, mono float64 array in [-1, 1]).
    16-bit and 8-bit PCM; channels averaged to mono. None outside coverage
    (the decode_png_pixels contract)."""
    import wave

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(payload)) as w:
            n, rate, width = w.getnframes(), w.getframerate(), w.getsampwidth()
            nch = w.getnchannels()
            frames = w.readframes(n)
            if width == 2:
                x = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
            elif width == 1:  # 8-bit WAV is unsigned
                x = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
            else:
                return None
            if nch > 1:
                x = x[: (x.size // nch) * nch].reshape(-1, nch).mean(axis=1)
            return rate, nch, x
    except (wave.Error, EOFError, ValueError, struct.error):
        return None


def _stft_power(x, n_fft: int, hop: int):
    """Hann-window STFT → (n_frames, n_fft//2 + 1) power spectrum."""
    import numpy as np

    if x.size < n_fft:
        x = np.pad(x, (0, n_fft - x.size))
    n_frames = 1 + (x.size - n_fft) // hop
    idx = np.arange(n_fft)[None, :] + hop * np.arange(n_frames)[:, None]
    win = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(n_fft) / n_fft)  # Hann
    spec = np.fft.rfft(x[idx] * win, axis=1)
    return (spec.real**2 + spec.imag**2)


def audio_spectral_features(payload: bytes) -> list[float]:
    """(centroid_hz, zero_crossing_rate, log10 mean power of
    ``SPECTRAL_BANDS`` equal-width frequency bands) — 2 + SPECTRAL_BANDS
    floats; NaNs when the payload isn't decodable PCM WAV so downstream
    filters quarantine."""
    import numpy as np

    dec = decode_wav_samples(payload)
    if dec is None:
        return [float("nan")] * (2 + SPECTRAL_BANDS)
    rate, _nch, x = dec
    if x.size == 0:
        # a valid header with no PCM frames scores like SILENCE (the
        # log-power floor), not 0.0 — which on a log scale reads as LOUD
        # and sails through loudness screens
        return [0.0, 0.0] + [-12.0] * SPECTRAL_BANDS
    p = _stft_power(x, N_FFT, HOP)
    mean_p = p.mean(axis=0)  # per-bin mean power over time
    freqs = np.fft.rfftfreq(N_FFT, d=1.0 / rate)
    total = mean_p.sum()
    centroid = float((freqs * mean_p).sum() / total) if total > 0 else 0.0
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if x.size > 1 else 0.0
    # equal-width bands over the positive spectrum (DC bin included in band 0)
    edges = np.linspace(0, mean_p.size, SPECTRAL_BANDS + 1).astype(int)
    bands = [
        float(np.log10(mean_p[a:b].mean() + 1e-12))
        for a, b in zip(edges[:-1], edges[1:])
    ]
    return [centroid, zcr] + bands


def audio_fingerprint(payload: bytes) -> list[int] | None:
    """Haitsma-Kalker sub-fingerprints: for each STFT frame n and band m,
    bit m is ``sign((E[n,m] - E[n,m+1]) - (E[n-1,m] - E[n-1,m+1]))`` over
    log-spaced energy bands → one integer per frame. The bit width is
    ``fingerprint_bits()``, NOT FINGERPRINT_BANDS-1: integer rounding
    collapses the low log-spaced edges (25 bits at this geometry, where the
    paper's 2048-sample windows support the full 32) — every bit-error-
    rate denominator must come from fingerprint_bits. Returns None when
    the payload isn't decodable PCM WAV; [] when it is shorter than two
    frames."""
    import numpy as np

    dec = decode_wav_samples(payload)
    if dec is None:
        return None
    rate, _nch, x = dec
    p = _stft_power(x, N_FFT, HOP)
    if p.shape[0] < 2:
        return []
    edges = _band_edges(p.shape[1], FINGERPRINT_BANDS)
    if len(edges) < 3:
        return []
    e = np.stack(
        [p[:, a:b].sum(axis=1) for a, b in zip(edges[:-1], edges[1:])], axis=1
    )
    d = np.diff(e, axis=1) * -1.0  # E[n, m] - E[n, m+1]
    bits = (np.diff(d, axis=0) > 0).astype(np.int64)  # vs previous frame
    weights = 1 << np.arange(bits.shape[1], dtype=np.int64)
    return [int(v) for v in bits @ weights]


def _band_edges(n_bins: int, n_bands: int):
    """Distinct integer log-spaced band edges over bins [1, n_bins-1]
    (DC skipped). Rounding collapses the low edges, so the REAL band
    count is len(edges) - 1."""
    import numpy as np

    return np.unique(
        np.round(
            np.exp(np.linspace(np.log(1), np.log(n_bins - 1), n_bands + 1))
        ).astype(int)
    )


def fingerprint_bits() -> int:
    """Actual bits per sub-fingerprint at the module's STFT/band geometry —
    the ONLY valid denominator for bit-error rates (25)."""
    return len(_band_edges(N_FFT // 2 + 1, FINGERPRINT_BANDS)) - 2


def audio_fingerprints(
    df, id_col: str = "media_id", payload_col: str = "payload"
):
    """(id, fp: array<long>) per decodable audio row via one Arrow map
    stage; undecodable or too-short payloads yield no row (quarantine-by-
    omission, the frame_sample_features pattern)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("fp", T.ArrayType(T.LongType())),
        ]
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                fp = audio_fingerprint(bytes(payload))
                if fp:
                    rows.append((int(mid), fp))
            yield pd.DataFrame(rows, columns=["id", "fp"])

    return df.select(id_col, payload_col).mapInPandas(_batches, schema=out_schema)


def audio_neardup_pairs(
    df,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_ber: float = 0.35,
    min_hits: int = 1,
    max_df: int | None = 1000,
):
    """Distributed audio near-dup: the Haitsma-Kalker lookup strategy as a
    bucketed equality join. Candidate pairs share at least ``min_hits``
    IDENTICAL 32-bit sub-fingerprints at the same frame position (never
    all-pairs — the same candidate-generation ladder as minhash_lsh_pairs /
    simhash); the verify step recomputes the aligned bit-error rate
    ENTIRELY JVM-side (zip_with + bit_count + aggregate over the common
    prefix) and keeps pairs with BER <= ``max_ber`` (the paper's match
    threshold). ``max_df`` drops ubiquitous (pos, sub) buckets — silence
    and constant tones — before the self-join, the winnowing stop-
    fingerprint cap applied to audio.

    Returns (id_a, id_b, hits, ber). Scale: shuffles key on the 32-bit
    sub-fingerprint value x position — high cardinality, well spread; the
    verify join is skinny (two fp arrays per surviving pair)."""
    from pyspark.sql import functions as F

    fp = audio_fingerprints(df, id_col, payload_col)
    fp.persist().count()  # materialize before the self-join (CLAUDE.md)
    sub = fp.select("id", F.posexplode("fp").alias("pos", "sub"))
    if max_df is not None:
        w_count = sub.groupBy("pos", "sub").count()
        sub = (
            sub.join(w_count.filter(F.col("count") <= max_df), ["pos", "sub"])
            .drop("count")
        )
    a, b = sub.alias("a"), sub.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("hits"))
        .filter(F.col("hits") >= min_hits)
    )
    fa = fp.select(F.col("id").alias("id_a"), F.col("fp").alias("fp_a"))
    fb = fp.select(F.col("id").alias("id_b"), F.col("fp").alias("fp_b"))
    n = F.least(F.size("fp_a"), F.size("fp_b"))
    errs = F.aggregate(
        F.zip_with(
            F.slice("fp_a", 1, n), F.slice("fp_b", 1, n),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    bits = float(fingerprint_bits())  # the ACTUAL bit width, not 32
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("ber", errs / (bits * n))
        .filter(F.col("ber") <= max_ber)
        .select("id_a", "id_b", "hits", F.col("ber").cast("double").alias("ber"))
    )


def fingerprint_hamming(fp_a: list[int], fp_b: list[int]) -> float:
    """Mean per-frame Hamming distance between two aligned fingerprints
    (compared over the common prefix), in bits. The paper's match rule is
    a bit-error-rate threshold (~0.35); divide by fingerprint_bits() —
    NOT a hardcoded 32 — to get the rate."""
    n = min(len(fp_a), len(fp_b))
    if n == 0:
        return float("nan")
    total = sum(bin(a ^ b).count("1") for a, b in zip(fp_a[:n], fp_b[:n]))
    return total / n
