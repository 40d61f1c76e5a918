"""Property-based tests (hypothesis) for the pure-Python planner layer —
the reference relies on mutation testing for its utils (stryker.conf.json);
randomized properties are our equivalent rigor."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from signalk_parquet_spark.functions.time import parse_duration_ms, parse_iso
from signalk_parquet_spark.operators.aggregate import METHODS
from signalk_parquet_spark.plans.pathspec import parse_path_spec
from signalk_parquet_spark.operators.rollup import TIER_MS
from signalk_parquet_spark.plans.tiers import ideal_tier, route_tier
from signalk_parquet_spark.sources.hive_paths import (
    day_of_year,
    sanitize_context,
    sanitize_path,
    unsanitize_context,
    unsanitize_path,
)

UTC = timezone.utc

# contexts/paths without the characters the reference's scheme is lossy on
ctx_chars = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz0123456789.:"), min_size=1, max_size=40
).filter(lambda s: "-" not in s and "__" not in s and "." not in s.replace("..", ""))
path_chars = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz0123456789."), min_size=1, max_size=40
).filter(lambda s: "__" not in s)


@given(st.lists(st.sampled_from(["vessels", "urn:mrn", "signalk", "uuid", "abc123"]), min_size=1, max_size=5))
def test_sanitize_context_roundtrip(parts):
    ctx = ".".join(parts)
    assert unsanitize_context(sanitize_context(ctx)) == ctx


@given(st.lists(st.sampled_from(["navigation", "speedOverGround", "a1", "wind", "x"]), min_size=1, max_size=6))
def test_sanitize_path_roundtrip(parts):
    p = ".".join(parts)
    assert unsanitize_path(sanitize_path(p)) == p


@given(st.datetimes(min_value=datetime(1990, 1, 1), max_value=datetime(2100, 12, 31)))
def test_day_of_year_range(dt):
    d = int(day_of_year(dt))
    assert 1 <= d <= 366
    # consistent with ISO ordinal
    assert d == dt.timetuple().tm_yday


@given(st.integers(min_value=0, max_value=10**7))
def test_duration_seconds_identity(s):
    assert parse_duration_ms(s) == s * 1000
    assert parse_duration_ms(str(s)) == s * 1000
    assert parse_duration_ms(f"{s}s") == s * 1000
    assert parse_duration_ms(f"PT{s}S") == s * 1000


@given(st.integers(min_value=1, max_value=10**6), st.sampled_from(["m", "h", "d"]))
def test_duration_shorthand_vs_iso(n, unit):
    iso = {"m": f"PT{n}M", "h": f"PT{n}H", "d": f"P{n}D"}[unit]
    assert parse_duration_ms(f"{n}{unit}") == parse_duration_ms(iso)


@given(
    st.datetimes(
        min_value=datetime(2000, 1, 1), max_value=datetime(2050, 1, 1)
    )
)
def test_parse_iso_roundtrip_utc(dt):
    dt = dt.replace(tzinfo=UTC, microsecond=0)
    assert parse_iso(dt.strftime("%Y-%m-%dT%H:%M:%SZ")) == dt
    assert parse_iso(dt.strftime("%Y-%m-%dT%H:%M:%S+00:00")) == dt


@given(
    st.sampled_from(
        ["navigation.speedOverGround", "environment.wind.speedApparent", "a.b.c"]
    ),
    st.sampled_from(list(METHODS)),
    st.one_of(st.none(), st.tuples(st.sampled_from(["sma", "ema"]), st.integers(1, 100))),
    st.one_of(st.none(), st.sampled_from(["gps-1", "n2k.0"])),
)
def test_pathspec_roundtrip(path, method, smoothing, src):
    spec_str = path + (f":{method}" if method != "average" or smoothing else f":{method}")
    if smoothing:
        spec_str += f":{smoothing[0]}:{smoothing[1]}"
    if src:
        spec_str += f"|{src}"
    s = parse_path_spec(spec_str)
    assert s.path == path
    assert s.method == method
    if smoothing:
        assert (s.smoothing, s.smoothing_window) == smoothing
    assert s.source_ref == src


@given(st.integers(min_value=1, max_value=10**8))
def test_tier_routing_never_coarser_than_resolution(res_ms):
    tier = ideal_tier(res_ms)
    if tier != "raw":
        assert TIER_MS[tier] <= res_ms


@settings(max_examples=200)
@given(
    st.integers(min_value=1, max_value=10**8),
    st.sets(st.sampled_from(["raw", "5s", "60s", "1h"]), min_size=1),
)
def test_route_tier_always_available(res_ms, available):
    from signalk_parquet_spark.plans.pathspec import PathSpec

    tier = route_tier(PathSpec("a.b"), res_ms, available)
    assert tier in available or tier == "raw"


# --- randomized golden: bucketed_agg vs pure-Python reference ----------------
from datetime import datetime as _dt


@settings(max_examples=12, deadline=None)
@given(
    st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=30),
)
def test_bucketed_agg_matches_python_reference(spark_global, values, resolution_s):
    """The core operator against a brute-force Python implementation over
    random series — avg/min/max/first/last per tumbling bucket."""
    from collections import defaultdict

    from signalk_parquet_spark.operators.aggregate import bucketed_agg
    from tests.records import T0, records_df, scalar_series

    spark = spark_global
    rows = scalar_series(T0, values, step_s=7)  # 7 s step straddles buckets unevenly
    df = records_df(spark, rows)

    expected = defaultdict(list)
    base_ms = int(T0.timestamp() * 1000)
    for i, v in enumerate(values):
        ts_ms = base_ms + i * 7000
        bucket = ts_ms // (resolution_s * 1000) * (resolution_s * 1000)
        expected[bucket].append(float(v))

    for method, py in [
        ("average", lambda xs: sum(xs) / len(xs)),
        ("min", min),
        ("max", max),
        ("first", lambda xs: xs[0]),
        ("last", lambda xs: xs[-1]),
    ]:
        got = {
            r["bucket_ts"]: r["value"]
            for r in bucketed_agg(
                df, "signalk_timestamp", "value", resolution_s * 1000, method
            ).collect()
        }
        assert len(got) == len(expected)
        for bucket_ms, xs in expected.items():
            iso = _dt.utcfromtimestamp(bucket_ms / 1000).strftime("%Y-%m-%dT%H:%M:%SZ")
            assert got[iso] == pytest.approx(py(xs), rel=1e-12), (method, iso)


# --- interval_join vs brute-force theta join over random event sets ----------
@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 10_000)), min_size=0, max_size=25),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 10_000)), min_size=0, max_size=25),
    st.integers(min_value=100, max_value=3000),
)
def test_interval_join_equals_theta_join(spark_global, left, right, tol_ms):
    """The bucketized interval join must return exactly the theta-join pairs
    |lt - rt| <= tol for matching keys, for arbitrary inputs."""
    from signalk_parquet_spark.operators.asof import interval_join

    spark = spark_global
    base = 1_700_000_000_000
    ldf = spark.createDataFrame(
        [(k, base + t, i) for i, (k, t) in enumerate(left)], "k long, lts_ms long, lid long"
    ).withColumn("lts", F.timestamp_millis(F.col("lts_ms")))
    rdf = spark.createDataFrame(
        [(k, base + t, i) for i, (k, t) in enumerate(right)], "k long, rts_ms long, rid long"
    ).withColumn("rts", F.timestamp_millis(F.col("rts_ms")))
    got = {
        (r["lid"], r["rid"])
        for r in interval_join(ldf, rdf, ["k"], "lts", "rts", tol_ms).collect()
    }
    expect = {
        (i, j)
        for i, (lk, lt) in enumerate(left)
        for j, (rk, rt) in enumerate(right)
        if lk == rk and abs(lt - rt) <= tol_ms
    }
    assert got == expect


# --- IVF approximation bound vs exact kNN over random vectors ----------------
@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-50, 50), min_size=6, max_size=6),
        min_size=8, max_size=40, unique_by=tuple,
    ),
    st.integers(min_value=2, max_value=8),
)
def test_ivf_never_beats_exact_knn(spark_global, vecs, stride):
    """Approximate search can only lose candidates: at every rank, IVF's
    cosine must be <= brute-force kNN's cosine for the same query."""
    from signalk_parquet_spark.operators.similarity import ivf_topk, knn_topk, stride_centroids

    spark = spark_global
    rows = [(i, [float(x) + 0.01 for x in v]) for i, v in enumerate(vecs)]
    # +0.01 keeps every vector nonzero-norm
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 2)
    exact = {(r["query_id"], r["rank"]): r["cos"]
             for r in knn_topk(emb, q, "vec_id", "embedding", k=3).collect()}
    cent = stride_centroids(emb, "vec_id", "embedding", stride)
    approx = {(r["query_id"], r["rank"]): r["cos"]
              for r in ivf_topk(emb, q, cent, "vec_id", "embedding", k=3, n_probe=2).collect()}
    for key, cos in approx.items():
        assert key in exact and cos <= exact[key] + 1e-9, key


# --- MinHash LSH: exact duplicates are ALWAYS found --------------------------
@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split()),
                 min_size=6, max_size=12),
        min_size=2, max_size=10,
    ),
    st.data(),
)
def test_minhash_lsh_finds_all_exact_duplicates(spark_global, docs, data):
    """Identical texts have identical signatures, hence identical band keys,
    hence MUST surface as candidates and pass verify (jaccard == 1). The
    LSH shortcut is allowed to miss near-dups, never exact ones."""
    from signalk_parquet_spark.operators.dedup import minhash_lsh_pairs

    spark = spark_global
    texts = [" ".join(d) for d in docs]
    dup_of = data.draw(st.integers(0, len(texts) - 1))
    rows = [(i, t) for i, t in enumerate(texts)] + [(len(texts), texts[dup_of])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(df, "doc_id", "text", threshold=0.9).collect()}
    assert (dup_of, len(texts)) in pairs


@given(st.integers(min_value=0, max_value=100))
def test_make_planes_seed_families(seed):
    from signalk_parquet_spark.functions.vectors import make_planes

    a = make_planes(6, 32, seed=seed)
    b = make_planes(6, 32, seed=seed + 1)
    assert all(-3 <= w <= 3 for plane in a for w in plane)
    assert a != b  # independent families, no seed collisions
    assert a == make_planes(6, 32, seed=seed)  # deterministic
    assert any(w != 0 for plane in a for w in plane)  # never degenerate


# --- SemDeDup on tie-prone inputs ---------------------------------------------
_VEC3 = st.lists(st.sampled_from([-1.0, 0.0, 1.0]), min_size=4, max_size=4)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_VEC3.filter(lambda v: any(x != 0.0 for x in v)), min_size=2, max_size=10),
    st.integers(min_value=1, max_value=3),
)
def test_semantic_keep_matches_reference_on_ties(spark_global, vecs, n_cent):
    """SemDeDup must make the driver-side reference's decisions on
    adversarial tie-prone data: components drawn from {-1, 0, 1} make
    equidistant centroids and duplicate vectors common, exercising the
    lowest-cid argmin tie-break and the cos=1 exact-duplicate drop. (Zero
    vectors are excluded — embeddings are non-zero by contract; cosine
    against a zero vector is NaN and NaN-vs-threshold ordering differs
    between Python and numpy.)"""
    from signalk_parquet_spark.operators.similarity import semantic_keep
    from tests.test_dedup_operators import semantic_keep_reference

    spark = spark_global
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    cents = [(j, vecs[j % len(vecs)]) for j in range(n_cent)]
    cdf = spark.createDataFrame(cents, "cid long, cemb array<double>")
    got = {r["id"]: (r["cid"], r["keep"])
           for r in semantic_keep(df, cdf, "vec_id", "embedding", 0.5).collect()}
    assert got == semantic_keep_reference(dict(enumerate(vecs)), cents, 0.5)


# --- RIFF walker properties (operators/video) ---------------------------------
_riff_payload = st.binary(min_size=0, max_size=40)


@given(
    frames=st.lists(_riff_payload, min_size=0, max_size=6),
    use_rec=st.booleans(),
    junk=st.binary(min_size=0, max_size=16),
)
@settings(max_examples=150, deadline=None)
def test_riff_walker_roundtrips_any_chunk_payloads(frames, use_rec, junk):
    """Muxing ARBITRARY frame payloads (any bytes, any parity of lengths)
    and walking them back returns exactly the same sequence, with or
    without 'rec ' interleave groups — and trailing junk after the movi
    list never changes the result or raises."""
    from signalk_parquet_spark.operators.video import (
        iter_video_chunks,
        parse_avi_header,
    )
    from tests.test_video import make_avi

    avi = make_avi(frames, 4, 4, use_rec=use_rec) + junk
    got = list(iter_video_chunks(avi, 0))
    assert got == frames
    meta = parse_avi_header(avi)
    assert meta is not None and meta["n_frames"] == len(frames)


@given(data=st.binary(min_size=0, max_size=120))
@settings(max_examples=200, deadline=None)
def test_riff_walker_never_raises_on_arbitrary_bytes(data):
    from signalk_parquet_spark.operators.video import (
        iter_video_chunks,
        parse_avi_header,
    )

    parse_avi_header(b"RIFF\x80\x00\x00\x00AVI " + data)
    list(iter_video_chunks(b"RIFF\x80\x00\x00\x00AVI " + data, 0))


@given(
    cents=st.lists(
        st.integers(min_value=-60_000_000, max_value=60_000_000),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=300, deadline=None)
def test_micro_avg_matches_fraction_exact_average(cents):
    """registry.micro_avg's arithmetic contract, checked against exact
    rationals: for values exactly representable in micro units (the gate
    corpus is 2-decimal), the micro path reproduces float(sum_micro / n)
    / 1e6 computed with Fractions — order-independent by construction —
    and every per-row round lands on the exact integer (incl. negatives
    and the .5-representable cases)."""
    from fractions import Fraction

    # simulate the engine-side pipeline in pure python: value = cents/100
    values = [c / 100.0 for c in cents]
    micro = [round(v * 1_000_000) for v in values]
    # per-row micro round must be EXACT for decimal-2 inputs
    for c, m in zip(cents, micro):
        assert m == c * 10_000
    n = len(values)
    got = (float(sum(micro)) / n) / 1_000_000.0
    want = float(Fraction(sum(micro), n)) / 1_000_000.0
    # sum(micro) < 2^53 -> float() is exact; the two divisions are the
    # same IEEE ops both engines run
    assert got == pytest.approx(want, rel=1e-15)
