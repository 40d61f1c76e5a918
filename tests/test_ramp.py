"""tools/ramp.py, the one harness for the measured scale ramps: a failed
check exits non-zero, a build always cleans up, and every registered ramp
still runs end to end at a tiny size."""

from __future__ import annotations

import json
import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import ramp as harness  # noqa: E402
from tools.ramps import Ramp  # noqa: E402

#: one tiny size per registered ramp — small enough for the whole set to
#: run in a few minutes on the smoke data
TINY = {
    "bloom": 1,
    "cloudsync": 200,
    "containment": 500,
    "incremental": 1,
    "media_audio": 40,
    "media_decisions": 40,
    "media_frames": 20,
    "media_image": 40,
    "media_mjpeg": 40,
    "media_stream_audio": 120,
    "media_stream_image": 120,
    "media_stream_video": 120,
    "media_video": 20,
    "ordering": 20_000,
    "retrieval_postings": 2_000,
    "retrieval_topk": 20_000,
    "selection": 20_000,
    "selection_groups": 100,
    "semdecon": 1,
    "sketch": 1_000,
    "sketch_groups": 4,
    "sketch_tree_merge": 16,
    "snapshot_dedup": 2_000,
}


def logged_build(log: list):
    @contextmanager
    def build(spark, n):
        log.append(("build", n))
        try:
            yield n
        finally:
            log.append(("cleanup", n))

    return build


def run(ramp: Ramp, capsys, argv=("r",)) -> tuple[int, list[dict]]:
    code = harness.main(list(argv), ramps={"r": ramp}, spark=object())
    return code, [json.loads(line) for line in capsys.readouterr().out.splitlines()]


def test_agreeing_variants_exit_zero(capsys):
    ramp = Ramp(sizes=(1, 2), build=logged_build([]),
                variants={"a": lambda s, n: {n: 1}, "b": lambda s, n: {n: 1}})
    code, lines = run(ramp, capsys)
    assert code == 0
    assert [(x["ramp"], x["n"], x["ok"], x["mismatches"]) for x in lines] == [
        ("r", 1, True, 0), ("r", 2, True, 0)]
    assert set(lines[0]["s"]) == {"a", "b"}


def test_disagreeing_variants_exit_nonzero(capsys):
    ramp = Ramp(sizes=(1, 2), build=logged_build([]),
                variants={"a": lambda s, n: {1, 2},
                          "b": lambda s, n: {2, 3} if n == 2 else {1, 2}})
    code, lines = run(ramp, capsys)
    assert code == 1
    assert [(x["ok"], x["mismatches"]) for x in lines] == [(True, 0), (False, 2)]


def test_failing_check_exits_nonzero(capsys):
    ramp = Ramp(sizes=(3,), build=logged_build([]), variants={"a": lambda s, n: n},
                check=lambda s, inp, r: {"seen": r["a"], "ok": r["a"] < 3})
    code, lines = run(ramp, capsys)
    assert code == 1
    assert lines == [{"ramp": "r", "n": 3, "s": lines[0]["s"], "seen": 3, "ok": False}]


def test_sizes_option_overrides_default(capsys):
    log: list = []
    ramp = Ramp(sizes=(1,), build=logged_build(log), variants={"a": lambda s, n: n})
    code, lines = run(ramp, capsys, argv=("r", "--sizes", "5,7"))
    assert code == 0 and [x["n"] for x in lines] == [5, 7]
    assert log == [("build", 5), ("cleanup", 5), ("build", 7), ("cleanup", 7)]


def test_build_cleans_up_when_a_variant_raises(capsys):
    log: list = []

    def boom(spark, n):
        raise RuntimeError("variant failed")

    ramp = Ramp(sizes=(1, 2), build=logged_build(log),
                variants={"a": lambda s, n: n, "b": boom})
    with pytest.raises(RuntimeError, match="variant failed"):
        run(ramp, capsys)
    assert log == [("build", 1), ("cleanup", 1)]


def test_registered_ramps_run_at_a_tiny_size(spark, sf_smoke, tmp_path, monkeypatch, capsys):
    """Every registered ramp, once, at a tiny size: catches a ramp left
    behind when an operator's signature changes."""
    from tools.ramps import bloom, selection, semdecon

    monkeypatch.setattr(bloom, "SRC", sf_smoke)
    monkeypatch.setattr(selection, "GROUPS_ROWS", 20_000)
    monkeypatch.setattr(semdecon, "SF_DIR", sf_smoke)
    monkeypatch.setattr(semdecon, "SCRATCH", str(tmp_path))
    ramps = harness.registered()
    assert set(ramps) == set(TINY)
    failed = []
    for name, n in TINY.items():
        if harness.main([name, "--sizes", str(n)], ramps=ramps, spark=spark) != 0:
            failed.append(name)
    out = capsys.readouterr().out
    assert not failed, out
    assert len(out.splitlines()) == len(TINY)
