"""tools/bench_diff.py loader fixtures — the r8 verdict reproduced a
JSONDecodeError feeding it driver BENCH_r*.json artifacts (pretty-printed
multi-line JSON whose last line is just "}"). These pin all three record
shapes the loader claims to accept, including the head-truncated tail."""

import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import bench_diff  # noqa: E402

# key order mirrors the real bench.py line: the queries map first, the
# scalar metadata TRAILING it — that ordering is what makes driver-tail
# head truncation recoverable at all
FULL = {
    "queries": {"q_alpha": 1.5, "q_beta": 3.5, "q_gamma": 5.0},
    "order": "registration",
    "metric": "total_query_wall_time",
    "unit": "sec",
    "n_queries": 3,
    "sf": 0.1,
    "host": {"spin_sec": 0.8, "par16_sec": 1.2, "par_ratio": 1.5},
    "value": 10.0,
}


def test_full_bench_line(tmp_path):
    p = tmp_path / "full.json"
    p.write_text(json.dumps(FULL) + "\n")
    qs, meta = bench_diff.load_queries(str(p))
    assert qs == FULL["queries"]
    assert meta["value"] == 10.0 and meta["host"]["spin_sec"] == 0.8
    assert not meta.get("partial")


def test_accumulated_log_last_line_wins(tmp_path):
    older = dict(FULL, value=99.0)
    p = tmp_path / "log.json"
    p.write_text(json.dumps(older) + "\n" + json.dumps(FULL) + "\n")
    qs, meta = bench_diff.load_queries(str(p))
    assert meta["value"] == 10.0 and qs == FULL["queries"]


def test_driver_artifact_parsed(tmp_path):
    p = tmp_path / "art.json"
    p.write_text(json.dumps({"n": 8, "rc": 0, "parsed": FULL, "tail": ""}, indent=2))
    qs, meta = bench_diff.load_queries(str(p))
    assert qs == FULL["queries"] and meta["value"] == 10.0


def test_driver_artifact_truncated_tail(tmp_path):
    """The crash class: pretty-printed artifact, parsed=null, tail cut
    MID-NAME at the head. A cut inside a name also removes its opening
    quote, so the fragment can never register as a phantom query — only
    complete later pairs are recovered."""
    line = json.dumps(FULL)
    tail = line[line.index('"queries"') + len('"queries": {"q_al'):]  # cuts q_alpha mid-name
    art = {"n": 8, "rc": 0, "cpus": 32, "sf": 0.1, "parsed": None, "tail": tail}
    p = tmp_path / "art.json"
    p.write_text(json.dumps(art, indent=2))
    qs, meta = bench_diff.load_queries(str(p))
    assert meta["partial"] is True
    # q_alpha's fragment (no opening quote survives) must not appear;
    # the complete later pairs must
    assert set(qs) == {"q_beta", "q_gamma"} and qs["q_beta"] == 3.5
    # trailing fields survive truncation by design and must be recovered
    assert meta["value"] == 10.0
    assert meta["host"] == FULL["host"]
    assert meta["order"] == "registration"


def test_shared_probe_host_keys_read_against_an_old_record(tmp_path):
    """bench.py now records perfbench's probe (cpus, par, spin_s, par_s,
    par_ratio): its keys are never read as queries from a truncated tail,
    and a diff against a spin_sec record compares spin and par_ratio."""
    new = dict(FULL, host={"cpus": 4, "par": 4, "spin_s": 0.4, "par_s": 0.5,
                           "par_ratio": 1.25})
    line = json.dumps(new)
    tail = line[line.index('"q_beta"'):]
    p_new, p_old = tmp_path / "new.json", tmp_path / "old.json"
    p_new.write_text(json.dumps({"parsed": None, "tail": tail}))
    p_old.write_text(json.dumps(FULL))
    qs, meta = bench_diff.load_queries(str(p_new))
    assert set(qs) == {"q_beta", "q_gamma"} and meta["host"] == new["host"]
    sys_argv = sys.argv
    sys.argv = ["bench_diff.py", str(p_old), str(p_new)]
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            assert bench_diff.main() == 0
    finally:
        sys.argv = sys_argv
    out = buf.getvalue()
    assert "host-speed ratio new/old (spin): 0.50" in out
    assert "host-speed ratio new/old (par_ratio): 0.83" in out


def test_unrecognized_record_errors_clearly(tmp_path):
    p = tmp_path / "junk.json"
    p.write_text(json.dumps({"foo": 1}))
    try:
        bench_diff.load_queries(str(p))
    except SystemExit as e:
        assert "junk.json" in str(e)
    else:
        raise AssertionError("expected SystemExit")


def test_main_on_committed_driver_artifacts():
    """End-to-end on the real records the judge fed it (committed in-repo)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    old, new = os.path.join(repo, "BENCH_r07.json"), os.path.join(repo, "BENCH_r08.json")
    if not (os.path.exists(old) and os.path.exists(new)):
        import pytest

        pytest.skip("driver artifacts not present")
    sys_argv = sys.argv
    sys.argv = ["bench_diff.py", old, new]
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = bench_diff.main()
    finally:
        sys.argv = sys_argv
    out = buf.getvalue()
    assert rc == 0 and "partial tail" in out and "top" in out
