"""SessionMemo: build once per (applicationId, tag), purge dead sessions on
store, keep driver-side values as they are, unpersist only frames."""

from __future__ import annotations

from types import SimpleNamespace

from signalk_parquet_spark.memo import SessionMemo


def _session(app_id: str) -> SimpleNamespace:
    """Stand-in carrying only what SessionMemo reads of a session."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_second_lookup_does_not_build_again():
    memo, s, calls = SessionMemo(), _session("app-1"), []

    def build():
        calls.append(1)
        return {"a": 1.0}

    first = memo.get_or_build(s, "seed:/sf", build, materialize=False)
    second = memo.get_or_build(s, "seed:/sf", build, materialize=False)
    assert calls == [1]
    assert first is second


def test_dead_session_entry_purged_on_next_store():
    memo = SessionMemo()
    memo.get_or_build(_session("dead"), "t:/sf", lambda: [1], materialize=False)
    memo.get_or_build(_session("live"), "t:/sf", lambda: [2], materialize=False)
    assert list(memo._store) == [("live", "t:/sf")]


def test_non_frame_value_returned_unchanged():
    value = (["li_bk", "od_bk"], 3)
    got = SessionMemo().get_or_build(_session("app-1"), "v", lambda: value, materialize=False)
    assert got is value


def test_evict_drops_a_list_without_raising():
    memo, s = SessionMemo(), _session("app-1")
    memo.get_or_build(s, "dense:/sf", lambda: [0, 5, 0], materialize=False)
    memo.evict(s, "dense:/sf")
    assert memo._store == {}


def test_evict_unpersists_a_frame(spark):
    memo = SessionMemo()
    df = memo.get_or_build(spark, "range:test_memo", lambda: spark.range(10))
    assert df.is_cached
    memo.evict(spark, "range:test_memo")
    assert not df.is_cached
    assert memo._store == {}
