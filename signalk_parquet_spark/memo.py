"""Session-scoped memo of derived state — ONE registry, ``MEMO``.

Several gate-query families share one expensive intermediate (the shingled
corpus, CC labels, the multitable ANN top-k, a collected Bloom filter, the
bucketed fact tables): computing it once per (session, SF) and reusing it is
the difference between N pipelines and one. Every such value lives in
``MEMO`` under a unique tag, so keying, dead-session purge, materialization
and eviction are decided in one place. Keys use
``sparkContext.applicationId`` — stable and unique per session — NOT
``id(spark)``: CPython reuses addresses after a stopped session is
garbage-collected, which could hand a new session a frame bound to a dead
one. Entries from other (dead) applications are dropped on every store, so
cached values don't pin memory past their session's life.

Source tables (``registry._TABLE_CACHE``) are not kept here: they are loaded
once at set-up and dropped per table directory by ``evict_tables``.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


class SessionMemo:
    """Memo of derived values keyed by (applicationId, tag). A value is a
    DataFrame (persisted and counted unless ``materialize=False``) or any
    driver-side object built with ``materialize=False``."""

    def __init__(self) -> None:
        self._store: dict[tuple[str, str], Any] = {}

    def get_or_build(
        self,
        spark: SparkSession,
        tag: str,
        build: Callable[[], Any],
        materialize: bool = True,
    ) -> Any:
        app = spark.sparkContext.applicationId
        key = (app, tag)
        if key not in self._store:
            # entries of dead sessions can't be unpersisted (their context
            # is gone); dropping them frees the driver-side references
            for stale in [k for k in self._store if k[0] != app]:
                del self._store[stale]
            df = build()
            if materialize:
                df = df.persist()
                df.count()  # fully materialize BEFORE any self-join reuse
            self._store[key] = df
        return self._store[key]

    def evict(self, spark: SparkSession, tag: str) -> None:
        """Drop one live entry, unpersisting it if it is a frame (ramp/tool
        loops that cycle many one-shot corpora through a family memo call
        this between iterations so cached values don't accumulate)."""
        key = (spark.sparkContext.applicationId, tag)
        value = self._store.pop(key, None)
        if isinstance(value, DataFrame):
            value.unpersist()


#: the process's one memo registry; every tag is unique across modules
MEMO = SessionMemo()
