"""Ramp configs for tools/ramp.py, one module per operator family.

Each module exports ``RAMPS``, a dict of name -> :class:`Ramp`. A config
holds only what differs between ramps; the harness owns the session, the
size loop, the timing, the check and the output.
"""

from collections.abc import Callable
from contextlib import contextmanager
from typing import Any, NamedTuple


class Ramp(NamedTuple):
    #: default sizes, overridden by ``--sizes``
    sizes: tuple[int, ...]
    #: ``build(spark, n)``: a context manager that yields the input of one
    #: size and always cleans up after it (unpersist, MEMO.evict, rmtree)
    build: Callable[[Any, int], Any]
    #: name -> ``variant(spark, inp)``, timed one after another, in order
    variants: dict[str, Callable[[Any, Any], Any]]
    #: ``check(spark, inp, results)`` -> facts for the output line, with the
    #: verdict under "ok"; None means every variant must return equal results
    check: Callable[[Any, Any, dict], dict] | None = None


def _items(result) -> set:
    if isinstance(result, dict):
        return set(result.items())
    if isinstance(result, (set, frozenset)):
        return set(result)
    return {result}


def same_results(spark, inp, results: dict) -> dict:
    """The default check: every variant returns what the first one does.
    Reports the first result (its size, for a collection) and how many
    items the others disagree on."""
    first, *rest = results.values()
    size = len(first) if isinstance(first, (dict, set, frozenset)) else first
    mismatches = sum(len(_items(first) ^ _items(r)) for r in rest)
    return {"result": size, "mismatches": mismatches,
            "ok": all(r == first for r in rest)}


@contextmanager
def persisted(*frames):
    """Persist and count ``frames`` in order, yield them (one frame alone),
    unpersist them afterwards."""
    try:
        for df in frames:
            df.persist().count()
        yield frames[0] if len(frames) == 1 else frames
    finally:
        for df in frames:
            df.unpersist()
