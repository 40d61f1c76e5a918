"""One-round-trip literal arrays.

Every ``F.lit(x)`` / ``F.array(...)`` / Column operator call is a py4j
SOCKET ROUND-TRIP to the JVM (~0.3-0.6 ms each), so building a literal
array element-by-element costs milliseconds per element at query-
CONSTRUCTION time — pure driver wall the optimization guide's §7.3
"planning" bucket. Measured on this box: ``F.lit(list_of_4096_ints)`` =
2.39 s (py4j converts the list one ``add()`` command at a time);
``F.array(*[F.lit(x) ...])`` over 30x64 doubles = 1.13 s. The same
arrays rendered as ONE SQL text and parsed JVM-side by ``F.expr`` cost
3 ms and 14 ms — 100-800x — and produce identical values: Python's
``repr`` emits the shortest decimal that round-trips, and Java's
``Double.parseDouble`` is correctly rounded, so every finite double
survives the text trip bit-exactly (oracle hashes unaffected; the
engine's own gates re-verified by driver_sim after the switch).

Non-finite doubles (inf/nan) have no portable SQL literal — those fall
back to the classic per-element path (no engine call site produces
them; embeddings/centroids/codewords/bloom words are all finite by
construction).
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: SQL value renderers per element type. int/bigint differ only in the
#: literal suffix (bare decimal parses as INT, ``L`` as BIGINT) — the
#: caller picks the type the classic builder would have produced so the
#: expression tree's dtype is deterministic instead of data-inferred.
_RENDER = {
    "int": lambda v: str(int(v)),
    "bigint": lambda v: f"{int(v)}L",
    "double": lambda v: f"{v!r}D",
}


def lit_array(vals: Iterable, elem: str) -> Column:
    """``array<elem>`` literal built as one parsed SQL expression.

    ``elem`` is one of ``int`` / ``bigint`` / ``double``. Empty input
    yields ``cast(array() as array<elem>)`` so the dtype stays declared.
    """
    render = _RENDER[elem]
    vals = list(vals)
    if elem == "double" and any(not math.isfinite(float(v)) for v in vals):
        return F.array(*[F.lit(float(v)) for v in vals])
    if not vals:
        return F.expr(f"cast(array() as array<{elem}>)")
    return F.expr("array(" + ",".join(render(v) for v in vals) + ")")
