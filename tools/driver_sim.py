"""Simulate the driver's correctness gate end-to-end for the 50-query
window: run each gate's Spark query AND its DuckDB oracle on the same
parquet, canonicalize BOTH results the way the driver does (sorted
columns, lexsorted rows), and compare exactly.

Every checked result, gates without an oracle included, also goes through
the driver's value hash (pd.util.hash_pandas_object): r4's only red row
(doc_embed_hashed) was an output shape the driver could not hash — list
cells — which the local comparator masked by tuple-izing lists. This
complements tests/test_oracle_parity.py (whose comparator has historically
diverged from the driver's — r3's Decimal coercion, r4's list tuple-izing
both produced locally-green/driver-red rows). A green run here means the
window should produce 50 green CORRECTNESS rows modulo driver-internal
differences we can't see.

Usage: python tools/driver_sim.py [sf_dir] [--all | --only name1,name2]
(--only runs just the named gates — the dev loop for a fresh edit.)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from signalk_parquet_spark import registry  # noqa: E402
from signalk_parquet_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(cols).reset_index(drop=True)
    pd.util.hash_pandas_object(pdf, index=False).sum()  # raises where the driver would
    return pdf


def main() -> int:
    only: list[str] | None = None
    args = []
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--only":
            only = next(it).split(",")
        elif a != "--all":
            args.append(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("driver-sim")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = registry.queries(), registry.oracle_sql()
    if only is not None:
        unknown = [n for n in only if n not in qs]
        if unknown:
            raise SystemExit(f"--only names not registered: {unknown}")
        names = only
    else:
        names = list(qs) if "--all" in sys.argv[1:] else list(qs)[:50]
    bad: list[str] = []
    for name in names:
        try:
            got = canon(qs[name](spark, sf_dir).toPandas())
            sql = oracles.get(name)
            if sql is None:
                print(f"  {name}: rows-only (no oracle), {len(got)} rows")
                continue
            want = canon(con.execute(sql).fetchdf())
            if len(got) != len(want):
                raise AssertionError(f"rows {len(got)} != {len(want)}")
            if list(got.columns) != list(want.columns):
                raise AssertionError(f"cols {list(got.columns)} != {list(want.columns)}")
            pd.testing.assert_frame_equal(
                got, want, check_dtype=False, check_exact=True
            )
        except Exception as e:
            bad.append(name)
            print(f"DRIVER-SIM FAIL {name}: {str(e).splitlines()[0]}")
    print(f"driver-sim: {len(names) - len(bad)}/{len(names)} exact at {sf_dir}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
