"""One harness for the measured scale ramps (SCALE.md and CLAUDE.md cite them).

    python tools/ramp.py <name> [--sizes a,b,c]

Starts one session, warms the Arrow path and prints one host-probe line;
then, per size, builds the ramp's input, times each variant on it, runs
the ramp's check and prints one JSON line
``{"ramp", "n", "s": {variant: seconds}, <check facts>, "ok"}``. The exit
status is non-zero when any check fails. The ramps live in
``tools/ramps/<family>.py``; ``python tools/ramp.py -h`` lists them.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ramps import same_results  # noqa: E402

FAMILIES = (
    "bloom", "cloudsync", "containment", "incremental", "media", "ordering",
    "retrieval", "selection", "semdecon", "sketch", "snapshot_dedup",
)


def registered() -> dict:
    ramps = {}
    for family in FAMILIES:
        ramps.update(importlib.import_module(f"tools.ramps.{family}").RAMPS)
    return ramps


def run(name: str, ramp, sizes, spark) -> bool:
    """Every size of one ramp; True when every check passed. The build's
    cleanup runs however the variants or the check end."""
    ok = True
    for n in sizes:
        with ramp.build(spark, n) as inp:
            results, secs = {}, {}
            for variant, fn in ramp.variants.items():
                t0 = time.perf_counter()
                results[variant] = fn(spark, inp)
                secs[variant] = round(time.perf_counter() - t0, 3)
            facts = (ramp.check or same_results)(spark, inp, results)
        passed = bool(facts.pop("ok"))
        print(json.dumps({"ramp": name, "n": n, "s": secs, **facts, "ok": passed}),
              flush=True)
        ok = ok and passed
    return ok


def start_session():
    from perfbench.run import host_probe
    from signalk_parquet_spark.session import get_spark

    print(json.dumps({"host": host_probe()}), flush=True)
    spark = get_spark("ramp")
    spark.range(32).mapInPandas(lambda it: it, "id long").count()  # warm Arrow
    return spark


def main(argv=None, ramps=None, spark=None) -> int:
    ramps = registered() if ramps is None else ramps
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("name", choices=sorted(ramps))
    ap.add_argument("--sizes", help="comma-separated sizes (default: the ramp's)")
    args = ap.parse_args(argv)
    ramp = ramps[args.name]
    sizes = [int(s) for s in args.sizes.split(",")] if args.sizes else ramp.sizes
    return 0 if run(args.name, ramp, sizes, spark or start_session()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
