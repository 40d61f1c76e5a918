"""Print the driver's 50-query correctness window and flag placement.

The driver correctness-checks only the FIRST 50 registered queries
(CLAUDE.md); any gate whose SEMANTICS changed this round must sit inside.
Usage: python tools/window_check.py [--suggest] [changed_gate ...]
Exits non-zero if a named gate is outside the window.

``--suggest`` computes the NEXT round's rotation from the
CORRECTNESS_r*.json union (the rotation policy, mechanically): gates with
no driver row in any round first (registration order — new gates land
here automatically), then EDITED gates (see below), then everything else
by ascending last-green round, ties in registration order. Hand-copying
the stale list is how the r6 backlog happened; this makes the policy a
one-command computation. The output is a SUGGESTION — keep families
contiguous before pasting into _WINDOW_FIRST.

``--fingerprint`` (r9) closes the one manual step the policy had left:
"pull in any gate whose semantics the round edits" used to rely on the
builder REMEMBERING every edit — and the r9 micro_avg change altered 10
gates' behavior without touching a single gate's own source, exactly the
class a source-diff would miss. The fingerprint is a SHA-256 of the
gate's ANALYZED Spark plan (normalized: exprIds, object addresses, sf
paths stripped) plus its oracle SQL — a helper edit changes the
expression tree, so it changes the fingerprint. Run
`window_check.py --fingerprint` after the round's window lands to commit
GATE_FINGERPRINTS.json; the next round's `--suggest` diffs against it
and ranks changed gates right after never-checked ones, labeled
"edited".
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from signalk_parquet_spark import registry  # noqa: E402


def last_green_rounds(repo_root: str) -> dict[str, int]:
    """gate -> latest round with a CORRECTNESS row (any result: the policy
    rotates on evidence AGE, and red rows get re-windowed as 'edited')."""
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int("".join(ch for ch in os.path.basename(f) if ch.isdigit()))
            for k in json.load(open(f)):
                last[k] = max(last.get(k, 0), rnd)
        except (ValueError, json.JSONDecodeError):
            continue
    return last


def suggest(names: list[str], last: dict[str, int]) -> list[str]:
    # ties break in TRUE registration order, not the _WINDOW_FIRST-rotated
    # queries() order — the rotated order would rank currently-windowed
    # gates ahead of equally-stale siblings and split families
    reg_pos = {n: i for i, n in enumerate(registry.registration_order())}
    # .get fallback: a name registered by some future non-register() path
    # sorts last instead of crashing the suggester
    return sorted(
        names, key=lambda n: (last.get(n, -1), reg_pos.get(n, len(reg_pos)))
    )[:50]


FINGERPRINT_FILE = "GATE_FINGERPRINTS.json"

#: default fingerprint corpus: smallest SF — analysis only needs schemas,
#: and load()'s one-time materialization is cheapest there
_FP_SF = "/root/testdata/sf0.001"


def _normalize_plan(s: str, sf_dir: str) -> str:
    """Strip the non-semantic noise an analyzed-plan string carries:
    expression ids (#123), Python object addresses (0x7f...), the sf path,
    and session-varying whitespace."""
    import re as _re

    s = s.replace(sf_dir, "<SF>")
    s = _re.sub(r"#\d+", "#", s)
    # HOF lambda variables (transform/filter/aggregate) are freshly named
    # from a SESSION-GLOBAL counter — `lambda x_244#...` — so how many
    # lambdas were analyzed EARLIER in the session leaks into every later
    # plan string. Registering one new gate mid-order shifted the counter
    # of every downstream lambda-bearing gate and faked 19 EDITs in r12;
    # the counter is allocation order, never semantics. (Single-letter
    # `x_N`/`y_N` is Catalyst's freshVarName shape; real columns in this
    # repo never match it.)
    s = _re.sub(r"\b([a-z])_\d+#", r"\1_#", s)
    # rand()/randn() embed a session-random seed in the plan; the seed is
    # not semantics (salting only affects grouping fan-out)
    s = _re.sub(r"\brand(n?)\(-?\d+\)", r"rand\1()", s)
    s = _re.sub(r"0x[0-9a-fA-F]+", "0x", s)
    s = _re.sub(r"\s+", " ", s)
    return s


def compute_fingerprints(sf_dir: str = _FP_SF) -> dict[str, str]:
    """gate -> sha256(normalized analyzed plan + oracle SQL). Builds every
    DataFrame (analysis only — nothing executes beyond load()'s one-time
    table materialization)."""
    import hashlib

    from signalk_parquet_spark.session import get_spark

    # the manifest embeds defaultParallelism (87 gate plans carry it), so
    # it is computed at local[32] on every host
    os.environ["SPARK_GRAFT_CPUS"] = "32"
    spark = get_spark("gate-fingerprints")
    qs, oracles = registry.queries(), registry.oracle_sql()
    out: dict[str, str] = {}
    for name, fn in qs.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().analyzed().toString()
        except Exception as e:  # a broken gate must surface, not vanish
            plan = f"ANALYSIS-ERROR {type(e).__name__}: {e}"
        blob = _normalize_plan(plan, sf_dir) + "\n" + (oracles.get(name) or "")
        out[name] = hashlib.sha256(blob.encode()).hexdigest()
    return out


#: gates edited AFTER the round's manifest refresh, so the fingerprint
#: diff can no longer see them — hand-queued here so the next rotation
#: stays mechanical. CLEAR an entry once its re-gated round lands.
#: (r13: dedup_minhash_lsh cleared — its CORRECTNESS_r12 row is green
#: under the reformatted oracle, per the standing clear-once-landed rule.)
HAND_QUEUED_EDITS: tuple[str, ...] = ()


def edited_gates(repo_root: str) -> list[str]:
    """Gates whose fingerprint differs from the committed manifest (empty
    if no manifest yet — first run bootstraps via --fingerprint; the
    hand-queue only augments an EXISTING manifest's diff, since with no
    manifest every gate is equally unevidenced and 'never-checked'
    ranking already covers them), plus the HAND_QUEUED_EDITS that a
    post-refresh edit hid from the diff."""
    path = os.path.join(repo_root, FINGERPRINT_FILE)
    if not os.path.exists(path):
        return []
    old = json.load(open(path))
    cur = compute_fingerprints()
    diffed = [n for n, h in cur.items() if old.get(n) not in (None, h)]
    return diffed + [n for n in HAND_QUEUED_EDITS if n not in diffed]


def main() -> int:
    names = list(registry.queries())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = [a for a in sys.argv[1:] if a not in ("--suggest", "--fingerprint")]
    if "--fingerprint" in sys.argv[1:]:
        fps = compute_fingerprints(args[0] if args else _FP_SF)
        with open(os.path.join(root, FINGERPRINT_FILE), "w") as f:
            json.dump(fps, f, indent=1, sort_keys=True)
        print(f"wrote {FINGERPRINT_FILE}: {len(fps)} gate fingerprints")
        return 0
    if "--suggest" in sys.argv[1:]:
        last = last_green_rounds(root)
        edited = set(edited_gates(root))
        never = [n for n in names if n not in last]
        ranked = suggest(names, last)
        # edited gates outrank staleness (they'd otherwise sit wherever
        # their last green round left them); never-checked still lead
        ranked = (
            [n for n in ranked if n in never]
            + [n for n in names if n in edited and n not in never]
            + [n for n in ranked if n not in edited and n not in never]
        )[:50]
        print("suggested next window (never-checked, then edited, then stalest):")
        for n in ranked:
            if n in never:
                tag = "never"
            elif n in edited:
                tag = "EDIT"
            else:
                tag = f"r{last[n]:02d}"
            print(f"  {tag:>5}  {n}")
        if not os.path.exists(os.path.join(root, FINGERPRINT_FILE)):
            print("(no GATE_FINGERPRINTS.json — run --fingerprint once to"
                  " enable edited-gate detection)")
        return 0
    print(f"{len(names)} registered; window = first 50")
    for i, n in enumerate(names):
        mark = "|" if i == 49 else " "
        print(f"{i:3d}{mark} {n}")
    rc = 0
    for arg in args:
        if arg not in names:
            print(f"UNKNOWN gate: {arg}")
            rc = 1
        elif names.index(arg) >= 50:
            print(f"OUTSIDE WINDOW: {arg} at {names.index(arg)}")
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
