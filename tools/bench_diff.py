"""Round-over-round bench comparison — machine-explains per-query deltas so
window-rotation attribution shifts don't get re-litigated every verdict
(r7 verdict Next #8).

Usage:
    python tools/bench_diff.py OLD.json NEW.json [--top N]

Accepts either a full bench.py JSON line (has "queries") or a driver
BENCH_r*.json artifact (truncated "tail" — the per-query map is recovered
as far as the tail reaches; missing queries are reported as such, not as
deltas). Prints:

  * totals + host probes for both runs, and the host-speed ratio — a
    whole-bench swing tracking the spin ratio is the HOST, not the code
    (CLAUDE.md's r3/r4 lesson);
  * queries added/removed between the runs;
  * the top |delta| rows, each annotated when the machine can explain it:
    "first-consumer change" = the query gained/lost the charge for its
    memo family's shared build because registration order rotated
    (family-shared builds are charged to the first consumer in the
    CURRENT order — bench.py r4e note).
"""

from __future__ import annotations

import json
import re
import sys

#: queries that share memoized builds (the memo.MEMO entries: CC labels +
#: the shingle/signature frames): the FIRST of a group to run in bench order
#: pays the group's shared build. Grouped by the memo they share, not by
#: name prefix alone.
MEMO_FAMILIES: dict[str, tuple[str, ...]] = {
    "dedup-shingle/cc": (
        "dedup_incremental_minhash",  # window pos 7 since r11 — first consumer
        "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "dedup_simhash", "dedup_simhash_hamming1", "dedup_levenshtein",
        "dedup_jaccard_prefix", "minhash_estimate_error",
        "dedup_keep_longest", "dedup_keep_corpus", "dedup_substring_spans",
        "dedup_winnowing", "dedup_cluster_cc",
    ),
    "semantic/embeddings": (
        "dedup_semantic", "semdedup_recall", "embedding_neardup",
    ),
    "ann": (
        "knn_bruteforce", "ann_lsh_bucketed", "ann_lsh_multitable",
        "ann_recall", "ann_ivf", "ivf_recall", "ann_scalar_quant",
        "ann_pq", "pq_recall", "ann_ivfpq", "ivfpq_recall",
        "ann_ivf_kmeans", "ivf_kmeans_recall",
    ),
    "lm": ("lm_bigram_score", "perplexity_buckets", "source_divergence"),
}


def load_queries(path: str) -> tuple[dict[str, float], dict]:
    """Returns ({query: sec}, meta). Handles THREE record shapes:

    1. a full bench.py JSON line (has "queries"), including accumulated
       multi-line logs — the LAST line wins, like the old bench-log readers;
    2. a driver BENCH_r*.json artifact: a pretty-printed (MULTI-line) JSON
       object whose "parsed" holds the full bench record when the driver
       could parse it, else whose "tail" is the LAST 2000 chars of bench
       output — head-truncated, so the per-query map is recovered by regex
       as far as the tail reaches and the trailing "order"/"host"/"value"
       fields (which survive truncation by design) become the meta;
    3. anything else → a clear error naming the file.

    (The r8 verdict reproduced a JSONDecodeError here: the old loader did
    splitlines()[-1], which on a pretty-printed driver artifact is just
    "}".)"""
    with open(path) as f:
        text = f.read().strip()
    try:
        d = json.loads(text)  # whole file = one JSON doc (bench line OR artifact)
    except json.JSONDecodeError:
        d = json.loads(text.splitlines()[-1])  # accumulated bench log
    if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
        d = d["parsed"]  # driver artifact that captured a parseable line
    if "queries" in d and isinstance(d["queries"], dict):
        meta = {k: d.get(k) for k in ("value", "n_queries", "sf", "host", "order")}
        return dict(d["queries"]), meta
    if "tail" not in d:
        raise SystemExit(
            f"{path}: neither a bench JSON line (no 'queries') nor a driver"
            f" artifact (no 'tail') — keys: {sorted(d)}"
        )
    tail = d.get("tail", "")
    # head truncation cannot fake a pair: a cut anywhere inside a name also
    # removes its opening quote, so the regex only ever matches COMPLETE
    # "name": value pairs (a cut inside a value leaves a nameless fragment,
    # also unmatched) — pinned by the truncated-tail fixture test
    qs = {m.group(1): float(m.group(2))
          for m in re.finditer(r'"([a-z0-9_]+)":\s*([0-9.]+)', tail)}
    meta = {}
    for k in ("value", "n_queries", "sf"):
        m = re.search(rf'"{k}":\s*([0-9.]+)', tail)
        if m:
            meta[k] = float(m.group(1))
    m = re.search(r'"host":\s*(\{[^}]*\})', tail)
    meta["host"] = json.loads(m.group(1)) if m else None
    m = re.search(r'"order":\s*"([a-z_]+)"', tail)
    if m:
        meta["order"] = m.group(1)
    # structural keys the regex scooped up from the tail's own metadata
    for k in ("value", "n_queries", "sf", "cpus", "par", "spin_s", "par_s",
              "par_ratio", "spin_sec", "par16_sec"):
        qs.pop(k, None)
    meta["partial"] = True
    return qs, meta


def first_consumers(order: list[str]) -> dict[str, str]:
    """family -> first member present in this run's order."""
    out: dict[str, str] = {}
    pos = {q: i for i, q in enumerate(order)}
    for fam, members in MEMO_FAMILIES.items():
        present = [q for q in members if q in pos]
        if present:
            out[fam] = min(present, key=lambda q: pos[q])
    return out


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description="diff two bench JSON records")
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=15)
    ns = ap.parse_args()
    top = ns.top
    old_q, old_m = load_queries(ns.old)
    new_q, new_m = load_queries(ns.new)
    args = (ns.old, ns.new)

    def spin(h):
        # bench.py records spin_s; records before the shared probe, spin_sec
        return h.get("spin_s", h.get("spin_sec"))

    def fmt_host(m):
        h = m.get("host") or {}
        return f"spin {spin(h) or '?'} par {h.get('par_ratio', '?')}"

    common = sorted(set(old_q) & set(new_q))
    old_common = sum(old_q[q] for q in common)
    new_common = sum(new_q[q] for q in common)
    print(f"old: {args[0]}  total={old_m.get('value')}  n={len(old_q)}"
          f"{' (partial tail)' if old_m.get('partial') else ''}  {fmt_host(old_m)}")
    print(f"new: {args[1]}  total={new_m.get('value')}  n={len(new_q)}"
          f"{' (partial tail)' if new_m.get('partial') else ''}  {fmt_host(new_m)}")
    if not common:
        print("no common queries between the two records — nothing to diff")
        return 0
    pct = (f" ({(new_common - old_common) / old_common * 100:+.1f}%)"
           if old_common else "")
    print(f"common {len(common)} queries: {old_common:.1f} s -> {new_common:.1f} s{pct}")
    oh, nh = (old_m.get("host") or {}), (new_m.get("host") or {})
    # compare BOTH probe numbers — parallel throughput degrades
    # independently of single-thread speed (the r4 lesson, CLAUDE.md)
    for label, probe in (("spin", spin), ("par_ratio", lambda h: h.get("par_ratio"))):
        if probe(oh) and probe(nh):
            r = probe(nh) / probe(oh)
            print(f"host-speed ratio new/old ({label}): {r:.2f}"
                  + ("  <-- host moved >15%: judge deltas against this first"
                     if abs(r - 1) > 0.15 else ""))

    added = sorted(set(new_q) - set(old_q))
    removed = sorted(set(old_q) - set(new_q))
    if added:
        print(f"added ({len(added)}): " + ", ".join(f"{q} {new_q[q]:.2f}s" for q in added))
    if removed:
        print(f"removed/not-in-tail ({len(removed)}): " + ", ".join(removed))

    notes: dict[str, str] = {}
    if not (old_m.get("partial") or new_m.get("partial")):
        # a truncated tail cuts the map's HEAD, which would masquerade as a
        # first-consumer change — only attribute on two complete records
        old_fc = first_consumers(list(old_q))
        new_fc = first_consumers(list(new_q))
        for fam in set(old_fc) | set(new_fc):
            o, n = old_fc.get(fam), new_fc.get(fam)
            if o != n:
                for q in (o, n):
                    if q:
                        notes[q] = (f"first-consumer change ({fam}: "
                                    f"{o or '-'} -> {n or '-'}) — shared build re-attributed")
    else:
        print("(first-consumer attribution skipped: a truncated driver tail"
              " cuts the map's head, which would fake a re-attribution)")

    deltas = sorted(common, key=lambda q: -abs(new_q[q] - old_q[q]))[:top]
    print(f"\ntop {top} |delta| (common queries):")
    for q in deltas:
        d = new_q[q] - old_q[q]
        note = notes.get(q, "")
        print(f"  {q:<32} {old_q[q]:7.2f} -> {new_q[q]:7.2f}  {d:+6.2f}s  {note}")
    flagged = {q for q in notes if q not in deltas}
    for q in sorted(flagged & set(common)):
        print(f"  ({q}: {notes[q]})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
