"""Compare two bench result files per query, annotated with the ±30%
shared-host noise band AND the sentinel-based contention flag (SCALE.md
/ memory: single samples off the band have twice been host contention,
not regressions — A/B interleaved runs are the arbiter, see
``tools/profiler.py --ab``).

Inputs can be driver BENCH_r{N}.json files (headline queries only) or
BENCH_DETAIL.json files (headline + tail + sentinel series). When a
file carries the sentinel series (bench.py interleaves a fixed, warm,
~0.3 s reference plan every 8 tail entries), tail readings whose
NEIGHBORING sentinel samples drifted ≥ 2× the series median are marked
``contended`` — the README triage rule, applied mechanically instead of
by hand: a contended reading is host noise until an interleaved A/B
says otherwise, and should not be called a regression.

Usage: python tools/bench_compare.py OLD.json NEW.json
Exits 0 always — this is a report, not a gate.
"""

from __future__ import annotations

import json
import sys

NOISE_BAND = 0.30
SENTINEL_DRIFT = 2.0  # ≥2× the sentinel median ⇒ that tail segment is noisy


def load(path: str) -> dict:
    d = json.load(open(path))
    # driver BENCH_r{N}.json wraps bench.py's line under "parsed"
    return d.get("parsed", d)


def all_queries(d: dict) -> dict[str, float]:
    merged = dict(d.get("queries", {}))
    merged.update(d.get("tail_queries", {}))
    return merged


def contended_queries(d: dict) -> set[str]:
    """Tail queries whose surrounding sentinel samples drifted — the
    mechanical form of the README 'Bench tail triage' rule."""
    sent = d.get("sentinel") or {}
    series = sent.get("series") or []
    tail = d.get("tail_queries") or {}
    if not series or not tail:
        return set()
    med = sent.get("median_sec") or sorted(s["sec"] for s in series)[len(series) // 2]
    if not med:
        return set()
    drifted = [s["before_tail_index"] for s in series if s["sec"] >= SENTINEL_DRIFT * med]
    if not drifted:
        return set()
    every = sent.get("every_n_tail", 8)
    # a drifted sentinel at index i taints the tail segments on BOTH
    # sides of it (the load it witnessed straddles the sample point)
    tainted: set[int] = set()
    for i in drifted:
        tainted.update(range(max(0, i - every), i + every))
    # tail_queries' JSON insertion order IS the run order (bench.py fills
    # it sequentially over its sorted tail list) — use it directly instead
    # of re-deriving by sorting names, which would silently mis-attribute
    # contention flags if bench.py ever reorders/filters the tail
    # (r13 ADVICE finding)
    order = list(tail)
    return {name for idx, name in enumerate(order) if idx in tainted}


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    a, b = load(sys.argv[1]), load(sys.argv[2])
    qa, qb = all_queries(a), all_queries(b)
    cont_a, cont_b = contended_queries(a), contended_queries(b)
    shared = sorted(set(qa) & set(qb))
    only_b = sorted(set(qb) - set(qa))
    rows = []
    for name in shared:
        old, new = qa[name], qb[name]
        delta = (new - old) / old if old else float("inf")
        flag = "" if abs(delta) <= NOISE_BAND else ("SLOWER?" if delta > 0 else "faster?")
        cont = []
        if name in cont_a:
            cont.append("contended(old)")
        if name in cont_b:
            cont.append("contended(new)")
        if cont and flag:
            flag = f"{flag} {' '.join(cont)} — discard, host noise"
        elif cont:
            flag = " ".join(cont)
        rows.append((delta, name, old, new, flag))
    rows.sort(reverse=True)
    print(f"{'query':42s} {'old':>8s} {'new':>8s} {'delta':>8s}")
    for delta, name, old, new, flag in rows:
        print(f"{name:42s} {old:8.3f} {new:8.3f} {delta:+8.1%} {flag}")
    tot_a = sum(qa[n] for n in shared)
    tot_b = sum(qb[n] for n in shared)
    print(f"\nshared-{len(shared)}-query total: {tot_a:.3f} -> {tot_b:.3f} "
          f"({(tot_b - tot_a) / tot_a:+.1%}); outside-band movers need an "
          f"interleaved A/B before being called regressions")
    n_flag = sum(1 for _, name, _, _, f in rows if "contended" in f)
    if cont_a or cont_b:
        print(f"sentinel triage: {len(cont_a)} old / {len(cont_b)} new tail readings "
              f"in drifted segments; {n_flag} shared rows auto-marked contended")
    if "value_legacy28" in b:
        print(f"legacy28 bridge total in new file: {b['value_legacy28']}")
    if only_b:
        print(f"new queries (no old sample): {only_b}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
