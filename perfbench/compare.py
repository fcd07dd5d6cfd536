"""Compare two suite result files (base, then candidate).

    python3 perfbench/compare.py base.json cand.json

Per workload and end-to-end metric: each side's median and quartiles, the
change of the median, and the share of seed-matched pairs the candidate
won (ties count for neither side). Then the per-layer metrics that moved:
those whose medians differ by more than both sides' inter-quartile
distance.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

from spec import BETTER
from stats import quartiles


def pairs_won(base: dict[int, float], cand: dict[int, float], higher: bool) -> tuple[int, int]:
    """``(won, pairs)``: seeds where the candidate is strictly better."""
    seeds = sorted(base.keys() & cand.keys())
    won = sum((cand[s] > base[s]) if higher else (cand[s] < base[s]) for s in seeds)
    return won, len(seeds)


def moved(a: list[float], b: list[float]) -> bool:
    qa, qb = quartiles(a), quartiles(b)
    return abs(qb[1] - qa[1]) > max(qa[2] - qa[0], qb[2] - qb[0])


def by_seed(runs: list[dict], workload: str, trace: int, key: str) -> dict[int, dict]:
    return {r["seed"]: r[key] for r in runs
            if r["workload"] == workload and r["trace"] == trace and key in r}


def compare(base: list[dict], cand: list[dict]) -> None:
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in cand}):
        print(f"\n== {w}")
        a, b = by_seed(base, w, 0, "end_to_end"), by_seed(cand, w, 0, "end_to_end")
        names = list(next(iter(a.values()), {}))
        for name in names:
            va = {s: m[name] for s, m in a.items()}
            vb = {s: m[name] for s, m in b.items()}
            if not va or not vb:
                continue
            qa, qb = quartiles(list(va.values())), quartiles(list(vb.values()))
            won, n = pairs_won(va, vb, BETTER[name] == "higher")
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            print(f"  {name:<16} base {qa[1]:.5g} [{qa[0]:.5g}, {qa[2]:.5g}]  "
                  f"cand {qb[1]:.5g} [{qb[0]:.5g}, {qb[2]:.5g}]  {change:+.1%}  "
                  f"won {won}/{n}")
        la, lb = by_seed(base, w, 1, "per_layer"), by_seed(cand, w, 1, "per_layer")
        if not la or not lb:
            continue
        names = list(next(iter(la.values())))
        shifted = [
            k for k in names
            if moved([m[k] for m in la.values()], [m[k] for m in lb.values()])
        ]
        print("  layers moved: " + (", ".join(
            f"{k} {quartiles([m[k] for m in la.values()])[1]:.4g} -> "
            f"{quartiles([m[k] for m in lb.values()])[1]:.4g}" for k in shifted) or "none"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("cand")
    args = ap.parse_args(argv)
    load = lambda p: json.loads(Path(p).read_text())["runs"]  # noqa: E731
    compare(load(args.base), load(args.cand))
    return 0


if __name__ == "__main__":
    sys.exit(main())
