"""Run every workload for one or more seeds, untraced and traced, and print
every end-to-end metric by name and unit, the failure share, the tail
latency, the tracing overhead and the per-layer breakdown.

    python3 perfbench/suite.py --seeds 1 --seconds 10
    python3 perfbench/suite.py --seeds 1-10 --workloads etl_star --out a.json

Each run is its own process (``run.py``), as in a single benchmark run.
The combined result file feeds ``compare.py``. Exits nonzero if any run
failed or returned a wrong result.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

from spec import END_TO_END
from stats import percentile, tail
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: per-layer time figures whose shares of op time make up the breakdown
BREAKDOWN = (
    "plans.build_s", "plans.run_self_s", "operators.plan_s", "sinks.write_s",
    "sources.deltalog.commit_s", "sources.iceberg.commit_s",
    "sources.deltalog.read_s", "sources.iceberg.read_s",
    "spark.job_wall_s", "spark.driver_gap_s", "spark.executor_cpu_s",
)


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    path = ROOT / ".perfbench_out" / f"{workload}-s{seed}-t{trace}.json"
    path.unlink(missing_ok=True)
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if not lines or not path.exists():
        return {"workload": workload, "seed": seed, "trace": trace, "failed": 1, "attempted": 1,
                "error": f"exit {proc.returncode}, no result"}
    return json.loads(path.read_text())


def report(workload: str, runs: list[dict]) -> None:
    plain = [r for r in runs if r["trace"] == 0 and "end_to_end" in r]
    traced = [r for r in runs if r["trace"] == 1 and "per_layer" in r]
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    print(f"\n== {workload} ({len(plain)} untraced, {len(traced)} traced runs)")
    print(f"  failed_frac = {failed / max(1, attempted):.4f}  ({failed}/{attempted} ops)")
    if not plain:
        return
    for name, unit in END_TO_END.items():
        vals = [r["end_to_end"][name] for r in plain]
        print(f"  {name:<16} = {statistics.median(vals):.6g} {unit}")
    for name in plain[0]["op_p50"]:
        print(f"  {name:<16} = {statistics.median(r['op_p50'][name] for r in plain):.6g} s")
    op_s = [s["op_s"] for r in plain for s in r["samples"] if s["ok"]]
    t = tail(op_s)
    if t and t[0] >= 90:
        print(f"  op_s.p90         = {percentile(op_s, 90):.6g} s  (n={len(op_s)})")
    else:
        best = f"p{t[0]:g} = {t[1]:.6g} s" if t else "none"
        print(f"  op_s.p90         = n/a: n={len(op_s)} leaves <10 samples beyond p90; "
              f"highest reportable {best}")
    if not traced:
        return
    lay = {k: statistics.median(r["per_layer"][k] for r in traced) for k in traced[0]["per_layer"]}
    base = statistics.median(r["end_to_end"]["cycle_s"] for r in plain)
    print(f"  tracing overhead = {lay['traced.cycle_s'] - base:+.4f} s on cycle_s")
    mean_op = statistics.median(
        statistics.mean(s["op_s"] for s in r["samples"] if s["ok"]) for r in traced
    )
    print(f"  per-layer (mean per traced op; share of mean op time {mean_op:.3f} s):")
    for k in sorted(BREAKDOWN, key=lambda k: -lay.get(k, 0.0)):
        print(f"    {k:<28} {lay.get(k, 0.0):10.4f} s  {lay.get(k, 0.0) / mean_op:6.1%}")
    for k, v in lay.items():
        if k not in BREAKDOWN:
            print(f"    {k:<28} {v:14.6g}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1", help="e.g. 1 or 1-10 or 1,4,7")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--out", default=str(ROOT / ".perfbench_out" / "suite.json"))
    args = ap.parse_args(argv)
    runs = []
    for seed in parse_seeds(args.seeds):
        for w in args.workloads.split(","):
            for trace in (0, 1):
                r = run_one(w, seed, args.seconds, trace)
                print(f"# {w} seed {seed} trace {trace}: "
                      f"{r.get('error') or 'failed %d/%d' % (r['failed'], r['attempted'])}",
                      file=sys.stderr, flush=True)
                runs.append(r)
    Path(args.out).write_text(json.dumps({"runs": runs}))
    for w in args.workloads.split(","):
        report(w, [r for r in runs if r["workload"] == w])
    return 0 if all(r["failed"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
