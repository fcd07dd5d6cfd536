"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 10 --trace 0

Run from the repository root. One client drives the engine in a closed
loop on local[4]: each op starts when the previous one has finished, with
no think time. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans and Spark status-store figures and reports the per-layer
metrics. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; a full result with
per-op samples (and, traced, the spans) goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import oracle  # noqa: E402
import spans  # noqa: E402
from sparkstats import SparkCollector  # noqa: E402
from spec import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
#: builds of a workload's persisted state; set-up reports the median
SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def prepare_env(work: Path) -> dict[str, str]:
    """Point every temp and scratch location of Python, the JVM and Spark
    inside ``work``; returns the Spark confs that do the same."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a heap sized up front: otherwise peak RSS follows when the heap
        # happened to grow, which depends on how fast GC ran on the host
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def vm_hwm_kb(pid: int) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (diagnostic: explains run-to-run speed swings on a shared host)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.ProcessHandle.current().pid()


def cpu_s(*pids: int) -> float:
    """User plus system CPU time of the given processes, all threads."""
    total = 0
    for pid in pids:
        fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def scan(roots) -> dict[str, tuple[int, int]]:
    out = {}
    for r in roots:
        for p in Path(r).rglob("*"):
            if p.is_file():
                st = p.stat()
                out[str(p)] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    return sum(v[0] for k, v in after.items() if before.get(k) != v)


class NullTracer:
    enabled = False

    def span(self, name, layer):
        from contextlib import nullcontext

        return nullcontext()


def patch_lakehouse(tracer) -> None:
    """Trace the lakehouse modules' public commit and read functions."""
    from spark_etl_framework_spark.sources import deltalog, iceberg

    for mod, short, commits, reads in (
        (deltalog, "deltalog",
         ("write_delta", "delete_where", "update_where", "merge_upsert", "optimize_compact"),
         ("read_delta",)),
        (iceberg, "iceberg",
         ("write_iceberg", "delete_where", "update_where", "merge_upsert", "rewrite_data_files"),
         ("read_iceberg",)),
    ):
        for fn in commits:
            tracer.patch(mod, fn, f"{short}.{fn}", f"sources.{short}.commit")
        for fn in reads:
            tracer.patch(mod, fn, f"{short}.{fn}", f"sources.{short}.read")


def table_files(spark, wl) -> dict[str, set[str]]:
    """Live file sets of the lakehouse tables (empty for file workloads)."""
    if not hasattr(wl, "paths"):
        return {}
    from spark_etl_framework_spark.sources import deltalog, iceberg

    delta = {f.path for f in deltalog.snapshot(str(wl.paths["delta"])).files}
    ice = iceberg.read_meta(spark, str(wl.paths["iceberg"]), "files").select("file_path")
    return {"deltalog": delta, "iceberg": {r[0] for r in ice.collect()}}


def log_bytes(wl) -> dict[str, int]:
    if not hasattr(wl, "paths"):
        return {"deltalog": 0, "iceberg": 0}
    from gen import dir_bytes

    return {
        "deltalog": dir_bytes(wl.paths["delta"] / "_delta_log"),
        "iceberg": dir_bytes(wl.paths["iceberg"] / "metadata"),
    }


def op_layers(tracer, i: int, op_wall: tuple[float, float], stats, written: int) -> dict:
    """Per-layer figures of one traced op."""
    ops = tracer.op_spans(i)
    by_id = {s.id: s for s in ops}
    kids: dict[int, list] = {}
    for s in ops:
        kids.setdefault(s.parent, []).append(s)
    jobs = [s for s in ops if s.layer == "spark"]
    job_wall = spans.union_length([(s.start, s.end) for s in jobs])
    actors = [s for s in ops if s.name.startswith("actor.")]
    return {
        "plans.build_s": sum(s.duration for s in ops if s.name == "plans.build"),
        "plans.run_self_s": sum(
            spans.self_time(s, [c for c in kids.get(s.id, []) if c.name.startswith("actor.")])
            for s in ops if s.name == "plans.run"
        ),
        "plans.actions": len(actors),
        "operators.plan_s": spans.layer_time(ops, "operators"),
        "operators.jobs": sum(
            any(a.layer == "operators" for a in spans.ancestors(j, by_id)) for j in jobs
        ),
        "sinks.write_s": spans.layer_time(ops, "sinks"),
        "sinks.bytes_written": written if any(s.layer == "sinks" for s in ops) else 0,
        "sources.deltalog.commit_s": spans.layer_time(ops, "sources.deltalog.commit"),
        "sources.deltalog.read_s": spans.layer_time(ops, "sources.deltalog.read"),
        "sources.iceberg.commit_s": spans.layer_time(ops, "sources.iceberg.commit"),
        "sources.iceberg.read_s": spans.layer_time(ops, "sources.iceberg.read"),
        "spark.jobs": len(jobs),
        "spark.job_wall_s": job_wall,
        "spark.driver_gap_s": (op_wall[1] - op_wall[0]) - job_wall,
        "spark.executor_cpu_s": stats.sums["executor_cpu_s"],
        "spark.executor_run_s": stats.sums["executor_run_s"],
        "spark.gc_s": stats.sums["gc_s"],
        "spark.shuffle_read_bytes": stats.sums["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": stats.sums["shuffle_write_bytes"],
        "spark.spill_bytes": stats.spill_bytes,
        "spark.stages": len(stats.stage_tasks),
        "spark.tasks": sum(stats.stage_tasks),
        "spark.input_bytes": stats.sums["input_bytes"],
        "spark.output_bytes": stats.sums["output_bytes"],
        "spark.failed_tasks": stats.sums["failed_tasks"],
    }


def cycle_metrics(good: list[tuple], n: int) -> dict[str, float]:
    """Times of one cycle of ``n`` ops: per position, the median over the
    timed cycles, summed over the positions (all, read or write). A sum
    over fixed positions does not jump between op kinds the way a median
    over a mixed bag of ops does. ``good`` holds (op, wall s, CPU s)."""
    by_pos: dict[int, list] = {}
    for op, s, c in good:
        by_pos.setdefault(op.index % n, []).append((op, s, c))
    med = [
        (ops[0][0].kind, statistics.median(s for _, s, _ in ops),
         statistics.median(c for *_, c in ops), statistics.median(op.input_rows for op, *_ in ops))
        for ops in by_pos.values()
    ]
    cycle_s = sum(s for _, s, _, _ in med)
    return {
        "cycle_s": cycle_s,
        "read_s": sum(s for k, s, _, _ in med if k == "read"),
        "write_s": sum(s for k, s, _, _ in med if k == "write"),
        "cycle_cpu_s": sum(c for _, _, c, _ in med),
        "rows_per_s": sum(r for *_, r in med) / cycle_s,
    }


def layer_metrics(per_op: list[dict], stage_tasks: list[int], cache, files, logs,
                  traced_cycle_s: float) -> dict[str, float]:
    """Per-op means of the additive layer figures, plus the run-level ones."""
    n = max(1, len(per_op))
    out = {k: sum(d[k] for d in per_op) / n for k in (per_op[0] if per_op else {})}
    for fmt in ("deltalog", "iceberg"):
        out[f"sources.{fmt}.files_added"] = sum(f[fmt][0] for f in files) / n if files else 0.0
        out[f"sources.{fmt}.files_removed"] = sum(f[fmt][1] for f in files) / n if files else 0.0
        out[f"sources.{fmt}.log_bytes"] = float(logs[fmt])
    out["caching.persisted_peak"] = float(max(c.persisted_peak for c in cache)) if cache else 0.0
    out["caching.cached_bytes_peak"] = float(max(c.cached_bytes_peak for c in cache)) if cache else 0.0
    mins = [c.min_partitions for c in cache if c.min_partitions]
    out["caching.min_partitions"] = float(min(mins)) if mins else 0.0
    out["spark.tasks_per_stage.p50"] = float(statistics.median(stage_tasks)) if stage_tasks else 0.0
    wall = sum(d["spark.job_wall_s"] for d in per_op)
    run = sum(d["spark.executor_run_s"] for d in per_op)
    out["spark.core_util"] = run / (wall * CORES) if wall else 0.0
    out["traced.cycle_s"] = traced_cycle_s
    return out


def run(args) -> int:
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    sys.path.insert(0, str(ROOT))
    try:
        from spark_etl_framework_spark.session import get_session
    except ImportError as e:
        log(f"engine package not importable from {ROOT}: {e}")
        return 2
    confs = prepare_env(work)
    t_import = time.perf_counter() - T_START
    wl = WORKLOADS[args.workload](args.seed, work)
    t = time.perf_counter()
    wl.generate()
    log(f"generated inputs in {time.perf_counter() - t:.2f}s: {wl.input_stats}")

    t = time.perf_counter()
    spark = get_session(app_name=f"perfbench-{args.workload}", confs=confs)
    try:
        t_session = time.perf_counter() - t
        state_s = []
        for rep in range(SETUP_REPS if wl.has_state else 1):
            t = time.perf_counter()
            wl.setup(spark, rep)
            state_s.append(time.perf_counter() - t)
        setup_s = t_import + t_session + statistics.median(state_s)
        log(f"import {t_import:.2f}s, session {t_session:.2f}s, "
            f"state {[round(s, 2) for s in state_s]}s")
        return measure(args, spark, wl, out_dir, setup_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


class Loop:
    """The closed loop: runs ops one after another and keeps what each
    left behind (timing, bytes written, traced layer figures)."""

    def __init__(self, args, spark, wl) -> None:
        self.args, self.spark, self.wl = args, spark, wl
        self.sc = spark.sparkContext
        self.tracer = NullTracer()
        self.collector = None
        self.pids = (os.getpid(), jvm_pid(spark))
        self.ops: list[tuple] = []  # (op, op_s, cpu_s, timed)
        self.per_op, self.stage_tasks, self.caches, self.files = [], [], [], []
        self.written = self.user = 0
        self.space_amp = None
        self.sc.setJobGroup("perfbench-bookkeeping", "bookkeeping")

    def start_tracing(self) -> None:
        self.tracer = spans.Tracer()
        patch_lakehouse(self.tracer)
        self.collector = SparkCollector(self.spark)

    def step(self, i: int, timed: bool, amp: bool, amp_last: bool) -> None:
        spark, wl, sc = self.spark, self.wl, self.sc
        traced = self.collector is not None
        op = wl.make_op(i)
        before = scan(wl.roots()) if amp or traced else {}
        files_before = table_files(spark, wl) if traced and op.kind == "write" else {}
        group = f"perfbench-op-{i}"
        sc.setJobGroup(group, op.name)
        sampler = spans.CacheSampler(spark) if traced else None
        w0 = time.time()
        c0 = cpu_s(*self.pids)
        t0 = time.perf_counter()
        try:
            if sampler:
                with sampler, self.tracer.op_span(i, op.name):
                    wl.execute(spark, op, self.tracer)
            else:
                wl.execute(spark, op, self.tracer)
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            op.error = traceback.format_exc()
            log(f"op {i} ({op.name}) failed:\n{op.error}")
        op_s = time.perf_counter() - t0
        op_cpu = cpu_s(*self.pids) - c0
        w1 = time.time()
        if traced:
            stats = self.collector.collect(group, w0, w1)
            for jid, s, e in stats.jobs:
                self.tracer.add(f"job.{jid}", "spark", s, e)
        sc.setJobGroup("perfbench-bookkeeping", "bookkeeping")
        wl.cleanup_op(spark, op)
        wl.after_op(spark, op)
        nbytes = written_bytes(before, scan(wl.roots())) if amp or traced else 0
        if amp:
            self.written += nbytes
            self.user += op.user_bytes
        if amp_last:
            total = sum(v[0] for v in scan(wl.roots()).values())
            self.space_amp = total / wl.live_bytes(spark)
        if traced:
            self.per_op.append(op_layers(self.tracer, i, (w0, w1), stats, nbytes))
            self.stage_tasks.extend(stats.stage_tasks)
            self.caches.append(sampler)
            if files_before:
                after = table_files(spark, wl)
                self.files.append({k: (len(after[k] - files_before[k]),
                                       len(files_before[k] - after[k])) for k in after})
        self.ops.append((op, op_s, op_cpu, timed))


def measure(args, spark, wl, out_dir, setup_s) -> int:
    """One warm-up cycle (part of set-up), then the timed window: whole
    cycles, at least ``wl.timed_cycles`` and at least ``--seconds`` long. Write and space
    amplification are measured over the first timed cycle; peak RSS at the
    end of the window, before the checker loads anything."""
    loop = Loop(args, spark, wl)
    n = len(wl.cycle)
    t = time.perf_counter()
    for i in range(n):
        loop.step(i, timed=False, amp=False, amp_last=False)
    warm_s = time.perf_counter() - t
    setup_s += warm_s
    log(f"warm-up cycle {warm_s:.2f}s; setup_s {setup_s:.2f}")
    if args.trace:
        loop.start_tracing()
    t = time.perf_counter()
    steal0 = steal_s()
    deadline = t + args.seconds
    i = n
    # whole cycles only, so every run times the same mix of op kinds
    while i < (1 + wl.timed_cycles) * n or i % n or time.perf_counter() < deadline:
        loop.step(i, timed=True, amp=i < 2 * n, amp_last=i == 2 * n - 1)
        i += 1
    timed = [(op, s, c) for op, s, c, tm in loop.ops if tm]
    steal = steal_s() - steal0
    log(f"{len(timed)} timed ops in {time.perf_counter() - t:.1f}s, {steal:.1f}s CPU stolen")
    peak_rss_mb = sum(vm_hwm_kb(pid) for pid in loop.pids) / 1024.0

    t_check = time.perf_counter()
    checker = oracle.Checker(wl)
    failed = 0
    for op, *_ in loop.ops:
        ok = op.error is None
        if ok:
            try:
                ok = checker.check(op)
            except Exception:  # noqa: BLE001 — a check that cannot run is a failed op
                log(f"check of op {op.index} raised:\n{traceback.format_exc()}")
                ok = False
        if not ok:
            log(f"op {op.index} ({op.name}) result is wrong or missing")
        failed += not ok
    if not wl.final_check(spark):
        log("final table state differs from the model")
        failed += 1
    log(f"checked {len(loop.ops)} ops in {time.perf_counter() - t_check:.1f}s")

    good = [(op, s, c) for op, s, c in timed if op.error is None]
    cycle = cycle_metrics(good, n)
    e2e = {
        "setup_s": setup_s,
        **cycle,
        "peak_rss_mb": peak_rss_mb,
        "write_amp": loop.written / loop.user,
        "space_amp": loop.space_amp,
    }
    # medians over all timed ops, by kind: kept in the full result only, as
    # they jump between op kinds from run to run
    op_p50 = {
        "op_s.p50": statistics.median(s for _, s, _ in good),
        "read_op_s.p50": statistics.median(s for op, s, _ in good if op.kind == "read"),
        "write_op_s.p50": statistics.median(s for op, s, _ in good if op.kind == "write"),
    }
    out_dir.mkdir(exist_ok=True)
    stem = out_dir / f"{wl.name}-s{args.seed}-t{args.trace}"
    full = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "cores": CORES, "input": wl.input_stats, "warm_up_s": warm_s, "steal_s": steal,
        "end_to_end": e2e, "op_p50": op_p50,
        "samples": [{"op": op.index, "name": op.name, "kind": op.kind, "op_s": s, "cpu_s": c,
                     "rows": op.input_rows, "ok": op.error is None} for op, s, c in timed],
        "failed": failed, "attempted": len(loop.ops),
    }
    if args.trace:
        loop.tracer.restore()
        layers = layer_metrics(loop.per_op, loop.stage_tasks, loop.caches, loop.files,
                               log_bytes(wl), cycle["cycle_s"])
        full["per_layer"] = layers
        full["per_op_layers"] = loop.per_op
        loop.tracer.dump(stem.with_suffix(".spans.jsonl"))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    stem.with_suffix(".json").write_text(json.dumps(full, indent=1))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": len(loop.ops), "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
