"""One benchmark run; started by ``perfbench/run.py``, which sets the
environment (see there).

A run is a closed loop with one client on ``local[nproc]``:

1. setup (``setup_s``): session start, the lake fixture (if the workload
   writes one), one warm pass at the measured scale factor and
   ``WARMUP_PASSES`` unrecorded passes. In the warm pass every op is
   collected to Arrow; outside the timed region its result is compared
   with its DuckDB oracle. The warm pass runs the ops cold, and the pass
   after it is still 20-30 % slower than the ones that follow (the JVM is
   still compiling: it uses about 1.5x their CPU time), so that pass is
   setup too.
2. measured passes until ``--seconds`` have elapsed and, untraced, at
   least the workload's ``passes``; each pass runs every op of the
   workload in a seeded order, materializing through the noop sink, and
   compacts the ingest lake after a commit that leaves it due.
   With ``--trace 1`` the passes run untraced, then traced pairs each
   followed by an untraced pass: the traced ones read the per-op Spark
   ledger (``ledger.py``); the untraced ones around them give the wall
   the tracing overhead is measured against.
3. the ingest lake is compared with DuckDB's last-write-wins result.

Besides ``setup_s``, the bounded end-to-end metric is ``pass_cpu_s``,
the machine's busy CPU seconds over a pass. The wall times (``pass_s``,
``op_p50_s``, ``op_tail_s``) and ``op_cpu_p50_s`` are printed by every
run and are per-layer metrics of the traced one. On a 4-vCPU guest of a
shared host the hypervisor stole 0-22 % of the CPU time, and the walls
of these latency-bound passes follow it: with 13-18 % stolen a
``relational`` pass took 1.6x its usual wall but 1.07x its usual CPU
time, and with 22 % stolen a ``curation`` pass took 2x its wall.
``context`` and the ``pass steal`` line print the share stolen. ``op_cpu_p50_s`` is not bounded: on ``curation`` it is
the middle of 14 samples of 7 ops whose CPU times lie close together,
and it jumps between them from run to run.

Human-readable lines come first; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WARMUP_PASSES = 1
CLK_TCK = os.sysconf("SC_CLK_TCK")


def epoch_ms() -> int:
    return int(time.time() * 1000)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, samples beyond). With fewer than 11 samples no
    percentile qualifies and the maximum is returned with 0 beyond."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, 0
    k = n - 11
    return s[k], 100.0 * (k + 1) / n, n - 1 - k


def cpu_probe(threads: int = 4, rounds: int = 48) -> float:
    """Wall seconds for ``threads`` threads each hashing 48 MiB (sha256
    releases the GIL, so the threads run in parallel)."""
    buf = bytes(1 << 20)

    def work() -> None:
        for _ in range(rounds):
            hashlib.sha256(buf).digest()

    pool = [threading.Thread(target=work) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return time.perf_counter() - t0


def cpu_jiffies() -> list[int]:
    """The machine's CPU time by state (``/proc/stat``: user, nice,
    system, idle, iowait, irq, softirq, steal, ...), in jiffies."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def cpu_busy(j0: list[int], j1: list[int]) -> tuple[float, float]:
    """Between two ``cpu_jiffies()`` reads: the CPU seconds the machine
    was busy (user, nice, system, irq, softirq; every process of the run
    counts, the JVM's and the Python workers' too) and the share (%) of
    its CPU time the hypervisor stole for other guests."""
    d = [b - a for a, b in zip(j0, j1)]
    total = sum(d[:8])
    busy = sum(d[i] for i in (0, 1, 2, 5, 6)) / CLK_TCK
    return busy, 100.0 * d[7] / total if total else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    for line in Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


@dataclass
class OpRun:
    name: str
    wall_s: float
    build_s: float
    ok: bool
    cpu_s: float = 0.0
    extras: dict = field(default_factory=dict)
    ledger: dict | None = None


@dataclass
class Pass:
    wall_s: float
    runs: list[OpRun]
    traced: bool
    lake_files: int = 0
    cpu_s: float = 0.0
    steal_pct: float = 0.0


class Runner:
    def __init__(self, ctx, ops: tuple, seed: int):
        self.ctx = ctx
        self.ops = ops
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0

    def schedule(self):
        """The ops of one pass in seeded order, each upsert followed by a
        compaction when it left the lake due for one. A generator: the
        lake is looked at only after the caller has run the upsert."""
        from perfbench.workloads import COMPACT

        for op in self.rng.sample(self.ops, len(self.ops)):
            yield op
            if op.writes_lake and self.ctx.lake.compaction_due():
                yield COMPACT

    def op(self, op, collect: bool = False, ledger=None):
        """Run one op; returns (OpRun, collected table or None)."""
        self.attempted += 1
        try:
            op.land(self.ctx)
            j0 = cpu_jiffies()
            w0 = epoch_ms()
            t0 = time.perf_counter()
            df = op.build(self.ctx)
            tb = time.perf_counter()
            wb = epoch_ms()
            table, extras = op.materialize(self.ctx, df, collect)
            t1 = time.perf_counter()
            w1 = epoch_ms()
            cpu_s = cpu_busy(j0, cpu_jiffies())[0]
        except Exception:  # an op failure is a result, not a crash
            self.failed += 1
            print(f"op {op.name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return OpRun(op.name, float("nan"), float("nan"), False), None
        run = OpRun(op.name, t1 - t0, tb - t0, True, cpu_s, extras)
        if ledger is not None:
            run.ledger = ledger.op(w0, wb, w1, df)
            run.ledger["materialize.cached_bytes"] = ledger.cached_bytes()
        return run, table

    def warm_pass(self) -> float:
        """Every op once, collected and checked against its oracle; returns
        the wall time excluding the checks."""
        from perfbench.oracle import compare

        t0 = time.perf_counter()
        check_s = 0.0
        for op in self.schedule():
            run, table = self.op(op, collect=True)
            c0 = time.perf_counter()
            want = op.expected(self.ctx) if run.ok else None
            if want is not None:
                err = compare(table, want)
                if err:
                    self.failed += 1
                    print(f"op {op.name} output mismatch: {err}", file=sys.stderr)
            check_s += time.perf_counter() - c0
        return time.perf_counter() - t0 - check_s

    def measured_pass(self, ledger=None) -> Pass:
        j0 = cpu_jiffies()
        t0 = time.perf_counter()
        if ledger is not None:
            ledger.attach()
        runs = [self.op(op, ledger=ledger)[0] for op in self.schedule()]
        if ledger is not None:
            ledger.detach()
        wall = time.perf_counter() - t0
        cpu_s, steal_pct = cpu_busy(j0, cpu_jiffies())
        files = self.ctx.lake.files() if self.ctx.lake is not None else 0
        return Pass(wall, runs, ledger is not None, files, cpu_s, steal_pct)


def per_layer(setup: dict, passes: list[Pass], commits: list[float], all_ops: list[str]) -> dict:
    from perfbench.ledger import COUNTERS

    traced = [p for p in passes if p.traced]
    untraced = [p for p in passes if not p.traced]

    def med(f) -> float:
        return statistics.median(f(p) for p in traced)

    def ok_runs(p: Pass) -> list[OpRun]:
        return [r for r in p.runs if r.ok]

    def counter(name: str):
        return lambda p: sum(r.ledger[name] for r in ok_runs(p))

    def extra(name: str):
        return lambda p: sum(r.extras.get(name, 0.0) for r in ok_runs(p))

    def write_amp(p: Pass) -> float:
        landed = extra("landed_bytes")(p)
        # lake ops are the ones reporting write-path extras
        written = sum(r.ledger["sink.output_bytes"] for r in ok_runs(p) if r.extras)
        return written / landed if landed else 0.0

    m = dict(setup)
    m["queries.build_s"] = med(lambda p: sum(r.build_s for r in ok_runs(p)))
    m["materialize.cached_bytes"] = med(
        lambda p: max((r.ledger["materialize.cached_bytes"] for r in ok_runs(p)), default=0)
    )
    for name in COUNTERS:
        m[name] = med(counter(name))
    for name in ("pipe.dispatch_s", "lake.upsert_s", "lake.compact_s"):
        m[name] = med(extra(name))
    m["lake.files"] = traced[-1].lake_files
    m["write_amp"] = med(write_amp)
    if commits:
        m["commit_p50_s"] = statistics.median(commits)
        m["commit_tail_s"] = tail(commits)[0]
    else:
        m["commit_p50_s"] = m["commit_tail_s"] = 0.0
    untraced_pass = statistics.median(p.wall_s for p in untraced)
    m["trace.overhead_s"] = med(lambda p: p.wall_s) - untraced_pass
    m["ops.wall_sum_s"] = med(lambda p: sum(r.wall_s for r in ok_runs(p)))
    for name in all_ops:
        walls = [r.wall_s for p in traced for r in ok_runs(p) if r.name == name]
        m[f"op.{name}.wall_s"] = statistics.median(walls) if walls else 0.0
    return m


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--work-dir", type=Path, required=True)
    p.add_argument("--run-dir", type=Path, required=True)
    args = p.parse_args()
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    if not os.path.isfile(os.path.join(sf_dir, "orders.parquet")):
        print(f"perfbench: input tables not found in {sf_dir}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    import pyspark

    from fabrix_spark.session import get_spark

    spark = get_spark("perfbench")
    # the query registry and the operators, pipe and sources it loads
    from perfbench.workloads import COMPACT, Ctx, LakeIngest, workloads

    session_s = time.perf_counter() - t0

    from perfbench.ledger import Ledger
    from perfbench.oracle import Oracles, compare

    catalog = workloads()
    wl = catalog[args.workload]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "sf_dir": sf_dir,
        "sf": os.path.basename(os.path.normpath(sf_dir)).removeprefix("sf"),
        "loadavg_before": [round(x, 2) for x in os.getloadavg()],
        "cpu_probe_s_before": round(cpu_probe(), 4),
    }
    oracles = Oracles(sf_dir, args.work_dir / "oracle")
    ctx = Ctx(spark, sf_dir, oracles)
    fixture_s = 0.0
    if any(op.writes_lake for op in wl.ops):
        t0 = time.perf_counter()
        ctx.lake = LakeIngest(ctx, args.run_dir / "ingest", args.seed)
        ctx.lake.build()
        fixture_s = time.perf_counter() - t0

    runner = Runner(ctx, wl.ops, args.seed)
    warm_s = runner.warm_pass()
    t0 = time.perf_counter()
    for _ in range(WARMUP_PASSES):
        runner.measured_pass()
    warm_s += time.perf_counter() - t0
    setup = {"session.start_s": session_s, "fixture_s": fixture_s, "warm_s": warm_s}
    n_commits_warm = len(ctx.lake.commit_s) if ctx.lake else 0

    ledger = Ledger(spark) if args.trace else None
    passes: list[Pass] = []
    j0 = cpu_jiffies()
    t0 = time.perf_counter()
    if ledger is None:
        while len(passes) < wl.passes or time.perf_counter() - t0 < args.seconds:
            passes.append(runner.measured_pass())
    else:
        # untraced, traced, traced, untraced, ...: the untraced passes
        # bracket the traced ones, so a drift across the run cancels out of
        # the overhead
        passes.append(runner.measured_pass())
        while len(passes) < 4 or time.perf_counter() - t0 < args.seconds:
            passes.append(runner.measured_pass(ledger))
            passes.append(runner.measured_pass(ledger))
            passes.append(runner.measured_pass())
    run_steal_pct = cpu_busy(j0, cpu_jiffies())[1]
    commits = ctx.lake.commit_s[n_commits_warm:] if ctx.lake else []

    if ctx.lake is not None:
        err = compare(ctx.lake.actual(), ctx.lake.expected(oracles.con))
        if err:
            runner.failed += 1
            print(f"ingest lake mismatch: {err}", file=sys.stderr)

    # the share of the measured passes' CPU time the hypervisor gave to
    # other guests while this one's CPUs wanted to run
    context["cpu_steal_pct"] = round(run_steal_pct, 1)
    context["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    context["cpu_probe_s_after"] = round(cpu_probe(), 4)
    context["probe_drift_pct"] = round(
        100.0 * (context["cpu_probe_s_after"] / context["cpu_probe_s_before"] - 1.0), 1
    )

    metrics: dict[str, float] = {}
    measured = [p for p in passes if not p.traced]
    walls = [r.wall_s for p in measured for r in p.runs if r.ok]
    tail_s, tail_pct, tail_beyond = tail(walls)
    if args.trace:
        all_ops = sorted({op.name for w in catalog.values() for op in w.ops} | {COMPACT.name})
        metrics.update(per_layer(setup, passes, commits, all_ops))
    else:
        metrics["setup_s"] = sum(setup.values())
    metrics["pass_cpu_s"] = statistics.median(p.cpu_s for p in measured)
    metrics["op_cpu_p50_s"] = statistics.median(r.cpu_s for p in measured for r in p.runs if r.ok)
    metrics["pass_s"] = statistics.median(p.wall_s for p in measured)
    metrics["op_p50_s"] = statistics.median(walls)
    metrics["op_tail_s"] = tail_s
    metrics["peak_rss_mb"] = peak_rss_mb(spark)
    oracles.close()
    spark.stop()

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = declared["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not computed: {missing}", file=sys.stderr)
        return 4

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(measured)} ops/pass={len(measured[0].runs)}")
    print("context " + json.dumps(context))
    print("pass walls (s): " + " ".join(f"{p.wall_s:.3f}{'t' if p.traced else ''}" for p in passes))
    print("pass cpu (s): " + " ".join(f"{p.cpu_s:.2f}" for p in passes))
    print("pass steal (%): " + " ".join(f"{p.steal_pct:.1f}" for p in passes))
    for name, value in metrics.items():
        note = ""
        if name == "op_tail_s":
            note = f"  (p{tail_pct:.1f}, {tail_beyond} of {len(walls)} samples beyond)"
        print(f"{name} {value:.6g} {units[name]}{note}")
    if commits and not args.trace:
        c_tail, c_pct, c_beyond = tail(commits)
        print(f"commit_p50_s {statistics.median(commits):.6g} s")
        print(f"commit_tail_s {c_tail:.6g} s  (p{c_pct:.1f}, {c_beyond} of {len(commits)} samples beyond)")
    if args.trace:
        ratio = metrics["ops.wall_sum_s"] / metrics["pass_s"]
        print(f"per-op walls sum to {100 * ratio:.1f}% of the untraced pass")
    print(f"failed_ops {runner.failed}/{runner.attempted}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
