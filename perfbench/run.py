"""Benchmark launcher: run one fabrix_spark workload in a child process.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

The workloads are listed in ``BENCHMARK.json`` and defined in
``perfbench/workloads.py``. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer Spark ledger. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

The launcher owns the process environment so the measured child is the
same from any working directory:

* ``PYTHONPATH`` starts with the checkout root, so Spark's Python workers
  can import ``fabrix_spark`` (a worker does not inherit the driver's
  ``sys.path``);
* every temporary file (Python ``tempfile``, Spark local dirs, the JVM
  temp dir, the SQL warehouse) goes to a per-run directory under
  ``.perfbench_work/`` in the checkout, removed at exit;
* the launcher is a child subreaper: every descendant (the JVM, Spark's
  Python daemon and workers) is stopped and reaped before it exits.

The input tables are read from ``$SPARK_GRAFT_SF_DIR`` (default
``~/testdata/sf0.1``) and never written.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# the child must finish well inside the 180 s a run is allowed
CHILD_TIMEOUT_S = 170.0
PR_SET_CHILD_SUBREAPER = 36


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"]
    p.add_argument("--workload", required=True, choices=[w["name"] for w in declared])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def _child_env(run_dir: Path) -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    for sub in ("tmp", "spark", "jvm", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    env["TMPDIR"] = str(run_dir / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark")
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"),
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={run_dir / 'jvm'} -Dderby.system.home={run_dir / 'jvm'}"),
            "pyspark-shell",
        ]
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env.setdefault("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    return env


def _become_subreaper() -> None:
    """Make orphaned descendants (the JVM once the child exits, Spark's
    Python daemon once the JVM exits) re-parent to this process, so they
    can be stopped and reaped here."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            if stat.read_text().rsplit(")", 1)[1].split()[1] == me:
                out.append(int(stat.parent.name))
        except OSError:
            continue
    return out


def _stop_descendants() -> None:
    """Reap every descendant, signalling the live ones (SIGTERM, then
    SIGKILL for the last 5 of at most 10 s); returns once none is left."""
    deadline = time.monotonic() + 10.0
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        left = deadline - time.monotonic()
        if left < 0:
            return
        for pid in _children():
            try:
                os.kill(pid, signal.SIGTERM if left > 5.0 else signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not (ROOT / "fabrix_spark" / "__init__.py").is_file():
        print("perfbench: fabrix_spark sources not found in the checkout", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work"
    run_dir = work / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    env = _child_env(run_dir)
    cmd = [
        sys.executable, "-m", "perfbench.bench",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", str(work), "--run-dir", str(run_dir),
    ]
    _become_subreaper()
    child = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S:.0f} s", file=sys.stderr)
        child.kill()
        child.wait()
        rc = 3
    finally:
        _stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
