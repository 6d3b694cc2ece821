"""Repo benchmark: one workload, one seed, one closed-loop client.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload vcf_ingest --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`.  `--trace 0` reports the end-to-end
metrics; `--trace 1` turns on Spark's event log, labels every phase with
a job group and reports the per-layer metrics instead.  Every run works
in a fresh state root under `.perfbench/` in the checkout and removes it
on exit.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")


def _process_age() -> float:
    """Seconds since this process started (Linux /proc), so setup_s
    also covers interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


T0 = time.perf_counter() - _process_age()


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _check_checkout() -> None:
    """The benchmark measures the program in its checkout; without it
    there is nothing to run."""
    need = [
        os.path.join(ROOT, "vcf_pg_loader_spark", "__init__.py"),
        os.path.join(ROOT, "tools", "check_oracle.py"),
    ]
    missing = [p for p in need if not os.path.isfile(p)]
    if missing:
        raise SystemExit(f"perfbench: program not found in checkout: {missing}")


def _isolate(run_dir: str) -> None:
    """Per-run state root and worker import path, set before Spark or
    any program module reads them."""
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = run_dir
    tempfile.tempdir = None  # re-read TMPDIR
    # Spark's Python workers import the program by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")


def _become_subreaper() -> None:
    """Make this process the reaper of every process below it (Linux
    prctl PR_SET_CHILD_SUBREAPER), so a process orphaned by the Spark JVM
    -- its Python workers, or the launcher spark-submit leaves behind --
    is reparented here and can be waited for, not left to init."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendant_pids(pid: int) -> list[int]:
    """Every process below `pid`, zombies included (Linux /proc)."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], {pid}
    while frontier:
        frontier = {c for c, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def _reap() -> None:
    """Wait for every child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_children(grace_s: float = 15.0) -> list[int]:
    """Stop every process this run started (the Spark JVM, the Python
    workers it forked, the launcher it left) and wait until each has
    ended.  Returns the pids that outlived SIGKILL, which should be none."""
    left = []
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 5.0)):
        for p in _descendant_pids(os.getpid()):
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            left = _descendant_pids(os.getpid())
            if not left:
                return []
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    return left


def main(argv=None) -> int:
    args = _parse_args(argv)
    _check_checkout()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import workloads

    _become_subreaper()

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    # a terminated run still stops Spark and removes its state root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{time.time_ns()}")
    _isolate(run_dir)
    try:
        result = workloads.run(
            args.workload, seed=args.seed, seconds=args.seconds,
            traced=bool(args.trace), run_dir=run_dir, t0=T0,
        )
    finally:
        left = _stop_children()
        if left:
            print(f"perfbench: processes still running: {left}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(result["detail"], sort_keys=True))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
