"""Repository benchmark: the extract and curate workloads on this machine's cores.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one line per metric, then, as the
last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
DESIGN.md describes the workloads and metrics.

This process only supervises: the workload runs in a child process
(``harness.py``) with a hard timeout, confined to a run directory under
``perfbench/.work``. Afterwards every process the child left behind is
stopped and reaped, and the run directory is removed.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
REPO = HERE.parent
TIMEOUT_S = 170       # the whole run must end within 180 s
STOP_GRACE_S = 5      # SIGTERM, then SIGKILL
DRIVER_MEM = "2g"
PR_SET_CHILD_SUBREAPER = 36

sys.path.insert(0, str(HERE))
import proctree  # noqa: E402


def _stop_descendants() -> None:
    """Terminate, then kill, every live descendant and reap all of them.
    As a child subreaper this process inherits orphaned grandchildren,
    so nothing the workload started can outlive it."""
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        live = proctree.descendant_pids()
        if not live:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (REPO / "pdf_to_text_spark" / "__init__.py").is_file():
        print(f"perfbench: no pdf_to_text_spark package under {REPO}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    run_dir = HERE / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    env = dict(
        os.environ,
        TMPDIR=str(run_dir / "tmp"),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM, the launcher's too: temp files in the run directory
        # and no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        # a driver heap the workloads fill within the warm-up, so resident
        # memory measures the program rather than the JVM's heap growth
        PTS_DRIVER_MEM=DRIVER_MEM,
    )
    cmd = [sys.executable, str(HERE / "harness.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--run-dir", str(run_dir)]
    try:
        # the child's output is diagnostics; stdout carries only the result
        child = subprocess.Popen(cmd, stdout=sys.stderr, env=env, cwd=REPO)
        try:
            rc = child.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: timed out after {TIMEOUT_S} s", file=sys.stderr)
            rc = None
        result_file = run_dir / "result.json"
        if rc != 0 or not result_file.exists():
            print(f"perfbench: workload failed (exit {rc})", file=sys.stderr)
            return 1
        result = json.loads(result_file.read_text())
    finally:
        _stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload={args.workload} seed={args.seed} cores={result['cores']} "
          f"iterations={result['iterations']}")
    for name, m in result["metrics"].items():
        print(f"  {name:<42} {m['value']:>14.6g} {m['unit']}")
    for name, m in result["unbounded"].items():
        print(f"  {name:<42} {m['value']:>14.6g} {m['unit']}")
    print(f"  {'error_share':<42} {result['failed'] / result['attempted']:>14.6g} ratio")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
