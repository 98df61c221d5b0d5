"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The run itself happens in a child process
(``perfbench.bench``) in a session of its own, so that the Spark JVM and
its Python workers can be stopped and waited for when it ends.  Spark's
scratch space, temporary files and the index store stay under
``.perfbench/`` in the root.  The last line of stdout is the result JSON;
on any failure nothing is printed there and the exit code is not 0.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CHILD_TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                if os.getpgid(int(p)) == pgid:
                    return True
            except ProcessLookupError:
                pass
    return False


def _stop_group(pgid: int) -> None:
    """Kill every process of the child's group (the Spark JVM and its
    Python workers: they hold nothing worth a graceful stop) and wait until
    none is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.monotonic() + 30
    while _group_alive(pgid):
        if time.monotonic() > end:
            raise RuntimeError(f"processes of group {pgid} outlived SIGKILL")
        time.sleep(0.05)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, help=argparse.SUPPRESS)
    args = p.parse_args()
    if not (ROOT / "ds2s" / "__init__.py").is_file():
        print(f"perfbench: no ds2s package under {ROOT}", file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    work = base / f"run-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [x for x in [env.get("PYTHONPATH")] if x]),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    cmd = [sys.executable, "-m", "perfbench.bench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", str(work)]
    if args.trace:
        (base / "traces").mkdir(parents=True, exist_ok=True)
        cmd += ["--spans", str(base / "traces"
                               / f"{args.workload}-{args.seed}.json")]
    if args.docs:
        cmd += ["--docs", str(args.docs)]
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        out = None
    finally:
        _stop_group(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = (out or "").strip().splitlines()
    if child.returncode != 0 or not lines:
        sys.stderr.write(out or "")
        return 1
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
