"""Paired, interleaved A/B of the perfbench workloads against a git ref.

    python3 tools/ab.py --against <ref> --workload <name> [--workload ...] \\
        --pairs N --seed S [--trace 1] --out AB.jsonl

Side ``parent`` is ``<ref>``'s committed files, exported with
``git archive`` into a temporary directory (under ``$TMPDIR``, default
/tmp); side ``change`` is the working tree this script lives in.  Each
pair runs ``perfbench/run.py`` once per side and workload at the same
seed and for ``BENCHMARK.json``'s ``run_seconds``, parent first in even
pairs and change first in odd ones, so drift of the host's speed over the
session lands on both sides alike.

Every run appends one JSONL record ``{parent, seed, trace, pair, side,
workload, rc, run_wall_s, result, detail}``: ``result`` is the run's last
stdout line (``{correct, attempted, failed, metrics}``) and ``detail`` the
line before it (interference stamp, batch walls and CPU-s, phase walls).
At the end the script prints, per workload and metric, each side's median
[q1, q3] and the pairs the change won, with the direction taken from
``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SIDES = ("parent", "change")


def export(ref: str, dest: Path) -> str:
    """``ref``'s committed files into ``dest``; returns its short sha."""
    sha = subprocess.run(["git", "rev-parse", "--short", ref], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout
    archive = subprocess.Popen(["git", "archive", ref], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout,
                   check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {ref} failed")
    return sha.strip()


def run_once(root: Path, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()

    def line(i: int):
        try:
            return json.loads(lines[i])
        except (IndexError, ValueError):
            return None

    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
    return {"rc": p.returncode, "run_wall_s": round(wall, 1),
            "result": line(-1) if p.returncode == 0 else None,
            "detail": line(-2) if p.returncode == 0 else None}


def benchmark() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def summarize(records: list[dict]) -> list[str]:
    bench = benchmark()
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench["per_layer"]}
    out = []
    for wl in sorted({r["workload"] for r in records}):
        runs = {(r["pair"], r["side"]): r for r in records
                if r["workload"] == wl}
        pairs = sorted({p for p, _ in runs})
        failed = sum(1 for r in runs.values()
                     if r["rc"] != 0 or not (r["result"] or {}).get("correct"))
        out.append(f"{wl}: {len(pairs)} pairs, {failed} failed or "
                   "incorrect runs")
        names = []
        for r in runs.values():
            for k in ((r["result"] or {}).get("metrics") or {}):
                if k not in names:
                    names.append(k)
        for k in names:
            def val(p, side):
                m = (runs.get((p, side), {}).get("result") or {}).get(
                    "metrics", {})
                return m[k]["value"] if k in m else None

            full = [p for p in pairs
                    if None not in (val(p, "parent"), val(p, "change"))]
            if not full:
                continue
            sign = -1 if better.get(k, "lower") == "lower" else 1
            wins = sum(sign * (val(p, "change") - val(p, "parent")) > 0
                       for p in full)
            ties = sum(val(p, "change") == val(p, "parent") for p in full)
            cols = []
            for side in SIDES:
                m, q1, q3 = quartiles([val(p, side) for p in full])
                cols.append(f"{side} {m:.4g} [{q1:.4g}, {q3:.4g}]")
            out.append(f"  {k:28s} {cols[0]:34s} {cols[1]:34s} "
                       f"change wins {wins}/{len(full)} (ties {ties})")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--against", required=True, help="git ref of side parent")
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True, help="JSONL file to append to")
    args = p.parse_args(argv)

    seconds = benchmark()["run_seconds"]
    tmp = Path(tempfile.mkdtemp(prefix="ds2s-ab-"))
    records = []
    try:
        sha = export(args.against, tmp)
        roots = {"parent": tmp, "change": ROOT}
        for pair in range(args.pairs):
            order = SIDES if pair % 2 == 0 else SIDES[::-1]
            for wl in args.workload:
                for side in order:
                    rec = {"parent": sha, "seed": args.seed,
                           "trace": args.trace, "pair": pair, "side": side,
                           "workload": wl}
                    rec.update(run_once(roots[side], wl, args.seed,
                                        seconds, args.trace))
                    records.append(rec)
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                    print(f"pair {pair} {wl} {side}: rc {rec['rc']}, "
                          f"{rec['run_wall_s']} s", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("\n".join(summarize(records)))
    return 0 if all(r["rc"] == 0 for r in records) else 1


if __name__ == "__main__":
    sys.exit(main())
