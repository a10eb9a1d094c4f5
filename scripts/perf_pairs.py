#!/usr/bin/env python3
"""Paired same-host benchmark of two revisions: alternate perfbench runs.

    python3 scripts/perf_pairs.py PARENT CHANGE [--workload backfill]
        [--seeds 111-120] [--seconds 12]

PARENT and CHANGE are git revisions of this repository.  Each is
exported with ``git archive`` into a temporary directory outside the
checkout, then ``python3 perfbench/run.py --workload W --seed S
--seconds N`` runs once per seed on each side, alternating sides (the
side that goes first alternates too, so drift on the host hits both).
For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the change's median gain, the parent's
interquartile range, the pairs the change won, and how far the change's
median is worse than the parent's, relative to the parent median; past
the metric's ``bound`` the line ends in ``OVER BOUND``.

To measure uncommitted work, pass ``$(git stash create)`` as CHANGE
(after ``git add -A`` for new files): it names a commit of the working
tree without touching it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export(rev: str, root: str) -> str:
    """``git archive`` of ``rev`` unpacked into the new directory ``root``."""
    os.makedirs(root)
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", root], input=archive, check=True)
    return root


def run(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run in ``root``; its JSON result (last stdout line)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(f"{cmd} in {root} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> list[float]:
    return statistics.quantiles(values, n=4, method="inclusive")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", default="backfill")
    ap.add_argument("--seeds", default="111-120", help="two or more: 111-120 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=12)
    args = ap.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        metrics = {m["name"]: m for m in json.load(f)["end_to_end"]}
    tmp = tempfile.mkdtemp(prefix="perf_pairs_")
    try:
        sides = {
            "parent": export(args.parent, os.path.join(tmp, "parent")),
            "change": export(args.change, os.path.join(tmp, "change")),
        }
        results: dict[str, list[dict]] = {"parent": [], "change": []}
        for i, seed in enumerate(seeds(args.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                results[side].append(run(sides[side], args.workload, seed, args.seconds))
            line = "  ".join(
                f"{side} {results[side][-1]['metrics']['throughput']['value']:.4g}"
                for side in ("parent", "change")
            )
            print(f"# seed {seed}: throughput {line}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    n = len(results["parent"])
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in results[side])
        attempted = sum(r["attempted"] for r in results[side])
        print(f"{side}: failed {failed}/{attempted} operations over {n} runs")
    for name, m in metrics.items():
        better, bound = m["better"], m["bound"]
        vals = {s: [r["metrics"][name]["value"] for r in results[s]] for s in results}
        (p1, pm, p3), (c1, cm, c3) = quartiles(vals["parent"]), quartiles(vals["change"])
        sign = 1 if better == "higher" else -1
        won = sum(sign * (c - p) > 0 for p, c in zip(vals["parent"], vals["change"]))
        worse = sign * (pm - cm) / abs(pm) if pm else 0.0
        flag = "  OVER BOUND" if worse > bound else ""
        print(f"{name}: parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  change {cm:.4g} "
              f"[{c1:.4g}, {c3:.4g}]  gain {sign * (cm - pm):+.4g} ({better} is better)  "
              f"parent IQR {p3 - p1:.4g}  change won {won}/{n}  "
              f"worse {worse:+.1%} (bound {bound:.0%}){flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
