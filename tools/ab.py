"""Interleaved A/B of two git revisions on one perfbench workload.

    python3 tools/ab.py BASE HEAD --workload replicate [--pairs 6] [--seconds 8]

Run from the root of a checkout. Each revision is exported with ``git
archive`` (committed files only) into ``.bench_build/ab/<sha>``, reused if
already there. Then, for seeds 1..pairs, ``perfbench/run.py --workload W
--seed S --trace 0`` runs once in each tree, back to back; the arm that goes
first alternates from seed to seed, so neither arm always runs warm-first.
To measure uncommitted work, stage it and pass ``$(git stash create)`` as a
revision: that names a commit of the index and work tree without moving any
ref.

Prints, for each end-to-end metric in ``BENCHMARK.json``, the median and
interquartile range of each arm, the relative change of the medians, and
in how many pairs HEAD was better. Exits non-zero if any run fails, reports
``correct: false`` or fails an op.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()


def export(rev: str) -> tuple[str, str]:
    """(sha, tree) of ``rev``, exported once into ``.bench_build/ab/<sha>``."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    tree = os.path.join(ROOT, ".bench_build", "ab", sha)
    if not os.path.isdir(tree):
        tmp = f"{tree}.tmp"
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        archive.stdout.close()
        if archive.wait():
            raise SystemExit(f"git archive {sha} failed")
        os.rename(tmp, tree)
    return sha, tree


def run(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """The result line of one untraced perfbench run in ``tree``."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"perfbench failed in {tree} (seed {seed})")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"incorrect run in {tree} (seed {seed}): {lines[-1]}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("head")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--seconds", type=float, default=None,
                    help="timed seconds per run (default: BENCHMARK.json run_seconds)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    arms = {"base": export(a.base), "head": export(a.head)}
    runs: dict[str, list[dict]] = {"base": [], "head": []}
    for seed in range(1, a.pairs + 1):
        order = ("base", "head") if seed % 2 else ("head", "base")
        for arm in order:
            runs[arm].append(run(arms[arm][1], a.workload, seed, seconds))
        print(f"seed {seed}: " + "  ".join(
            f"{arm} rows_per_s={runs[arm][-1].get('rows_per_s', 0):.0f}"
            for arm in ("base", "head")), flush=True)
    print(f"\n{a.workload}: base {arms['base'][0][:10]}, head {arms['head'][0][:10]}, "
          f"{a.pairs} pairs")
    print(f"{'metric':<14}{'base p50':>11}{'base IQR':>11}{'head p50':>11}"
          f"{'head IQR':>11}{'change':>9}{'head wins':>11}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        b = [r[name] for r in runs["base"]]
        h = [r[name] for r in runs["head"]]
        bq, hq = quartiles(b), quartiles(h)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, h))
        change = (hq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        print(f"{name:<14}{bq[1]:>11.4g}{bq[2] - bq[0]:>11.3g}{hq[1]:>11.4g}"
              f"{hq[2] - hq[0]:>11.3g}{change:>+9.1%}{wins:>7}/{len(b)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
