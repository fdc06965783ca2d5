"""Interleaved A/B of perfbench between two commits.

    python3 tools/ab.py --workload etl --pairs 10 --seed 9601 \\
        [--base HEAD~1] [--head HEAD] [--trace 0]

Run from the repository root. Each commit's tree is exported with
``git archive`` into a temporary directory, so each side runs exactly
its committed files, and ``python3 perfbench/run.py`` runs in the two
directories alternately, for the head's ``BENCHMARK.json``
``run_seconds``: pair ``i`` runs seed ``--seed + i`` on both sides,
and the side that runs first alternates from pair to pair. To
compare uncommitted work, stage it and pass ``--head $(git stash
create)``.

It prints one line per run (side, seed, correctness, the CPU steal
share during the run, the metrics) and then, per metric declared in
the head's ``BENCHMARK.json``: the head's wins out of the pairs (ties
count for neither), each side's median and quartiles, the median of
the per-pair head/base ratios with a bootstrap 95% interval, and
whether the medians differ by more than the base's interquartile
range. Stdlib only.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(ref: str, dest: str) -> str:
    """Write the tree of commit ``ref`` to ``dest``; return the full sha."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", ref + "^{commit}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {sha} failed")
    return sha


def declared(checkout: str, trace: int) -> tuple[float, list[tuple[str, str]]]:
    """The run length and the (name, better) of each metric the run
    reports."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["per_layer" if trace else "end_to_end"]
    return bench["run_seconds"], [(m["name"], m["better"]) for m in metrics]


def run_once(checkout: str, args, seconds: float, seed: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace),
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} in {checkout} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {
        "seed": seed,
        "correct": result["correct"],
        "failed": result["failed"],
        "attempted": result["attempted"],
        "steal": detail["host"]["cpu_steal_share"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(name: str, better: str, base: list[float], head: list[float]) -> dict:
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (b - h) > 0 for b, h in zip(base, head))
    b1, bm, b3 = quartiles(base)
    h1, hm, h3 = quartiles(head)
    ratios = [h / b for b, h in zip(base, head) if b]
    rng = random.Random(0)
    boot = sorted(
        statistics.median(rng.choices(ratios, k=len(ratios))) for _ in range(2000)
    ) if ratios else []
    return {
        "metric": name,
        "better": better,
        "wins": wins,
        "pairs": len(base),
        "base": [b1, bm, b3],
        "head": [h1, hm, h3],
        "ratio": statistics.median(ratios) if ratios else None,
        "ratio_ci95": [boot[49], boot[1949]] if boot else None,
        "gap_over_base_iqr": abs(hm - bm) > (b3 - b1),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    p.add_argument("--base", default="HEAD~1")
    p.add_argument("--head", default="HEAD")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    work = tempfile.mkdtemp(prefix="ab-")
    try:
        sides = {s: os.path.join(work, s) for s in ("base", "head")}
        shas = {s: export(getattr(args, s), d) for s, d in sides.items()}
        print(f"base {shas['base']}  head {shas['head']}  workload {args.workload}", flush=True)
        seconds, specs = declared(sides["head"], args.trace)
        runs: dict[str, list[dict]] = {"base": [], "head": []}
        for i in range(args.pairs):
            seed = args.seed + i
            for side in ("base", "head") if i % 2 == 0 else ("head", "base"):
                r = run_once(sides[side], args, seconds, seed)
                runs[side].append(r)
                values = " ".join(f"{n}={r['metrics'][n]:.4g}" for n, _ in specs)
                print(
                    f"pair {i:2d} {side} seed={seed} correct={r['correct']} "
                    f"failed={r['failed']}/{r['attempted']} steal={r['steal']:.4f} {values}",
                    flush=True,
                )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    summary = [
        summarize(n, b, [r["metrics"][n] for r in runs["base"]], [r["metrics"][n] for r in runs["head"]])
        for n, b in specs
    ]
    print(f"\n{'metric':32} {'wins':>6} {'base q1/med/q3':>26} {'head q1/med/q3':>26} {'ratio [95% CI]':>22} gap>IQR")
    for s in summary:
        ci = "" if s["ratio_ci95"] is None else f"[{s['ratio_ci95'][0]:.3f},{s['ratio_ci95'][1]:.3f}]"
        ratio = "-" if s["ratio"] is None else f"{s['ratio']:.3f} {ci}"
        print(
            f"{s['metric']:32} {s['wins']:>3}/{s['pairs']:<2} "
            + " ".join("/".join(f"{x:.4g}" for x in s[k]).rjust(26) for k in ("base", "head"))
            + f" {ratio:>22} {s['gap_over_base_iqr']}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
