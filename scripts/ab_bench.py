#!/usr/bin/env python3
"""Interleaved A/B runs of the repository benchmark in two checkouts:

    python3 scripts/ab_bench.py PARENT_DIR CHANGE_DIR --workload pipeline_small \\
        --pairs 10 --tag pr_driver

Each pair runs ``perfbench/run.py --workload W --seed S --seconds X`` once
in each checkout, one after the other, on one seed per pair (``--seed0``,
``--seed0 + 1``, ...). ``X`` is the benchmark's own ``run_seconds`` from
``BENCHMARK.json``. Which side goes first alternates from pair to pair,
so a slow drift of the host weighs on both sides alike. The benchmark
itself is not changed: each checkout runs its own ``perfbench/run.py``.

Writes ``AB_<tag>.json`` (into ``--out``, by default the current
directory): every run's result line with its side, seed and order, and per
side and metric the median and the quartiles, plus per metric how many
pairs read lower in the change than in the parent.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    RUN_SECONDS = json.load(_f)["run_seconds"]
TIMEOUT_S = 900  # per run; a cold run takes well under a minute


def run_once(checkout: str, workload: str, seed: int) -> dict:
    """One benchmark run in ``checkout``; its last stdout line, parsed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(RUN_SECONDS)]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=TIMEOUT_S)
    lines = r.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"error": f"rc={r.returncode}", "stderr_tail": r.stderr[-2000:]}
    result["process_s"] = round(time.time() - t0, 3)
    return result


def summary(xs: list[float]) -> dict:
    """Median and quartiles (inclusive method) of one side's values."""
    if not xs:
        return {"n": 0}
    if len(xs) == 1:
        return {"n": 1, "median": xs[0], "q1": xs[0], "q3": xs[0]}
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"n": len(xs), "median": med, "q1": q1, "q3": q3}


def commit_of(checkout: str) -> str | None:
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=checkout,
                       capture_output=True, text=True)
    if r.returncode != 0:
        return None  # not a git checkout (e.g. a `git archive` copy)
    return r.stdout.strip()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True, choices=("pipeline_small", "operators"))
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--seed0", type=int, default=701)
    ap.add_argument("--out", default=".")
    args = ap.parse_args(argv)

    sides = {"parent": os.path.abspath(args.parent_dir),
             "change": os.path.abspath(args.change_dir)}
    commits = {s: commit_of(d) for s, d in sides.items()}
    path = os.path.join(args.out, f"AB_{args.tag}.json")
    runs = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for pos, side in enumerate(order):
            res = run_once(sides[side], args.workload, seed)
            runs.append({"pair": i, "seed": seed, "side": side, "first": pos == 0,
                         "result": res})
            m = values(res)
            print(f"pair {i} seed {seed} {side}: correct={res.get('correct')} "
                  f"failed={res.get('failed')} wall_s={m.get('wall_s')} "
                  f"rss={m.get('driver_peak_rss_mb')}", file=sys.stderr, flush=True)
            # rewritten after every run: a cut campaign keeps what it ran
            with open(path, "w") as f:
                json.dump(record(args, sides, commits, runs), f, indent=1)
    print(path)
    return 0


def values(result: dict) -> dict[str, float]:
    """A result line's metrics as name -> value."""
    return {k: v["value"] for k, v in result.get("metrics", {}).items()}


def record(args, sides: dict[str, str], commits: dict, runs: list[dict]) -> dict:
    """The AB record over the runs so far; a metric's summary counts only
    pairs where both sides have run."""
    by = {(r["pair"], r["side"]): values(r["result"]) for r in runs}
    names = sorted({k for m in by.values() for k in m})
    metrics = {}
    for name in names:
        vals = {s: [m[name] for (_, side), m in sorted(by.items()) if side == s and name in m]
                for s in sides}
        pairs = [(by[(i, "parent")][name], by[(i, "change")][name])
                 for i in range(args.pairs)
                 if name in by.get((i, "parent"), {}) and name in by.get((i, "change"), {})]
        metrics[name] = {
            "parent": summary(vals["parent"]),
            "change": summary(vals["change"]),
            "pairs_lower_in_change": sum(c < p for p, c in pairs),
            "pairs": len(pairs),
        }
    return {
        # the checkouts by their directory names only: the record stays
        # meaningful on another host
        "command": (
            f"scripts/ab_bench.py {os.path.basename(sides['parent'])} "
            f"{os.path.basename(sides['change'])} --workload {args.workload} "
            f"--pairs {args.pairs} --tag {args.tag} --seed0 {args.seed0}"
        ),
        "workload": args.workload,
        "pairs": args.pairs,
        "seeds": [args.seed0, args.seed0 + args.pairs - 1],
        "seconds": RUN_SECONDS,
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version()},
        "date": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "commits": commits,
        "all_correct": all(r["result"].get("correct") is True for r in runs),
        "failed": {s: sum(r["result"].get("failed", 1) for r in runs if r["side"] == s)
                   for s in sides},
        "metrics": metrics,
        "runs": runs,
    }


if __name__ == "__main__":
    sys.exit(main())
