#!/usr/bin/env python
"""Interleaved A/B of the store benchmark between two checkouts.

    python tools/ab_perfbench.py PARENT_DIR CHANGE_DIR --pairs 10
    python tools/ab_perfbench.py PARENT_DIR CHANGE_DIR --pairs 10 \\
        --workload ingest --seed 11 --out /tmp/ab

For each workload (default: every workload in CHANGE_DIR's
``BENCHMARK.json``), pair i runs ``perfbench/run.py --seed <seed + i>``
once in each checkout for the ``run_seconds`` that ``BENCHMARK.json`` sets,
one right after the other: odd pairs run the parent first, even pairs the
change first, so drift of the host's speed lands on both sides alike.  Each run's last output line is its JSON result.

Printed per workload and end-to-end metric: the parent's and the change's
median with quartiles, the change of the medians, and the pairs the
change won (by the metric's ``better`` in ``BENCHMARK.json``); then how
many runs were correct and how many operations failed.  With ``--out``,
every run's full output goes to ``<out>/<workload>-<side>-<pair>.log`` and
its result to ``<out>/results.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def run_once(tree: str, workload: str, seed: int, seconds: float, log: str | None):
    """One perfbench run in ``tree``; its JSON result, or None if it gave none."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    if log:
        with open(log, "w") as f:
            f.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(workload: str, results: dict, metrics: list[dict]) -> None:
    print(f"\n## {workload}\n")
    print("| metric | parent median [q1, q3] | change median [q1, q3] | change | pairs won |")
    print("|---|---|---|---|---|")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [
            (p["metrics"][name]["value"], c["metrics"][name]["value"])
            for p, c in zip(results["parent"], results["change"])
            if p and c and name in p["metrics"] and name in c["metrics"]
        ]
        if not pairs:
            continue
        pq1, pmed, pq3 = quartiles([p for p, _ in pairs])
        cq1, cmed, cq3 = quartiles([c for _, c in pairs])
        won = sum((c < p) if lower else (c > p) for p, c in pairs)
        rel = (cmed - pmed) / pmed * 100 if pmed else float("nan")
        print(f"| {name} | {pmed:.4g} [{pq1:.4g}, {pq3:.4g}] | "
              f"{cmed:.4g} [{cq1:.4g}, {cq3:.4g}] | {rel:+.1f} % | {won}/{len(pairs)} |")
    for side in SIDES:
        runs = results[side]
        ok = [r for r in runs if r]
        print(f"\n{side}: {sum(bool(r['correct']) for r in ok)}/{len(runs)} runs correct, "
              f"{sum(r['failed'] for r in ok)}/{sum(r['attempted'] for r in ok)} "
              f"operations failed")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", help="checkout of the parent commit")
    p.add_argument("change", help="checkout of the change")
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--workload", action="append",
                   help="workload to run (repeatable; default: all in BENCHMARK.json)")
    p.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    p.add_argument("--out", help="directory for run logs and results.jsonl")
    args = p.parse_args(argv)

    trees = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    if args.out:
        os.makedirs(args.out, exist_ok=True)

    for workload in workloads:
        results = {side: [] for side in SIDES}
        for i in range(args.pairs):
            seed = args.seed + i
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                log = args.out and os.path.join(args.out, f"{workload}-{side}-{i + 1}.log")
                res = run_once(trees[side], workload, seed, bench["run_seconds"], log)
                results[side].append(res)
                print(f"{workload} pair {i + 1} seed {seed} {side}: "
                      f"{'no result' if res is None else 'correct' if res['correct'] else 'INCORRECT'}",
                      file=sys.stderr, flush=True)
                if args.out:
                    with open(os.path.join(args.out, "results.jsonl"), "a") as f:
                        f.write(json.dumps({"workload": workload, "pair": i + 1, "seed": seed,
                                            "side": side, "result": res}) + "\n")
        summarize(workload, results, bench["end_to_end"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
