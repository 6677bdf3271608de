"""Paired comparison of two qdrant_spark trees with one copy of the
benchmark.

    python3 perfbench/compare.py --parent ../parent --change . \\
        --pairs 10 --first-seed 1000 --out compare.json

Each pair runs the parent and the change on the same seed, alternating
which side goes first. For every workload and end-to-end metric it prints
each side's median and quartiles, the share of pairs the change won, and
a verdict (improved, unchanged, unresolved or regressed) against the
bounds in BENCHMARK.json and, for the workload-only metrics, in run.py.
Every run lasts BENCHMARK.json's ``run_seconds``. Both trees run this
directory's run.py, so the benchmark code and settings are identical.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

from stats import compare_metric

HERE = os.path.dirname(os.path.abspath(__file__))
_METRIC_LINE = re.compile(r"^# ([a-z_0-9.]+) = (\S+) (\S+)$")
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def run_once(tree: str, workload: str, seed: int, seconds: int,
             timeout: float) -> dict:
    """One untraced run in ``tree``: the JSON result, with the
    workload-only metrics of the ``# name = value unit`` lines added."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=tree, capture_output=True, text=True, timeout=timeout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{tree}: {workload} seed {seed} exited "
                           f"{proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        m = _METRIC_LINE.match(line)
        if m and m.group(1) not in result["metrics"]:
            result["metrics"][m.group(1)] = {"value": float(m.group(2)),
                                             "unit": m.group(3)}
    return result


def metric_specs() -> dict[str, tuple[str, float]]:
    """name -> (better, bound): BENCHMARK.json's end-to-end metrics, then
    the workload-only metrics run.py prints, with run.py's bounds."""
    from run import WORKLOAD_ONLY

    specs = {m["name"]: (m["better"], m["bound"])
             for m in BENCHMARK["end_to_end"]}
    for name, (_unit, better, bound, _where) in WORKLOAD_ONLY.items():
        specs.setdefault(name, (better, bound))
    return specs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout root")
    ap.add_argument("--change", required=True, help="changed checkout root")
    ap.add_argument("--workloads", default="bulk-search,ingest")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--timeout", type=float, default=600)
    ap.add_argument("--out", help="write every run's result here (JSON)")
    args = ap.parse_args(argv)

    seconds = BENCHMARK["run_seconds"]
    specs = metric_specs()
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    workloads = args.workloads.split(",")
    runs: dict[str, dict[str, list[dict]]] = {
        w: {"parent": [], "change": []} for w in workloads}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in workloads:
            for side in order:
                r = run_once(sides[side], w, seed, seconds, args.timeout)
                runs[w][side].append(r)
                print(f"pair {i + 1}/{args.pairs} {w} {side}: "
                      f"correct={r['correct']}", file=sys.stderr)

    report = []
    if args.pairs < 10:
        print(f"note: {args.pairs} pair(s); a gain needs at least ten")
    print(f"{'workload':<12} {'metric':<26} {'parent q1/med/q3':>26} "
          f"{'change q1/med/q3':>26} {'wins':>5}  verdict")
    for w in workloads:
        for name, (better, bound) in specs.items():
            par = [r["metrics"][name]["value"] for r in runs[w]["parent"]
                   if name in r["metrics"]]
            chg = [r["metrics"][name]["value"] for r in runs[w]["change"]
                   if name in r["metrics"]]
            if not par or len(par) != len(chg):
                continue
            v = compare_metric(par, chg, better=better, bound=bound)
            fmt = "/".join(f"{x:.4g}" for x in v.parent_quartiles)
            fmc = "/".join(f"{x:.4g}" for x in v.change_quartiles)
            print(f"{w:<12} {name:<26} {fmt:>26} {fmc:>26} "
                  f"{v.win_share:>5.0%}  {v.verdict}")
            report.append({"workload": w, "metric": name, "better": better,
                           "bound": bound, "parent": par, "change": chg,
                           "win_share": v.win_share, "verdict": v.verdict})
        for side in ("parent", "change"):
            bad = sum(not r["correct"] for r in runs[w][side])
            if bad:
                print(f"{w}: {bad} {side} run(s) returned wrong results")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"pairs": args.pairs, "first_seed": args.first_seed,
                       "seconds": seconds, "metrics": report, "runs": runs},
                      f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
