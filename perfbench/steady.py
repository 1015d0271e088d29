"""Steadiness mode: repeat each workload over consecutive seeds and report,
per end-to-end metric, the median, quartiles, spread and max/min ratio.

    python3 perfbench/steady.py --runs 10 [--workloads crawl_rounds,...]
        [--first-seed 1] [--traced 2] [--out FILE]

Runs are strictly serial, one ``run.py`` process at a time. The spread is
the interquartile distance as a share of the median
(``statistics.quantiles(values, n=4)``); ``steady`` marks metrics whose
spread is below a third of their bound (``setup_s`` is exempt, as its
spread is not bounded). ``--traced N`` adds N traced runs per workload and
reports the tracing overhead: traced end-to-end medians minus untraced
ones. ``--out`` writes everything, raw values included, as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["process_s"] = wall
    # the human-readable "  name value unit" lines: raw figures included
    out["figures"] = {
        ln.split()[0]: float(ln.split()[1]) for ln in lines[:-1] if ln.startswith("  ")
    }
    return out


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "max_min": max(values) / min(values) if min(values) else 1.0,
        "values": values,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"runs": args.runs, "first_seed": args.first_seed, "workloads": {}}
    for wl in args.workloads.split(","):
        seeds = range(args.first_seed, args.first_seed + args.runs)
        results = [run_once(wl, s, spec["run_seconds"], 0) for s in seeds]
        rep = {
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "process_s": summarize([r["process_s"] for r in results]),
            "metrics": {},
        }
        print(f"{wl}: {args.runs} runs, correct={rep['correct']} "
              f"failed={rep['failed']}/{rep['attempted']} "
              f"process median {rep['process_s']['median']:.1f} s")
        for name, bound in bounds.items():
            s = summarize([r["metrics"][name]["value"] for r in results])
            s["bound"] = bound
            s["steady"] = name == "setup_s" or s["spread"] < bound / 3
            rep["metrics"][name] = s
            print(f"  {name:<14} median {s['median']:>11.4f}  q1 {s['q1']:>11.4f}  "
                  f"q3 {s['q3']:>11.4f}  spread {s['spread']:.3f} (bound {bound})  "
                  f"max/min {s['max_min']:.3f}{'' if s['steady'] else '  NOT STEADY'}")
        figures = {
            name: summarize([r["figures"][name] for r in results])
            for name in results[0]["figures"] if name not in bounds
        }
        rep["figures"] = figures
        print("  other figures (spread):", ", ".join(
            f"{k} {v['median']:.4g} ({v['spread']:.3f})" for k, v in figures.items()))
        if args.traced:
            traced = [run_once(wl, s, spec["run_seconds"], 1) for s in seeds[:args.traced]]
            over = {}
            for name in ("items_per_s", "step_p50_s"):
                t = statistics.median(r["metrics"][f"trace.{name}"]["value"] for r in traced)
                u = rep["metrics"][name]["median"]
                over[name] = {"traced": t, "untraced": u, "overhead": t - u, "share": (t - u) / u}
                print(f"  tracing overhead {name}: {t - u:+.4f} ({(t - u) / u:+.1%})")
            rep["tracing_overhead"] = over
        report["workloads"][wl] = rep
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
