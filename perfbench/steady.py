"""Steadiness evidence for the benchmark.

    python3 perfbench/steady.py --runs 10 --seed0 1000 --out perfbench/results/set-a.json
    python3 perfbench/steady.py --extras --out perfbench/results/extras.json
    python3 perfbench/steady.py --report perfbench/results/set-*.json

The first form runs every workload of BENCHMARK.json `--runs` times with
seeds seed0, seed0+1, ... (interleaved: every workload on one seed, then
the next seed) and records, per end-to-end metric, the ten
values, their median and quartiles (statistics.quantiles, n=4) and the
spread (q3 - q1) / median next to the metric's bound. The second runs one
traced run per workload (tracing overhead = traced minus untraced
medians) and the single-threaded local[1] kvs-catchup baseline. The
third prints the steadiness tables of saved sets as markdown.
Run from the root of a checkout; runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int, trace: int = 0, cores: int = 4) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    if cores != 4:
        cmd += ["--cores", str(cores)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["log"] = lines[:-1]
    return result


def summarise(values: list[float], bound: float) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else 0.0
    return {"values": values, "median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": bound, "within_third_of_bound": spread < bound / 3,
            "within_bound": spread <= bound}


def steady(bench: dict, runs: int, seed0: int, workloads: list[str]) -> dict:
    """Runs interleaved by seed (every workload on seed n, then n+1, ...),
    so a change in the host's speed during a set shows in every workload
    instead of in one workload's block of runs."""
    seeds = [seed0 + i for i in range(runs)]
    results: dict[str, list[dict]] = {w: [] for w in workloads}
    for seed in seeds:
        for w in workloads:
            r = run_once(bench, w, seed)
            print(f"{w} seed {seed}: correct={r['correct']} wall={r['wall_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
            results[w].append(r)
    out = {}
    for w, rs in results.items():
        out[w] = {
            "seeds": seeds,
            "all_correct": all(r["correct"] for r in rs),
            "failed": sum(r["failed"] for r in rs),
            "wall_s": [round(r["wall_s"], 1) for r in rs],
            "failed_checks": {seed: [line for line in r["log"] if line.startswith("check FAIL")]
                              for seed, r in zip(seeds, rs) if not r["correct"]},
            "metrics": {m["name"]: summarise([r["metrics"][m["name"]]["value"] for r in rs],
                                             m["bound"])
                        for m in bench["end_to_end"]},
        }
    return out


def extras(bench: dict, seed: int, workloads: list[str]) -> dict:
    out = {}
    for w in workloads:
        plain = run_once(bench, w, seed)
        traced = run_once(bench, w, seed, trace=1)
        tm = traced["metrics"]
        out[w] = {
            "seed": seed,
            "traced_correct": traced["correct"],
            "per_layer": {k: v["value"] for k, v in tm.items()},
            "tracing_overhead": {
                k: tm[f"traced.{k}"]["value"] - plain["metrics"][k]["value"]
                for k in ("throughput_per_s", "latency_p50_s", "setup_s")},
            "untraced": {k: v["value"] for k, v in plain["metrics"].items()},
        }
        print(f"{w}: traced ok={traced['correct']} overhead {out[w]['tracing_overhead']}",
              flush=True)
    base = run_once(bench, "kvs-catchup", seed, cores=1)
    out["kvs-catchup local[1]"] = {"seed": seed, "correct": base["correct"],
                                   "metrics": {k: v["value"] for k, v in base["metrics"].items()}}
    print(f"kvs-catchup local[1]: {out['kvs-catchup local[1]']}", flush=True)
    return out


def report(paths: list[str]) -> None:
    sets = {os.path.basename(p): json.load(open(p)) for p in paths}
    first = next(iter(sets.values()))
    for w, data in first.items():
        print(f"\n**{w}** (seeds {data['seeds'][0]}-{data['seeds'][-1]} per set; "
              f"all outputs correct: {all(s[w]['all_correct'] for s in sets.values())})\n")
        print("| metric | bound | " + " | ".join(f"{n} median [q1, q3] spread" for n in sets)
              + " | median change |")
        print("|---|---|" + "---|" * len(sets) + "---|")
        for m, st in data["metrics"].items():
            cells = [f"{s[w]['metrics'][m]['median']:.4g} [{s[w]['metrics'][m]['q1']:.4g}, "
                     f"{s[w]['metrics'][m]['q3']:.4g}] {s[w]['metrics'][m]['spread']:.3f}"
                     for s in sets.values()]
            meds = [s[w]["metrics"][m]["median"] for s in sets.values()]
            change = (meds[-1] - meds[0]) / meds[0] if meds[0] else 0.0
            print(f"| {m} | {st['bound']} | " + " | ".join(cells) + f" | {change:+.3f} |")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--report", nargs="+")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--extras", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    if args.report:
        report(args.report)
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    data = (extras(bench, args.seed0, workloads) if args.extras
            else steady(bench, args.runs, args.seed0, workloads))
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(data, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
