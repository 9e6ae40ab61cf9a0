"""Steadiness evidence: run every workload over several seeds, report each
end-to-end metric's median and quartiles, then one traced run per workload
for the per-layer table and the tracing overhead.

    python3 cdcbench/steady.py --out cdcbench/results/steadiness

runs every workload of BENCHMARK.json RUNS times untraced and TRACED times
traced, and writes <out>.json (every run's result and detail line) and
<out>.md. The spread of a metric is (q3 - q1) / median over the runs, with
quartiles from statistics.quantiles(values, n=4); the benchmark aims for a
spread below a third of the metric's bound. With --baseline <earlier out>.json, each
metric's median is also compared with that set's: the shift in the worse
direction must stay within the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUNS = 10  # untraced runs per workload, one seed each
TRACED = 1  # traced runs per workload, on the seeds after those


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": time.time() - t0,
            "detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}


def quartiles(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else None, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", required=True, help="output path without extension")
    ap.add_argument("--baseline", default=None, help="an earlier run's <out>.json to compare medians with")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower_better = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    baseline = None
    if args.baseline:
        with open(args.baseline) as f:
            baseline = json.load(f)["report"]

    runs, report = [], {}
    for name in names:
        plain = []
        for seed in range(args.first_seed, args.first_seed + RUNS):
            r = run_once(name, seed, seconds, 0)
            runs.append(r)
            plain.append(r)
            print(f"{name} seed {seed}: {r['wall_s']:.1f}s correct={r['result']['correct']}", file=sys.stderr)
        traced = [run_once(name, args.first_seed + RUNS + i, seconds, 1) for i in range(TRACED)]
        runs += traced
        e2e = {}
        for metric, bound in bounds.items():
            q = quartiles([r["result"]["metrics"][metric]["value"] for r in plain])
            q["bound"] = bound
            q["steady"] = q["spread"] is not None and q["spread"] < bound / 3
            t = statistics.median(r["detail"]["end_to_end"][metric] for r in traced)
            q["traced"] = t
            q["tracing_overhead"] = t / q["median"] - 1 if q["median"] else None
            if baseline:
                base = baseline[name]["end_to_end"][metric]["median"]
                change = q["median"] / base - 1
                q["worse_than_baseline"] = change if lower_better[metric] else -change
                q["agrees_with_baseline"] = q["worse_than_baseline"] <= bound
            e2e[metric] = q
        lookups = sorted(x for r in plain for x in r["detail"]["lookup_latency_s"])
        tail = {}
        if len(lookups) >= 20:
            # highest percentile with at least ten samples beyond it
            pct = 100 * (1 - 10 / len(lookups))
            tail = {"percentile": pct, "samples": len(lookups),
                    "value_s": lookups[len(lookups) - 11]}
        layers = {}
        for r in traced:
            for k, v in r["result"]["metrics"].items():
                layers.setdefault(k, []).append(v["value"])
        report[name] = {
            "runs": len(plain),
            "seeds": [r["seed"] for r in plain],
            "traced_seeds": [r["seed"] for r in traced],
            "all_correct": all(r["result"]["correct"] for r in plain + traced),
            "run_wall_s": quartiles([r["wall_s"] for r in plain]),
            "samples_per_run": plain[0]["detail"]["samples"],
            "end_to_end": e2e,
            "lookup_latency_tail_pooled": tail,
            "per_layer_traced": {k: statistics.median(v) for k, v in layers.items()},
            "per_layer_samples": traced[0]["detail"]["samples"],
        }
    with open(args.out + ".json", "w") as f:
        json.dump({"run_seconds": seconds, "baseline": args.baseline, "report": report, "runs": runs}, f, indent=1)
    with open(args.out + ".md", "w") as f:
        f.write(render(report, seconds))
    print(json.dumps({n: {m: round(q["spread"], 4) for m, q in r["end_to_end"].items()}
                      for n, r in report.items()}))
    return 0


def render(report: dict, seconds: int) -> str:
    out = [f"# Steadiness evidence (run_seconds = {seconds})", ""]
    for name, r in report.items():
        base = "worse_than_baseline" in next(iter(r["end_to_end"].values()))
        out += [f"## {name}", "",
                f"{r['runs']} untraced runs, seeds {r['seeds'][0]}..{r['seeds'][-1]}, traced seed(s) "
                f"{r['traced_seeds']}; all correct: {r['all_correct']}; "
                f"samples per run: {r['samples_per_run']}; run wall median "
                f"{r['run_wall_s']['median']:.1f} s.", "",
                "| metric | median | q1 | q3 | spread | bound | traced median | tracing overhead |"
                + (" worse than baseline |" if base else ""),
                "|---|---|---|---|---|---|---|---|" + ("---|" if base else "")]
        for m, q in r["end_to_end"].items():
            ov = q.get("tracing_overhead")
            out.append(f"| {m} | {q['median']:.4g} | {q['q1']:.4g} | {q['q3']:.4g} | {q['spread']:.3f} | "
                       f"{q['bound']} | {q['traced']:.4g} | "
                       f"{'' if ov is None else f'{ov:+.3f}'} |"
                       + (f" {q['worse_than_baseline']:+.3f} |" if base else ""))
        t = r["lookup_latency_tail_pooled"]
        if t:
            out += ["", f"Lookup latency tail, pooled over all runs: p{t['percentile']:.1f} = "
                        f"{t['value_s']:.3f} s from {t['samples']} lookups (10 beyond it)."]
        out += ["", f"Per-layer metrics of the traced run (samples: {r['per_layer_samples']}):", "",
                "| metric | value |", "|---|---|"]
        out += [f"| {k} | {v:.4g} |" for k, v in r["per_layer_traced"].items()]
        out.append("")
    return "\n".join(out)


if __name__ == "__main__":
    sys.exit(main())
