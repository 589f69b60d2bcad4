"""Steadiness report: run one workload over several seeds (one fresh
process per run, one run at a time) and print, for every end-to-end
metric, the median, the quartiles, the spread (q3 - q1) / median and the
metric's bound from BENCHMARK.json; spreads above the bound are flagged.

    python3 perfbench/report.py --workload deep_crawl --seeds 1-10
    python3 perfbench/report.py --workload wide_round --seeds 1-10 \\
        --trace-seed 1 --compare .perfbench_out/report_wide_round_a.json

``--trace-seed`` adds one traced run and reports the tracing overhead:
the traced window's end-to-end figures against the untraced medians.
``--compare`` checks this set's medians against an earlier report's.
Every run is kept in the saved report, failed ones included.
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


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    rec = {"seed": seed, "trace": trace, "exit": p.returncode,
           "wall_s": round(time.perf_counter() - t, 2)}
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        rec["stderr_tail"] = p.stderr[-2000:]
        return rec
    rec["result"] = json.loads(lines[-1])
    traced = {}
    for ln in lines:
        if ln.startswith("# window: "):
            rec["window"] = json.loads(ln[len("# window: "):])
        elif ln.startswith("# host: "):
            rec["host_loop_ms"] = float(ln.split()[-2])
        elif ln.startswith("# traced "):
            k, v = ln[len("# traced "):].split()
            traced[k] = float(v)
    if traced:
        rec["traced_end_to_end"] = traced
    return rec


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(spec: dict, runs: list[dict]) -> dict:
    ok = [r for r in runs if "result" in r and r["trace"] == 0]
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in ok]
        if not vals:
            continue
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else 0.0
        out[m["name"]] = {
            "median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": m["bound"], "unit": m["unit"], "better": m["better"],
            "n": len(vals),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,9")
    ap.add_argument("--trace-seed", type=int, default=None)
    ap.add_argument("--compare", default=None, help="earlier report JSON")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    runs = []
    for seed in _seeds(args.seeds):
        rec = run_once(args.workload, seed, seconds, 0)
        runs.append(rec)
        res = rec.get("result", {})
        vals = " ".join(
            f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()
        )
        win = rec.get("window", {})
        print(f"seed {seed:>3} exit {rec['exit']} wall {rec['wall_s']:>6}s "
              f"host {rec.get('host_loop_ms', 0):.0f}ms "
              f"correct {res.get('correct')} ops {win.get('ops')} "
              f"first/med {win.get('first_over_median', 0):.3f} {vals}",
              flush=True)
    summary = summarize(spec, runs)
    flagged = []
    print(f"\n{args.workload}: {len(runs)} runs, window {seconds} s")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>7}")
    for name, s in summary.items():
        flag = ""
        if name != "setup_s" and s["spread"] > s["bound"]:
            flag = "  SPREAD > BOUND"
            flagged.append(name)
        elif name != "setup_s" and s["spread"] > s["bound"] / 3:
            flag = "  spread > bound/3"
        print(f"{name:<14}{s['median']:>12.5g}{s['q1']:>12.5g}"
              f"{s['q3']:>12.5g}{s['spread']:>9.3f}{s['bound']:>7}{flag}")

    if args.trace_seed is not None:
        rec = run_once(args.workload, args.trace_seed, seconds, 1)
        runs.append(rec)
        traced = rec.get("traced_end_to_end", {})
        print(f"\ntraced run, seed {args.trace_seed}: exit {rec['exit']} "
              f"wall {rec['wall_s']} s correct "
              f"{rec.get('result', {}).get('correct')}")
        for name, s in summary.items():
            if name in traced and s["median"]:
                print(f"tracing overhead {name:<14} "
                      f"{traced[name] / s['median'] - 1:+.3f} "
                      f"(traced {traced[name]:.5g} vs median {s['median']:.5g})")

    if args.compare:
        with open(args.compare) as f:
            prev = json.load(f)["summary"]
        print(f"\nmedians against {args.compare}")
        for name, s in summary.items():
            if name not in prev:
                continue
            a, b = prev[name]["median"], s["median"]
            worse = (b - a) / a if s["better"] == "lower" else (a - b) / a
            flag = "  WORSE > BOUND" if worse > s["bound"] else ""
            if flag:
                flagged.append(name)
            print(f"{name:<14}{a:>12.5g} -> {b:<12.5g} worse by {worse:+.3f}"
                  f" (bound {s['bound']}){flag}")

    out = args.out or os.path.join(
        ".perfbench_out", f"report_{args.workload}.json"
    )
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "seconds": seconds,
                   "summary": summary, "runs": runs}, f, indent=1)
    print(f"\nreport: {out}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
