"""Crawl benchmark: one workload, one seed, one measured window.

Run from the root of a checkout:

    python3 perfbench/run.py --workload wide_round --seed 1 --seconds 6 --trace 0

Prints detail lines starting with ``#`` (world size, settings, window
steadiness, every metric with its unit), then as the last line one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  A traced run also writes its spans to
``.perfbench_out/trace_<workload>_s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _host_loop_ms() -> float:
    """A fixed CPU-bound loop, timed before the run: when the host runs
    other tenants' work, this and every metric slow down together."""
    t = time.perf_counter()
    s = 0
    for i in range(10**6):
        s += i
    return (time.perf_counter() - t) * 1000


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        _fail("run from the checkout root (BENCHMARK.json not found)")
    if not os.path.isfile(
        os.path.join(root, "legislation_scraper_spark", "__init__.py")
    ):
        _fail("the engine sources (legislation_scraper_spark/) are missing")
    sys.path.insert(0, root)
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _fail(f"unknown workload {args.workload!r}")

    from env import BenchEnv, settings
    from workloads import WORKLOADS

    host_ms = _host_loop_ms()
    env = BenchEnv(root)
    try:
        t0 = time.perf_counter()
        env.start()
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](env, args.seed, bool(args.trace))
        t0 = time.perf_counter()
        wl.generate()
        world_s = time.perf_counter() - t0
        wl.setup_parts["session_s"] = session_s
        wl.setup()
        wl.run_window(args.seconds)
        t0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t0
        e2e = wl.end_to_end()
        layer = wl.per_layer() if args.trace else None
        if args.trace:
            path = os.path.join(
                root, ".perfbench_out",
                f"trace_{args.workload}_s{args.seed}.json",
            )
            wl.spans.dump(path, {
                "workload": args.workload, "seed": args.seed,
                "end_to_end_traced": e2e, "per_layer": layer,
            })
            print(f"# spans: {path}")
    finally:
        env.stop()

    print(f"# settings: {json.dumps(settings())}")
    print(f"# world: generated in {world_s:.2f} s (not timed), "
          f"{json.dumps(wl.world['tables'])}")
    print(f"# host: a 10^6-step Python loop took {host_ms:.1f} ms")
    print(f"# window: {json.dumps(wl.steadiness())}")
    print(f"# output checks: {check_s:.2f} s (not timed)")
    kind = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    metrics = {}
    for m in spec[kind]:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"# {m['name']:<28} {values[m['name']]:>14.6g} {m['unit']}")
    if args.trace:
        # end-to-end figures of the traced window, for the overhead report
        for k, v in e2e.items():
            print(f"# traced {k:<21} {v:>14.6g}")
    failed = sum(not o["ok"] for o in wl.ops)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(wl.ops),
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
