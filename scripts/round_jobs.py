"""Spark jobs, generated classes and JIT time per crawl round.

Builds perfbench's ``deep_crawl`` world for one seed through
``perfbench/env.py`` and ``perfbench/workloads.py`` (same session
settings, world and engine config as the benchmark), runs the crawl's
warm-up rounds, then rounds ``--first`` to ``--last``.  For each of
those rounds it prints the jobs Spark ran, their tasks and their summed
wall time (job-seconds), split by the call site that launched each job
and, for jobs launched by a table append, by that table, and the
classes Spark's code generator compiled and the milliseconds the JVM's
JIT compilers spent during the round (``BenchEnv.jvm_counters``).  The
last line is one JSON object with the same numbers.

Run from anywhere; it uses the checkout it lives in:

    python3 scripts/round_jobs.py --seed 1 --first 2 --last 5

The per-table split wraps each table's ``append`` so that the jobs it
launches carry the job description ``sink:<table>``; the engine itself
is unchanged.  Job records come from Spark's status store
(``statusStore().jobsList``), so no listener is added either.  The run
works in perfbench's work dir (``.perfbench_work/`` in the checkout),
so do not run it while perfbench runs in the same checkout.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SINK = "sink:"


def tag_sinks(sc, eng) -> None:
    """Give every job a table append launches the description
    ``sink:<table>``.  PySpark pins each Python thread to a JVM thread,
    so the description reaches the jobs the sink threads launch."""
    for name, table in eng.owned_tables().items():
        def append(*a, _real=table.append, _name=name, **kw):
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(SINK + _name)
            try:
                return _real(*a, **kw)
            finally:
                sc.setJobDescription(prev)

        table.append = append


def _opt(o):
    return o.get() if o.isDefined() else None


def jobs_since(store, after: int) -> list[dict]:
    """Jobs with an id above ``after``, oldest first."""
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        if j.jobId() <= after:
            continue
        start, end = _opt(j.submissionTime()), _opt(j.completionTime())
        out.append({
            "id": j.jobId(),
            "site": j.name().replace(ROOT + os.sep, ""),
            "table": (_opt(j.description()) or "").removeprefix(SINK) or None,
            "tasks": j.numTasks(),
            "seconds": (
                (end.getTime() - start.getTime()) / 1000
                if start is not None and end is not None else 0.0
            ),
        })
    return sorted(out, key=lambda j: j["id"])


def split(jobs: list[dict], key: str) -> dict:
    out: dict = collections.defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "seconds": 0.0}
    )
    for j in jobs:
        if j[key] is None:
            continue
        s = out[j[key]]
        s["jobs"] += 1
        s["tasks"] += j["tasks"]
        s["seconds"] += j["seconds"]
    return {k: {**v, "seconds": round(v["seconds"], 3)} for k, v in out.items()}


def summary(r: int, jobs: list[dict], jvm: dict) -> dict:
    sinks = [j for j in jobs if j["table"] is not None]
    return {
        "round": r,
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "job_s": round(sum(j["seconds"] for j in jobs), 3),
        "sink_jobs": len(sinks),
        "codegen_classes": int(jvm["codegen_classes"]),
        "jit_ms": int(jvm["jit_ms"]),
        "by_site": split([j for j in jobs if j["table"] is None], "site"),
        "by_table": split(sinks, "table"),
    }


def show(s: dict) -> None:
    print(
        f"round {s['round']}: {s['jobs']} jobs ({s['sink_jobs']} in sinks), "
        f"{s['tasks']} tasks, {s['job_s']:.2f} job-s, "
        f"{s['codegen_classes']} codegen classes, {s['jit_ms']} JIT ms"
    )
    for title, key in (("call site", "by_site"), ("sink table", "by_table")):
        print(f"  by {title}:")
        for name, v in sorted(s[key].items(), key=lambda kv: -kv[1]["jobs"]):
            print(
                f"    {v['jobs']:3d} jobs {v['tasks']:4d} tasks "
                f"{v['seconds']:6.2f} s  {name}"
            )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--first", type=int, default=2)
    ap.add_argument("--last", type=int, default=5)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    from env import BenchEnv
    from workloads import DEEP_WARM_ROUNDS, DeepCrawl

    if args.first < DEEP_WARM_ROUNDS or args.last < args.first:
        ap.error(f"need {DEEP_WARM_ROUNDS} <= --first <= --last")
    env = BenchEnv(ROOT)
    try:
        spark = env.start()
        wl = DeepCrawl(env, args.seed, trace=False)
        wl.generate()
        wl.setup()  # the crawl's warm-up rounds
        eng = wl.eng
        for r in range(DEEP_WARM_ROUNDS, args.first):
            eng.round(r)
        sc = spark.sparkContext
        tag_sinks(sc, eng)
        store = sc._jsc.sc().statusStore()
        last = max((j["id"] for j in jobs_since(store, -1)), default=-1)
        rounds = []
        for r in range(args.first, args.last + 1):
            before = env.jvm_counters()
            if eng.round(r)["selected"] == 0:
                break
            after = env.jvm_counters()
            jobs = jobs_since(store, last)
            if jobs:
                last = jobs[-1]["id"]
            jvm = {k: after[k] - before[k] for k in after}
            rounds.append(summary(r, jobs, jvm))
            show(rounds[-1])
        print(json.dumps({"seed": args.seed, "rounds": rounds}))
    finally:
        env.stop()


if __name__ == "__main__":
    main()
