"""Spark jobs, driver-only time, py4j commands, generated classes and
JIT time per crawl round.

Builds perfbench's ``deep_crawl`` world for one seed through
``perfbench/env.py`` and ``perfbench/workloads.py`` (same session
settings, world and engine config as the benchmark), runs the crawl's
warm-up rounds, then rounds ``--first`` to ``--last``.  For each of
those rounds it prints:

- the jobs Spark ran, their tasks and their summed wall time
  (job-seconds), split by the call site that launched each job and,
  for jobs launched by a table append, by that table;
- the job timeline: the round's wall time, the union of its jobs'
  intervals (submission to completion), the driver-only remainder
  (wall time minus that union), the time before the first job starts
  and the gap between the last job before the sinks and the first sink
  job;
- the py4j commands the Python side sent the JVM, by kind (the
  command's first letter: ``c`` method call, ``r`` reflection lookup,
  ``i`` constructor, ...).  ``m`` (memory: the deletes py4j's
  finalizer sends as Python drops JVM references) is shown apart,
  as it is sent asynchronously and does not block the round;
- the classes Spark's code generator compiled and the milliseconds the
  JVM's JIT compilers spent (``BenchEnv.jvm_counters``).

The last line is one JSON object with the same numbers.

Run from anywhere; it uses the checkout it lives in:

    python3 scripts/round_jobs.py --seed 1 --first 2 --last 5

The per-table split wraps each table's ``append`` so that the jobs it
launches carry the job description ``sink:<table>``, and the command
count wraps py4j's ``ClientServerConnection.send_command``; the engine
itself is unchanged.  Job records come from Spark's status store
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
import threading
import time

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


class CommandCounter:
    """Counts the py4j commands this process sends, by kind, from every
    thread (the round's sink threads send their own)."""

    def __init__(self) -> None:
        from py4j.clientserver import ClientServerConnection

        self.counts: collections.Counter = collections.Counter()
        lock = threading.Lock()
        real = ClientServerConnection.send_command

        def send_command(conn, command):
            with lock:
                self.counts[command[:1]] += 1
            return real(conn, command)

        ClientServerConnection.send_command = send_command

    def take(self) -> dict[str, int]:
        """The counts since the last call, by kind."""
        out = dict(sorted(self.counts.items()))
        self.counts.clear()
        return out


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
            "start": start.getTime() / 1000 if start is not None else None,
            "end": end.getTime() / 1000 if end is not None else None,
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


def timeline(t0: float, t1: float, jobs: list[dict]) -> dict:
    """The round's wall time [t0, t1] against its jobs' intervals (epoch
    seconds): their union, the driver-only rest, the wait before the
    first job and the gap before the first sink job."""
    spans = sorted(
        (max(j["start"], t0), min(j["end"], t1), j["table"] is not None)
        for j in jobs if j["start"] is not None and j["end"] is not None
    )
    busy, reach = 0.0, t0
    for a, b, _ in spans:  # by start: count what extends past the reach
        busy += max(0.0, b - max(a, reach))
        reach = max(reach, b)
    first_sink = min((a for a, _, sink in spans if sink), default=None)
    before = [b for a, b, _ in spans if first_sink is None or a < first_sink]
    return {
        "wall_s": round(t1 - t0, 3),
        "jobs_union_s": round(busy, 3),
        "driver_only_s": round(t1 - t0 - busy, 3),
        "before_first_job_s": round(spans[0][0] - t0, 3) if spans else None,
        "gap_before_sinks_s": (
            round(first_sink - max(before), 3)
            if first_sink is not None and before else None
        ),
    }


def summary(
    r: int, jobs: list[dict], jvm: dict, times: dict, cmds: dict
) -> dict:
    sinks = [j for j in jobs if j["table"] is not None]
    return {
        "round": r,
        **times,
        "py4j_sync": sum(n for k, n in cmds.items() if k != "m"),
        "py4j_m": cmds.get("m", 0),
        "py4j_by_kind": cmds,
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
    print(
        f"  wall {s['wall_s']:.2f} s = jobs {s['jobs_union_s']:.2f} s + "
        f"driver-only {s['driver_only_s']:.2f} s (before the first job "
        f"{s['before_first_job_s']} s, gap before the sinks "
        f"{s['gap_before_sinks_s']} s)"
    )
    kinds = " ".join(
        f"{k}={n}" for k, n in s["py4j_by_kind"].items() if k != "m"
    )
    print(
        f"  py4j: {s['py4j_sync']} commands ({kinds}), "
        f"m={s['py4j_m']} finalizer deletes"
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
        counter = CommandCounter()
        for r in range(args.first, args.last + 1):
            before = env.jvm_counters()
            counter.take()
            t0 = time.time()
            selected = eng.round(r)["selected"]
            t1 = time.time()
            cmds = counter.take()
            if selected == 0:
                break
            after = env.jvm_counters()
            jobs = jobs_since(store, last)
            if jobs:
                last = jobs[-1]["id"]
            jvm = {k: after[k] - before[k] for k in after}
            rounds.append(
                summary(r, jobs, jvm, timeline(t0, t1, jobs), cmds)
            )
            show(rounds[-1])
        print(json.dumps({"seed": args.seed, "rounds": rounds}))
    finally:
        env.stop()


if __name__ == "__main__":
    main()
