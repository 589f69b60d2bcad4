"""The benchmark's workloads, driven through the engine's public API.

``wide_round``: one crawl round over a frontier seeded with every document
URL of a synthetic web, politeness budgets lifted; each measured operation
is that round on a fresh store.  ``deep_crawl``: a budget-limited crawl
from the search-page seeds; each measured operation is the next round of
one crawl.  Both run rounds of ``plans.crawl.CrawlEngine``.

A workload is set up (inputs registered, warmed), then runs operations
until their summed wall time reaches the window length, then checks every
measured operation's outputs.  In a traced run, layer probes and output
accounting run between operations, outside the timed operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import tracing as tr
from env import CORES, BenchEnv

# World sizes and warm-up lengths are set by the run-time budget: every
# run (session, world, warm-up, window, checks) must stay near a minute.
# wide: ~6.7k documents, ~4.5 MB of pages_raw parquet; deep: ~3.4k
# documents, about 210 URLs per round for about 10 rounds.
WIDE_WORLD = {"docs_per_source": 200, "skew": 10, "partitions": 8}
DEEP_WORLD = {"docs_per_source": 100, "skew": 10, "budget_base": 20,
              "partitions": 8}
# Warm-up is a fixed count: on this engine every round still compiles
# ~100 fresh codegen classes, so round time never settles enough for a
# plateau test to stop at the same point in every run.
WIDE_WARM_REPS = 2      # warm-up rounds, each on a throwaway store
DEEP_WARM_ROUNDS = 2    # the crawl's own rounds 0 (only the 24 seeds) and 1
# A window holds at least this many operations, and the rates are their
# median: one operation slowed by a burst of load elsewhere on the host
# does not move the result.  Deep rounds are mostly job scheduling and
# code generation, whose wall time follows the host's load most closely.
WIDE_MIN_OPS = 2
DEEP_MIN_OPS = 4


def crawl_config():
    from legislation_scraper_spark.plans.crawl import CrawlConfig

    # partition, shard and bucket counts sized to the worlds and cores
    return CrawlConfig(
        n_shards=CORES, frontier_buckets=CORES, fetch_partitions=CORES,
        sink_coalesce=CORES,
    )


def _parquet_stats(path: str, columns: tuple[str, ...] | None = None):
    """(rows, MB) of a parquet dir from footers; MB counts only
    ``columns`` when given (compressed column-chunk bytes)."""
    rows, size = 0, 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(d, f)
            if columns is None:
                size += os.path.getsize(p)
                rows += pq.read_metadata(p).num_rows
                continue
            md = pq.read_metadata(p)
            rows += md.num_rows
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    if col.path_in_schema in columns:
                        size += col.total_compressed_size
    return rows, size / 2**20


def make_world(env: BenchEnv, seed: int, params: dict) -> dict:
    """Generate the seeded world once, write it as parquet in the work
    dir and return its paths with rows and MB per table."""
    from legislation_scraper_spark.synth import synth_world

    w = synth_world(env.spark, seed=seed, **params)
    out = {"small": {}, "tables": {}}
    for name, df in w.items():
        if name in ("seeds", "robots"):  # 24-row in-memory relations
            out["small"][name] = df
            out["tables"][name] = {"rows": df.count()}
            continue
        path = env.path("world", name)
        df.write.mode("overwrite").parquet(path)
        rows, mb = _parquet_stats(path)
        out["tables"][name] = {"rows": rows, "mb": round(mb, 3)}
    # the fetch join reads these pages_raw columns for every row
    out["web_rows"], out["web_scan_mb"] = _parquet_stats(
        env.path("world", "pages_raw"), ("url", "html", "warc_ts")
    )
    return out


class CrawlWorkload:
    """Shared window loop, traced accounting and result assembly."""

    name = ""
    world_params: dict = {}
    min_ops = 1

    def __init__(self, env: BenchEnv, seed: int, trace: bool):
        self.env = env
        self.spark = env.spark
        self.seed = seed
        self.trace = trace
        self.spans = tr.Spans() if trace else None
        self.world: dict = {}
        self.setup_parts: dict[str, float] = {}
        self.ops: list[dict] = []
        self.dataset: dict = {}  # dataset-build accounting, traced runs
        self.boot_s: list[float] = []  # bootstrap time of each store built
        self.warm_walls: list[float] = []

    # -- inputs --------------------------------------------------------------

    def generate(self) -> None:
        self.world = make_world(self.env, self.seed, self.world_params)

    def read(self, name: str):
        if name in self.world["small"]:
            return self.world["small"][name]
        return self.spark.read.parquet(self.env.path("world", name))

    def new_engine(self, store: str, seeds, robots):
        from legislation_scraper_spark.plans.crawl import CrawlEngine
        from legislation_scraper_spark.tables import Catalog

        shutil.rmtree(store, ignore_errors=True)
        eng = CrawlEngine(
            self.spark, Catalog(self.spark, store), self.pages_raw, seeds,
            robots, crawl_config(),
        )
        t = time.perf_counter()
        eng.bootstrap()
        self.boot_s.append(time.perf_counter() - t)
        if self.spans is not None:
            tr.instrument(self.spans, eng)
        return eng

    # -- per-workload hooks ---------------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int):
        """Untimed per-operation preparation; returns (engine, round)."""
        raise NotImplementedError

    def after(self, i: int, eng, r: int) -> dict:
        """Traced-only accounting after operation i."""
        return {}

    def check(self) -> None:
        """Set ``ok`` on every measured operation."""
        raise NotImplementedError

    # -- window ----------------------------------------------------------------

    def run_window(self, seconds: float) -> None:
        env, procs = self.env, self.env.procs
        elapsed, i = 0.0, 0
        while elapsed < seconds or i < self.min_ops:
            eng, r = self.prepare(i)
            op = {"i": i, "round": r, "ok": False, "store": eng.catalog.root}
            if self.trace:
                self.spans.op = i
                op["probe"] = tr.probe_round(self.spans, eng)
                before = tr.store_files(eng.catalog.root)
            cpu0, jvm0 = procs.cpu(), env.jvm_counters()
            procs.start()
            t0 = time.perf_counter()
            try:
                if self.spans is not None:
                    with self.spans.operation("CrawlEngine.round", i):
                        m = eng.round(r)
                else:
                    m = eng.round(r)
            except Exception:  # noqa: BLE001 - a failed op is counted
                traceback.print_exc()
                m = None
            op["wall_s"] = time.perf_counter() - t0
            procs.stop()
            cpu1, jvm1 = procs.cpu(), env.jvm_counters()
            op["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
            op["jvm"] = {k: jvm1[k] - jvm0[k] for k in jvm0}
            elapsed += op["wall_s"]
            self.ops.append(op)
            if m is None:
                op["error"] = True
                break
            op["m"] = {k: v for k, v in m.items() if k != "timings"}
            op["timings"] = m.get("timings", {})
            if self.trace:
                op["files"] = tr.written(
                    before, tr.store_files(eng.catalog.root)
                )
                op.update(self.after(i, eng, r))
            if m["selected"] == 0:
                break
            i += 1

    # -- results -----------------------------------------------------------------

    def end_to_end(self) -> dict:
        walls = [o["wall_s"] for o in self.ops]
        done = [o for o in self.ops if "m" in o]

        def rate(key: str) -> float:
            if not done:
                return 0.0
            return statistics.median(o["m"][key] / o["wall_s"] for o in done)

        return {
            "setup_s": sum(self.setup_parts.values()),
            "urls_per_s": rate("selected"),
            "pages_per_s": rate("pages"),
            "round_p50_s": statistics.median(walls),
            "peak_rss_mb": self.env.procs.peak_mb["total"],
            "ok_ratio": sum(o["ok"] for o in self.ops) / len(self.ops),
        }

    def steadiness(self) -> dict:
        walls = [o["wall_s"] for o in self.ops]
        med = statistics.median(walls)
        return {
            "ops": len(walls),
            "op_walls_s": [round(w, 3) for w in walls],
            "op_selected": [o.get("m", {}).get("selected") for o in self.ops],
            "op_cpu_s": [round(sum(o["cpu"].values()), 2) for o in self.ops],
            "first_over_median": walls[0] / med,
            "warmup_walls_s": [round(w, 3) for w in self.warm_walls],
            "peak_rss_mb": {
                k: round(v, 1) for k, v in self.env.procs.peak_mb.items()
            },
            "peak_pyworkers": self.env.procs.peak_workers,
            "window_jit_ms": sum(o["jvm"]["jit_ms"] for o in self.ops),
            "window_gc_ms": sum(o["jvm"]["gc_ms"] for o in self.ops),
            "window_codegen_classes": sum(
                o["jvm"]["codegen_classes"] for o in self.ops
            ),
            "setup_parts_s": {k: round(v, 3) for k, v in self.setup_parts.items()},
        }

    def per_layer(self) -> dict:
        """Per-layer metrics: per-operation means of times and counts,
        ratios over the window's summed counts, peaks for memory."""
        ops = [o for o in self.ops if "probe" in o and "m" in o]
        n = len(ops)
        sp = self.spans

        def mean(f) -> float:
            return sum(f(o) for o in ops) / n

        def ratio(num, den) -> float:
            d = sum(den(o) for o in ops)
            return sum(num(o) for o in ops) / d if d else 0.0

        def probe(k):
            return lambda o: o["probe"][k]

        def tim(k):
            return lambda o: o["timings"].get(k, 0.0)

        def ds(k) -> float:
            return self.dataset.get(k, 0)

        peak = self.env.procs.peak_mb
        return {
            "seen.pending_s": mean(probe("pending_s")),
            "seen.filter_s": mean(probe("filter_s")),
            "seen.add_s": mean(lambda o: sp.total(o["i"], ("SeenSet.add",))),
            "seen.probed_rows": mean(probe("probed_rows")),
            "seen.maybe_seen_ratio": ratio(probe("maybe_seen"), probe("probed_rows")),
            "seen.false_pos_ratio": ratio(probe("false_pos"), probe("truly_new")),
            "seen.filter_log_rows": mean(probe("filter_log_rows")),
            "politeness.schedule_s": mean(probe("schedule_s")),
            "politeness.selected_rows": mean(probe("selected_rows")),
            "politeness.partition_skew": mean(probe("partition_skew")),
            "fetch.resolve_s": mean(probe("resolve_s")),
            "fetch.web_mb_scanned": self.world["web_scan_mb"],
            "fetch.web_hit_ratio": ratio(
                probe("hits"), lambda o: self.world["web_rows"]
            ),
            "fetch.ok_ratio": ratio(probe("fetched"), probe("fetch_rows")),
            "fetch.retry_ratio": ratio(probe("retried"), probe("fetch_rows")),
            "extract.parse_s": mean(probe("parse_s")),
            "extract.pages": mean(lambda o: o["m"]["pages"]),
            "extract.parse_error_ratio": ratio(
                lambda o: o["parse_errors"], probe("fetched_docs")
            ),
            "tables.append_s": mean(lambda o: sp.total(o["i"], tr.APPENDS)),
            "tables.commits": mean(lambda o: o["files"]["commits"]),
            "tables.files_written": mean(lambda o: o["files"]["files_written"]),
            "tables.mb_written": mean(lambda o: o["files"]["mb_written"]),
            "tables.checkpoint_s": mean(
                lambda o: sp.total(o["i"], ("Catalog.save_checkpoint",))
            ),
            "tables.compact_s": mean(lambda o: sp.total(o["i"], tr.COMPACTS)),
            "tables.read_files": mean(probe("read_files")),
            "crawl.maintain_s": mean(tim("maintain")),
            "crawl.schedule_fetch_s": mean(tim("schedule_fetch")),
            "crawl.extract_s": mean(tim("extract")),
            "crawl.appends_s": mean(tim("appends")),
            "crawl.new_urls": mean(lambda o: o["m"]["new_urls"]),
            "dataset.build_s": ds("build_s"),
            "dataset.write_s": ds("write_s"),
            "dataset.rows_in": ds("rows_in"),
            "dataset.rows_out": ds("rows_out"),
            "jvm.jit_ms": mean(lambda o: o["jvm"]["jit_ms"]),
            "jvm.gc_ms": mean(lambda o: o["jvm"]["gc_ms"]),
            "jvm.codegen_classes": mean(lambda o: o["jvm"]["codegen_classes"]),
            "cpu.jvm_s": mean(lambda o: o["cpu"]["jvm"]),
            "cpu.pyworker_s": mean(lambda o: o["cpu"]["pyworker"]),
            "cpu.driver_s": mean(lambda o: o["cpu"]["driver"]),
            "rss.jvm_mb": peak["jvm"],
            "rss.pyworker_mb": peak["pyworker"],
        }


class WideRound(CrawlWorkload):
    """One round over every document URL; a fresh store per operation."""

    name = "wide_round"
    world_params = WIDE_WORLD
    min_ops = WIDE_MIN_OPS

    def setup(self) -> None:
        t = time.perf_counter()
        self.pages_raw = self.read("pages_raw")
        self.golden = self.read("golden_meta")
        # every document URL is a seed: the round's frontier is the web
        self.seeds = self.golden.select(
            F.col("document_url").alias("seed_url"), "source",
            F.lit(0).alias("priority"), F.lit(1990).alias("year_start"),
        )
        # politeness budgets lifted: the round selects every allowed URL
        self.robots = self.read("robots").withColumn(
            "max_parallel", F.lit(10**9)
        )
        self.setup_parts["register_s"] = time.perf_counter() - t
        t = time.perf_counter()
        for _ in range(WIDE_WARM_REPS):
            eng = self.new_engine(self.env.path("stores", "warm"),
                                  self.seeds, self.robots)
            t1 = time.perf_counter()
            eng.round(0)
            self.warm_walls.append(time.perf_counter() - t1)
        shutil.rmtree(self.env.path("stores", "warm"), ignore_errors=True)
        self.setup_parts["warmup_s"] = time.perf_counter() - t
        self.boot_s = []  # from here on: the measured stores' bootstraps

    def prepare(self, i: int):
        eng = self.new_engine(
            self.env.path("stores", f"w{i}"), self.seeds, self.robots
        )
        return eng, 0

    def end_to_end(self) -> dict:
        # per-store set-up (catalog, engine, bootstrap) is repeated for
        # every store the run builds: it enters set-up as its median
        self.setup_parts["bootstrap_s"] = statistics.median(self.boot_s)
        return super().end_to_end()

    def after(self, i: int, eng, r: int) -> dict:
        self.last_pages = eng.pages
        return {"parse_errors": tr.parse_errors(eng, r)}

    def per_layer(self) -> dict:
        # the dataset build runs once, over the last measured store
        self.dataset = tr.dataset_probe(
            self.spans, self.last_pages, self.env.path("dataset")
        )
        return super().per_layer()

    def check(self) -> None:
        """Every fetched non-error document has exactly one page whose
        text_markdown is byte-identical to the golden text, and there are
        no other pages."""
        from legislation_scraper_spark.operators.fetch import (
            FetchPolicy,
            md5_64,
        )
        from legislation_scraper_spark.tables import Catalog

        policy: FetchPolicy = crawl_config().policy
        allowed = self.robots.filter("allow").select("host")
        want = [
            (r["document_url"],)
            for r in self.golden.filter(~F.col("is_error"))
            .join(allowed, "host", "left_semi")
            .select("document_url").collect()
            if md5_64(r["document_url"]) % policy.permanent_mod != 3
        ]
        exp = self.spark.createDataFrame(want, "document_url string").join(
            self.golden.select(
                "document_url", F.col("text").alias("gold")
            ), "document_url",
        )
        parts = []
        for o in self.ops:
            if "m" not in o:
                continue
            pages = Catalog(self.spark, o["store"]).table("pages").read()
            if pages is None:
                continue
            parts.append(pages.select(
                F.lit(o["i"]).alias("op"), "document_url", "text_markdown"
            ))
        if not parts:
            return
        got = parts[0]
        for p in parts[1:]:
            got = got.unionByName(p)
        ops = self.spark.createDataFrame(
            [(o["i"],) for o in self.ops if "m" in o], "op int"
        )
        # expected (op, url) pairs vs produced pages, full outer
        rows = ops.crossJoin(exp).join(
            got, ["op", "document_url"], "full_outer"
        ).groupBy("op").agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("gold").isNotNull() & F.col("text_markdown").isNotNull()
                 & (F.col("gold") == F.col("text_markdown"))).cast("long")
            ).alias("same"),
        ).collect()
        good = {
            r["op"] for r in rows if r["n"] == len(want) and r["same"] == len(want)
        }
        for o in self.ops:
            o["ok"] = "m" in o and o["i"] in good


class DeepCrawl(CrawlWorkload):
    """A budget-limited crawl through link discovery; one crawl, the
    measured operations are its rounds after the warm-up rounds."""

    name = "deep_crawl"
    world_params = DEEP_WORLD
    min_ops = DEEP_MIN_OPS

    def setup(self) -> None:
        t = time.perf_counter()
        self.pages_raw = self.read("pages_raw")
        self.seeds = self.read("seeds")
        self.robots = self.read("robots")
        self.setup_parts["register_s"] = time.perf_counter() - t
        self.eng = self.new_engine(
            self.env.path("stores", "deep"), self.seeds, self.robots
        )
        self.setup_parts["bootstrap_s"] = self.boot_s[0]
        t = time.perf_counter()
        for r in range(DEEP_WARM_ROUNDS):
            t1 = time.perf_counter()
            self.eng.round(r)
            self.warm_walls.append(time.perf_counter() - t1)
        self.setup_parts["warmup_s"] = time.perf_counter() - t

    def prepare(self, i: int):
        return self.eng, DEEP_WARM_ROUNDS + i

    def after(self, i: int, eng, r: int) -> dict:
        return {"parse_errors": tr.parse_errors(eng, r)}

    def check(self) -> None:
        """crawl_log of every measured round and the final seen set equal
        the straight-line simulator's on the same world."""
        from legislation_scraper_spark.plans.simulator import (
            SimWorld,
            simulate,
        )

        last = max(o["round"] for o in self.ops)
        pages = {
            r["url"]: bytes(r["html"])
            for r in self.pages_raw.select("url", "html").collect()
        }
        robots = {
            r["host"]: {"allow": r["allow"], "max_parallel": r["max_parallel"]}
            for r in self.robots.collect()
        }
        seeds = [r.asDict() for r in self.seeds.collect()]
        sim = simulate(SimWorld(pages, robots, seeds), max_rounds=last + 1)
        want: dict[int, list] = {}
        for v in sim.visit_log:
            want.setdefault(v[0], []).append(v)
        got: dict[int, list] = {}
        for row in self.eng.crawl_log.read().collect():
            got.setdefault(row["round"], []).append((
                row["round"], row["host"], row["host_rank"],
                row["canon_url"], row["fetched"],
            ))
        seen = {
            r["canon_url"]
            for r in self.eng.seen.df().select("canon_url").collect()
        }
        seen_ok = seen == sim.seen
        for o in self.ops:
            r = o["round"]
            o["ok"] = (
                "m" in o and seen_ok
                and sorted(got.get(r, [])) == sorted(want.get(r, []))
            )


WORKLOADS = {w.name: w for w in (WideRound, DeepCrawl)}
