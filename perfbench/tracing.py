"""Traced-run support: an in-memory span recorder, span wrappers around the
engine's eager public calls, layer-isolation probes for its lazy layers,
and the exact counts behind the per-layer metrics.

Everything here wraps or calls the engine from outside; nothing is traced
inside the program.  Probes run between operations, outside the timed
operation, and each materialises one lazy layer's output to a ``noop``
sink over that layer's persisted upstream.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARSE_ERROR = "parse error / empty document"


class Spans:
    """Spans (name, start, end, parent, op) kept in memory until dumped.

    A span opened in a thread with no open span of its own (the engine's
    concurrent sink writers) takes the current operation span as parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._op_span: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else self._op_span,
            "op": self.op,
            "start": time.perf_counter() - self._t0,
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def operation(self, name: str, op: int):
        """The root span of one measured operation (a round)."""
        self.op = op
        with self.span(name) as rec:
            self._op_span = rec["id"]
            try:
                yield rec
            finally:
                self._op_span = None

    def wrap(self, obj, method: str, name: str, **attrs) -> None:
        """Replace ``obj.method`` by a spanned call of the original."""
        orig = getattr(obj, method)

        def spanned(*args, **kwargs):
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(obj, method, spanned)

    def total(self, op: int, names: tuple[str, ...]) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["op"] == op and s["name"] in names
        )

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds (the span
        minus the union of its children's intervals)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            agg = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            agg["n"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {**extra, "self_times": self.self_times(), "spans": self.spans},
                f, indent=1,
            )


APPENDS = ("Table.append", "BucketedLog.append")
COMPACTS = ("Table.compact", "BucketedLog.compact", "SeenSet.compact_filters")


def instrument(spans: Spans, eng) -> None:
    """Span every eager table, seen-set and checkpoint call the engine
    makes during a round."""
    tables = [eng.pages, eng.errors, eng.visited, eng.crawl_log,
              eng.frontier, eng.seen.table, eng.seen.filters_table]
    for t in tables:
        if t is None:
            continue
        kind = type(t).__name__
        for m in ("append", "overwrite", "compact"):
            spans.wrap(t, m, f"{kind}.{m}", table=t.name)
    spans.wrap(eng.seen, "add", "SeenSet.add")
    spans.wrap(eng.seen, "compact_filters", "SeenSet.compact_filters")
    spans.wrap(eng.catalog, "save_checkpoint", "Catalog.save_checkpoint")


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def table_files(t) -> int:
    """Data files the table's current snapshot reads."""
    if t is None:
        return 0
    snap = t.snapshot()
    if snap is None:
        return 0
    if hasattr(t, "n_buckets"):  # BucketedLog: file_sets are file names
        return len(snap.file_sets)
    return sum(
        1
        for fs in snap.file_sets
        for _, _, files in os.walk(fs)
        for f in files
        if f.endswith(".parquet")
    )


def store_files(root: str) -> dict[str, int]:
    """Parquet data files and snapshot manifests under a store, by path."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet") or (
                os.path.basename(d) == "snapshots" and f.endswith(".json")
            ):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def written(before: dict[str, int], after: dict[str, int]) -> dict:
    new = [p for p in after if p not in before]
    data = [p for p in new if p.endswith(".parquet")]
    return {
        "files_written": len(data),
        "mb_written": sum(after[p] for p in data) / 2**20,
        "commits": len(new) - len(data),
    }


def probe_round(spans: Spans, eng) -> dict:
    """Layer-isolation probes over the state the next round will see.

    Times pending(), the seen filter, the politeness schedule, the fetch
    and the parse UDF one at a time (each over its persisted upstream)
    and returns the exact counts the per-layer metrics need."""
    from legislation_scraper_spark.operators import politeness
    from legislation_scraper_spark.operators.extract import make_parse_page
    from legislation_scraper_spark.operators.fetch import fetch
    from legislation_scraper_spark.operators.seen import (
        BloomParams,
        bloom_probe,
        with_url_key,
    )

    cfg, seen = eng.cfg, eng.seen
    out = {
        "read_files": table_files(eng.frontier) + table_files(seen.table)
        + table_files(seen.filters_table),
        "filter_log_rows": (
            seen.filters_table.approx_rows()
            if seen.filters_table is not None and seen.filters_table.snapshot()
            else 0
        ),
    }
    held: list[DataFrame] = []

    def timed(name: str, df: DataFrame) -> float:
        with spans.span(name) as rec:
            noop(df)
        return rec_dur(rec)

    def persist(df: DataFrame) -> DataFrame:
        df = df.persist()
        held.append(df)
        return df

    try:
        out["pending_s"] = timed("probe.pending", eng.pending())
        best = persist(eng._best_frontier())
        n_best = best.count()
        out["filter_s"] = timed(
            "probe.filter_unseen", seen.filter_unseen(best, "canon_url")
        )
        exact = seen.df()
        merged = seen.merged_filters()
        if exact is None:  # empty seen set: filter_unseen skips the probe
            out.update(probed_rows=0, maybe_seen=0, false_pos=0, truly_new=0)
        else:
            # the incremental bloom path the crawl config uses (delta
            # bitmaps present whenever the seen table is non-empty)
            params = BloomParams.for_capacity(seen.keys_per_shard, seen.fpp)
            probed = bloom_probe(
                with_url_key(best, "canon_url", seen.n_shards), merged, params
            )
            mark = exact.select("canon_url").distinct().withColumn(
                "_seen", F.lit(True)
            )
            row = probed.join(mark, "canon_url", "left").agg(
                F.count("*").alias("n"),
                F.sum(F.col("maybe_seen").cast("long")).alias("maybe"),
                F.sum(
                    (F.col("maybe_seen") & F.col("_seen").isNull()).cast("long")
                ).alias("fp"),
                F.sum(F.col("_seen").isNull().cast("long")).alias("new"),
            ).collect()[0]
            out.update(
                probed_rows=int(row["n"]), maybe_seen=int(row["maybe"] or 0),
                false_pos=int(row["fp"] or 0), truly_new=int(row["new"] or 0),
            )
        out["candidates"] = n_best

        pending = persist(eng.pending())
        pending.count()

        def schedule() -> DataFrame:
            return politeness.schedule_round(
                pending, eng.robots, cfg.salt_buckets, cfg.fetch_partitions,
                cfg.round_window_ms, cfg.rank_impl,
            )

        out["schedule_s"] = timed("probe.schedule_round", schedule())
        selected = persist(schedule())
        sizes = [
            r["n"] for r in selected.groupBy(
                F.spark_partition_id().alias("p")
            ).agg(F.count("*").alias("n")).collect()
        ]
        n_sel = sum(sizes)
        out["selected_rows"] = n_sel
        n_parts = max(cfg.fetch_partitions or 1, len(sizes))
        out["partition_skew"] = (
            max(sizes) / (n_sel / n_parts) if n_sel else 0.0
        )

        out["resolve_s"] = timed(
            "probe.fetch",
            fetch(selected, eng.pages_raw, cfg.policy, cfg.transport),
        )
        raw = persist(fetch(selected, eng.pages_raw, cfg.policy, cfg.transport))
        is_doc = ~F.col("canon_url").contains(cfg.search_marker)
        row = raw.agg(
            F.count("*").alias("n"),
            F.sum(F.col("body").isNotNull().cast("long")).alias("hits"),
            F.sum(F.col("fetched").cast("long")).alias("fetched"),
            F.sum((F.col("attempts") > 1).cast("long")).alias("retried"),
            F.sum((F.col("fetched") & is_doc).cast("long")).alias("docs"),
        ).collect()[0]
        out.update(
            fetch_rows=int(row["n"]), hits=int(row["hits"] or 0),
            fetched=int(row["fetched"] or 0),
            retried=int(row["retried"] or 0),
            fetched_docs=int(row["docs"] or 0),
        )
        parse_page = make_parse_page(cfg.search_marker)
        out["parse_s"] = timed(
            "probe.parse",
            raw.filter(F.col("fetched")).select(
                parse_page("canon_url", "body").alias("p")
            ),
        )
    finally:
        for df in held:
            df.unpersist()
    return out


def rec_dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def parse_errors(eng, r: int) -> int:
    errs = eng.errors.read()
    if errs is None:
        return 0
    return errs.filter(
        (F.col("round") == r) & (F.col("error") == PARSE_ERROR)
    ).count()


def dataset_probe(spans: Spans, pages_table, out_dir: str) -> dict:
    """Build the dataset from a crawl's pages table: the build plan alone
    to a noop sink, then the full partitioned export."""
    from legislation_scraper_spark.plans.dataset_build import (
        build_dataset,
        export_dataset,
    )
    import pyarrow.parquet as pq

    pages = pages_table.read()
    with spans.span("probe.build_dataset") as b:
        noop(build_dataset(pages))
    with spans.span("export_dataset") as e:
        export_dataset(pages, out_dir)
    rows_out = sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for d, _, files in os.walk(out_dir)
        for f in files
        if f.endswith(".parquet")
    )
    return {
        "build_s": rec_dur(b),
        "write_s": rec_dur(e),
        "rows_in": pages_table.snapshot().total_rows,
        "rows_out": rows_out,
        "read_files": table_files(pages_table),
    }
