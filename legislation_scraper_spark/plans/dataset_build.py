"""Offline dataset build — the E2 pipeline (SURVEY.md §3).

Replaces the reference's DatasetBuilder (glob + threaded pd.read_json +
BackgroundSaver + checkpoint counters, /root/reference/src/datasets/
build_dataset.py:107-248) with one declarative Spark job:

  pages table → dedup on document_url (deterministic survivor)
              → column sanitize (url-decode, markdown squeeze, year cast)
              → text coalesce (html/pdf precedence, build_dataset.py:210-218)
              → text-analysis enrichment (tokens, quality, lang-id,
                fingerprint — the corpus-building extensions)
              → partitioned parquet export

The saver thread, CSV snapshot cadence, and row-count resume checkpoint
all disappear: Spark's write is atomic per job and the input is a
snapshot table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T


def build_dataset(pages: DataFrame) -> DataFrame:
    """pages (document_url, source, title, year, type, situation,
    summary, text_markdown, fetched_round) → analysis-ready dataset."""
    # dedup: one row per document_url, earliest fetch wins
    # (drop_duplicates at build_dataset.py:204, made deterministic)
    w = Window.partitionBy("document_url").orderBy(
        "fetched_round", "text_markdown"
    )
    deduped = (
        pages.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    text = F.col("text_markdown")
    cleaned = (
        deduped
        # markdown squeeze \n{4,} → \n\n\n (build_dataset.py:223-229)
        .withColumn("text", F.regexp_replace(text, r"\n{4,}", "\n\n\n"))
        # unquote URL-encoding on sanitized fields (build_dataset.py:232-236)
        .withColumn("type", F.url_decode(F.col("type")))
        .withColumn("situation", F.url_decode(F.col("situation")))
        .withColumn("summary", F.url_decode(F.col("summary")))
        # year normalization (astype(int), build_dataset.py:238)
        .withColumn("year", F.col("year").cast("int"))
    )
    return cleaned.select(
        "document_url",
        "source",
        "title",
        "year",
        "type",
        T.slug_of("type").alias("type_slug"),
        "situation",
        "summary",
        "text",
        T.token_count_ws(F.col("text")).alias("n_tokens"),
        T.token_count_bpe_ish(F.col("text")).alias("n_tokens_bpe"),
        F.round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
        T.lang_id(F.col("text")).alias("lang_pred"),
        T.fingerprint(F.col("text")).alias("fingerprint"),
    )


def export_dataset(
    pages: DataFrame, out_dir: str, partition_by: tuple = ("type_slug",)
) -> None:
    """Materialize the dataset as partitioned parquet (the HF-push sink
    S20 is out of scope; parquet is the interchange format)."""
    build_dataset(pages).write.mode("overwrite").partitionBy(
        *partition_by
    ).parquet(out_dir)


def export_hf_layout(
    pages: DataFrame, out_dir: str, shard_rows: int = 50_000
) -> dict:
    """S20 twin: write the dataset in Hugging Face dataset-repo layout.

    The reference pushes with ``datasets.push_to_hub``
    (base/scraper.py S20 path); there is no network here, so the sink
    produces the exact on-disk shape a hub push transfers —
    ``data/train-XXXXX-of-NNNNN.parquet`` shards, ``dataset_infos.json``
    (features + split sizes), and a ``README.md`` dataset card with the
    YAML config header — such that ``datasets.load_dataset(out_dir)``
    consumes it unchanged.  Shard sizing uses ``maxRecordsPerFile`` (no
    driver-side count job); split statistics come from parquet footers
    (metadata-only, the Iceberg-summary discipline).  Returns the split
    metadata dict.
    """
    import json
    import os

    import pyarrow.parquet as pq

    data_dir = os.path.join(out_dir, "data")
    ds = build_dataset(pages)
    (
        ds.write.mode("overwrite")
        .option("maxRecordsPerFile", shard_rows)
        .parquet(data_dir)
    )
    parts = sorted(
        f for f in os.listdir(data_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    n = len(parts)
    num_rows = 0
    num_bytes = 0
    for i, f in enumerate(parts):
        src = os.path.join(data_dir, f)
        meta = pq.read_metadata(src)
        num_rows += meta.num_rows
        num_bytes += os.path.getsize(src)
        os.rename(
            src, os.path.join(data_dir, f"train-{i:05d}-of-{n:05d}.parquet")
        )
    for f in os.listdir(data_dir):  # drop _SUCCESS/.crc markers
        if f.startswith(("_", ".")):
            os.remove(os.path.join(data_dir, f))
    features = {
        fld.name: {"dtype": fld.dataType.simpleString(), "_type": "Value"}
        for fld in ds.schema.fields
    }
    info = {
        "default": {
            "features": features,
            "splits": {
                "train": {
                    "name": "train",
                    "num_examples": num_rows,
                    "num_bytes": num_bytes,
                    "num_shards": n,
                }
            },
        }
    }
    with open(os.path.join(out_dir, "dataset_infos.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    card = (
        "---\n"
        "configs:\n"
        "- config_name: default\n"
        "  data_files:\n"
        "  - split: train\n"
        "    path: data/train-*\n"
        "---\n\n"
        "# Brazilian legislation corpus (engine export)\n\n"
        f"{num_rows} documents in {n} parquet shard(s); schema and split\n"
        "sizes in dataset_infos.json.  Produced by\n"
        "legislation_scraper_spark.plans.dataset_build.export_hf_layout.\n"
    )
    with open(os.path.join(out_dir, "README.md"), "w") as f:
        f.write(card)
    return info["default"]["splits"]["train"]
