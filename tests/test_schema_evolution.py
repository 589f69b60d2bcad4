"""Table-layer schema evolution: metadata-only rename/add/drop with
per-vintage replay, time travel across evolutions, row-level ops on
evolved schemas."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from legislation_scraper_spark.tables import Catalog


def _cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path))


def test_rename_add_and_vintages(spark, tmp_path):
    t = _cat(spark, tmp_path).table("docs")
    t.append(
        spark.createDataFrame(
            [(1, "pt", 100), (2, "en", 200)],
            "doc_id long, lang string, n_chars long",
        )
    )
    v_old = t.current_version()
    t.evolve_schema(
        [
            {"op": "rename", "from": "lang", "to": "language"},
            {"op": "add", "name": "quality", "type": "double",
             "default": 0.25},
        ]
    )
    # new-schema append: already has language+quality
    t.append(
        spark.createDataFrame(
            [(3, "de", 300, 0.9)],
            "doc_id long, language string, n_chars long, quality double",
        )
    )
    got = {r["doc_id"]: r for r in t.read().collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["language"] == "pt" and got[1]["quality"] == 0.25
    assert got[3]["language"] == "de" and got[3]["quality"] == 0.9
    # time travel: the pre-evolution snapshot still reads as old schema
    old = t.read(v_old)
    assert "lang" in old.columns and "language" not in old.columns
    assert "quality" not in old.columns


def test_zero_data_movement(spark, tmp_path):
    t = _cat(spark, tmp_path).table("d")
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    before = t.snapshot().file_sets
    t.evolve_schema([{"op": "rename", "from": "v", "to": "value"}])
    after = t.snapshot()
    assert after.file_sets == before          # same files, no rewrite
    assert after.schema_ops == [
        {"op": "rename", "from": "v", "to": "value"}
    ]
    assert after.total_rows == 1


def test_chained_renames_replay_in_order(spark, tmp_path):
    t = _cat(spark, tmp_path).table("d")
    t.append(spark.createDataFrame([(1, "x")], "id long, a string"))
    t.evolve_schema([{"op": "rename", "from": "a", "to": "b"}])
    t.append(spark.createDataFrame([(2, "y")], "id long, b string"))
    t.evolve_schema([{"op": "rename", "from": "b", "to": "c"}])
    got = {r["id"]: r["c"] for r in t.read().collect()}
    assert got == {1: "x", 2: "y"}


def test_drop_column(spark, tmp_path):
    t = _cat(spark, tmp_path).table("d")
    t.append(spark.createDataFrame([(1, "x", 5)], "id long, a string, n long"))
    t.evolve_schema([{"op": "drop", "name": "a"}])
    assert sorted(t.read().columns) == ["id", "n"]


def test_merge_and_delete_through_evolution(spark, tmp_path):
    t = _cat(spark, tmp_path).table("d")
    t.append(
        spark.createDataFrame(
            [(1, "pt", 10), (2, "en", 20)],
            "doc_id long, lang string, n long",
        )
    )
    t.evolve_schema([{"op": "rename", "from": "lang", "to": "language"}])
    # merge keyed on the POST-evolution schema touches pre-evolution files
    t.merge_upsert(
        spark.createDataFrame(
            [(2, "xx", 22), (4, "de", 40)],
            "doc_id long, language string, n long",
        ),
        ["doc_id"],
    )
    got = {r["doc_id"]: r["language"] for r in t.read().collect()}
    assert got == {1: "pt", 2: "xx", 4: "de"}
    # delete with a predicate on the renamed column
    t.delete_where(F.col("language") == "pt")
    assert sorted(r["doc_id"] for r in t.read().collect()) == [2, 4]


def test_compact_materializes_current_schema(spark, tmp_path):
    t = _cat(spark, tmp_path).table("d")
    t.append(spark.createDataFrame([(1, "x")], "id long, a string"))
    t.append(spark.createDataFrame([(2, "y")], "id long, a string"))
    t.evolve_schema(
        [{"op": "rename", "from": "a", "to": "b"},
         {"op": "add", "name": "q", "type": "int", "default": 7}]
    )
    t.compact()
    # after compaction the files themselves carry the evolved schema
    raw = spark.read.parquet(t.snapshot().file_sets[0])
    assert sorted(raw.columns) == ["b", "id", "q"]
    got = {r["id"]: (r["b"], r["q"]) for r in t.read().collect()}
    assert got == {1: ("x", 7), 2: ("y", 7)}


def test_rollback_across_evolution(spark, tmp_path):
    t = _cat(spark, tmp_path).table("d")
    t.append(spark.createDataFrame([(1, "x")], "id long, a string"))
    v1 = t.current_version()
    t.evolve_schema([{"op": "rename", "from": "a", "to": "b"}])
    t.rollback(v1)
    assert "a" in t.read().columns
    assert t.snapshot().schema_ops is None


def test_bucketed_log_refuses_evolution(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    log = cat.bucketed_log("log", "url", 4)
    with pytest.raises(NotImplementedError):
        log.evolve_schema([{"op": "drop", "name": "x"}])


def test_bad_ops_rejected(spark, tmp_path):
    t = _cat(spark, tmp_path).table("d")
    with pytest.raises(ValueError):
        t.evolve_schema([{"op": "cast", "name": "x"}])
    with pytest.raises(ValueError):
        t.evolve_schema([{"op": "add", "name": "x"}])  # no type


def test_manifest_without_schema_is_refused(spark, tmp_path):
    """A manifest that records no schema (an older store format) is not
    read by inference: the table refuses it, naming itself."""
    t = _cat(spark, tmp_path).table("old")
    with open(os.path.join(t.snap_dir, "v00001.json"), "w") as f:
        json.dump({"version": 1, "file_sets": [], "lineage": {},
                   "metrics": {}, "total_rows": 0}, f)
    with pytest.raises(ValueError, match="table old: .*rebuild"):
        t.read()
