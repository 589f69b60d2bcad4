"""Shared pytest fixtures: one local SparkSession, DuckDB oracle harness."""

from __future__ import annotations

import os

import duckdb
import pytest

from legislation_scraper_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _host_sized_heap() -> dict[str, str]:
    """Test JVM heap of half the host's memory, at most get_spark's 32g
    default, unless SPARK_GRAFT_DRIVER_MEM sets it.  A 32g heap on a
    16 GB host lets the JVM grow until the kernel kills it mid-suite."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return {}
    try:
        with open("/proc/meminfo") as f:
            kb = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return {}
    return {"spark.driver.memory": f"{max(1, min(32, kb // 2**21))}g"}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "lss-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_conf=_host_sized_heap(),
    )
    yield s
    s.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the driver's pre-registered views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(rows, ndigits: int = 9):
    """Order-insensitive canonical form: per-row tuples with floats
    rounded, columns sorted by name upstream."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append(round(v, ndigits))
            elif isinstance(v, list):
                vals.append(tuple(v))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def compare_query(spark, name: str, sf_dir: str = SF_MED):
    """Run __spark_entry__ queries()[name] vs oracle_sql()[name]; assert
    row count, column-name set, and order-insensitive values match."""
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    # fixture-backed oracles are generated per sf dir (each dir has
    # independent content); retarget the committed sf0.01 path when the
    # test runs at another scale
    tag = os.path.basename(sf_dir.rstrip("/"))
    if sql is not None and "_sf0.01.parquet" in sql and tag != "sf0.01":
        entry_mod.ensure_oracle_fixtures(sf_dir)
        sql = sql.replace("_sf0.01.parquet", f"_{tag}.parquet")
    sdf = q(spark, sf_dir)
    scols = sorted(sdf.columns)
    srows = [tuple(r[c] for c in scols) for r in sdf.collect()]
    if sql is None:
        assert len(srows) >= 0
        return
    con = duck_con(sf_dir)
    ddf = con.execute(sql)
    dcols_all = [d[0] for d in ddf.description]
    drows_raw = ddf.fetchall()
    dcols = sorted(dcols_all)
    assert scols == dcols, f"{name}: schema mismatch {scols} vs {dcols}"
    idx = [dcols_all.index(c) for c in dcols]
    drows = [tuple(r[i] for i in idx) for r in drows_raw]
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} vs {len(drows)}"
    )
    ns, nd = normalize(srows), normalize(drows)
    mism = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mism, f"{name}: {len(mism)} value mismatches; first: {mism[:3]}"
