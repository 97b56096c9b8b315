from __future__ import annotations

import os

import duckdb
import pytest

from big_data_code_spark.session import get_spark
from big_data_code_spark.sources.tables import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


def sf_copy(dst, table: str, keep) -> str:
    """``SF_SMOKE`` at ``dst``: every table symlinked except
    ``table``, which is written with the rows ``keep(arrow_table)``
    returns. Returns ``dst`` as a string."""
    import pyarrow.parquet as pq

    os.makedirs(dst)
    for t in TABLES:
        if t != table:
            os.symlink(os.path.join(SF_SMOKE, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))
    src = pq.read_table(os.path.join(SF_SMOKE, f"{table}.parquet"))
    pq.write_table(keep(src), os.path.join(dst, f"{table}.parquet"))
    return str(dst)


def recorded_plans(spark, name: str, sf_dir: str = SF_SMOKE) -> list[str]:
    """Physical plans registry entry ``name`` materializes while it
    runs (`cacheutil.recording`)."""
    from big_data_code_spark import cacheutil
    from big_data_code_spark.plans.registry import QUERIES

    with cacheutil.recording() as plans:
        QUERIES[name](spark, sf_dir)
    return plans


def cache_manager_is_empty(spark) -> bool:
    """Spark's CacheManager holds no cached plan."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def has_cc_round(plans: list[str]) -> bool:
    """One of ``plans`` is a `graph._cc_round` propagate+jump round."""
    return any("nmin#" in p and "old_label#" in p for p in plans)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def assert_matches_oracle(spark, name: str, sf_dir: str = SF_SMOKE) -> None:
    """Run a registered query (or a tests-only parity twin) and its
    oracle, compare as sorted rows (the same order-insensitive check
    the driver performs)."""
    from big_data_code_spark.plans.registry import (
        ORACLES,
        PARITY_TWINS,
        QUERIES,
    )

    if name in QUERIES:
        fn, sql = QUERIES[name], ORACLES[name]
    else:
        fn, sql = PARITY_TWINS[name]
    sdf = fn(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    con = duck_con(sf_dir)
    res = con.sql(sql)
    duck_cols = res.columns
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    # align column order by name, then compare as multisets
    sidx = [spark_cols.index(c) for c in sorted(spark_cols)]
    didx = [duck_cols.index(c) for c in sorted(duck_cols)]
    none_safe = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    s = sorted((tuple(row[i] for i in sidx) for row in spark_rows), key=none_safe)
    d = sorted((tuple(row[i] for i in didx) for row in duck_rows), key=none_safe)
    assert len(s) == len(d), f"{name}: row count {len(s)} vs {len(d)}"
    assert s == d, f"{name}: value mismatch (first diff: {next(((a, b) for a, b in zip(s, d) if a != b), None)})"
