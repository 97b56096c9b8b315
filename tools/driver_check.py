"""Simulate the correctness driver locally.

Builds a PLAIN SparkSession (deliberately NOT ``session.get_spark`` —
the real driver hands ``queries()`` callables an externally-built
session with default confs, which is exactly the path that broke
round 1), runs registry queries at sf0.01, and compares each against
its DuckDB oracle the same way the driver does.

r4 hardening: the comparator now replicates the driver's REAL
canonicalization, reverse-engineered from CORRECTNESS_r03.json —
pandas frames, columns sorted by name, ``sort_values`` over all
columns, then a dtype-SENSITIVE equality (``DataFrame.equals`` after
datetime normalization). Consequences, matching observed driver
behavior exactly:

* array/list output columns CRASH the multi-column ``sort_values``
  factorization ("unhashable type: 'list'") → recorded as an error,
  like the driver's `err` rows for multimodal_features /
  embedding_quantize in r3;
* int64-vs-float64 skew (e.g. DuckDB HUGEINT window sums landing as
  float64) FAILS even when every value is equal — the
  sequence_packing r3 failure mode;
* datetime ns-vs-us skew and date-object-vs-datetime64 are
  TOLERATED (both sides normalized to datetime64[ns]) — the driver
  passed q18/q3/dedup_events with exactly that skew in r3.

The previous stringified-tuple comparator was WEAKER than the driver
and let three broken contracts reach it undetected; do not resurrect
it.

Each query's line shows its wall time, the Spark jobs it started
(construction plus collect, ``jobs=N``) and the generated classes
Janino compiled meanwhile (``compiles=N``); the totals close the run.
The plain session keeps Spark's codegen cache of 100 classes (the
size is a JVM-start setting), so a repeated sweep recompiles what the
cache evicted; ``session.get_spark`` sizes it to the working set.

Usage::

    python tools/driver_check.py            # first 50 entries
    python tools/driver_check.py --all      # every entry
    python tools/driver_check.py q1_pricing_summary bounce_rate
"""

from __future__ import annotations

import datetime
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def plain_session() -> SparkSession:
    # mimic the driver: master + a couple of generic confs only; no
    # repo-side tuning so queries must be robust on a stock session.
    return (
        SparkSession.builder.master("local[32]")
        .appName("driver-check")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonical form: columns sorted by name,
    datetimes normalized to datetime64[ns] (the one skew the driver
    tolerates), rows sorted by all columns. Raises TypeError on
    unhashable (list/dict) cells, as the driver does."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[ns]")
        elif s.dtype == object:
            non_null = s.dropna()
            if len(non_null) and all(
                isinstance(v, (datetime.date, datetime.datetime))
                for v in non_null
            ):
                df[c] = pd.to_datetime(s)
    # multi-column sort_values factorizes via a hash table → this is
    # where the driver blows up on list cells; let it propagate.
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame):
    """Return (cols_ok, match, diff_note). dtype-sensitive."""
    cols_ok = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
    if not cols_ok:
        return False, False, f"cols {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    s = canonicalize(spark_pdf)
    d = canonicalize(duck_pdf)
    if len(s) != len(d):
        return True, False, f"rowcount {len(s)} vs {len(d)}"
    # dtype mismatch = driver hash mismatch even with equal values.
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            return True, False, f"dtype[{c}] spark={s[c].dtype} duck={d[c].dtype}"
    if s.equals(d):
        return True, True, None
    # find first differing cell for the report
    for c in s.columns:
        neq = ~(
            (s[c] == d[c])
            | (s[c].isna() & d[c].isna())
        )
        if neq.any():
            i = int(neq.idxmax())
            return True, False, f"value[{c}][row {i}] {s[c][i]!r} vs {d[c][i]!r}"
    return True, True, None  # only NaN-vs-NaN object edge cases


def main() -> None:
    from big_data_code_spark.plans.registry import ORACLES, QUERIES

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    check_all = "--all" in sys.argv
    names = args or list(QUERIES)[: None if check_all else 50]
    if args:
        names = args

    spark = plain_session()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    from big_data_code_spark.cacheutil import STATS, release_persisted

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n_pass = n_fail = n_noracle = total_jobs = total_compiles = 0
    for name in names:
        release_persisted()  # drop plan-internal caches between queries
        t0, jobs0, compiles0 = time.perf_counter(), dag.numTotalJobs(), compiled.getCount()
        try:
            sdf = QUERIES[name](spark, SF_DIR)
            spark_pdf = sdf.toPandas()
            jobs, compiles = dag.numTotalJobs() - jobs0, compiled.getCount() - compiles0
            total_jobs += jobs
            total_compiles += compiles
            cost = f"jobs={jobs} compiles={compiles}"
            sql = ORACLES.get(name)
            if sql is None:
                n_noracle += 1
                print(f"NO-ORACLE {name}: rows={len(spark_pdf)} ({time.perf_counter()-t0:.1f}s {cost})")
                continue
            duck_pdf = con.sql(sql).df()
            cols_ok, match, diff = compare(spark_pdf, duck_pdf)
            if match:
                n_pass += 1
                print(f"PASS      {name}: rows={len(spark_pdf)} ({time.perf_counter()-t0:.1f}s {cost})")
            else:
                n_fail += 1
                print(f"FAIL      {name}: cols_ok={cols_ok} rows={len(spark_pdf)}/{len(duck_pdf)} {cost} diff={diff}")
        except Exception:
            n_fail += 1
            print(f"ERROR     {name}:")
            traceback.print_exc()
    print(f"\n{n_pass} pass / {n_fail} fail / {n_noracle} no-oracle of {len(names)}")
    print(f"Spark jobs: {total_jobs} (construction + collect, queries that ran to the end)")
    print(f"Generated classes compiled: {total_compiles} (same queries)")
    for entry, st in sorted(STATS.items()):
        print(f"serve-once {entry}: hits={st['hits']} misses={st['misses']} build_s={st['build_s']:.1f}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
