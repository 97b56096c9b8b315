"""Raw-feed ingestion: JSONL / CSV readers with explicit schemas
and corrupt-record capture.

The reference ingests Thrift records from upstream feeds into the
new-data pail; the real-world equivalents are JSONL/CSV drops. Two
rules, both scale-critical:

- ALWAYS pass an explicit schema: schema inference reads the data
  twice and locks in whatever the first sample happened to contain.
- PERMISSIVE mode + a ``_corrupt_record`` column: at 100 TB there
  WILL be malformed lines; failing the job (FAILFAST) or silently
  dropping them (DROPMALFORMED) both lose information. Capturing
  them keeps ingestion total — route the quarantine to its own sink
  and keep the master dataset append loop running.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..cacheutil import persist

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    from pyspark.sql.types import StringType

    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-enforced JSONL with malformed lines captured."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv(
    spark: SparkSession, path: str, schema: StructType, header: bool = True
) -> DataFrame:
    """Schema-enforced CSV with malformed lines captured."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): rows that parsed vs captured raw lines.

    Spark refuses queries that reference ONLY ``_corrupt_record``
    from a raw JSON/CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) —
    the parse is persisted first (`cacheutil.persist`, so harness
    loops release it after materializing the consuming query) and
    both splits read materialized rows.
    """
    df = persist(df)
    clean = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.where(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return clean, quarantine


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC reader — same columnar scan contract as parquet: explicit
    schema when provided (no footer-sampling surprises on mixed
    drops), predicate pushdown + column pruning verified in
    `tests/test_infra.py`. ORC is self-describing, so unlike
    JSONL/CSV there is no corrupt-record channel — a torn file fails
    the read loudly instead of quarantining rows."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink with zstd — mirrors the parquet master-dataset
    compression choice."""
    df.write.mode(mode).option("compression", "zstd").orc(path)
