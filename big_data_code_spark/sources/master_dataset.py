"""Append-only master dataset on parquet — the Pail analog.

The reference keeps its immutable fact store in Pails
(dfs-datastores): `DataPailStructure` / `SplitDataPailStructure`
vertically partition Thrift `Data` records by data-unit type, and
the batch workflow snapshots new data, shreds it with random keys,
absorbs it into the master pail, then consolidates small files
(`BatchWorkflow.java:146-181`, `tap/DataPailStructure.java`,
`tap/DataPailTap.java`).

Spark-native restatement:

- a master dataset is a directory of parquet files, vertically
  partitioned with ``partitionBy(unit_col)`` (≙
  `SplitDataPailStructure` putting each union field in its own
  subdir) — queries over one unit type prune all other partitions
  at the scan;
- `ingest` appends a new batch (append mode never rewrites
  existing immutable files);
- `shred` redistributes a batch across writers by a random key
  (≙ `shred()`'s RandLong reduce, which exists to spread HDFS
  write load) — in Spark a ``repartition(n)`` round-robin;
- `snapshot` records the exact file set of the master at a point
  in time (≙ `Pail.snapshot`) so a batch run computes over a
  frozen view while ingests continue;
- `absorb` folds another master's files in (≙ `Pail.absorb`);
- `consolidate` compacts small files per partition (≙
  `Pail.consolidate`) — at 100 TB this is what keeps scan task
  counts sane after many incremental ingests.

All metadata (snapshots) is plain JSON beside the data so any
engine can read it; no driver-side loops over data rows anywhere.

Reads go through `sources.tables.read_parquet`, whose schema memo
stands in for ``pail.meta`` (the file a Pail keeps its format in):
`read` infers the data dir's schema once per `sources.tables.
fingerprint` of the dir, so an `ingest` (new files) or `consolidate`
re-infers, and `read_snapshot` once per snapshot manifest, whose
file list never changes. Every later read passes the memoized schema
and launches no footer-reading job.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import read_parquet

DEFAULT_UNIT_COL = "unit"


class MasterDataset:
    """Append-only, vertically partitioned parquet fact store."""

    def __init__(self, path: str, unit_col: str = DEFAULT_UNIT_COL):
        self.path = path
        self.unit_col = unit_col
        self.data_dir = os.path.join(path, "data")
        self.snap_dir = os.path.join(path, "snapshots")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)

    # ------------------------------------------------------------ write

    def ingest(self, batch: DataFrame, shred_partitions: int | None = None) -> None:
        """Absorb a new-data batch into the master (append-only).

        ``shred_partitions`` round-robins rows across that many
        writers first (≙ `shred()`, `BatchWorkflow.java:165-181`).
        """
        if self.unit_col not in batch.columns:
            raise ValueError(f"batch must carry a '{self.unit_col}' column")
        if shred_partitions:
            batch = batch.repartition(shred_partitions)
        (
            batch.write.mode("append")
            .partitionBy(self.unit_col)
            .parquet(self.data_dir)
        )

    def absorb(self, other: "MasterDataset", spark: SparkSession) -> None:
        """Fold another master dataset's rows into this one
        (≙ `Pail.absorb`). Schemas must union cleanly."""
        self.ingest(other.read(spark))

    def consolidate(
        self, spark: SparkSession, target_bytes: int = 128 * 1024 * 1024
    ) -> None:
        """Compact small files: rewrite each unit partition into
        ``ceil(bytes/target)`` files, then atomically swap the data
        dir (≙ `Pail.consolidate`)."""
        df = self.read(spark)
        tmp = os.path.join(self.path, f"_consolidate_{uuid.uuid4().hex[:8]}")
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(self.data_dir)
            for f in files
        )
        n_files = max(1, -(-total // target_bytes))
        (
            df.repartition(int(n_files))
            .write.mode("overwrite")
            .partitionBy(self.unit_col)
            .parquet(tmp)
        )
        old = os.path.join(self.path, f"_old_{uuid.uuid4().hex[:8]}")
        os.rename(self.data_dir, old)
        os.rename(tmp, self.data_dir)
        import shutil

        shutil.rmtree(old)

    # ------------------------------------------------------------ read

    def read(self, spark: SparkSession, unit: str | None = None) -> DataFrame:
        df = read_parquet(spark, self.data_dir)
        if unit is not None:
            # partition filter — prunes every other unit's files
            df = df.where(F.col(self.unit_col) == unit)
        return df

    # -------------------------------------------------------- snapshot

    def snapshot(self, name: str | None = None) -> str:
        """Record the current immutable file set. Readers of the
        snapshot see exactly these files even as later ingests
        append more (append-only ⇒ old files never change)."""
        name = name or f"snap_{int(time.time() * 1000)}_{uuid.uuid4().hex[:6]}"
        files = sorted(
            os.path.join(root, f)
            for root, _, fs in os.walk(self.data_dir)
            for f in fs
            if f.endswith(".parquet")
        )
        manifest = {"name": name, "files": files}
        with open(os.path.join(self.snap_dir, f"{name}.json"), "w") as fh:
            json.dump(manifest, fh)
        return name

    def read_snapshot(self, spark: SparkSession, name: str) -> DataFrame:
        path = os.path.join(self.snap_dir, f"{name}.json")
        with open(path) as fh:
            files = json.load(fh)["files"]
        if not files:
            raise ValueError(f"snapshot {name} is empty")
        # the file list is the version: a snapshot deleted and re-taken
        # under the same name re-infers. basePath keeps the partition
        # column derivable from the paths.
        return read_parquet(
            spark, path, tuple(files),
            lambda reader: reader.option("basePath", self.data_dir).parquet(*files),
        )

    def delete_snapshot(self, name: str) -> None:
        os.remove(os.path.join(self.snap_dir, f"{name}.json"))
