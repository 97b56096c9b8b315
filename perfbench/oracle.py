"""DuckDB oracles over the same staged inputs the program reads,
compared with the dtype-sensitive comparison of
``tools/driver_check.py`` (imported, not restated here)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from staging import TABLES
from tools.driver_check import compare


class Oracle:
    """One DuckDB connection over a staged input directory; caches
    each query's oracle frame (the inputs never change in a run)."""

    def __init__(self, sf_dir: str, tmp_dir: str, sql: dict[str, str | None]):
        self.sql = sql
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute("SET threads = 2")
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'"
            )
        self._frames: dict[str, pd.DataFrame] = {}

    def frame(self, name: str) -> pd.DataFrame:
        if name not in self._frames:
            self._frames[name] = self.con.sql(self.sql[name]).df()
        return self._frames[name]

    def check(self, name: str, spark_pdf: pd.DataFrame) -> str | None:
        """None when the frame matches its oracle, else why not."""
        if self.sql.get(name) is None:
            return "no oracle"
        try:
            _, match, diff = compare(spark_pdf, self.frame(name))
        except TypeError as e:  # list cells cannot be sorted, so cannot match
            return f"uncomparable: {e}"
        return None if match else diff

    def close(self) -> None:
        self.con.close()
