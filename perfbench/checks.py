"""Output checks, run outside the timed region.

The oracle is the package's own DuckDB twin of the time-machine cells
(``TIMEMACHINE_CELLS_SQL``) and of the as-of read (``ASOF_SNAPSHOT_SQL``
at the benchmark's cutoffs), over the same generated events the binlog
files hold. A store matches when its row count and the sum of its
rows' hashes equal the oracle's: every cell enters the hash, so this is
a cell-for-cell multiset comparison in one scan of each side. On a
mismatch the check counts the rows missing on either side.
"""

from __future__ import annotations

import os

# (column, type): both sides are cast, since a hash depends on the type
CELL_COLS = (("event_id", "BIGINT"), ("table_name", "VARCHAR"),
             ("rowkey", "VARCHAR"), ("column_name", "VARCHAR"),
             ("cell_value", "VARCHAR"), ("version_us", "BIGINT"),
             ("txn_uuid", "VARCHAR"), ("txn_xid", "BIGINT"))
ASOF_COLS = (("table_name", "VARCHAR"), ("rowkey", "VARCHAR"),
             ("value", "VARCHAR"), ("props", "VARCHAR"))


class Oracle:
    """DuckDB connection holding ``oracle_cells`` for the first
    ``n_events`` events of one input set, registered from its
    ``events.parquet`` as the oracle's ``events`` view. A prefix of the
    history is self-contained: every before-image lies inside it."""

    def __init__(self, set_dir: str, n_events: int, tmp: str, threads: int):
        import duckdb

        from replicator_spark.sinks.timemachine import TIMEMACHINE_CELLS_SQL

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{os.path.join(tmp, 'duck')}'")
        self.con.execute(f"SET threads={threads}")
        self.con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet('"
            + os.path.join(set_dir, "events.parquet")
            + f"') WHERE event_id <= {int(n_events)}"
        )
        self.con.execute("CREATE TABLE oracle_cells AS " + TIMEMACHINE_CELLS_SQL)

    def close(self) -> None:
        self.con.close()

    def n_rows(self, parquet_dir: str) -> int:
        """Rows of the parquet files under ``parquet_dir``, at any depth."""
        return self.con.execute(
            f"SELECT count(*) FROM read_parquet('{parquet_dir}/**/*.parquet')"
        ).fetchone()[0]

    def _fingerprint(self, rel: str, cols) -> tuple:
        typed = ", ".join(f"CAST({c} AS {t})" for c, t in cols)
        return self.con.execute(
            f"SELECT count(*), sum(hash({typed})) FROM {rel}").fetchone()

    def _missing(self, a: str, b: str, cols) -> int:
        c = ", ".join(f"CAST({c} AS {t})" for c, t in cols)
        return self.con.execute(
            f"SELECT count(*) FROM (SELECT {c} FROM {a} EXCEPT ALL "
            f"SELECT {c} FROM {b})"
        ).fetchone()[0]

    def same(self, rel: str, oracle: str, cols) -> tuple[bool, str]:
        """``rel`` and ``oracle`` hold the same rows, as multisets."""
        got, want = self._fingerprint(rel, cols), self._fingerprint(oracle, cols)
        if got == want:
            return True, f"{got[0]} rows match the oracle"
        return False, (
            f"{got[0]} rows vs oracle {want[0]}: "
            f"{self._missing(rel, oracle, cols)} extra, "
            f"{self._missing(oracle, rel, cols)} missing")

    def store_matches(self, store: str) -> tuple[bool, str]:
        """A store (one directory of hive-partitioned parquet, or the
        union of ``epoch=`` directories under it) equals the oracle
        cells."""
        rel = (f"read_parquet('{store}/**/*.parquet', hive_partitioning=true,"
               " hive_types_autocast=false)")
        return self.same(rel, "oracle_cells", CELL_COLS)

    def asof_matches(self, asof_dir: str, cutoff: int) -> tuple[bool, str]:
        """One as-of read written by Spark equals the oracle's as-of
        read at ``cutoff``."""
        from replicator_spark.sinks.timemachine import (
            ASOF_SNAPSHOT_SQL,
            SNAPSHOT_CUTOFF_US,
            TIMEMACHINE_CELLS_SQL,
        )

        head = "WITH cells AS (" + TIMEMACHINE_CELLS_SQL
        lit = str(SNAPSHOT_CUTOFF_US)
        if not ASOF_SNAPSHOT_SQL.startswith(head) or ASOF_SNAPSHOT_SQL.count(lit) != 1:
            raise RuntimeError("ASOF_SNAPSHOT_SQL no longer has the expected shape")
        sql = ("WITH cells AS (SELECT * FROM oracle_cells"
               + ASOF_SNAPSHOT_SQL[len(head):].replace(lit, str(cutoff)))
        self.con.execute("CREATE OR REPLACE TEMP TABLE oracle_asof AS " + sql)
        rel = f"read_parquet('{asof_dir}/*.parquet')"
        return self.same(rel, "oracle_asof", ASOF_COLS)
