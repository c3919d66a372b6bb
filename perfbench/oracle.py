"""Correctness checks for the benchmark: DuckDB oracles and the typed,
order-insensitive result comparison.

Every registry op's result is compared with its DuckDB oracle the way
``tools/verify_local.py`` does it: same sorted column names, same row
count, the same type family per column (``verify_local.family``), and
equal multisets of rows. The row multisets are compared inside DuckDB
(``EXCEPT ALL``) instead of through per-value Python strings, which took
up to 18 s per op on the million-row outputs.

Oracle results depend only on the SQL text and the input files, so they
are cached as Arrow IPC files under the benchmark's work directory, keyed
by both.
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.ipc as ipc


def _verify_local():
    """``tools/verify_local.py`` as a module; its import-time ``sys.path``
    edit is undone so it cannot shadow the checkout's own sources."""
    import fabrix_spark.queries  # noqa: F401  (bind the checkout's package first)

    saved = list(sys.path)
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    try:
        import verify_local
    finally:
        sys.path[:] = saved
    return verify_local


_VL = _verify_local()
TABLES = _VL.TABLES
family = _VL.family


def _naive_utc(tbl: pa.Table) -> pa.Table:
    """Drop the time zone of UTC timestamp columns (Spark returns
    ``timestamp[us, tz=UTC]``, DuckDB naive UTC) so DuckDB compares
    instants, not session-time-zone renderings."""
    cols = []
    for c in tbl.columns:
        if pa.types.is_timestamp(c.type) and c.type.tz is not None:
            c = c.cast(pa.timestamp(c.type.unit))
        cols.append(c)
    return pa.table(cols, names=tbl.column_names)


def compare(result: pa.Table, expected: pa.Table) -> str | None:
    """None when ``result`` equals ``expected`` as a typed multiset of
    rows, else a short description of the first difference found."""
    cols = sorted(result.column_names)
    if cols != sorted(expected.column_names):
        return f"columns {cols} != {sorted(expected.column_names)}"
    if result.num_rows != expected.num_rows:
        return f"rowcount {result.num_rows} != {expected.num_rows}"
    for c in cols:
        got, want = family(result.column(c).type), family(expected.column(c).type)
        if got != want and "null" not in (got, want):
            return f"type of {c}: {got} != {want}"
    con = duckdb.connect()
    try:
        con.register("r", _naive_utc(result.select(cols)))
        con.register("e", _naive_utc(expected.select(cols)))
        # equal row counts: an empty one-sided difference means equal multisets
        extra = con.execute(
            "SELECT count(*) FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM e)"
        ).fetchone()[0]
    finally:
        con.close()
    return None if extra == 0 else f"{extra} rows differ"


class Oracles:
    """DuckDB over the input tables, with a disk cache of oracle results."""

    def __init__(self, sf_dir: str, cache_dir: Path):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.con = duckdb.connect()
        stamp = []
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            st = os.stat(path)
            stamp.append(f"{path}:{st.st_size}:{st.st_mtime_ns}")
        self._data_key = "\n".join(stamp)

    def close(self) -> None:
        self.con.close()

    def query(self, sql: str) -> pa.Table:
        """The result of ``sql`` over the input tables, computed once per
        (SQL text, input files) and then read from the cache."""
        key = hashlib.sha256(f"{self._data_key}\n{sql}".encode()).hexdigest()[:24]
        path = self.cache_dir / f"{key}.arrow"
        if path.is_file():
            with ipc.open_file(path) as f:
                return f.read_all()
        tbl = self.con.execute(sql).arrow()
        if isinstance(tbl, pa.RecordBatchReader):
            tbl = tbl.read_all()
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        with ipc.new_file(tmp, tbl.schema) as w:
            w.write_table(tbl)
        os.replace(tmp, path)
        return tbl
