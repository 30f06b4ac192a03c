"""Oracle comparison for collected query results.

Both sides of a comparison are reduced to ``(sorted columns, row count,
digest of canonical_rows)`` in a pool of spawned processes, so that
canonicalising large results (pure Python, about 65 us a row) overlaps
the next query's collect instead of adding to the run. ``canonical_rows``
is the one in ``tests/oracle_check.py``.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util


@functools.cache
def _oracle_check(path: str):
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def summary(df, oracle_path: str) -> tuple[list[str], int, str]:
    rows = _oracle_check(oracle_path).canonical_rows(df)
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return sorted(df.columns), len(df), digest


def driver_canon_error(df) -> str | None:
    """``oracle_check.compare``'s driver-canon guard: the result must
    survive a raw ``sort_values`` over its columns, which an array- or
    map-valued column does not."""
    try:
        df.sort_values(by=sorted(df.columns))
    except TypeError as e:
        return (
            f"driver-canon incompatible (raw sort_values raised "
            f"{type(e).__name__}: {e}); emit scalar columns only"
        )
    return None


def oracle_summary(oracle_sql: str, tables, table_glob: str, oracle_path: str):
    """Run the oracle on DuckDB views over the workload's inputs."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in tables:
            path = table_glob.format(t=t)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        odf = con.sql(oracle_sql).df()
    finally:
        con.close()
    return summary(odf, oracle_path)


def verdict(spark_side, oracle_side) -> str | None:
    """Failure reason, or None when the two summaries match."""
    (s_cols, s_len, s_digest), (o_cols, o_len, o_digest) = spark_side, oracle_side
    if s_cols != o_cols:
        return f"schema mismatch: spark={s_cols} oracle={o_cols}"
    if s_len != o_len:
        return f"row count mismatch: spark={s_len} oracle={o_len}"
    if s_digest != o_digest:
        return "value mismatch"
    return None
