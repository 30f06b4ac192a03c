"""Seeded multi-file copy of a fixture directory, and its checks.

Every ``<table>.parquet`` file of the source becomes a directory
``<table>.parquet/`` of ``n_files`` parquet files, one row group each.
Rows are shuffled with the seed before the split; the Arrow schema
(physical types included) is written back unchanged.
"""

from __future__ import annotations

import os
import pathlib
import shutil

import duckdb
import numpy as np
import pyarrow.parquet as pq


def split_copy(src: pathlib.Path, dst: pathlib.Path, tables, seed: int, n_files: int) -> None:
    rng = np.random.default_rng(seed)
    tmp = dst.with_name(dst.name + ".partial")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    for t in tables:
        table = pq.read_table(src / f"{t}.parquet")
        shuffled = table.take(rng.permutation(table.num_rows))
        out = tmp / f"{t}.parquet"
        out.mkdir(parents=True)
        bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            part = shuffled.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(
                part,
                out / f"part-{i:05d}.parquet",
                row_group_size=max(1, part.num_rows),
                coerce_timestamps=None,
                version="2.6",
            )
    os.rename(tmp, dst)


def _summary(con, path: str) -> tuple:
    """Row count and an order-insensitive content checksum."""
    return con.sql(f"SELECT count(*), sum(hash(t)) FROM read_parquet('{path}') t").fetchone()


def verify(src: pathlib.Path, dst: pathlib.Path, tables) -> None:
    """Raise unless every table of ``dst`` has the source's row count,
    content checksum and Arrow schema."""
    con = duckdb.connect()
    try:
        for t in tables:
            want = _summary(con, f"{src}/{t}.parquet")
            got = _summary(con, f"{dst}/{t}.parquet/*.parquet")
            if want != got:
                raise ValueError(f"split copy of {t}: (rows, checksum) {got} != source {want}")
            schema = pq.read_schema(src / f"{t}.parquet")
            for part in sorted((dst / f"{t}.parquet").iterdir()):
                if not pq.read_schema(part).equals(schema, check_metadata=False):
                    raise ValueError(f"split copy of {t}: schema of {part.name} differs")
    finally:
        con.close()
