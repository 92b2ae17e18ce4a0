"""Seeded copies of the shipped sf0.01 tables, and their DuckDB answers.

``seeded_copy`` rewrites every table of ``data/sf0.01`` with its rows
permuted by the seed, one row group per table as shipped.  The data is
the same for every seed; only the physical row order changes, which is
exactly what an order-dependent query would expose.

``expected`` runs each query's ``oracle_sql()`` on DuckDB over the same
copy, on every run: nothing is cached, so a change to the SQL, the
tables or DuckDB is always checked against fresh answers (it takes ~2 s
at this scale, untimed).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def seeded_copy(dest: str, seed: int) -> str:
    """Write the permuted tables to ``dest`` and return it."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for i, name in enumerate(TABLES):
        table = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(
            table.take(perm),
            os.path.join(dest, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1),
        )
    return dest


def expected(sf_dir: str, names: list[str], oracle: dict[str, str]) -> dict:
    """DuckDB result frame per query name over the tables in ``sf_dir``."""
    from tools.check_oracle import duck_connect

    con = duck_connect(sf_dir)
    try:
        return {name: con.execute(oracle[name]).fetchdf() for name in names}
    finally:
        con.close()
