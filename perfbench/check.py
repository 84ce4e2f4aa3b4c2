"""Output checks against the DuckDB oracle, in the canonical form of
``tools/check_oracle.py`` (sorted columns and rows, doubles rounded to
1e-6).  Run once per run, outside the timed region."""

from __future__ import annotations

import math
import os

import duckdb

from lachesis_spark.catalog import TESTDATA_TABLES
from lachesis_spark.registry import ORACLE
from tools.check_oracle import canon


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view per generated table."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_check(con: duckdb.DuckDBPyConnection, name: str, cols: list[str],
                 rows: list) -> str | None:
    """None when the Spark result matches the oracle, else what differs.
    A query without an oracle must return at least one row."""
    if name not in ORACLE:
        return None if rows else "no rows (query has no oracle)"
    res = con.execute(ORACLE[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    if canon(rows, cols) != canon(drows, dcols):
        return f"values differ from oracle ({len(rows)} vs {len(drows)} rows)"
    return None


def same_rows(a: list, b: list, cols: list[str]) -> bool:
    """Equal results in canonical form, doubles compared to a relative
    1e-9: a re-layout may sum the same doubles in another order."""
    ca, cb = canon(a, cols), canon(b, cols)
    if len(ca) != len(cb):
        return False
    for ra, rb in zip(ca, cb):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True
