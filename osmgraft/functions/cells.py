"""Spark-facing cell-indexing kernels (SURVEY.md §2.8 engine-added):
vectorized pandas UDFs wrapping the numpy S2 / H3-style kernels, plus the
wrapped integer grid used by kNN and the salted cell join.

All UDFs are Arrow-batched (pandas_udf) — no per-row Python (input_hint).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

LON_SPAN = 3_600_000_000


def s2_cell_udf(level: int = 13):
    from osmgraft.functions.s2 import s2_cell_id

    @F.pandas_udf(LongType())
    def _udf(lat7: pd.Series, lon7: pd.Series) -> pd.Series:
        return pd.Series(s2_cell_id(lat7.to_numpy(), lon7.to_numpy(), level))

    return _udf


def h3_cell_udf(res: int = 7):
    """Uber-H3-compatible cell ids (functions/h3real.py — bit-identical to
    h3.latlng_to_cell)."""
    from osmgraft.functions.h3real import latlng_to_cell

    @F.pandas_udf(LongType())
    def _udf(lat7: pd.Series, lon7: pd.Series) -> pd.Series:
        return pd.Series(latlng_to_cell(lat7.to_numpy(), lon7.to_numpy(), res))

    return _udf


def h3_center_reencode_udf(child_res: int):
    """cell -> latlng_to_cell(cell_to_latlng(cell), child_res): the decode ->
    re-encode roundtrip as one vectorized UDF.  Exercises the full decode
    path (digit replay + cross-face overage hop + inverse gnomonic): any
    center drift beyond the child cell's inradius yields a non-center-child
    id and flips the oracle hash (queries.h3_center_child_r7_r9)."""
    from osmgraft.functions.h3real import cell_to_latlng, latlng_to_cell

    @F.pandas_udf(LongType())
    def _udf(cell: pd.Series) -> pd.Series:
        import numpy as np

        la, lo = cell_to_latlng(cell.to_numpy())
        return pd.Series(latlng_to_cell(
            np.round(la * 1e7).astype(np.int64),
            np.round(lo * 1e7).astype(np.int64),
            child_res,
        ))

    return _udf


# --- wrapped integer grid (pure Column expressions, JVM-side) -----------------
def grid_cell(lat7: Column, lon7: Column, cell_size: int) -> Column:
    """Single long cell id: clat * ncl + clon, lon wrapped (exact int math,
    identical to osmgraft.operators.knn's grid)."""
    if LON_SPAN % cell_size != 0:
        raise ValueError(f"cell_size must divide {LON_SPAN}")
    ncl = LON_SPAN // cell_size

    def floordiv(col, g):
        return ((col.cast("long") - F.pmod(col.cast("long"), F.lit(g))) / F.lit(g)).cast("long")

    clat = floordiv(lat7, cell_size)
    clon = F.pmod(floordiv(lon7, cell_size), F.lit(ncl))
    return clat * F.lit(ncl) + clon


def py_grid_cell(lat7: int, lon7: int, cell_size: int) -> int:
    ncl = LON_SPAN // cell_size
    return (lat7 // cell_size) * ncl + ((lon7 // cell_size) % ncl)


def sql_grid_cell(lat_expr: str, lon_expr: str, cell_size: int) -> str:
    """DuckDB twin of grid_cell (floor division spelled via %-adjustment;
    duckdb % follows C semantics so emulate pmod explicitly)."""
    ncl = LON_SPAN // cell_size
    flat = f"((CAST({lat_expr} AS BIGINT) - ((CAST({lat_expr} AS BIGINT) % {cell_size} + {cell_size}) % {cell_size})) / {cell_size})"
    flon = f"((CAST({lon_expr} AS BIGINT) - ((CAST({lon_expr} AS BIGINT) % {cell_size} + {cell_size}) % {cell_size})) / {cell_size})"
    return f"(CAST({flat} AS BIGINT) * {ncl} + ((CAST({flon} AS BIGINT) % {ncl} + {ncl}) % {ncl}))"
