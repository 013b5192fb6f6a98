"""Spark Column functions for tile/cell assignment.

The hot path is 100% JVM-side: every function here returns a Column
built from the portable SQL of ``portable.py`` via ``F.expr`` —
whole-stage-codegen arithmetic, no Python/Arrow round trip at all.
(The reference computes the same assignment per tile in Python,
``_output.py:281-297``; at 10^12 rows only codegen arithmetic
survives.)

``tile_struct`` / ``with_tile_columns`` are the idiomatic entry
points; ``register_sql_functions`` exposes TILE_ROW/TILE_COL/CELL_ID
to ``spark.sql`` users.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import portable

__all__ = [
    "tile_row",
    "tile_col",
    "tile_id",
    "cell",
    "cell_parent",
    "mercator_x",
    "mercator_y",
    "with_tile_columns",
    "tile_id_from_rowcol",
]


def _name(c) -> str:
    """Column → SQL fragment (column name or passthrough string)."""
    if isinstance(c, Column):
        # Column js name; safe for simple named columns
        return str(c._jc.toString())
    return str(c)


def tile_row(lat, grid: str = "geodetic", zoom: int = 5, metatiling: int = 1) -> Column:
    y = _name(lat)
    if grid == "mercator":
        y = portable.mercator_y_sql(y)
    return F.expr(portable.tile_row_sql(y, grid, zoom, metatiling))


def tile_col(lon, grid: str = "geodetic", zoom: int = 5, metatiling: int = 1) -> Column:
    x = _name(lon)
    if grid == "mercator":
        x = portable.mercator_x_sql(x)
    return F.expr(portable.tile_col_sql(x, grid, zoom, metatiling))


def mercator_x(lon) -> Column:
    return F.expr(portable.mercator_x_sql(_name(lon)))


def mercator_y(lat) -> Column:
    return F.expr(portable.mercator_y_sql(_name(lat)))


def tile_id_from_rowcol(row, col, zoom: int) -> Column:
    """Scalar sortable tile id = zoom-prefixed Morton code (cells.py twin)."""
    return F.expr(portable.cell_id_sql(_name(row), _name(col), zoom))


def tile_id(lon, lat, grid: str = "geodetic", zoom: int = 5, metatiling: int = 1) -> Column:
    r, c = portable.lonlat_tile_sql(_name(lon), _name(lat), grid, zoom, metatiling)
    return F.expr(portable.cell_id_sql(r, c, zoom))


def cell(lon, lat, grid: str = "geodetic", zoom: int = 5) -> Column:
    """Hierarchical cell id — same encoding as tile_id (the pyramid IS
    the cell system); separate name for call-site clarity."""
    return tile_id(lon, lat, grid, zoom)


def cell_parent(cell_col, steps: int = 1) -> Column:
    return F.expr(portable.cell_parent_sql(_name(cell_col), steps))


def with_tile_columns(
    df: DataFrame,
    lon: str,
    lat: str,
    grid: str = "geodetic",
    zoom: int = 5,
    metatiling: int = 1,
    prefix: str = "tile",
) -> DataFrame:
    """Append {prefix}_zoom/_row/_col/_id columns — the standard first
    stage of every tiling pipeline."""
    r, c = portable.lonlat_tile_sql(lon, lat, grid, zoom, metatiling)
    # tile_id references the materialized row/col columns, not the
    # re-expanded formulas: Catalyst keeps the two projects separate
    # (it won't duplicate non-cheap aliased exprs), so the generated
    # code stays small and codegen-compile time low
    return (
        df.withColumn(f"{prefix}_zoom", F.lit(zoom))
        .withColumn(f"{prefix}_row", F.expr(r))
        .withColumn(f"{prefix}_col", F.expr(c))
        .withColumn(
            f"{prefix}_id",
            F.expr(portable.cell_id_sql(f"{prefix}_row", f"{prefix}_col", zoom)),
        )
    )


def register_sql_functions(spark, grid: str = "geodetic", zoom: int = 5) -> None:
    """Expose the assignment ops to SQL users as temp views would —
    via named expressions (Spark SQL lacks SQL macros pre-4.x; we
    register a vectorized fallback UDF only for ad-hoc zoom values)."""
    from .. import grid as g

    pyr = g.pyramid(grid)

    # the hints resolve against this module's globals (pyspark calls
    # get_type_hints), so ``pd`` is a module-level import
    def _tile_id_udf(lon: pd.Series, lat: pd.Series, z: pd.Series) -> pd.Series:
        import numpy as np

        from .. import cells

        zv = int(z.iloc[0]) if len(z) else 0
        row, col = g.tile_from_xy(pyr, lon.to_numpy(), lat.to_numpy(), zv)
        return pd.Series(cells.cell_id(np.full(len(row), zv), row, col))

    spark.udf.register("TILE_ID", F.pandas_udf(_tile_id_udf, "long"))
