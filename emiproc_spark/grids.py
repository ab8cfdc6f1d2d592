"""Grid generation — the spatial dimension table.

Reference hierarchy: ``emiproc/grids.py`` (RegularGrid 192-492, HexGrid
495-627, ICONGrid 837-1013).  Spark-native approach: a grid is *generated*
distributively with ``spark.range(nx*ny)`` + closed-form corner arithmetic
(no driver-side polygon list), yielding the GRID schema of
``core.schemas``.  Geometry is attached as WKB via a vectorized pandas
UDF; bbox columns stay JVM-side so clip/tile predicates never parse
geometry.

cell_id layout is row-major ``i*ny + j`` like the reference
(``emiproc/grids.py:160-164``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from emiproc_spark.functions.geometry import wkb_box


@F.pandas_udf(BinaryType())
def _box_wkb(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    return pd.Series(
        [wkb_box(a, b, c, d) for a, b, c, d in zip(xmin, ymin, xmax, ymax)],
        dtype=object,
    )


def regular_grid(
    spark: SparkSession,
    xmin: float,
    ymin: float,
    nx: int,
    ny: int,
    dx: float,
    dy: float,
    with_geometry: bool = True,
) -> DataFrame:
    """Regular grid as a distributed dimension table.

    Mirrors RegularGrid's vectorized construction
    (reference emiproc/grids.py:327-348) but never materializes polygons
    on the driver: `spark.range` partitions the id space and every column
    is closed-form arithmetic (whole-stage codegen, no shuffle).

    ``area_m2`` is dx*dy in CRS units — callers using geographic CRS
    supply equal-area cell areas separately (reference grids.py:170-177).
    """
    df = (
        spark.range(nx * ny)
        .withColumnRenamed("id", "cell_id")
        .withColumn("i", (F.col("cell_id") / ny).cast("long"))
        .withColumn("j", (F.col("cell_id") % ny).cast("long"))
        .withColumn("xmin", F.lit(xmin) + F.col("i") * F.lit(dx))
        .withColumn("ymin", F.lit(ymin) + F.col("j") * F.lit(dy))
        .withColumn("xmax", F.col("xmin") + F.lit(dx))
        .withColumn("ymax", F.col("ymin") + F.lit(dy))
        .withColumn("lon", F.col("xmin") + F.lit(dx) / 2)
        .withColumn("lat", F.col("ymin") + F.lit(dy) / 2)
        .withColumn("area_m2", F.lit(float(dx) * float(dy)))
    )
    if with_geometry:
        df = df.withColumn(
            "geometry", _box_wkb(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))
        )
    cols = ["cell_id", "area_m2", "lon", "lat", "xmin", "ymin", "xmax", "ymax"]
    if with_geometry:
        cols.insert(1, "geometry")
    return df.select(*cols)


def hex_grid(
    spark: SparkSession,
    xmin: float,
    ymin: float,
    nx: int,
    ny: int,
    size: float,
    with_geometry: bool = True,
) -> DataFrame:
    """Pointy-top hexagonal grid (reference HexGrid,
    emiproc/grids.py:495-627): odd rows offset by half a horizontal
    step.  Same closed-form distributed generation as regular_grid;
    geometry is the exact hexagon, bbox columns bound it for tiling.

    width = √3·size, vertical step = 1.5·size.
    """
    import math

    w = math.sqrt(3.0) * size
    df = (
        spark.range(nx * ny)
        .withColumnRenamed("id", "cell_id")
        .withColumn("i", (F.col("cell_id") / ny).cast("long"))
        .withColumn("j", (F.col("cell_id") % ny).cast("long"))
        .withColumn(
            "cx",
            F.lit(xmin)
            + F.col("i") * F.lit(w)
            + F.when(F.col("j") % 2 == 1, F.lit(w / 2)).otherwise(F.lit(0.0)),
        )
        .withColumn("cy", F.lit(ymin) + F.col("j") * F.lit(1.5 * size))
        .withColumn("xmin", F.col("cx") - F.lit(w / 2))
        .withColumn("xmax", F.col("cx") + F.lit(w / 2))
        .withColumn("ymin", F.col("cy") - F.lit(size))
        .withColumn("ymax", F.col("cy") + F.lit(size))
        .withColumn("lon", F.col("cx"))
        .withColumn("lat", F.col("cy"))
        .withColumn("area_m2", F.lit(3.0 * math.sqrt(3.0) / 2.0 * size * size))
    )
    if with_geometry:
        df = df.withColumn("geometry", _hex_wkb(F.col("cx"), F.col("cy"), F.lit(size)))
    cols = ["cell_id", "area_m2", "lon", "lat", "xmin", "ymin", "xmax", "ymax"]
    if with_geometry:
        cols.insert(1, "geometry")
    return df.select(*cols)


@F.pandas_udf(BinaryType())
def _hex_wkb(cx: pd.Series, cy: pd.Series, size: pd.Series) -> pd.Series:
    import math

    from emiproc_spark.functions.geometry import wkb_polygon

    out = []
    for x, y, s in zip(cx, cy, size):
        # pointy-top hexagon: circumradius s, vertices every 60°
        ring = [
            (x + s * math.cos(math.radians(a)), y + s * math.sin(math.radians(a)))
            for a in (270, 330, 30, 90, 150, 210)
        ]
        out.append(wkb_polygon(ring))
    return pd.Series(out, dtype=object)
