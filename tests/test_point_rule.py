"""The closed-form point rule (weights_points_rect) against the general
WKB kernel's point branch (weights_poly_rect): a point contained
inclusively by n cells splits 1/n (reference emiproc/regrid.py:277-285),
a point outside the grid is dropped."""

import pytest
from pyspark.sql import functions as F

from emiproc_spark.functions.geometry import wkb_point
from emiproc_spark.grids import regular_grid
from emiproc_spark.operators.regrid import weights_poly_rect, weights_remap
from emiproc_spark.pipelines import rasterize_points

# (source_id, lon, lat): inside one cell, on a shared edge (2 cells), on
# a shared corner (4 cells), on the outer boundary (1 cell), outside the
# grid (dropped)
POINTS = [
    (10, 0.25, 0.75),
    (11, 1.0, 0.5),
    (12, 1.0, 1.0),
    (13, 0.0, 1.5),
    (14, 5.0, 5.0),
]
# the long table repeats a source per (category, substance)
ROWS = [
    (10, 0.25, 0.75, "A", "CO2", 8.0),
    (11, 1.0, 0.5, "A", "CO2", 4.0),
    (11, 1.0, 0.5, "B", "CO2", 2.0),
    (11, 1.0, 0.5, "A", "NOx", 16.0),
    (12, 1.0, 1.0, "B", "NOx", 32.0),
    (13, 0.0, 1.5, "A", "CO2", 1.0),
    (14, 5.0, 5.0, "A", "CO2", 64.0),
]
ROW_SCHEMA = (
    "source_id long, lon double, lat double, category string, "
    "substance string, value_kg_y double"
)


def _grid(spark):
    # 3 x 2 unit cells over [0, 3] x [0, 2]
    return regular_grid(spark, 0.0, 0.0, 3, 2, 1.0, 1.0, with_geometry=False)


def _wkb_src(spark, points):
    return spark.createDataFrame(
        [(i, wkb_point(x, y), x, y, x, y) for i, x, y in points],
        "source_id long, geometry binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )


def _wkb_rasterize(spark, rows, grid, tile):
    """Point rasterization through the general WKB kernel: one geometry
    row per source, then the same remap."""
    long = spark.createDataFrame(rows, ROW_SCHEMA)
    src = _wkb_src(spark, sorted({(r[0], r[1], r[2]) for r in rows}))
    w = weights_poly_rect(src, grid, tile=tile)
    return weights_remap(
        long.select(
            F.col("source_id").alias("cell_id"), "category", "substance",
            "value_kg_y",
        ),
        w,
    )


def _triples(df):
    return sorted(
        (r["src_id"], r["dst_id"], r["weight"])
        for r in df.select("src_id", "dst_id", "weight").collect()
    )


def _cells(df):
    return sorted(
        (r["cell_id"], r["category"], r["substance"], r["value_kg_y"])
        for r in df.collect()
    )


@pytest.mark.parametrize("tile", [1.0, 2.0, 0.5])
def test_points_rect_equals_wkb_point_rule(spark, tile):
    from emiproc_spark.operators.regrid import weights_points_rect

    grid = _grid(spark)
    pts = spark.createDataFrame(POINTS, "source_id long, x double, y double")
    got = _triples(weights_points_rect(pts, grid, tile=tile))
    want = _triples(weights_poly_rect(_wkb_src(spark, POINTS), grid, tile=tile))
    assert got == want
    # the fixture exercises every branch of the rule
    n_cells = {}
    for s, _, _ in got:
        n_cells[s] = n_cells.get(s, 0) + 1
    assert n_cells == {10: 1, 11: 2, 12: 4, 13: 1}
    assert {s: w for s, _, w in got} == {10: 1.0, 11: 0.5, 12: 0.25, 13: 1.0}


@pytest.mark.parametrize("tile", [1.0, 2.0])
def test_rasterize_points_matches_wkb_kernel_and_conserves(spark, tile):
    grid = _grid(spark)
    long = spark.createDataFrame(ROWS, ROW_SCHEMA)
    got = _cells(rasterize_points(long, grid, tile))
    assert got == _cells(_wkb_rasterize(spark, ROWS, grid, tile))
    # mass: everything but the point outside the grid, per substance
    for sub in ("CO2", "NOx"):
        out = sum(v for _, _, s, v in got if s == sub)
        inside = sum(r[5] for r in ROWS if r[4] == sub and r[0] != 14)
        assert out == pytest.approx(inside, rel=1e-12)
    # the edge source's three (category, substance) rows each split in 2
    assert sorted(v for c, cat, s, v in got if (cat, s) == ("A", "NOx")) == [
        8.0, 8.0,
    ]
