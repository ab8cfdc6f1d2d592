"""Spatial remapping: tile-partitioned intersection join + weighted agg.

Reference semantics: ``calculate_weights_mapping``
(emiproc/regrid.py:104-310) — for (src shape, dst cell) pairs that
intersect, weight = area(src ∩ dst)/area(src); point sources in n cells
split 1/n (regrid.py:277-285); line sources weighted by clipped length
(regrid.py:251-290).  ``weights_remap`` (regrid.py:313-346) is the sparse
matrix product dst = W · src — in Spark a hash join + hash aggregation.

Scale design (SURVEY.md §4): the reference's bbox prefilter (`.cx`,
regrid.py:179-183) becomes a deterministic *tile equi-join*: each bbox is
assigned to the integer tiles it covers, candidates are pairs sharing a
tile, and a canonical-tile filter dedupes pairs without a shuffle-heavy
``distinct``.  The refine step is pure column arithmetic for axis-aligned
cells (stays in whole-stage codegen) and an Arrow pandas UDF over the
numpy geometry kernel for general polygons.  Weights are a reusable
table: computed once, joined against every (category, substance) slice —
mirroring the reference's weights cache (regrid.py:42-101) as persisted
Parquet.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from emiproc_spark.functions import geometry as geom

BBOX = ["xmin", "ymin", "xmax", "ymax"]


_MAX_TILES_PER_ROW = 1_000_000


def _tiles(df: DataFrame, prefix: str, tile: float) -> DataFrame:
    """Explode each row to the integer tiles its bbox covers.

    Guarded: an inverted bbox (xmin > xmax) or one oversized row (a
    near-global bbox at a fine tile size, e.g. an unsplit antimeridian
    wrap) would otherwise generate a silently-descending or
    multi-million-element sequence — fail fast with the offending
    extent instead of OOMing the explode."""
    tx0 = F.floor(F.col(f"{prefix}xmin") / F.lit(tile))
    tx1 = F.floor(F.col(f"{prefix}xmax") / F.lit(tile))
    ty0 = F.floor(F.col(f"{prefix}ymin") / F.lit(tile))
    ty1 = F.floor(F.col(f"{prefix}ymax") / F.lit(tile))
    n_tiles = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
    guard = F.when(
        (tx1 < tx0) | (ty1 < ty0) | (n_tiles > _MAX_TILES_PER_ROW),
        F.raise_error(
            F.concat(
                F.lit("bbox exceeds the tile-join guard (inverted or > "
                      f"{_MAX_TILES_PER_ROW} tiles at tile={tile}): ["),
                F.col(f"{prefix}xmin"), F.lit(", "), F.col(f"{prefix}ymin"),
                F.lit(", "), F.col(f"{prefix}xmax"), F.lit(", "),
                F.col(f"{prefix}ymax"),
                F.lit("] — split wrap geometries / fix the bbox, or use a "
                      "coarser tile"),
            )
        ).cast("long"),
    ).otherwise(F.lit(0))
    return (
        df.withColumn("tx", F.explode(F.sequence(tx0 + guard, tx1)))
        .withColumn("ty", F.explode(F.sequence(ty0, ty1)))
    )


def tile_candidates(src: DataFrame, dst: DataFrame, tile: float) -> DataFrame:
    """Candidate intersecting pairs via tile equi-join.

    Both inputs need bbox columns; ``src`` columns are prefixed ``s_``,
    ``dst`` columns ``d_`` in the output.  Pairs are emitted exactly once:
    only from the canonical tile containing the intersection bbox's
    lower-left corner — no ``distinct`` needed.
    """
    s = _tiles(src.select([F.col(c).alias(f"s_{c}") for c in src.columns]), "s_", tile)
    d = _tiles(dst.select([F.col(c).alias(f"d_{c}") for c in dst.columns]), "d_", tile)
    joined = s.join(d, ["tx", "ty"], "inner").where(
        (F.col("s_xmin") <= F.col("d_xmax"))
        & (F.col("s_xmax") >= F.col("d_xmin"))
        & (F.col("s_ymin") <= F.col("d_ymax"))
        & (F.col("s_ymax") >= F.col("d_ymin"))
    )
    canonical = (
        (F.col("tx") == F.floor(F.greatest("s_xmin", "d_xmin") / F.lit(tile)))
        & (F.col("ty") == F.floor(F.greatest("s_ymin", "d_ymin") / F.lit(tile)))
    )
    return joined.where(canonical).drop("tx", "ty")


def weights_rect_rect(src_grid: DataFrame, dst_grid: DataFrame, tile: float) -> DataFrame:
    """weights(src_id, dst_id, weight) for two axis-aligned-cell grids.

    Refine is closed-form interval overlap — entirely JVM-side, no UDF
    (reference grid→grid case, emiproc/regrid.py:294-299).
    """
    cand = tile_candidates(
        src_grid.select("cell_id", *BBOX), dst_grid.select("cell_id", *BBOX), tile
    )
    ox = F.greatest(F.lit(0.0), F.least("s_xmax", "d_xmax") - F.greatest("s_xmin", "d_xmin"))
    oy = F.greatest(F.lit(0.0), F.least("s_ymax", "d_ymax") - F.greatest("s_ymin", "d_ymin"))
    s_area = (F.col("s_xmax") - F.col("s_xmin")) * (F.col("s_ymax") - F.col("s_ymin"))
    return (
        cand.withColumn("weight", ox * oy / s_area)
        .where(F.col("weight") > 0)
        .select(
            F.col("s_cell_id").alias("src_id"),
            F.col("d_cell_id").alias("dst_id"),
            "weight",
        )
    )


def weights_poly_rect(src: DataFrame, dst_grid: DataFrame, tile: float) -> DataFrame:
    """weights for general polygon/line/point sources onto rect cells.

    ``src``: (source_id, geometry WKB, xmin..ymax).  Refine runs the numpy
    kernel inside an Arrow-batched ``mapInPandas`` — the slow path, but
    only candidate pairs (post tile-prune) reach it.

    Point weight 1/n over the n covering cells (regrid.py:277-285);
    line weight = clipped length / total length (regrid.py:251-275);
    polygon weight = intersection area / polygon area.
    """
    cand = tile_candidates(
        src.select(F.col("source_id").alias("cell_id"), "geometry", *BBOX),
        dst_grid.select("cell_id", *BBOX),
        tile,
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # geometry parse + measure cache keyed on the WKB BYTES, not the
        # id: a source id may legitimately appear with several geometries
        # (one-row-per-part conventions); an id-keyed cache would refine
        # every later row against the first-seen geometry.
        # POLYGON rings after the exterior are WKB holes and SUBTRACT
        # (sign −1) from both the measure and the per-cell clipped area;
        # MULTIPOLYGON parts are additive.
        cache: dict[bytes, tuple[int, list, np.ndarray, float]] = {}

        for pdf in batches:
            if pdf.empty:
                continue
            n = len(pdf)
            src_ids = pdf["s_cell_id"].to_numpy()
            bufs = [bytes(b) for b in pdf["s_geometry"]]
            for buf in bufs:
                if buf not in cache:
                    gtype, rings = geom.parse_wkb(buf)
                    if gtype == geom.WKB_POINT:
                        signs = np.ones(1)
                        measure = 1.0
                    elif gtype == geom.WKB_LINESTRING:
                        signs = np.ones(1)
                        measure = geom.line_length(rings[0])
                    else:
                        if gtype == geom.WKB_POLYGON and len(rings) > 1:
                            signs = np.array([1.0] + [-1.0] * (len(rings) - 1))
                        else:
                            signs = np.ones(len(rings))
                        measure = sum(
                            s * geom.shoelace_area(r)
                            for s, r in zip(signs, rings)
                        )
                    cache[buf] = (gtype, rings, signs, measure)
            gtypes = np.array([cache[b][0] for b in bufs])
            boxes = pdf[["d_xmin", "d_ymin", "d_xmax", "d_ymax"]].to_numpy()
            w = np.zeros(n)

            pt = np.flatnonzero(gtypes == geom.WKB_POINT)
            if pt.size:
                xy = np.array([cache[bufs[i]][1][0][0] for i in pt])
                b = boxes[pt]
                inside = (
                    (b[:, 0] <= xy[:, 0]) & (xy[:, 0] <= b[:, 2])
                    & (b[:, 1] <= xy[:, 1]) & (xy[:, 1] <= b[:, 3])
                )
                w[pt] = inside.astype(np.float64)

            ln = np.flatnonzero(gtypes == geom.WKB_LINESTRING)
            if ln.size:
                coords = [cache[bufs[i]][1][0] for i in ln]
                totals = np.array([cache[bufs[i]][3] for i in ln])
                clipped = geom.batch_box_clipped_length(coords, boxes[ln])
                w[ln] = np.divide(
                    clipped, totals, out=np.zeros_like(clipped), where=totals > 0
                )

            pg = np.flatnonzero((gtypes != geom.WKB_POINT) & (gtypes != geom.WKB_LINESTRING))
            if pg.size:
                rings_flat, owner, ring_sign = [], [], []
                for k, i in enumerate(pg):
                    _, rings, signs, _ = cache[bufs[i]]
                    for r, s in zip(rings, signs):
                        rings_flat.append(r)
                        owner.append(k)
                        ring_sign.append(s)
                owner = np.array(owner)
                ring_sign = np.array(ring_sign)
                P, counts = geom.stack_rings(rings_flat)
                inter = geom.batch_rect_clip_area(P, counts, boxes[pg][owner])
                per_row = np.bincount(
                    owner, weights=inter * ring_sign, minlength=pg.size
                )
                per_row = np.maximum(per_row, 0.0)  # numeric noise on holes
                areas = np.array([cache[bufs[i]][3] for i in pg])
                w[pg] = np.divide(
                    per_row, areas, out=np.zeros_like(per_row), where=areas > 0
                )

            keep = w > 0
            yield pd.DataFrame(
                {
                    "src_id": pd.Series(src_ids[keep], dtype="int64"),
                    "dst_id": pd.Series(pdf["d_cell_id"].to_numpy()[keep], dtype="int64"),
                    "weight": pd.Series(w[keep], dtype="float64"),
                    "is_point": pd.Series(gtypes[keep] == geom.WKB_POINT, dtype="bool"),
                    "is_line": pd.Series(
                        gtypes[keep] == geom.WKB_LINESTRING, dtype="bool"
                    ),
                }
            )

    raw = cand.mapInPandas(
        refine,
        schema="src_id long, dst_id long, weight double, is_point boolean, is_line boolean",
    )
    # A point on a shared edge/corner is contained (inclusively) by n
    # cells — split its weight 1/n (reference emiproc/regrid.py:277-285).
    n_per_src = F.count("*").over(Window.partitionBy("src_id"))
    # A line lying exactly on a shared cell edge counts in both cells —
    # when a line's weights sum past 1, renormalize by the sum
    # (reference regrid.py:266-275).
    w_per_src = F.sum("weight").over(Window.partitionBy("src_id"))
    return (
        raw.withColumn(
            "weight",
            F.when(F.col("is_point"), F.col("weight") / n_per_src)
            .when(
                F.col("is_line") & (w_per_src > 1.0), F.col("weight") / w_per_src
            )
            .otherwise(F.col("weight")),
        )
        .drop("is_point", "is_line")
    )


def weights_points_rect(points: DataFrame, dst_grid: DataFrame, tile: float) -> DataFrame:
    """weights(src_id, dst_id, weight) for point sources onto rect cells
    — :func:`weights_poly_rect`'s point rule in closed form, entirely
    JVM-side (no WKB, no refine UDF).

    ``points``: (source_id, x, y), one row per source.  A point's bbox
    is degenerate (xmin = xmax = x), so the tile-candidate bbox filter
    already IS the inclusive containment test ``xmin <= x <= xmax``,
    ``ymin <= y <= ymax``; each of the n cells containing the point
    gets 1/n (reference emiproc/regrid.py:277-285).  A point outside
    every cell yields no row.
    """
    cand = tile_candidates(
        points.select(
            F.col("source_id").alias("cell_id"),
            F.col("x").alias("xmin"),
            F.col("y").alias("ymin"),
            F.col("x").alias("xmax"),
            F.col("y").alias("ymax"),
        ),
        dst_grid.select("cell_id", *BBOX),
        tile,
    )
    n_per_src = F.count("*").over(Window.partitionBy("s_cell_id"))
    return cand.select(
        F.col("s_cell_id").alias("src_id"),
        F.col("d_cell_id").alias("dst_id"),
        (F.lit(1.0) / n_per_src).alias("weight"),
    )


def weights_poly_poly(src: DataFrame, dst: DataFrame, tile: float) -> DataFrame:
    """weights(src_id, dst_id, weight) for polygon sources onto *convex*
    polygonal destination cells (triangular ICON meshes, hexagons —
    reference ICONGrid remap, emiproc/grids.py:837-1013 +
    regrid.py:232-301).

    Same tile-join candidate generation; the refine clips the source
    rings by the destination ring (Sutherland–Hodgman needs only the
    clip side convex).  ``dst`` needs (cell_id, geometry, bbox).
    """
    cand = tile_candidates(
        src.select(F.col("source_id").alias("cell_id"), "geometry", *BBOX),
        dst.select("cell_id", "geometry", *BBOX),
        tile,
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        # caches key on the WKB bytes, NOT the cell id: a dst cell may
        # legitimately appear with several geometries (antimeridian
        # parts from icon_mesh_grid emit one row per part under the same
        # cell_id; their per-part weights sum in the remap aggregation).
        # src POLYGON holes subtract (sign −1); MULTIPOLYGON parts add.
        # A MULTIPOLYGON dst (normalize_antimeridian output) clips by
        # each part and sums; a dst POLYGON uses its exterior only
        # (Sutherland–Hodgman needs a convex clip — grid cells carry no
        # holes).
        src_cache: dict[bytes, tuple[list, np.ndarray, float]] = {}
        dst_cache: dict[bytes, list[np.ndarray]] = {}

        for pdf in batches:
            if pdf.empty:
                continue
            src_ids = pdf["s_cell_id"].to_numpy()
            dst_ids = pdf["d_cell_id"].to_numpy()
            s_bufs = [bytes(b) for b in pdf["s_geometry"]]
            d_bufs = [bytes(b) for b in pdf["d_geometry"]]
            for buf in s_bufs:
                if buf not in src_cache:
                    gtype, rings = geom.parse_wkb(buf)
                    if gtype == geom.WKB_POLYGON and len(rings) > 1:
                        signs = np.array([1.0] + [-1.0] * (len(rings) - 1))
                    else:
                        signs = np.ones(len(rings))
                    measure = sum(
                        s * geom.shoelace_area(r) for s, r in zip(signs, rings)
                    )
                    src_cache[buf] = (rings, signs, measure)
            for buf in d_bufs:
                if buf not in dst_cache:
                    gtype, rings = geom.parse_wkb(buf)
                    if gtype == geom.WKB_POLYGON:
                        rings = rings[:1]
                    parts = []
                    for ring in rings:
                        if len(ring) > 1 and (ring[0] == ring[-1]).all():
                            ring = ring[:-1]
                        parts.append(geom.ensure_ccw(ring))
                    dst_cache[buf] = parts

            # one padded stack over every (subject ring, clip part) pair
            rings_flat, owner, sign_flat, clip_rings = [], [], [], []
            for k, (sb, db) in enumerate(zip(s_bufs, d_bufs)):
                rs, signs, _ = src_cache[sb]
                for part in dst_cache[db]:
                    for r, s in zip(rs, signs):
                        rings_flat.append(r)
                        owner.append(k)
                        sign_flat.append(s)
                        clip_rings.append(part)
            owner = np.array(owner)
            sign_flat = np.array(sign_flat)
            P, counts = geom.stack_rings(rings_flat)
            C, ccounts = geom.stack_rings(clip_rings)
            inter = geom.batch_convex_clip_area(P, counts, C, ccounts)
            per_row = np.bincount(
                owner, weights=inter * sign_flat, minlength=len(pdf)
            )
            per_row = np.maximum(per_row, 0.0)  # numeric noise on holes
            areas = np.array([src_cache[s][2] for s in s_bufs])
            w = np.divide(per_row, areas, out=np.zeros_like(per_row), where=areas > 0)

            keep = w > 0
            yield pd.DataFrame(
                {
                    "src_id": pd.Series(src_ids[keep], dtype="int64"),
                    "dst_id": pd.Series(dst_ids[keep], dtype="int64"),
                    "weight": pd.Series(w[keep], dtype="float64"),
                }
            )

    return cand.mapInPandas(refine, schema="src_id long, dst_id long, weight double")


def weights_remap(emissions: DataFrame, weights: DataFrame, broadcast_weights: bool = False) -> DataFrame:
    """dst = W · src for every (category, substance) slice in one pass —
    the sparse matmul (reference weights_remap, emiproc/regrid.py:313-346)
    as hash join + hash agg.  One weights table serves all columns
    (reference reuses W across columns, regrid.py:505-517)."""
    w = F.broadcast(weights) if broadcast_weights else weights
    return (
        emissions.join(w, emissions["cell_id"] == weights["src_id"], "inner")
        .groupBy(
            F.col("dst_id").alias("cell_id"),
            "category",
            "substance",
        )
        .agg(F.sum(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )


def remap_inventory(
    emissions: DataFrame,
    src_grid: DataFrame,
    dst_grid: DataFrame,
    tile: float,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Full gridded remap (reference remap_inventory,
    emiproc/regrid.py:421-597): build (or reuse) the weight table, then
    join+aggregate.  Callers persist ``weights`` to Parquet to mirror the
    reference's .npz cache (regrid.py:42-101)."""
    if weights is None:
        weights = weights_rect_rect(src_grid, dst_grid, tile)
    return weights_remap(emissions, weights)


def crop_weights_rect(
    grid: DataFrame, xmin: float, ymin: float, xmax: float, ymax: float
) -> DataFrame:
    """Per-cell crop weight against an axis-aligned shape: 1 inside,
    0 outside, fractional on the boundary (reference
    geoserie_intersection, emiproc/regrid.py:349-418)."""
    ox = F.greatest(
        F.lit(0.0), F.least(F.col("xmax"), F.lit(xmax)) - F.greatest(F.col("xmin"), F.lit(xmin))
    )
    oy = F.greatest(
        F.lit(0.0), F.least(F.col("ymax"), F.lit(ymax)) - F.greatest(F.col("ymin"), F.lit(ymin))
    )
    area = (F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin"))
    return grid.select("cell_id", (ox * oy / area).alias("crop_w"))


def crop_with_shape(
    emissions: DataFrame,
    crop_weights: DataFrame,
    keep_outside: bool = False,
) -> DataFrame:
    """Multiply values by crop weight, keep w>0 (reference crop_with_shape,
    emiproc/inventories/utils.py:120-261).  ``keep_outside`` inverts the
    weights (regrid.py:396-417)."""
    w = F.col("crop_w") if not keep_outside else (F.lit(1.0) - F.col("crop_w"))
    return (
        emissions.join(crop_weights, "cell_id", "inner")
        .withColumn("value_kg_y", F.col("value_kg_y") * w)
        .where(F.col("value_kg_y") != 0.0)
        .drop("crop_w")
    )


def clip_box(
    emissions: DataFrame,
    grid: DataFrame,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
) -> DataFrame:
    """Bounding-box selection of cells — a semi join on a partition-
    prunable predicate (reference clip_box,
    emiproc/inventories/utils.py:888-954)."""
    cells = grid.where(
        (F.col("xmax") > F.lit(xmin))
        & (F.col("xmin") < F.lit(xmax))
        & (F.col("ymax") > F.lit(ymin))
        & (F.col("ymin") < F.lit(ymax))
    ).select("cell_id")
    return emissions.join(F.broadcast(cells), "cell_id", "semi")


def crop_point_sources(
    points: DataFrame,
    xmin: float,
    ymin: float,
    xmax: float,
    ymax: float,
    keep_outside: bool = False,
    x_col: str = "x",
    y_col: str = "y",
    value_col: str = "value_kg_y",
) -> DataFrame:
    """Crop point sources against a box: points strictly inside (or
    outside with ``keep_outside``) pass whole; points exactly ON the
    boundary are kept on BOTH sides at half value (reference
    crop_with_shape point branch, emiproc/inventories/utils.py:225-240:
    boundary points divided by 2 and included in either crop)."""
    x, y = F.col(x_col), F.col(y_col)
    strictly_in = (x > xmin) & (x < xmax) & (y > ymin) & (y < ymax)
    inclusively_in = (x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax)
    on_boundary = inclusively_in & ~strictly_in
    keep = (~inclusively_in if keep_outside else strictly_in) | on_boundary
    return points.where(keep).withColumn(
        value_col,
        F.when(on_boundary, F.col(value_col) / 2.0).otherwise(F.col(value_col)),
    )


def normalize_antimeridian(df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Split polygon geometries crossing the ±180° meridian into a
    MULTIPOLYGON (one part per side) with every vertex in [−180, 180],
    updating the bbox columns (reference
    ICONGrid.process_overlap_antimeridian, emiproc/grids.py:931-1013).

    Points/LineStrings pass through untouched (geometry AND bbox);
    MULTIPOLYGON inputs split part-by-part; a geometry that does not
    cross the wrap is returned byte-identical.  Polygons with interior
    rings that cross the wrap raise (the split handles exterior rings;
    real wrap cells are simple).

    Scale note: split cells get a bbox spanning both hemisphere edges,
    so they join against more tiles — acceptable for the handful of
    mesh cells touching the wrap (same trade the reference makes with
    its MultiPolygon split).
    """
    from collections.abc import Iterator as _Iterator

    cols = df.columns
    schema = ", ".join(
        f"`{n}` {t}" for n, t in df.dtypes
    )

    def fix(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            geoms, xmins, ymins, xmaxs, ymaxs = [], [], [], [], []
            for buf in pdf[geometry_col]:
                buf = bytes(buf)
                gtype, rings = geom.parse_wkb(buf)
                if gtype == geom.WKB_POLYGON:
                    exteriors = rings[:1]
                    holes = rings[1:]
                elif gtype == geom.WKB_MULTIPOLYGON:
                    exteriors = rings
                    holes = []
                else:
                    # point/line: nothing to split — pass through
                    geoms.append(buf)
                    xmins.append(None)
                    ymins.append(None)
                    xmaxs.append(None)
                    ymaxs.append(None)
                    continue
                parts = []
                for r in exteriors:
                    parts.extend(geom.split_antimeridian(r))
                if len(parts) == len(exteriors):
                    # no ring crossed: keep the original bytes and bbox
                    geoms.append(buf)
                    xmins.append(None)
                    ymins.append(None)
                    xmaxs.append(None)
                    ymaxs.append(None)
                    continue
                if holes:
                    raise NotImplementedError(
                        "antimeridian split of a polygon with interior "
                        "rings is not supported — split the exterior/"
                        "holes upstream (wrap grid cells are simple)"
                    )
                allp = np.vstack([np.asarray(p) for p in parts])
                geoms.append(geom.wkb_multipolygon(parts))
                xmins.append(float(allp[:, 0].min()))
                ymins.append(float(allp[:, 1].min()))
                xmaxs.append(float(allp[:, 0].max()))
                ymaxs.append(float(allp[:, 1].max()))
            pdf = pdf.copy()
            pdf[geometry_col] = pd.Series(geoms, index=pdf.index, dtype=object)
            for name, vals in (
                ("xmin", xmins), ("ymin", ymins), ("xmax", xmaxs), ("ymax", ymaxs)
            ):
                if name in cols:
                    old = pdf[name].to_numpy()
                    pdf[name] = [
                        o if v is None else v for o, v in zip(old, vals)
                    ]
            yield pdf

    return df.mapInPandas(fix, schema=schema)
