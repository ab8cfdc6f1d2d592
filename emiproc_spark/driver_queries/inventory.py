"""Inventory-algebra driver queries: grouping, scaling, speciation,
regridding, shape cropping and masks, regionization, wide/total
exports, mass-conservation gates and the VPRM biosphere model.

Every query takes ``(spark, sf_dir)`` and returns a DataFrame whose row
multiset the DuckDB oracle SQL next to it reproduces over the driver's
parquet tables.  Parity conventions: md5-derived randomness, per-row
IEEE doubles written identically on both engines, sums through the
µ-quantized integer helpers (``qhelpers``), explicit tie-break keys.

- ``speciate_country`` — the country-dependent speciation branch
  (per-cell fraction blend normalized per cell, partial-coverage
  renormalization, −99 default fallback; reference
  emiproc/speciation.py:204-260) which was unit-only until now;
- ``icon_mesh`` — triangular-mesh grid ingest + remap (reference ICON
  grid build, emiproc/grids.py:837-1013);
- ``remap_gate``: per-substance mass conservation across the regrid
  (``quality.mass_conservation_gate`` — the reference's
  ``total_emissions_almost_equal`` recast as a default-on pipeline
  gate), plus a deliberately violated variant (2× the remapped values)
  proving the gate actually detects loss/creation of mass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.fixtures import events as _events
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators import basic as ops
from emiproc_spark.operators import regrid as rg
from emiproc_spark.operators import speciation as spn
from emiproc_spark.qhelpers import QSCALE, qd, sql_qd, sql_sumd, sumd


# ======================================================================
# Inventory operators on the derived emissions table
# ======================================================================
def q_total_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    # rollup computes per-(sub,cat) and per-sub totals in one pass
    q = F.floor(F.col("value_kg_y") * F.lit(QSCALE) + F.lit(0.5)).cast("long")
    return (
        e.select("substance", "category", q.alias("v"))
        .rollup("substance", "category")
        .agg((F.sum("v").cast("double") / F.lit(QSCALE)).alias("total_kg_y"))
        .where(F.col("substance").isNotNull())
        .withColumn("category", F.coalesce(F.col("category"), F.lit("__total__")))
    )


SQL_TOTAL_EMISSIONS = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT substance, category, {sql_sumd('value_kg_y')} AS total_kg_y
    FROM e GROUP BY substance, category
    UNION ALL
    SELECT substance, '__total__' AS category, {sql_sumd('value_kg_y')} AS total_kg_y
    FROM e GROUP BY substance
"""


def q_group_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    ops.validate_group(fx.CATEGORY_GROUPS)
    # same plan as ops.group_categories (broadcast map join + hash agg)
    # with the decimal-exact sum used across the driver contract
    return (
        e.join(
            F.broadcast(
                local_rows_df(spark, 
                    [(m, g_) for g_, ms in fx.CATEGORY_GROUPS.items() for m in ms],
                    schema="category string, grp string",
                )
            ),
            "category",
        )
        .groupBy("cell_id", F.col("grp").alias("category"), "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )


SQL_GROUP_CATEGORIES = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, {fx.CATEGORY_GROUPS_SQL_CASE} AS category, substance,
           {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e GROUP BY 1, 2, 3
"""


def q_group_substances(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    mdf = local_rows_df(spark, 
        [(m, g_) for g_, ms in fx.SUBSTANCE_GROUPS.items() for m in ms],
        schema="substance string, grp string",
    )
    return (
        e.join(F.broadcast(mdf), "substance", "left")
        .withColumn("grp", F.coalesce("grp", "substance"))
        .groupBy("cell_id", "category", F.col("grp").alias("substance"))
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )


SQL_GROUP_SUBSTANCES = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, {fx.SUBSTANCE_GROUPS_SQL_CASE} AS substance,
           {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e GROUP BY 1, 2, 3
"""


def q_scale_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    factors = local_rows_df(spark, 
        fx.SCALE_FACTORS, schema="category string, substance string, factor double"
    )
    scaled = ops.scale_inventory(e, factors)
    return scaled.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_SCALE_INVENTORY = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, substance,
           {sql_sumd(f'value_kg_y * ({fx.SCALE_SQL_CASE})')} AS value_kg_y
    FROM e GROUP BY 1, 2, 3
"""


def q_drop_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    kept = ops.drop(e, categories=["R"], substances=["F"], keep_instead_of_drop=True)
    return kept.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_DROP_KEEP = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e WHERE category = 'R' AND substance = 'F'
    GROUP BY 1, 2, 3
"""


def q_add_inventories(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    doubled = ops.scale_inventory(e, 2.0)
    return (
        e.select("cell_id", "category", "substance", "value_kg_y")
        .unionByName(doubled.select("cell_id", "category", "substance", "value_kg_y"))
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )


SQL_ADD_INVENTORIES = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    u AS (
        SELECT cell_id, category, substance, value_kg_y FROM e
        UNION ALL
        SELECT cell_id, category, substance, value_kg_y * 2.0 FROM e
    )
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM u GROUP BY 1, 2, 3
"""


def q_speciate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.core.schemas import SPECIATION

    e = fx.emissions(spark, sf_dir)
    spec = local_rows_df(spark, fx.SPECIATION_ROWS, schema=SPECIATION)
    sp = spn.speciate(e, spec)
    return sp.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_SPECIATE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    sp AS ({fx.SPECIATION_SQL.format(emissions=fx.EMISSIONS_SQL)})
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM sp GROUP BY 1, 2, 3
"""


def q_speciate_nox(spark: SparkSession, sf_dir: str) -> DataFrame:
    # treat substance 'O' as NOx mass: split into NO2 (18 %) and NO
    e = fx.emissions(spark, sf_dir)
    renamed = e.withColumn(
        "substance", F.when(F.col("substance") == "O", "NOx").otherwise(F.col("substance"))
    )
    sp = spn.speciate_nox(renamed, no2_fraction=0.18)
    return sp.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


# the NO ratio must be the *same double constant* the Spark side uses —
# (1-f)*30/46 evaluated in Python — or per-row products differ in the
# last ulp (different association order)
_NO_RATIO = repr((1.0 - 0.18) * spn.MM_NO / spn.MM_NO2)
SQL_SPECIATE_NOX = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    sp AS (
        SELECT cell_id, category, 'NO2' AS substance, value_kg_y * 0.18 AS value_kg_y
        FROM e WHERE substance = 'O'
        UNION ALL
        SELECT cell_id, category, 'NO' AS substance,
               value_kg_y * {_NO_RATIO} AS value_kg_y
        FROM e WHERE substance = 'O'
        UNION ALL
        SELECT cell_id, category, substance, value_kg_y FROM e WHERE substance <> 'O'
    )
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM sp GROUP BY 1, 2, 3
"""


# ======================================================================
# Spatial operators
# ======================================================================
def q_remap_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = rg.weights_rect_rect(fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D)
    return w.select("src_id", "dst_id", "weight")


SQL_REMAP_WEIGHTS = fx.WEIGHTS_SQL


def q_remap_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    w = rg.weights_rect_rect(fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D)
    remapped = (
        e.join(F.broadcast(w), e["cell_id"] == w["src_id"], "inner")
        .groupBy(F.col("dst_id").alias("cell_id"), "category", "substance")
        .agg(sumd(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )
    return remapped


SQL_REMAP_INVENTORY = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), w AS ({fx.WEIGHTS_SQL})
    SELECT w.dst_id AS cell_id, e.category, e.substance,
           {sql_sumd('e.value_kg_y * w.weight')} AS value_kg_y
    FROM e JOIN w ON e.cell_id = w.src_id
    GROUP BY 1, 2, 3
"""


def q_crop_with_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    cw = rg.crop_weights_rect(fx.fine_grid(spark), *fx.CROP)
    cropped = rg.crop_with_shape(e, cw)
    return cropped.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


_x0, _y0, _x1, _y1 = fx.CROP
SQL_CROP_WITH_SHAPE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), g AS ({fx.FINE_GRID_SQL}),
    cw AS (
        SELECT cell_id,
               GREATEST(0.0, LEAST(xmax, {_x1}) - GREATEST(xmin, {_x0}))
             * GREATEST(0.0, LEAST(ymax, {_y1}) - GREATEST(ymin, {_y0}))
             / ((xmax - xmin) * (ymax - ymin)) AS crop_w
        FROM g
    )
    SELECT e.cell_id, category, substance,
           {sql_sumd('value_kg_y * crop_w')} AS value_kg_y
    FROM e JOIN cw ON e.cell_id = cw.cell_id
    WHERE value_kg_y * crop_w <> 0.0
    GROUP BY 1, 2, 3
"""


def q_clip_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    clipped = rg.clip_box(e, fx.fine_grid(spark), *fx.CLIP)
    return clipped.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


_cx0, _cy0, _cx1, _cy1 = fx.CLIP
SQL_CLIP_BOX = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), g AS ({fx.FINE_GRID_SQL})
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e
    WHERE cell_id IN (
        SELECT cell_id FROM g
        WHERE xmax > {_cx0} AND xmin < {_cx1} AND ymax > {_cy0} AND ymin < {_cy1}
    )
    GROUP BY 1, 2, 3
"""


def q_top_emitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cells by total emission (scripts/zh_largest_emitters.py
    analogue) — deterministic via exact sums + cell_id tie-break."""
    e = fx.emissions(spark, sf_dir)
    return (
        e.groupBy("cell_id")
        .agg(sumd("value_kg_y").alias("total_kg_y"))
        .orderBy(F.col("total_kg_y").desc(), F.col("cell_id"))
        .limit(10)
    )


SQL_TOP_EMITTERS = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, {sql_sumd('value_kg_y')} AS total_kg_y
    FROM e GROUP BY cell_id
    ORDER BY total_kg_y DESC, cell_id
    LIMIT 10
"""


# ======================================================================
# Masks, inside/outside merge, VPRM, human respiration
# ======================================================================
# Axis-aligned "country" rectangles over the 10×10 grid; quarter-aligned
# bounds keep every intersection area binary-exact, and no cell ends up
# with an accidental near-tie between regions (the 4.25 split gives
# 0.25/0.75 in the straddling column).  Cells with ymin ≥ 8 are ocean.
REGIONS = [
    ("C0", 0.0, 0.0, 4.25, 8.0),
    ("C1", 4.25, 0.0, 10.0, 8.0),
]


def _region_table(spark: SparkSession):
    from emiproc_spark.functions.geometry import wkb_box

    rows = [
        (i, name, wkb_box(x0, y0, x1, y1), x0, y0, x1, y1, (x1 - x0) * (y1 - y0))
        for i, (name, x0, y0, x1, y1) in enumerate(REGIONS)
    ]
    return local_rows_df(spark, 
        rows,
        schema=(
            "region_key long, country string, geometry binary, "
            "xmin double, ymin double, xmax double, ymax double, area double"
        ),
    )


REGION_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"('{n}', {x0}, {y0}, {x1}, {y1})" for n, x0, y0, x1, y1 in REGIONS
) + ") AS r(country, rxmin, rymin, rxmax, rymax)"


def q_country_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell country fractions via the generic polygon spatial-join
    kernel (get_country_mask fraction method) — the Spark side runs the
    real WKB clip in mapInPandas; the oracle is interval arithmetic."""
    from emiproc_spark.operators.masks import cell_region_fractions

    fr = cell_region_fractions(_region_table(spark), fx.fine_grid(spark), tile=fx.COARSE_D)
    return fr.select("cell_id", "country", qd("fraction").alias("fraction"))


SQL_COUNTRY_FRACTIONS = f"""
    WITH g AS ({fx.FINE_GRID_SQL}), r AS ({REGION_SQL})
    SELECT g.cell_id, r.country,
           {sql_qd('''GREATEST(0.0, LEAST(g.xmax, r.rxmax) - GREATEST(g.xmin, r.rxmin))
         * GREATEST(0.0, LEAST(g.ymax, r.rymax) - GREATEST(g.ymin, r.rymin))
         / ((g.xmax - g.xmin) * (g.ymax - g.ymin))''')} AS fraction
    FROM g CROSS JOIN r
    WHERE LEAST(g.xmax, r.rxmax) > GREATEST(g.xmin, r.rxmin)
      AND LEAST(g.ymax, r.rymax) > GREATEST(g.ymin, r.rymin)
"""


def q_country_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority country per cell (argmax fraction, -99 for ocean cells)."""
    from emiproc_spark.operators.masks import cell_region_fractions, majority_region

    fr = cell_region_fractions(_region_table(spark), fx.fine_grid(spark), tile=fx.COARSE_D)
    return majority_region(fr.withColumn("fraction", qd("fraction")), fx.fine_grid(spark))


SQL_COUNTRY_MAJORITY = f"""
    WITH g AS ({fx.FINE_GRID_SQL}), r AS ({REGION_SQL}),
    fr AS ({SQL_COUNTRY_FRACTIONS}),
    ranked AS (
        SELECT cell_id, country,
               ROW_NUMBER() OVER (PARTITION BY cell_id
                                  ORDER BY fraction DESC, country DESC) AS rn
        FROM fr
    )
    SELECT g.cell_id, COALESCE(ranked.country, '-99') AS country
    FROM g LEFT JOIN ranked ON g.cell_id = ranked.cell_id AND ranked.rn = 1
"""


def q_combine_inventories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inside/outside merge around the crop shape: crop(inside) +
    crop(outside inverted) — the reference's declared-but-unimplemented
    combine_inventories, realized by composition."""
    from emiproc_spark.operators.masks import combine_inventories

    e = fx.emissions(spark, sf_dir)
    inside = e
    outside = ops.scale_inventory(e, 3.0)
    cw = rg.crop_weights_rect(fx.fine_grid(spark), *fx.CROP)
    out = combine_inventories(inside, outside, cw)
    return out.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_COMBINE_INVENTORIES = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), g AS ({fx.FINE_GRID_SQL}),
    cw AS (
        SELECT cell_id,
               GREATEST(0.0, LEAST(xmax, {_x1}) - GREATEST(xmin, {_x0}))
             * GREATEST(0.0, LEAST(ymax, {_y1}) - GREATEST(ymin, {_y0}))
             / ((xmax - xmin) * (ymax - ymin)) AS crop_w
        FROM g
    ),
    u AS (
        SELECT e.cell_id, category, substance, value_kg_y * crop_w AS value_kg_y
        FROM e JOIN cw ON e.cell_id = cw.cell_id
        WHERE value_kg_y * crop_w <> 0.0
        UNION ALL
        SELECT e.cell_id, category, substance,
               (value_kg_y * 3.0) * (1.0 - crop_w) AS value_kg_y
        FROM e JOIN cw ON e.cell_id = cw.cell_id
        WHERE (value_kg_y * 3.0) * (1.0 - crop_w) <> 0.0
    )
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM u GROUP BY 1, 2, 3
"""


# VPRM constants shared with the oracle
VPRM_LAMBDA = 0.2
VPRM_PAR0 = 570.0
VPRM_ALPHA = 0.12
VPRM_BETA = 0.5


def q_vprm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPRM GEE + respiration over a met timeseries derived from events
    (temp = value/10, rad = value, EVI/LSWI closed-form from value) —
    pure column arithmetic, bit-identical per row in both engines."""
    from emiproc_spark.operators.vprm import vprm_gee, vprm_respiration

    ev = _events(spark, sf_dir)
    ts = ev.select(
        "event_id",
        (F.col("value") / 10.0).alias("temperature_c"),
        F.col("value").alias("rad_w_m2"),
        ((F.col("value") % 50.0) / 100.0).alias("evi"),
        ((F.col("value") % 30.0) / 100.0 - 0.1).alias("lswi"),
    )
    out = vprm_gee(ts, VPRM_LAMBDA, VPRM_PAR0)
    out = vprm_respiration(out, VPRM_ALPHA, VPRM_BETA)
    return out.select("event_id", qd("gee").alias("gee"), qd("respiration").alias("respiration"))


SQL_VPRM = f"""
    WITH ts AS (
        SELECT event_id,
               value / 10.0 AS t,
               value AS rad,
               (value % 50.0) / 100.0 AS evi,
               (value % 30.0) / 100.0 - 0.1 AS lswi
        FROM events
    ),
    mx AS (SELECT MAX(lswi) AS lswi_max FROM ts),
    calc AS (
        SELECT event_id,
               CASE WHEN t > 0.0 AND t < 45.0
                         AND ((t - 0.0) * (t - 45.0) - (t - 20.0) * (t - 20.0)) <> 0.0
                    THEN ((t - 0.0) * (t - 45.0))
                         / ((t - 0.0) * (t - 45.0) - (t - 20.0) * (t - 20.0))
                    ELSE 0.0 END AS tscale,
               (1.0 + lswi) / (1.0 + mx.lswi_max) AS wscale,
               (1.0 + lswi) / 2.0 AS pscale,
               evi,
               rad / {repr(0.505)} AS par,
               t
        FROM ts CROSS JOIN mx
    )
    SELECT event_id,
           {sql_qd(f'{VPRM_LAMBDA} * tscale * wscale * pscale * evi * par / (1.0 + par / {VPRM_PAR0})')} AS gee,
           {sql_qd(f'{VPRM_ALPHA} * GREATEST(t, 0.0) + {VPRM_BETA}')} AS respiration
    FROM calc
"""


RESP_FACTOR = 0.024  # kg CO2 / person / day scale


def q_people_to_emissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-respiration emissions from a population table (customers:
    n_people = c_custkey % 1000), aggregated per market segment."""
    from emiproc_spark.operators.vprm import people_to_emissions

    cust = fx.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", (F.col("c_custkey") % 1000).alias("n_people")
    )
    e = people_to_emissions(cust, RESP_FACTOR, time_ratio=0.8)
    return e.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"), sumd("value_kg_y").alias("value_kg_y")
    )


SQL_PEOPLE_TO_EMISSIONS = f"""
    SELECT c_mktsegment, COUNT(*) AS n_rows,
           {sql_sumd(f'{RESP_FACTOR} * (c_custkey % 1000) * 0.8 * 365.25')} AS value_kg_y
    FROM customer GROUP BY 1
"""


# ======================================================================
# speciate_inventory: dict-driven (cat,sub)→(cat',sub') fan-out
# (reference emiproc/speciation.py:351-436 — category may change,
# ratios need not sum to 1)
# ======================================================================
SPECIATE_INV_DICT = {
    ("A", "F"): {("A2", "F1"): 0.4, ("B2", "F2"): 0.7},
    ("R", "O"): {("R", "O3"): 1.1},
}


def q_speciate_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fx.emissions(spark, sf_dir)
    sp = spn.speciate_inventory(e, SPECIATE_INV_DICT)
    return sp.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )


SQL_SPECIATE_INVENTORY = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    sp AS (
        SELECT cell_id, 'A2' AS category, 'F1' AS substance,
               value_kg_y * 0.4 AS value_kg_y
        FROM e WHERE category = 'A' AND substance = 'F'
        UNION ALL
        SELECT cell_id, 'B2' AS category, 'F2' AS substance,
               value_kg_y * 0.7 AS value_kg_y
        FROM e WHERE category = 'A' AND substance = 'F'
        UNION ALL
        SELECT cell_id, 'R' AS category, 'O3' AS substance,
               value_kg_y * 1.1 AS value_kg_y
        FROM e WHERE category = 'R' AND substance = 'O'
        UNION ALL
        SELECT cell_id, category, substance, value_kg_y
        FROM e WHERE NOT (   (category = 'A' AND substance = 'F')
                          OR (category = 'R' AND substance = 'O'))
    )
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM sp GROUP BY 1, 2, 3
"""


# ======================================================================
# weights cache round-trip: build → parquet cache → re-read must equal
# the closed-form weights (reference get_weights_mapping .npz cache,
# regrid.py:42-101)
# ======================================================================
def q_weights_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.regrid import weights_rect_rect
    from emiproc_spark.plans.cache import cached_weights

    d = fx.scratch_dir("emiproc_wcache_")

    def build():
        return weights_rect_rect(
            fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D
        )

    # first call computes + persists, second must hit the parquet cache
    cached_weights(spark, d, "fine10", "coarse4", build)
    return cached_weights(spark, d, "fine10", "coarse4", build)


SQL_WEIGHTS_CACHE = fx.WEIGHTS_SQL


# ======================================================================
# regionize: ICON-OEM regions = distinct (timezone, profile) pairs with
# dense ids (reference emiproc/exports/icon.py:255-298)
# ======================================================================
def q_regionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.writers import regionize

    cell_tz = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"),
        F.concat(F.lit("TZ"), (F.col("id") % 4)).alias("tzid"),
    )
    idx = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"), (F.col("id") % 3).cast("int").alias("profile_id")
    )
    return regionize(cell_tz, idx)


SQL_REGIONIZE = f"""
    SELECT c AS cell_id,
           CAST((c % 4) * 3 + (c % 3) AS INT) AS region_id,
           'TZ' || CAST(c % 4 AS VARCHAR) AS tzid,
           CAST(c % 3 AS INT) AS profile_id
    FROM range({fx.N_CELLS}) t(c)
"""


# ======================================================================
# to_wide: long → (cat,sub)-pivoted wide layout (reference
# inv_to_xarray / raster export, utils/translators.py:11-49)
# ======================================================================
def q_to_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.readers import to_wide

    e = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    return to_wide(e)


def _wide_cell_sql() -> str:
    cases = []
    for cat in ("A", "N", "R"):
        for sub in ("F", "O"):
            cases.append(
                f"SUM(CASE WHEN category = '{cat}' AND substance = '{sub}' "
                f"THEN value_kg_y END) AS \"{cat}__{sub}\""
            )
    return ", ".join(cases)


SQL_TO_WIDE = f"""
    WITH e0 AS ({fx.EMISSIONS_SQL}),
    e AS (
        SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
        FROM e0 GROUP BY 1, 2, 3
    )
    SELECT cell_id, {_wide_cell_sql()}
    FROM e GROUP BY cell_id
"""


# ======================================================================
# add_totals: per-substance rollup over categories — the reference's
# NetCDF export totals (exports/rasters.py:247-306)
# ======================================================================
def q_add_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.writers import add_totals

    e2 = (
        fx.emissions(spark, sf_dir)
        .groupBy("substance", "category")
        .agg(F.floor(sumd("value_kg_y")).cast("double").alias("value_kg_y"))
    )
    return add_totals(e2)


SQL_ADD_TOTALS = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    e2 AS (
        SELECT substance, category, FLOOR({sql_sumd('value_kg_y')}) AS v
        FROM e GROUP BY 1, 2
    )
    SELECT substance, COALESCE(category, '__total__') AS category,
           CAST(SUM(v) AS DOUBLE) AS total_kg_y
    FROM e2 GROUP BY ROLLUP (substance, category)
    HAVING substance IS NOT NULL
"""


# ======================================================================
# add_constant_profile_to_missing_cells: pad the index with −1 rows
# (reference profiles/operators.py:746-797)
# ======================================================================
def q_missing_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.profiles import add_constant_profile_to_missing_cells

    idx = spark.range(fx.N_CELLS // 2).select(
        F.col("id").alias("cell_id"), (F.col("id") % 3).cast("int").alias("profile_id")
    )
    grid = fx.fine_grid(spark)
    return add_constant_profile_to_missing_cells(idx, grid)


SQL_MISSING_CELLS = f"""
    SELECT c AS cell_id,
           CASE WHEN c < {fx.N_CELLS // 2} THEN CAST(c % 3 AS INT) ELSE -1 END
               AS profile_id
    FROM range({fx.N_CELLS}) t(c)
"""


# ======================================================================
# CRS transform as a query: swisstopo WGS84→LV95 polynomial on plain
# coordinate columns (reference regrid.py:473-483 CRS reconciliation +
# functions/crs.py kernels).  mm-level quantization absorbs pow()-vs-
# repeated-multiplication ulp differences across engines.
# ======================================================================
def q_crs_lv95(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.functions.crs import LV95, WGS84, transform_columns

    pts = fx.load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (6.0 + (F.col("s_suppkey") % 50) / 12.5).alias("lon"),
        (46.0 + (F.col("s_suppkey") % 11) / 10.0).alias("lat"),
    )
    out = transform_columns(pts, WGS84, LV95, out_x="e", out_y="n")
    return out.select(
        "s_suppkey", qd("e", 1000.0).alias("e"), qd("n", 1000.0).alias("n")
    )


SQL_CRS_LV95 = f"""
    WITH p AS (
        SELECT s_suppkey,
               ((6.0 + (s_suppkey % 50) / 12.5) * 3600.0 - 26782.5) / 10000.0
                   AS lam,
               ((46.0 + (s_suppkey % 11) / 10.0) * 3600.0 - 169028.66) / 10000.0
                   AS phi
        FROM supplier
    )
    SELECT s_suppkey,
           {sql_qd('2600072.37 + 211455.93 * lam - 10938.51 * lam * phi'
                   ' - 0.36 * lam * phi * phi - 44.54 * lam * lam * lam',
                   1000.0)} AS e,
           {sql_qd('1200147.07 + 308807.95 * phi + 3745.25 * lam * lam'
                   ' + 76.63 * phi * phi - 194.56 * lam * lam * phi'
                   ' + 119.79 * phi * phi * phi', 1000.0)} AS n
    FROM p
"""


# ======================================================================
# add_gdf pattern: shaped sources appended with missing-column zero-fill
# (reference Inventory.add_gdf, inventories/__init__.py:339-367)
# ======================================================================
def q_add_shaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    gridded = fx.emissions(spark, sf_dir).withColumn(
        "source_id", F.lit(None).cast("long")
    )
    shaped = fx.load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("source_id"),
        F.lit("pts").alias("category"),
        F.lit("F").alias("substance"),
        (F.floor(F.abs(F.col("s_acctbal"))) + 1.0).alias("value_kg_y"),
    )
    combined = gridded.unionByName(shaped, allowMissingColumns=True).fillna(
        {"cell_id": -1}
    )
    return combined.groupBy("category", "substance").agg(
        sumd("value_kg_y").alias("total"),
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("cell_id") == -1, 1).otherwise(0)).alias("n_shaped"),
    )


SQL_ADD_SHAPED = f"""
    WITH g AS (
        SELECT cell_id, category, substance, value_kg_y
        FROM ({fx.EMISSIONS_SQL})
    ),
    s AS (
        SELECT -1 AS cell_id, 'pts' AS category, 'F' AS substance,
               FLOOR(ABS(s_acctbal)) + 1.0 AS value_kg_y
        FROM supplier
    ),
    u AS (SELECT * FROM g UNION ALL SELECT * FROM s)
    SELECT category, substance, {sql_sumd('value_kg_y')} AS total,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN cell_id = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shaped
    FROM u GROUP BY 1, 2
"""


# ======================================================================
# country-dependent speciation (reference emiproc/speciation.py:204-260)
# ======================================================================
# Cell-coverage design, chosen so every branch of the operator executes:
#   cell % 4 == 0 → C0 0.6 + C1 0.4  (full coverage, two-country blend)
#   cell % 4 == 1 → C0 0.5 only      (partial coverage → renormalized ×2)
#   cell % 4 == 2 → C2 1.0           (country absent from ratio table →
#                                     blend sum 0 → −99 default)
#   cell % 4 == 3 → no coverage rows (→ −99 default)
# Substance F splits into F1/F2; substance O has no entry → passthrough.
_SPEC_ROWS = [
    (None, "C0", None, None, "F", "F1", 0.7),
    (None, "C0", None, None, "F", "F2", 0.3),
    (None, "C1", None, None, "F", "F1", 0.25),
    (None, "C1", None, None, "F", "F2", 0.75),
    (None, "-99", None, None, "F", "F1", 0.45),
    (None, "-99", None, None, "F", "F2", 0.55),
]


def _cell_country(spark: SparkSession) -> DataFrame:
    rows = []
    for c in range(fx.N_CELLS):
        if c % 4 == 0:
            rows += [(c, "C0", 0.6), (c, "C1", 0.4)]
        elif c % 4 == 1:
            rows += [(c, "C0", 0.5)]
        elif c % 4 == 2:
            rows += [(c, "C2", 1.0)]
    return local_rows_df(spark, rows, "cell_id long, country string, fraction double")


def q_speciate_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.core.schemas import SPECIATION
    from emiproc_spark.operators.speciation import speciate

    # pre-aggregate to the canonical one-row-per-(cell, cat, sub)
    # inventory before speciating: the dst fan-out multiplies keys, not
    # raw scan rows (same pattern as q_temporal_expand)
    e = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    spec = local_rows_df(spark, _SPEC_ROWS, schema=SPECIATION)
    out = speciate(e, spec, cell_country=_cell_country(spark))
    return out.select("cell_id", "category", "substance", "value_kg_y")


# blend arithmetic mirrored term-by-term (two-term double addition is
# order-independent, so the Spark groupBy sum matches the literal chain)
_BLEND_F1 = (
    "CASE cell_id % 4 WHEN 0 THEN (0.6 / 1.0) * 0.7 + (0.4 / 1.0) * 0.25 "
    "WHEN 1 THEN (0.5 / 0.5) * 0.7 ELSE 0.45 END"
)
_BLEND_F2 = (
    "CASE cell_id % 4 WHEN 0 THEN (0.6 / 1.0) * 0.3 + (0.4 / 1.0) * 0.75 "
    "WHEN 1 THEN (0.5 / 0.5) * 0.3 ELSE 0.55 END"
)
SQL_SPECIATE_COUNTRY = f"""
    WITH e0 AS ({fx.EMISSIONS_SQL}),
    e AS (
        SELECT cell_id, category, substance,
               {sql_sumd('value_kg_y')} AS value_kg_y
        FROM e0 GROUP BY 1, 2, 3
    ),
    sp AS (
        SELECT cell_id, category, 'F1' AS substance,
               value_kg_y * ({_BLEND_F1}) AS value_kg_y
        FROM e WHERE substance = 'F'
        UNION ALL
        SELECT cell_id, category, 'F2' AS substance,
               value_kg_y * ({_BLEND_F2}) AS value_kg_y
        FROM e WHERE substance = 'F'
        UNION ALL
        SELECT cell_id, category, substance, value_kg_y
        FROM e WHERE substance <> 'F'
    )
    SELECT cell_id, category, substance, value_kg_y FROM sp
"""


# ======================================================================
# ICON triangular-mesh ingest + remap (reference ICONGrid,
# emiproc/grids.py:837-1013)
# ======================================================================
# Mesh: the 10×10 fixture extent tiled by 2×2 squares, each split along
# the main diagonal into a lower and an upper triangle → 50 cells, id =
# (tx*5 + ty)*2 + (0 lower | 1 upper).  Unit fine cells land exactly on
# triangle interiors (weight 1) or on the diagonal (weight 0.5 each),
# so the oracle is closed-form integer arithmetic.


def _icon_mesh_file(spark: SparkSession) -> str:
    import numpy as np

    from emiproc_spark.sources.icon_grid import make_icon_grid_file

    lon, lat = [], []
    for tx in range(5):
        for ty in range(5):
            x0, y0 = tx * 2.0, ty * 2.0
            lon.append([x0, x0 + 2, x0 + 2]); lat.append([y0, y0, y0 + 2])
            lon.append([x0, x0 + 2, x0]); lat.append([y0, y0 + 2, y0 + 2])
    import os

    path = os.path.join(fx.scratch_dir("emiproc_icon_"), "grid.nc")
    return make_icon_grid_file(path, np.array(lon), np.array(lat))


def q_icon_mesh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.grids import regular_grid
    from emiproc_spark.operators.regrid import weights_poly_poly
    from emiproc_spark.sources.icon_grid import icon_mesh_grid

    mesh = icon_mesh_grid(spark, _icon_mesh_file(spark))
    fine = regular_grid(spark, 0.0, 0.0, fx.FINE_NX, fx.FINE_NY, 1.0, 1.0)
    w = weights_poly_poly(
        fine.select(
            F.col("cell_id").alias("source_id"), "geometry",
            "xmin", "ymin", "xmax", "ymax",
        ),
        mesh,
        tile=2.0,
    )
    e = fx.emissions(spark, sf_dir)
    return (
        e.join(F.broadcast(w), e["cell_id"] == w["src_id"])
        .groupBy(F.col("dst_id").alias("cell_id"), "category", "substance")
        .agg(sumd(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )


# fine cell c: i = c // 10 (x), j = c % 10 (y); tile (i//2, j//2);
# in-tile (i%2, j%2): (1,0) → lower only, (0,1) → upper only,
# (0,0)/(1,1) → half each
SQL_ICON_MESH = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    m AS (
        SELECT cell_id, category, substance, value_kg_y,
               ((cell_id // 10) // 2) * 5 + ((cell_id % 10) // 2) AS tile,
               (cell_id // 10) % 2 AS ui, (cell_id % 10) % 2 AS uj
        FROM e
    ),
    x AS (
        SELECT tile * 2 AS mesh_cell, category, substance,
               value_kg_y * 1.0 AS value_kg_y
        FROM m WHERE ui = 1 AND uj = 0
        UNION ALL
        SELECT tile * 2 + 1, category, substance, value_kg_y * 1.0
        FROM m WHERE ui = 0 AND uj = 1
        UNION ALL
        SELECT tile * 2, category, substance, value_kg_y * 0.5
        FROM m WHERE ui = uj
        UNION ALL
        SELECT tile * 2 + 1, category, substance, value_kg_y * 0.5
        FROM m WHERE ui = uj
    )
    SELECT mesh_cell AS cell_id, category, substance,
           {sql_sumd('value_kg_y')} AS value_kg_y
    FROM x GROUP BY 1, 2, 3
"""


# ======================================================================
# totals invariant checker (reference total_emissions_almost_equal,
# emiproc/utilities.py:545-578) — distributed per-key comparison
# ======================================================================
def q_totals_equal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators import basic as ops

    e = fx.emissions(spark, sf_dir)
    factors = local_rows_df(spark, 
        [("A", "F", 1.1), ("R", "O", 1.0000001)],
        schema="category string, substance string, factor double",
    )
    scaled = ops.scale_inventory(e, factors)
    diff = ops.total_emissions_diff(
        ops.get_total_emissions(e), ops.get_total_emissions(scaled)
    )
    # totals themselves are plain double sums (fold-order wobble across
    # engines) — compare only the tolerance verdicts, whose thresholds
    # (0.1 and 1e-7 vs rtol 1e-5) sit far from any ulp boundary
    return diff.select("substance", "category", "within_tol")


_SCALE_TOT = (
    "CASE WHEN category = 'A' AND substance = 'F' THEN 1.1 "
    "WHEN category = 'R' AND substance = 'O' THEN 1.0000001 ELSE 1.0 END"
)
SQL_TOTALS_EQUAL = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    ta AS (
        SELECT substance, category, SUM(value_kg_y) AS v FROM e GROUP BY 1, 2
        UNION ALL
        SELECT substance, '__total__', SUM(value_kg_y) FROM e GROUP BY substance
    ),
    tb AS (
        SELECT substance, category, SUM(value_kg_y * ({_SCALE_TOT})) AS v
        FROM e GROUP BY 1, 2
        UNION ALL
        SELECT substance, '__total__', SUM(value_kg_y * ({_SCALE_TOT}))
        FROM e GROUP BY substance
    )
    SELECT ta.substance, ta.category,
           (ta.v = tb.v OR GREATEST(ABS(ta.v), ABS(tb.v)) = 0.0
            OR ABS(ta.v - tb.v) / GREATEST(ABS(ta.v), ABS(tb.v)) <= 1e-5)
               AS within_tol
    FROM ta JOIN tb USING (substance, category)
"""


# ======================================================================
# antimeridian_remap — dateline-straddling ICON triangle remapped from
# ±180-adjacent cells; weights are closed-form (the split halves)
# ======================================================================
def q_antimeridian_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle (179,0)-(-179,0)-(179,2) splits at ±180 into two parts;
    1° source cells on both sides overlap it with hand-derivable
    fractions (hypotenuse slope −1): east cells 1 and 0.5, west lower
    cell 0.5, west upper cell 0 (dropped)."""
    import numpy as np

    from emiproc_spark.functions.geometry import wkb_box
    from emiproc_spark.operators.regrid import weights_poly_poly
    from emiproc_spark.sources.icon_grid import icon_mesh_grid, make_icon_grid_file

    d = fx.scratch_dir("emiproc_wrap_")
    p = make_icon_grid_file(
        os.path.join(d, "wrap.nc"),
        np.array([[179.0, -179.0, 179.0]]),
        np.array([[0.0, 0.0, 2.0]]),
    )
    mesh = icon_mesh_grid(spark, p)
    cells = [
        (0, 179.0, 0.0, 180.0, 1.0),
        (1, 179.0, 1.0, 180.0, 2.0),
        (2, -180.0, 0.0, -179.0, 1.0),
        (3, -180.0, 1.0, -179.0, 2.0),
    ]
    src = local_rows_df(spark, 
        [
            (i, bytearray(wkb_box(x0, y0, x1, y1)), x0, y0, x1, y1)
            for i, x0, y0, x1, y1 in cells
        ],
        "source_id long, geometry binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    w = weights_poly_poly(src, mesh, tile=2.0)
    return (
        w.groupBy(F.col("src_id"), F.col("dst_id"))
        .agg(F.sum("weight").alias("weight"))
        .withColumn("weight", qd("weight"))
    )


SQL_ANTIMERIDIAN_REMAP = """
    SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), CAST(0 AS BIGINT), 1.0),
        (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0.5),
        (CAST(2 AS BIGINT), CAST(0 AS BIGINT), 0.5)
    ) AS t(src_id, dst_id, weight)
"""


# ======================================================================
# remap_gate — mass conservation across the regrid, audited
# ======================================================================
GATE_RTOL = 1e-6


def q_remap_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.quality import mass_conservation_gate

    e = fx.emissions(spark, sf_dir)
    w = rg.weights_rect_rect(
        fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D
    )
    remapped = (
        e.join(F.broadcast(w), e["cell_id"] == w["src_id"], "inner")
        .groupBy(F.col("dst_id").alias("cell_id"), "category", "substance")
        .agg(sumd(F.col("value_kg_y") * F.col("weight")).alias("value_kg_y"))
    )
    ok = mass_conservation_gate(
        e, remapped, rtol=GATE_RTOL, relation="remap_conserves"
    )
    # the negative control: doubling the remapped mass must trip the
    # gate in every substance group — proves the audit detects, not
    # just that the happy path happens to pass
    bad = mass_conservation_gate(
        e,
        remapped.withColumn("value_kg_y", F.col("value_kg_y") * 2),
        rtol=GATE_RTOL,
        relation="remap_x2_detected",
    )
    return ok.unionByName(bad)


def _sql_mass_gate(relation: str, after_cte: str) -> str:
    # mirrors mass_conservation_gate: µ-quantized per-substance totals,
    # relative comparison in identical per-row double arithmetic
    return f"""
    SELECT '{relation}' AS relation, COUNT(*) AS n_groups,
           CAST(COUNT(CASE WHEN ABS(COALESCE(v1, 0.0) - COALESCE(v0, 0.0))
                > {GATE_RTOL} * GREATEST(ABS(COALESCE(v0, 0.0)),
                                          ABS(COALESCE(v1, 0.0)), 1e-300)
                THEN 1 END) AS BIGINT) AS n_violations,
           COUNT(CASE WHEN ABS(COALESCE(v1, 0.0) - COALESCE(v0, 0.0))
                > {GATE_RTOL} * GREATEST(ABS(COALESCE(v0, 0.0)),
                                          ABS(COALESCE(v1, 0.0)), 1e-300)
                THEN 1 END) = 0 AS pass
    FROM t0 FULL JOIN {after_cte} USING (substance)
    """


SQL_REMAP_GATE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}), w AS ({fx.WEIGHTS_SQL}),
    remap AS (
        SELECT w.dst_id AS cell_id, e.category, e.substance,
               {sql_sumd('e.value_kg_y * w.weight')} AS value_kg_y
        FROM e JOIN w ON e.cell_id = w.src_id
        GROUP BY 1, 2, 3
    ),
    t0 AS (
        SELECT substance, {sql_sumd('value_kg_y')} AS v0
        FROM e GROUP BY substance
    ),
    t1 AS (
        SELECT substance, {sql_sumd('value_kg_y')} AS v1
        FROM remap GROUP BY substance
    ),
    t2 AS (
        SELECT substance, {sql_sumd('value_kg_y * 2')} AS v1
        FROM remap GROUP BY substance
    )
    {_sql_mass_gate('remap_conserves', 't1')}
    UNION ALL
    {_sql_mass_gate('remap_x2_detected', 't2')}
"""


QUERIES = {
    "total_emissions": (q_total_emissions, SQL_TOTAL_EMISSIONS),
    "group_categories": (q_group_categories, SQL_GROUP_CATEGORIES),
    "group_substances": (q_group_substances, SQL_GROUP_SUBSTANCES),
    "scale_inventory": (q_scale_inventory, SQL_SCALE_INVENTORY),
    "drop_keep": (q_drop_keep, SQL_DROP_KEEP),
    "add_inventories": (q_add_inventories, SQL_ADD_INVENTORIES),
    "speciate": (q_speciate, SQL_SPECIATE),
    "speciate_nox": (q_speciate_nox, SQL_SPECIATE_NOX),
    "remap_weights": (q_remap_weights, SQL_REMAP_WEIGHTS),
    "remap_inventory": (q_remap_inventory, SQL_REMAP_INVENTORY),
    "crop_with_shape": (q_crop_with_shape, SQL_CROP_WITH_SHAPE),
    "clip_box": (q_clip_box, SQL_CLIP_BOX),
    "top_emitters": (q_top_emitters, SQL_TOP_EMITTERS),
    "country_fractions": (q_country_fractions, SQL_COUNTRY_FRACTIONS),
    "country_majority": (q_country_majority, SQL_COUNTRY_MAJORITY),
    "combine_inventories": (q_combine_inventories, SQL_COMBINE_INVENTORIES),
    "vprm": (q_vprm, SQL_VPRM),
    "people_to_emissions": (q_people_to_emissions, SQL_PEOPLE_TO_EMISSIONS),
    "speciate_inventory": (q_speciate_inventory, SQL_SPECIATE_INVENTORY),
    "weights_cache": (q_weights_cache, SQL_WEIGHTS_CACHE),
    "regionize": (q_regionize, SQL_REGIONIZE),
    "to_wide": (q_to_wide, SQL_TO_WIDE),
    "add_totals": (q_add_totals, SQL_ADD_TOTALS),
    "missing_cells": (q_missing_cells, SQL_MISSING_CELLS),
    "crs_lv95": (q_crs_lv95, SQL_CRS_LV95),
    "add_shaped": (q_add_shaped, SQL_ADD_SHAPED),
    "speciate_country": (q_speciate_country, SQL_SPECIATE_COUNTRY),
    "icon_mesh": (q_icon_mesh, SQL_ICON_MESH),
    "totals_equal": (q_totals_equal, SQL_TOTALS_EQUAL),
    "antimeridian_remap": (q_antimeridian_remap, SQL_ANTIMERIDIAN_REMAP),
    "remap_gate": (q_remap_gate, SQL_REMAP_GATE),
}
