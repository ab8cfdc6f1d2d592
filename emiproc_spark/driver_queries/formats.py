"""Source and export file round-trip driver queries: each query writes a
real file in the reader's format (NetCDF-3/4, GeoPackage, GRAL,
shapefile, WRF, PNG, WAV, JSON lines, ORC, ...), reads it back
through the distributed scan and must agree with an oracle that never
leaves SQL, so codec, layout, unit identity and time semantics are all
on the hook.

Every query takes ``(spark, sf_dir)`` and returns a DataFrame whose row
multiset the DuckDB oracle SQL next to it reproduces over the driver's
parquet tables.  Parity conventions: md5-derived randomness, per-row
IEEE doubles written identically on both engines, sums through the
µ-quantized integer helpers (``qhelpers``), explicit tie-break keys.

- ``png_cycle``: the real (non-fake) image decode path — deterministic
  pixels → ``write_png`` → ``decode_image`` → pixel statistics, all
  executor-side through Arrow ``mapInPandas``; the oracle recomputes
  the statistics arithmetically, so the whole encode→decode cycle must
  be lossless for the hashes to match.
- ``gpkg_lines``: the GeoPackage line-buffer ingest path (reference
  ``process_emission_category``, inventories/utils.py:58-88 —
  ``buffer(width, cap_style=3)``): straight polylines written to a real
  .gpkg, read back through ``from_geopackage`` which buffers them to
  polygons; the square-cap rectangle area ``(L + 2w)·2w`` is closed
  form, so the oracle recomputes it arithmetically.
- ``cf_attrs``: ``nc_cf_attributes`` standalone read-back (reference
  exports/netcdf.py:6-69): CF global attributes written through
  ``export_raster_netcdf`` and read back from the file; timestamped
  fields are checked as presence markers, deterministic fields by
  value.
- ``orc_partitioned``: the documents table persisted as
  hive-partitioned ORC and read back through partition pruning —
  sink/source breadth beyond parquet, pruning pinned in
  tests/test_plan_shapes.py.
- ``jsonl_roundtrip``: documents → JSON-lines files (executor-side,
  one file per partition) → schema-explicit read-back (no inference
  scan) — proves the JSON sink/source path is lossless for text.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.qhelpers import qd, sql_qd, sql_sumd, sumd
from emiproc_spark.sources.readers import SECONDS_PER_YEAR


# ======================================================================
# netcdf_ingest: export→re-ingest round-trip vs pure-SQL oracle
# ======================================================================
def _raster_grid(spark: SparkSession) -> DataFrame:
    """10×10 lon-major degree grid matching fixture cell ids
    (cell_id = lon_i * nlat + lat_i)."""
    return local_rows_df(spark, 
        [
            (lon_i * fx.FINE_NY + lat_i, float(lon_i), float(lat_i), 1.0)
            for lon_i in range(fx.FINE_NX)
            for lat_i in range(fx.FINE_NY)
        ],
        "cell_id long, lon double, lat double, area_m2 double",
    )


def q_netcdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.netcdf import export_raster_netcdf
    from emiproc_spark.sources.netcdf import from_netcdf_rasters

    # pre-aggregate with exact quantized sums so the values entering the
    # file are engine-independent; everything after is per-row exact
    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    out = os.path.join(fx.scratch_dir("emiproc_nc_"), "inv.nc")
    export_raster_netcdf(agg, _raster_grid(spark), out, add_totals=False)
    return from_netcdf_rasters(spark, out)


SQL_NETCDF_INGEST = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
    FROM e GROUP BY 1, 2, 3
"""


# ======================================================================
# TNO-layout ingest: area scatter-add + point pass-through + substance
# merge, through a real NetCDF-3 file (reference tno.py:146-256)
# ======================================================================
def _tno_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic TNO-layout file derived from lineitem + supplier.

    Values are floored to integer-valued doubles before writing so every
    downstream sum is order-independent-exact in both engines.
    """
    import pandas as pd

    from emiproc_spark.sources.tno import write_tno_netcdf

    li = fx.load(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_partkey") % fx.N_CELLS).alias("cell_id"),
        F.col("l_returnflag").alias("category"),
        (F.col("l_orderkey") % 2).alias("bucket"),
        F.col("l_linestatus").alias("sub"),
        F.col("l_extendedprice").alias("val"),
    )
    srcs = (
        base.groupBy("cell_id", "category", "bucket")
        .agg(
            F.floor(sumd(F.when(F.col("sub") == "F", F.col("val")).otherwise(0.0)))
            .cast("double")
            .alias("F"),
            F.floor(sumd(F.when(F.col("sub") == "O", F.col("val")).otherwise(0.0)))
            .cast("double")
            .alias("O"),
        )
        .toPandas()
        .sort_values(["cell_id", "category", "bucket"])
        .reset_index(drop=True)
    )
    area = pd.DataFrame(
        {
            "source_type": "a",
            "lon_index": srcs["cell_id"] // fx.FINE_NY + 1,
            "lat_index": srcs["cell_id"] % fx.FINE_NY + 1,
            "lon": 0.0,
            "lat": 0.0,
            "category": srcs["category"],
            "F": srcs["F"],
            "O": srcs["O"],
        }
    )
    sup = (
        fx.load(spark, sf_dir, "supplier")
        .select(
            (F.col("s_suppkey") % 360).cast("double").alias("lon360"),
            (F.col("s_suppkey") % 180).cast("double").alias("lat180"),
            F.concat(F.lit("P"), (F.col("s_suppkey") % 2).cast("string")).alias(
                "category"
            ),
            (F.floor(F.abs(F.col("s_acctbal"))) + 1).cast("double").alias("F"),
            (F.floor(F.abs(F.col("s_acctbal")) * 2) + 1).cast("double").alias("O"),
            F.col("s_suppkey").alias("k"),
        )
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    points = pd.DataFrame(
        {
            "source_type": "p",
            "lon_index": 1,
            "lat_index": 1,
            "lon": sup["lon360"] - 180.0,
            "lat": sup["lat180"] - 90.0,
            "category": sup["category"],
            "F": sup["F"],
            "O": sup["O"],
        }
    )
    out = os.path.join(fx.scratch_dir("emiproc_tno_"), "tno.nc")
    write_tno_netcdf(
        out, pd.concat([area, points], ignore_index=True), fx.FINE_NX, fx.FINE_NY,
        ["F", "O"],
    )
    return out


TNO_MAPPING = {"F": "ALL", "O": "ALL"}


def q_tno_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.tno import tno_area_emissions

    path = _tno_fixture(spark, sf_dir)
    return tno_area_emissions(spark, path, substances_mapping=TNO_MAPPING)


SQL_TNO_INGEST = f"""
    WITH base AS (
        SELECT l_partkey % {fx.N_CELLS} AS cell_id,
               l_returnflag AS category,
               l_orderkey % 2 AS bucket,
               l_linestatus AS sub,
               l_extendedprice AS val
        FROM lineitem
    ),
    srcs AS (
        SELECT cell_id, category, bucket,
               FLOOR({sql_sumd("CASE WHEN sub = 'F' THEN val ELSE 0.0 END")}) AS f,
               FLOOR({sql_sumd("CASE WHEN sub = 'O' THEN val ELSE 0.0 END")}) AS o
        FROM base GROUP BY 1, 2, 3
    )
    SELECT cell_id, category, 'ALL' AS substance,
           CAST(SUM(f + o) AS DOUBLE) AS value_kg_y
    FROM srcs GROUP BY 1, 2
"""


def q_tno_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.tno import tno_point_sources

    path = _tno_fixture(spark, sf_dir)
    pts = tno_point_sources(spark, path, substances_mapping=TNO_MAPPING)
    # project away the file-order source_id; re-group on coordinates
    return pts.groupBy("lon", "lat", "category", "substance").agg(
        F.sum("value_kg_y").alias("value_kg_y")
    )


SQL_TNO_POINTS = """
    WITH s AS (
        SELECT CAST(s_suppkey % 360 AS DOUBLE) - 180.0 AS lon,
               CAST(s_suppkey % 180 AS DOUBLE) - 90.0 AS lat,
               'P' || CAST(s_suppkey % 2 AS VARCHAR) AS category,
               FLOOR(ABS(s_acctbal)) + 1 AS f,
               FLOOR(ABS(s_acctbal) * 2) + 1 AS o
        FROM supplier
    )
    SELECT lon, lat, category, 'ALL' AS substance,
           CAST(SUM(f + o) AS DOUBLE) AS value_kg_y
    FROM s GROUP BY 1, 2, 3
"""


# ======================================================================
# Format-specific readers (round 2): EDGAR v8 / CAMS-REG-AQ / GFAS /
# Saunois ingest through real NetCDF-3 files vs pure-SQL oracles
# ======================================================================
def _catsub_raster(spark: SparkSession, sf_dir: str, category: str) -> "np.ndarray":
    """Integer-valued 10×10 (lat, lon) raster: FLOOR(µ-sum of emissions)
    per cell for one category — engine-independent by construction."""
    import numpy as np

    pdf = (
        fx.emissions(spark, sf_dir)
        .where(F.col("category") == category)
        .groupBy("cell_id")
        .agg(F.floor(sumd("value_kg_y")).cast("double").alias("v"))
        .toPandas()
    )
    arr = np.zeros((fx.FINE_NY, fx.FINE_NX))
    lat_i = (pdf["cell_id"] % fx.FINE_NY).to_numpy()
    lon_i = (pdf["cell_id"] // fx.FINE_NY).to_numpy()
    arr[lat_i, lon_i] = pdf["v"].to_numpy()
    return arr


def _coord_ds():
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable

    ds = NCDataset()
    ds.dims = {"lat": fx.FINE_NY, "lon": fx.FINE_NX}
    ds.variables["lon"] = NCVariable(
        "lon", ("lon",), np.arange(fx.FINE_NX) + 0.5
    )
    ds.variables["lat"] = NCVariable(
        "lat", ("lat",), np.arange(fx.FINE_NY) + 0.5
    )
    return ds


def q_edgar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGAR v8 layout: one file per (category, substance) with Tonnes
    units and substance/long_name/year attrs; a wrong-year decoy file
    must be skipped (reference edgarv8.py:190-235)."""
    from emiproc_spark.functions.netcdf3 import NCVariable, write_netcdf
    from emiproc_spark.sources.formats import edgar_v8

    d = fx.scratch_dir("emiproc_edgar_")
    for cat in ("A", "N", "R"):
        arr = _catsub_raster(spark, sf_dir, cat)
        for year, scale in ((2022, 1.0), (2021, 3.0)):
            ds = _coord_ds()
            ds.variables["emissions"] = NCVariable(
                "emissions", ("lat", "lon"), arr * scale,
                {
                    "units": "Tonnes", "substance": "CO2",
                    "long_name": cat, "year": year,
                },
            )
            write_netcdf(
                os.path.join(d, f"v8.0_FT2022_GHG_CO2_{year}_{cat}_emi.nc"), ds
            )
    return edgar_v8(spark, d, year=2022)


SQL_EDGAR_INGEST = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT cell_id, category, 'CO2' AS substance,
           FLOOR({sql_sumd('value_kg_y')}) * 1000.0 AS value_kg_y
    FROM e GROUP BY cell_id, category
"""


def q_cams_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAMS-REG-AQ layout: substance from the file name, one variable
    per category, Tg units (reference cams_reg_aq.py:70-150)."""
    from emiproc_spark.functions.netcdf3 import NCVariable, write_netcdf
    from emiproc_spark.sources.formats import cams_reg_aq

    d = fx.scratch_dir("emiproc_cams_")
    ds = _coord_ds()
    for var, cat in (("A_PublicPower", "A"), ("F_RoadTransport", "R")):
        arr = _catsub_raster(spark, sf_dir, cat) % 1_000_000
        ds.variables[var] = NCVariable(var, ("lat", "lon"), arr, {"units": "Tg"})
    write_netcdf(
        os.path.join(
            d, "CAMS-REG-ANT_EUR_0.05x0.1_anthro_nox_v6.1-Ref2_yearly_2022.nc"
        ),
        ds,
    )
    return cams_reg_aq(
        spark, d, year=2022,
        categories_mapping={"A_PublicPower": "A", "F_RoadTransport": "F"},
    )


SQL_CAMS_INGEST = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    g AS (
        SELECT cell_id, category,
               FLOOR({sql_sumd('value_kg_y')}) % 1000000 AS tg
        FROM e WHERE category IN ('A', 'R') GROUP BY cell_id, category
    )
    SELECT cell_id, CASE WHEN category = 'A' THEN 'A' ELSE 'F' END AS category,
           'NOx' AS substance, tg * 1e9 AS value_kg_y
    FROM g WHERE tg <> 0
"""


GFAS_NLA, GFAS_NLO, GFAS_NDAYS = 5, 4, 365
GFAS_LAT0 = 40.5


def q_gfas_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GFAS layout: daily kg m-2 s-1 fire fluxes over one full year;
    inventory = time-mean × year-seconds × spherical cell area
    (reference gfas.py:58-118).  Integer-kg quantization collapses
    sum-fold and libm-sin ulp differences."""
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import gfas_emissions

    d = fx.scratch_dir("emiproc_gfas_")
    t = np.arange(GFAS_NDAYS)[:, None, None]
    la = np.arange(GFAS_NLA)[None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, :]
    cell = lo * GFAS_NLA + la
    arr = ((t * 7 + cell * 13) % 50 + 1) * 1e-9
    ds = NCDataset()
    ds.dims = {"valid_time": GFAS_NDAYS, "latitude": GFAS_NLA, "longitude": GFAS_NLO}
    ds.variables["valid_time"] = NCVariable(
        "valid_time", ("valid_time",), np.arange(GFAS_NDAYS, dtype=np.int32)
    )
    ds.variables["latitude"] = NCVariable(
        "latitude", ("latitude",), np.arange(GFAS_NLA) + GFAS_LAT0
    )
    ds.variables["longitude"] = NCVariable(
        "longitude", ("longitude",), np.arange(GFAS_NLO) + 0.5
    )
    ds.variables["fireco2"] = NCVariable(
        "fireco2", ("valid_time", "latitude", "longitude"),
        np.broadcast_to(arr, (GFAS_NDAYS, GFAS_NLA, GFAS_NLO)),
        {"units": "kg m-2 s-1"},
    )
    write_netcdf(os.path.join(d, "gfas.nc"), ds)
    out = gfas_emissions(spark, d, year=2023)
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") + 0.5).cast("double").alias("value_kg_y"),
    )


SQL_GFAS_INGEST = f"""
    WITH cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    daily AS (
        SELECT c.cell_id, c.la,
               ((d.d * 7 + c.cell_id * 13) % 50 + 1) * 1e-9 AS v
        FROM cells c CROSS JOIN range({GFAS_NDAYS}) d(d)
    ),
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
    SELECT d.cell_id, 'gfas' AS category, 'CO2' AS substance,
           FLOOR(AVG(d.v * {SECONDS_PER_YEAR} * a.area) + 0.5) AS value_kg_y
    FROM daily d JOIN areas a USING (la)
    GROUP BY d.cell_id
"""


def q_saunois_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saunois layout: per-category file, monthly g CH4 m-2 d-1 fluxes
    with a singleton lev dim; annual total weights each month by its
    day count (reference saunois.py:70-90)."""
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import saunois_emissions

    d = fx.scratch_dir("emiproc_saunois_")
    m = np.arange(12)[:, None, None]
    la = np.arange(GFAS_NLA)[None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, :]
    cell = lo * GFAS_NLA + la
    arr = ((m * 5 + cell * 11) % 30 + 1).astype(np.float64)
    ds = NCDataset()
    ds.dims = {"time": 12, "lev": 1, "lat": GFAS_NLA, "lon": GFAS_NLO}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(12, dtype=np.int32))
    ds.variables["lat"] = NCVariable("lat", ("lat",), np.arange(GFAS_NLA) + GFAS_LAT0)
    ds.variables["lon"] = NCVariable("lon", ("lon",), np.arange(GFAS_NLO) + 0.5)
    ds.variables["flux"] = NCVariable(
        "flux", ("time", "lev", "lat", "lon"),
        np.broadcast_to(arr, (12, GFAS_NLA, GFAS_NLO))[:, np.newaxis, :, :],
        {"units": "g CH4 m-2 d-1"},
    )
    write_netcdf(os.path.join(d, "wetland.nc"), ds)
    out = saunois_emissions(spark, d)
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") + 0.5).cast("double").alias("value_kg_y"),
    )


SQL_SAUNOIS_INGEST = f"""
    WITH days(mo, nd) AS (VALUES (0, 31), (1, 28), (2, 31), (3, 30), (4, 31),
                                 (5, 30), (6, 31), (7, 31), (8, 30), (9, 31),
                                 (10, 30), (11, 31)),
    cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    monthly AS (
        SELECT c.cell_id, c.la,
               CAST(SUM(((days.mo * 5 + c.cell_id * 11) % 30 + 1) * days.nd)
                    AS DOUBLE) AS gsum
        FROM cells c CROSS JOIN days
        GROUP BY c.cell_id, c.la
    ),
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
    SELECT m.cell_id, 'wetland' AS category, 'CH4' AS substance,
           FLOOR((m.gsum * 1e-3) * a.area + 0.5) AS value_kg_y
    FROM monthly m JOIN areas a USING (la)
"""


# ======================================================================
# GeoPackage round-trip: export via sqlite3 → distributed layer read →
# MapLuft-style unpivot (reference exports/geopackage.py:9-55,
# inventories/zurich/__init__.py:10-118)
# ======================================================================
def q_gpkg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from emiproc_spark.functions.geometry import wkb_point
    from emiproc_spark.sources.geopackage import export_to_geopackage, from_geopackage

    nat = (
        fx.load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .toPandas()
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(
        {
            "geometry": [
                wkb_point(float(k), float(r))
                for k, r in zip(nat["n_nationkey"], nat["n_regionkey"])
            ],
            "Emission_CO2": nat["n_nationkey"] * 2.5,
            "Emission_Benzol": nat["n_regionkey"] + 0.5,
        }
    )
    layer = spark.createDataFrame(pdf).coalesce(1).sortWithinPartitions(
        F.col("Emission_CO2")
    )
    path = os.path.join(fx.scratch_dir("emiproc_gpkg_"), "inv.gpkg")
    export_to_geopackage({"zurich_cat": layer}, path)
    out = from_geopackage(spark, path)
    return out.select(
        "category",
        "source_id",
        "substance",
        "value_kg_y",
        F.length("geometry").alias("wkb_len"),
    )


SQL_GPKG_ROUNDTRIP = """
    SELECT 'zurich_cat' AS category, n_nationkey + 1 AS source_id,
           'CO2' AS substance, n_nationkey * 2.5 AS value_kg_y, 21 AS wkb_len
    FROM nation
    UNION ALL
    SELECT 'zurich_cat', n_nationkey + 1, 'benzene',
           n_regionkey + 0.5, 21
    FROM nation
"""


# ======================================================================
# GRAL round-trip: shaped points → point.dat (kg/h) → re-ingest (kg/y)
# (reference exports/gral.py:197-224, inventories/gral.py:164-199)
# ======================================================================
def q_gral_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from emiproc_spark.exports.gral import HOUR_PER_YR, write_gral_emissions
    from emiproc_spark.functions.geometry import wkb_point
    from emiproc_spark.sources.gral import gral_inventory

    nat = (
        fx.load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .toPandas()
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    pdf = pd.DataFrame(
        {
            "category": "traffic",
            "geometry": [
                wkb_point(float(k), float(r))
                for k, r in zip(nat["n_nationkey"], nat["n_regionkey"])
            ],
            "substance": "NOx",
            # integer multiples of HOUR_PER_YR survive the kg/h text
            # round-trip bit-exactly
            "value_kg_y": (nat["n_nationkey"] + 1) * HOUR_PER_YR,
        }
    )
    d = os.path.join(fx.scratch_dir("emiproc_gral_"), "emissions")
    write_gral_emissions(
        d, spark.createDataFrame(pdf),
        emission_infos={"traffic": {"height": 4.0}},
        source_groups={("NOx", "traffic"): 0},
    )
    out = gral_inventory(spark, d)
    return out.select("category", "substance", "value_kg_y", "height")


SQL_GRAL_ROUNDTRIP = """
    SELECT 'traffic' AS category, 'NOx' AS substance,
           (n_nationkey + 1) * (365.25 * 24) AS value_kg_y, 4.0 AS height
    FROM nation
"""


# ======================================================================
# Swiss ASCII-raster ingest: x-major south-up layout × per-year totals
# (reference inventories/swiss.py:283-300)
# ======================================================================
def q_swiss_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.swiss import swiss_rasters

    per_cell = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id")
        .agg((F.floor(sumd("value_kg_y")) % 97).cast("double").alias("rv"))
        .toPandas()
        .set_index("cell_id")["rv"]
    )
    lines = [
        f"ncols {fx.FINE_NX}", f"nrows {fx.FINE_NY}", "xllcorner 0",
        "yllcorner 0", "cellsize 1", "NODATA_value -9999",
    ]
    for r in range(fx.FINE_NY):  # top row first: y = nrows-1-r
        y = fx.FINE_NY - 1 - r
        lines.append(
            " ".join(
                str(per_cell.get(x * fx.FINE_NY + y, 0.0))
                for x in range(fx.FINE_NX)
            )
        )
    d = fx.scratch_dir("emiproc_swiss_")
    with open(os.path.join(d, "eipro.asc"), "w") as f:
        f.write("\n".join(lines) + "\n")
    totals = (
        fx.emissions(spark, sf_dir)
        .where(F.col("category") == "A")
        .agg(F.floor(sumd("value_kg_y")).cast("double").alias("total"))
        .select(
            F.lit("eipro").alias("category"), F.lit("CO2").alias("substance"), "total"
        )
    )
    return swiss_rasters(spark, d, totals)


SQL_SWISS_INGEST = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    per_cell AS (
        SELECT cell_id, FLOOR({sql_sumd('value_kg_y')}) % 97 AS rv
        FROM e GROUP BY cell_id
    ),
    tot AS (
        SELECT FLOOR({sql_sumd('value_kg_y')}) AS t FROM e WHERE category = 'A'
    )
    SELECT p.cell_id, 'eipro' AS category, 'CO2' AS substance,
           p.rv * tot.t AS value_kg_y
    FROM per_cell p, tot WHERE p.rv <> 0
"""


# ======================================================================
# Swiss PRTR Excel ingest: stdlib XLSX decode + mapping/unit semantics
# (reference read_prtr, inventories/swiss.py:423-541)
# ======================================================================
def q_prtr_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.functions.xlsx import write_xlsx
    from emiproc_spark.sources.swiss import read_prtr

    nat = sorted(
        fx.load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey").collect(),
        key=lambda r: r["n_nationkey"],
    )
    header = [
        "Year", "Source type", "North coordinate (CH1903+)",
        "East coordinate (CH1903+)", "Facility", "Value", "Unit",
        "Pollutant_name", "Installation_main activity",
    ]
    rows = [["j0"], ["j1"], header, ["j3"]]
    for r in nat:
        k = r["n_nationkey"]
        rows.append(
            [2020, "Punktquelle", 1200000.0 + k, 2600000.0 + k, f"plant{k}",
             float(k) + 0.5, "t/a", "Kohlendioxid (CO2)", "1.c"]
        )
        rows.append(
            [2020, "Punktquelle", 1200000.0 + k, 2600000.0 + k, f"plant{k}",
             float(r["n_regionkey"]) * 10.0 + 1.0, "kg/a",
             "Stickstoffoxide (NOx/NO2)", "5.b"]
        )
        # decoys the reader must drop: wrong year + diffuse source
        rows.append(
            [2019, "Punktquelle", 1.0, 2.0, "old", 9.0, "t/a",
             "Kohlendioxid (CO2)", "1.c"]
        )
        rows.append(
            [2020, "Diffus", 1.0, 2.0, "diff", 9.0, "t/a",
             "Kohlendioxid (CO2)", "1.c"]
        )
    path = os.path.join(fx.scratch_dir("emiproc_prtr_"), "prtr.xlsx")
    write_xlsx(path, rows)
    return read_prtr(spark, path, year=2020)


SQL_PRTR_INGEST = """
    SELECT 'eipro' AS category, 'CO2' AS substance,
           2600000.0 + n_nationkey AS x, 1200000.0 + n_nationkey AS y,
           (CAST(n_nationkey AS DOUBLE) + 0.5) * 1000.0 AS value_kg_y
    FROM nation
    UNION ALL
    SELECT 'eipkv', 'NOx', 2600000.0 + n_nationkey, 1200000.0 + n_nationkey,
           CAST(n_regionkey AS DOUBLE) * 10.0 + 1.0
    FROM nation
"""


# ======================================================================
# EDGAR legacy: 0/360 lon wrap re-sort + flux × area × seconds
# (reference EDGAR_Inventory, edgarv8.py:239-327)
# ======================================================================
def q_edgar_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import edgar_legacy

    d = fx.scratch_dir("emiproc_edl_")
    # lons 0,90,180,270 → shifted sort order [180, 270, 0, 90]
    lon360 = np.array([0.0, 90.0, 180.0, 270.0])
    la = np.arange(GFAS_NLA)[:, None]
    lo = np.arange(4)[None, :]
    flux = (((la * 4 + lo) * 13) % 50 + 1) * 1e-9
    ds = NCDataset()
    ds.dims = {"lat": GFAS_NLA, "lon": 4}
    ds.variables["lat"] = NCVariable("lat", ("lat",), np.arange(GFAS_NLA) + GFAS_LAT0)
    ds.variables["lon"] = NCVariable("lon", ("lon",), lon360)
    ds.variables["emi_sf6"] = NCVariable(
        "emi_sf6", ("lat", "lon"),
        np.broadcast_to(flux, (GFAS_NLA, 4)), {"units": "kg m-2 s-1"},
    )
    write_netcdf(os.path.join(d, "v7.0_FT2021_SF6_2021_NFE.0.1x0.1.nc"), ds)
    out = edgar_legacy(spark, d, substance="SF6")
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") + 0.5).cast("double").alias("value_kg_y"),
    )


SQL_EDGAR_LEGACY = f"""
    WITH cells AS (
        -- shifted lon order [180, 270, 0, 90] = original cols [2, 3, 0, 1]
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la,
               CASE lo.lo WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2 THEN 0 ELSE 1 END
                   AS orig_col
        FROM range(4) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(90.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
    SELECT c.cell_id, 'NFE' AS category, 'SF6' AS substance,
           FLOOR(((c.la * 4 + c.orig_col) * 13 % 50 + 1) * 1e-9
                 * (365.25 * 24 * 3600) * a.area + 0.5) AS value_kg_y
    FROM cells c JOIN areas a USING (la)
"""


# ======================================================================
# WetCHARTs: model-ensemble mean over 12 monthly mg/m2/d steps
# (reference wetcharts.py:35-110)
# ======================================================================
def q_wetcharts_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import wetcharts

    d = fx.scratch_dir("emiproc_wc_")
    m = np.arange(12)[:, None, None, None]
    mod = np.arange(3)[None, :, None, None]
    la = np.arange(GFAS_NLA)[None, None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, None, :]
    cell = lo * GFAS_NLA + la
    arr = ((m * 5 + mod * 3 + cell * 11) % 40 + 1).astype(np.float64)
    ds = NCDataset()
    ds.dims = {"time": 12, "model": 3, "lat": GFAS_NLA, "lon": GFAS_NLO}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(12, dtype=np.int32))
    ds.variables["model"] = NCVariable(
        "model", ("model",), np.array([29, 33, 41], dtype=np.int32)
    )
    ds.variables["lat"] = NCVariable("lat", ("lat",), np.arange(GFAS_NLA) + GFAS_LAT0)
    ds.variables["lon"] = NCVariable("lon", ("lon",), np.arange(GFAS_NLO) + 0.5)
    ds.variables["wetland_CH4_emissions"] = NCVariable(
        "wetland_CH4_emissions", ("time", "model", "lat", "lon"),
        np.broadcast_to(arr, (12, 3, GFAS_NLA, GFAS_NLO)),
        {"units": "mg m-2 d-1"},
    )
    write_netcdf(os.path.join(d, "wetcharts.nc"), ds)
    out = wetcharts(spark, d)
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") * 1e3 + 0.5).cast("double").alias("value_g_y"),
    )


SQL_WETCHARTS_INGEST = f"""
    WITH cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    vals AS (
        SELECT c.cell_id, c.la,
               AVG((m.m * 5 + mod.mod * 3 + c.cell_id * 11) % 40 + 1) AS mean_mg
        FROM cells c CROSS JOIN range(12) m(m) CROSS JOIN range(3) mod(mod)
        GROUP BY c.cell_id, c.la
    ),
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
    SELECT v.cell_id, 'wetcharts' AS category, 'CH4' AS substance,
           FLOOR(v.mean_mg * a.area * 1e-6 * 365.25 * 1e3 + 0.5) AS value_g_y
    FROM vals v JOIN areas a USING (la)
"""


# ======================================================================
# GFED5: daily NetCDF sum × 1e-3 × area (reference gfed.py:308-372)
# ======================================================================
def q_gfed5_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.gfed import gfed5_emissions

    d = fx.scratch_dir("emiproc_g5_")
    t = np.arange(31)[:, None, None]
    la = np.arange(GFAS_NLA)[None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, :]
    cell = lo * GFAS_NLA + la
    arr = ((t * 7 + cell * 3) % 20 + 1).astype(np.float64)
    ds = NCDataset()
    ds.dims = {"time": 31, "lat": GFAS_NLA, "lon": GFAS_NLO}
    ds.variables["time"] = NCVariable("time", ("time",), np.arange(31, dtype=np.int32))
    ds.variables["lat"] = NCVariable("lat", ("lat",), np.arange(GFAS_NLA) + GFAS_LAT0)
    ds.variables["lon"] = NCVariable("lon", ("lon",), np.arange(GFAS_NLO) + 0.5)
    ds.variables["CH4"] = NCVariable(
        "CH4", ("time", "lat", "lon"),
        np.broadcast_to(arr, (31, GFAS_NLA, GFAS_NLO)),
    )
    write_netcdf(os.path.join(d, "GFED5_Beta_daily_202001.nc"), ds)
    out = gfed5_emissions(spark, d, substances=["CH4"])
    return out.select(
        "cell_id", "category", "substance",
        F.floor(F.col("value_kg_y") + 0.5).cast("double").alias("value_kg_y"),
    )


SQL_GFED5_INGEST = f"""
    WITH cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    vals AS (
        SELECT c.cell_id, c.la,
               CAST(SUM((t.t * 7 + c.cell_id * 3) % 20 + 1) AS DOUBLE) AS total
        FROM cells c CROSS JOIN range(31) t(t)
        GROUP BY c.cell_id, c.la
    ),
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
    SELECT v.cell_id, 'gfed' AS category, 'CH4' AS substance,
           FLOOR((v.total * 1e-3) * a.area + 0.5) AS value_kg_y
    FROM vals v JOIN areas a USING (la)
"""


# ======================================================================
# WRF mole-flux conversion: kg/h → mole/km²/h (reference wrf.py:170-180)
# ======================================================================
def q_wrf_flux(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.wrf import to_mole_flux

    e = (
        fx.emissions(spark, sf_dir)
        .where(F.col("substance") == "F")
        .groupBy("cell_id", "category")
        .agg(F.floor(sumd("value_kg_y")).cast("double").alias("value_kg_h"))
        .select(
            "cell_id", "category", F.lit("CO2").alias("substance"),
            F.lit(0).alias("hour_index"), "value_kg_h",
        )
    )
    grid = fx.fine_grid(spark).select(
        "cell_id",
        ((F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin")) * 1e6)
        .alias("area_m2"),
    )
    out = to_mole_flux(e, grid, molar_masses={"CO2": 44.009})
    return out.select(
        "cell_id", "category", "substance", "hour_index",
        qd("value_mole_km2_h", 1e6).alias("mole_flux"),
    )


SQL_WRF_FLUX = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    agg AS (
        SELECT cell_id, category, FLOOR({sql_sumd('value_kg_y')}) AS v
        FROM e WHERE substance = 'F' GROUP BY 1, 2
    )
    SELECT cell_id, category, 'CO2' AS substance, 0 AS hour_index,
           {sql_qd('v / (44.009 * 1e-3) / ((1e6) * 1e-6)', 1e6)} AS mole_flux
    FROM agg
"""


# ======================================================================
# LPJ-GUESS ingest: {substance}_{category} variable naming,
# mg CH4 m-2 d-1 summed over daily steps x 1e-6 x spherical area
# (reference lpjguess.py:23-110).  Integer mg values make the daily sum
# exact in both engines; one multiply chain after that.
# ======================================================================
LPJ_NDAYS = 10


def q_lpj_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
    from emiproc_spark.sources.formats import lpj_guess

    d = fx.scratch_dir("emiproc_lpj_")
    t = np.arange(LPJ_NDAYS)[:, None, None]
    la = np.arange(GFAS_NLA)[None, :, None]
    lo = np.arange(GFAS_NLO)[None, None, :]
    cell = lo * GFAS_NLA + la
    ds = NCDataset()
    ds.dims = {"time": LPJ_NDAYS, "latitude": GFAS_NLA, "longitude": GFAS_NLO}
    ds.variables["time"] = NCVariable(
        "time", ("time",), np.arange(LPJ_NDAYS, dtype=np.int32)
    )
    ds.variables["latitude"] = NCVariable(
        "latitude", ("latitude",), np.arange(GFAS_NLA) + GFAS_LAT0
    )
    ds.variables["longitude"] = NCVariable(
        "longitude", ("longitude",), np.arange(GFAS_NLO) + 0.5
    )
    for k, name in enumerate(["CH4_wetlands", "CH4_peatlands_total"]):
        arr = ((t * 3 + cell * 7 + k) % 30 + 1).astype(np.float64)
        ds.variables[name] = NCVariable(
            name,
            ("time", "latitude", "longitude"),
            arr,
            {"units": "mg CH4 m-2 d-1"},
        )
    write_netcdf(os.path.join(d, "lpj.nc"), ds)
    out = lpj_guess(spark, d)
    return out.select(
        "cell_id",
        "category",
        "substance",
        F.floor(F.col("value_kg_y") + F.lit(0.5)).cast("double").alias("value_kg_y"),
    )


SQL_LPJ_INGEST = f"""
    WITH cells AS (
        SELECT lo.lo * {GFAS_NLA} + la.la AS cell_id, la.la AS la
        FROM range({GFAS_NLO}) lo(lo) CROSS JOIN range({GFAS_NLA}) la(la)
    ),
    sums AS (
        SELECT c.cell_id, c.la, v.k,
               CAST(SUM((d.d * 3 + c.cell_id * 7 + v.k) % 30 + 1) AS DOUBLE) AS s
        FROM cells c
        CROSS JOIN range({LPJ_NDAYS}) d(d)
        CROSS JOIN range(2) v(k)
        GROUP BY 1, 2, 3
    ),
    areas AS (
        SELECT la,
               6371000.0 * 6371000.0 * RADIANS(1.0)
               * ABS(SIN(RADIANS({GFAS_LAT0} + la + 0.5))
                     - SIN(RADIANS({GFAS_LAT0} + la - 0.5))) AS area
        FROM range({GFAS_NLA}) t(la)
    )
    SELECT s.cell_id,
           CASE WHEN s.k = 0 THEN 'wetlands' ELSE 'peatlands_total' END AS category,
           'CH4' AS substance,
           FLOOR(s.s * 1e-6 * a.area + 0.5) AS value_kg_y
    FROM sums s JOIN areas a USING (la)
"""


# ======================================================================
# from_duckdb: DuckDB table with emission_* wide columns → long form
# (reference DuckDBInventory, inventories/zurich/duck.py:84-154)
# ======================================================================
def q_from_duckdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    import duckdb

    from emiproc_spark.sources.readers import from_duckdb

    path = os.path.join(fx.scratch_dir("emiproc_duck_"), "inv.duckdb")
    con = duckdb.connect(path)
    try:
        con.execute(
            f"""
            CREATE TABLE inv AS
            SELECT n_nationkey AS cell_id, n_name AS category,
                   CAST(n_nationkey * 1.5 + 1 AS DOUBLE) AS emission_co2,
                   CAST(n_regionkey * 2.25 AS DOUBLE) AS emission_ch4
            FROM read_parquet('{sf_dir}/nation.parquet')
            """
        )
    finally:
        con.close()
    return from_duckdb(spark, path, "inv", where="cell_id >= 5")


SQL_FROM_DUCKDB = """
    SELECT n_nationkey AS cell_id, n_name AS category, 'co2' AS substance,
           CAST(n_nationkey * 1.5 + 1 AS DOUBLE) AS value_kg_y
    FROM nation WHERE n_nationkey >= 5
    UNION ALL
    SELECT n_nationkey, n_name, 'ch4', CAST(n_regionkey * 2.25 AS DOUBLE)
    FROM nation WHERE n_nationkey >= 5
"""


# ======================================================================
# osm_json_to_sources: Overpass JSON → WKB point/way sources
# (reference emiproc/utils/osm.py:18-179)
# ======================================================================
def q_osm_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    from emiproc_spark.sources.osm import osm_json_to_sources

    nations = sorted(
        fx.load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .collect(),
        key=lambda r: r["n_nationkey"],
    )
    elements = [
        {
            "type": "node",
            "id": 1000 + r["n_nationkey"],
            "lon": float(r["n_nationkey"]),
            "lat": float(r["n_regionkey"] * 2),
        }
        for r in nations
    ]
    by_region: dict[int, list[int]] = {}
    for r in nations:
        by_region.setdefault(r["n_regionkey"], []).append(1000 + r["n_nationkey"])
    elements += [
        {
            "type": "way",
            "id": 2000 + rk,
            "nodes": refs,
            "tags": {"highway": "primary"},
        }
        for rk, refs in sorted(by_region.items())
    ]
    path = os.path.join(fx.scratch_dir("emiproc_osm_"), "overpass.json")
    with open(path, "w") as f:
        json.dump({"elements": elements}, f)
    out = osm_json_to_sources(spark, path)
    # WKB length pins the geometry kind and the resolved vertex count:
    # point = 21 bytes, linestring = 9 + 16·n
    return out.select(
        "osm_id", "osm_type", F.length("geometry").alias("wkb_len")
    )


SQL_OSM_WAYS = """
    SELECT 1000 + n_nationkey AS osm_id, 'node' AS osm_type, 21 AS wkb_len
    FROM nation
    UNION ALL
    SELECT 2000 + n_regionkey, 'way', CAST(9 + 16 * COUNT(*) AS INT)
    FROM nation GROUP BY n_regionkey
"""


# ======================================================================
# shapefile_regions: .shp/.dbf → regions table → cell fractions
# (reference get_natural_earth/get_timezones + get_country_mask,
# emiproc/utilities.py:103-314, 317-531)
# ======================================================================
def q_shapefile_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from emiproc_spark.operators.masks import cell_region_fractions
    from emiproc_spark.sources.shapefile import shapefile_to_regions, write_shapefile

    regs = sorted(
        fx.load(spark, sf_dir, "region").select("r_regionkey", "r_name").collect(),
        key=lambda r: r["r_regionkey"],
    )
    # region r covers the x ∈ [2r, 2r+2) stripe of the 10×10 fixture grid
    polys = [
        [np.array([[2.0 * r["r_regionkey"], 0.0], [2.0 * r["r_regionkey"] + 2.0, 0.0],
                   [2.0 * r["r_regionkey"] + 2.0, 10.0], [2.0 * r["r_regionkey"], 10.0]])]
        for r in regs
    ]
    attrs = pd.DataFrame({"NAME": [r["r_name"] for r in regs]})
    base = os.path.join(fx.scratch_dir("emiproc_shp_"), "regions")
    write_shapefile(base, polys, attrs)
    regions = shapefile_to_regions(spark, base + ".shp", label_field="NAME")
    fr = cell_region_fractions(regions, fx.fine_grid(spark), tile=2.5)
    return fr.withColumn("fraction", qd("fraction"))


SQL_SHAPEFILE_REGIONS = """
    SELECT t.i * 10 + s.j AS cell_id, r.r_name AS country, 1.0 AS fraction
    FROM range(10) t(i) CROSS JOIN range(10) s(j)
    JOIN region r ON r.r_regionkey = t.i // 2
"""


# ======================================================================
# fluxie export file layout round-trip (reference exports/fluxie.py):
# write the yearly per-substance NetCDFs, read flux_total_prior and the
# country rollup back, compare against the closed-form SQL
# ======================================================================
FLUXIE_YEAR = 2020


def q_fluxie_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from emiproc_spark.exports.fluxie import export_fluxie
    from emiproc_spark.functions.netcdf3 import read_netcdf

    # two-stage quantized pre-aggregation: the per-(cell, substance)
    # value entering the file is byte-identical to the oracle's nested
    # sumd, so the export's internal category sum adds single rows only
    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
        .groupBy("cell_id", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
        .withColumn("category", F.lit("all"))
    )
    grid = _raster_grid(spark)
    cfrac = grid.select(
        "cell_id",
        F.concat(F.lit("C"), (F.col("cell_id") % 3).cast("string")).alias(
            "country"
        ),
        F.lit(1.0).alias("fraction"),
    )
    out = fx.scratch_dir("emiproc_fluxie_")
    export_fluxie({FLUXIE_YEAR: agg}, grid, cfrac, out)
    rows = []
    base = os.path.join(out, "emiproc")
    for sub in sorted(os.listdir(base)):
        ds = read_netcdf(
            os.path.join(base, sub, f"emiproc_{sub}_yearly.nc")
        )  # files are read eagerly below, so the tree can be removed
        # before returning (repeated sweeps must not accumulate /tmp)
        flux = np.asarray(ds.variables["flux_total_prior"].data)[0]
        cflux = np.asarray(ds.variables["country_flux_total_prior"].data)[0]
        countries = list(ds.variables["country"].data)
        lats = np.asarray(ds.variables["latitude"].data)
        lons = np.asarray(ds.variables["longitude"].data)
        for li, lat in enumerate(lats):
            for lo, lon in enumerate(lons):
                if flux[li, lo] != 0.0:
                    rows.append(
                        (sub, "cell", float(lon), float(lat), float(flux[li, lo]))
                    )
        for ci, c in enumerate(countries):
            if isinstance(c, np.ndarray):  # NetCDF char-matrix row
                c = c.tobytes().decode().rstrip("\x00").strip()
            elif isinstance(c, bytes):
                c = c.decode()
            rows.append((sub, "country:" + c, -1.0, -1.0, float(cflux[ci])))
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    # cell fluxes are byte-identical µ-multiples (qd at 1e9 is exact on
    # identical inputs); country sums are float dots in engine-specific
    # order, so quantize those to 1e-2 (≫ the ~1e-8 order noise)
    out_df = local_rows_df(spark, 
        rows, "substance string, kind string, lon double, lat double, flux double"
    )
    return out_df.select(
        "substance",
        "kind",
        "lon",
        "lat",
        F.when(F.col("kind") == "cell", qd("flux"))
        .otherwise(qd("flux", 100.0))
        .alias("flux"),
    )


SQL_FLUXIE_EXPORT = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    agg AS (
        SELECT cell_id, substance, {sql_sumd('value_kg_y')} AS v
        FROM (
            SELECT cell_id, category, substance,
                   {sql_sumd('value_kg_y')} AS value_kg_y
            FROM e GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
    ),
    cells AS (
        SELECT substance, 'cell' AS kind,
               CAST(cell_id // 10 AS DOUBLE) AS lon,
               CAST(cell_id % 10 AS DOUBLE) AS lat,
               {sql_qd('v / 1.0')} AS flux
        FROM agg WHERE v <> 0.0
    ),
    countries AS (
        SELECT substance, 'country:C' || CAST(cell_id % 3 AS VARCHAR) AS kind,
               -1.0 AS lon, -1.0 AS lat,
               {sql_qd('SUM(v / 1.0)', 100.0)} AS flux
        FROM agg GROUP BY 1, 2
    )
    SELECT * FROM cells UNION ALL SELECT * FROM countries
"""


# ======================================================================
# netcdf4_ingest — raster export → re-ingest through the NetCDF-4/HDF5
# container (minimal pure-numpy writer + reader, functions/hdf5*.py)
# ======================================================================
def q_netcdf4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark import fixtures as fx
    from emiproc_spark.exports.netcdf import export_raster_netcdf
    from emiproc_spark.qhelpers import sumd
    from emiproc_spark.sources.netcdf import from_netcdf_rasters

    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    out = os.path.join(fx.scratch_dir("emiproc_nc4_"), "inv.nc")
    export_raster_netcdf(
        agg, _raster_grid(spark), out, add_totals=False, container="hdf5"
    )
    return from_netcdf_rasters(spark, out)


SQL_NETCDF4_INGEST = SQL_NETCDF_INGEST


# ======================================================================
# gfed4_ingest — GFED4 HDF5 layout (nested emissions/MM/partitioning
# groups) written by the minimal writer, scanned by the distributed
# GFED4 reader through the built-in HDF5 codec
# ======================================================================
GFED_NLAT, GFED_NLON = 3, 4


def _write_gfed4_fixture(d: str) -> None:
    """DM(month) = month, frac_SAVA = (lat+1)/10, frac_TEMF = (lon+1)/20,
    area = 100 — annual kg = Σ_m month·frac·100 = 7800·frac."""
    import numpy as np

    from emiproc_spark.functions.hdf5_write import write_netcdf4
    from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable

    lat_i = np.arange(GFED_NLAT)[:, None] * np.ones((1, GFED_NLON))
    lon_i = np.ones((GFED_NLAT, 1)) * np.arange(GFED_NLON)[None, :]
    vs = {
        "ancill/grid_cell_area": NCVariable(
            "a", ("lat", "lon"), np.full((GFED_NLAT, GFED_NLON), 100.0), {}
        )
    }
    for m in range(1, 13):
        vs[f"emissions/{m:02}/DM"] = NCVariable(
            "dm", ("lat", "lon"), np.full((GFED_NLAT, GFED_NLON), float(m)), {}
        )
        vs[f"emissions/{m:02}/partitioning/DM_SAVA"] = NCVariable(
            "p", ("lat", "lon"), (lat_i + 1) / 10.0, {}
        )
        vs[f"emissions/{m:02}/partitioning/DM_TEMF"] = NCVariable(
            "p", ("lat", "lon"), (lon_i + 1) / 20.0, {}
        )
    ds = NCDataset(dims={"lat": GFED_NLAT, "lon": GFED_NLON}, variables=vs)
    write_netcdf4(os.path.join(d, "GFED4.1s_2020.hdf5"), ds)


def q_gfed4_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.gfed import gfed4_emissions

    d = fx.scratch_dir("emiproc_gfed4_")
    _write_gfed4_fixture(d)
    return gfed4_emissions(spark, d).withColumn("value_kg_y", qd("value_kg_y"))


SQL_GFED4_INGEST = """
    WITH cells AS (
        SELECT CAST(lon.i * {nlat} + lat.i AS BIGINT) AS cell_id,
               lat.i AS lat_i, lon.i AS lon_i
        FROM UNNEST(range({nlat})) AS lat(i), UNNEST(range({nlon})) AS lon(i)
    )
    SELECT cell_id, 'SAVA' AS category, 'DM' AS substance,
           {qd_sava} AS value_kg_y
    FROM cells
    UNION ALL
    SELECT cell_id, 'TEMF', 'DM', {qd_temf}
    FROM cells
""".format(
    nlat=GFED_NLAT,
    nlon=GFED_NLON,
    qd_sava=sql_qd("7800.0 * (lat_i + 1) / 10.0"),
    qd_temf=sql_qd("7800.0 * (lon_i + 1) / 20.0"),
)


# ======================================================================
# png_cycle — real image decode through the pure-numpy PNG codec
# ======================================================================
N_IMAGES = 200
SIDE = 4


def q_png_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from emiproc_spark.functions.png import write_png
        from emiproc_spark.operators.multimodal import decode_image

        for pdf in batches:
            out = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                px = (
                    (i * 31 + np.arange(SIDE * SIDE)) % 256
                ).astype(np.uint8).reshape(SIDE, SIDE)
                img = decode_image(write_png(px), fake=False)
                flat = img.astype(np.int64)
                out.append(
                    {
                        "doc_id": i,
                        "n_px": int(flat.size),
                        "checksum": int(flat.sum() % 1_000_003),
                        "mean_byte": float(flat.mean()),
                    }
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "n_px", "checksum", "mean_byte"]
            )

    return spark.range(N_IMAGES).mapInPandas(
        run, "doc_id long, n_px long, checksum long, mean_byte double"
    )


SQL_PNG_CYCLE = f"""
    WITH px AS (
        SELECT d.i AS doc_id, (d.i * 31 + p.p) % 256 AS v
        FROM range({N_IMAGES}) d(i), range({SIDE * SIDE}) p(p)
    )
    SELECT doc_id,
           CAST({SIDE * SIDE} AS BIGINT) AS n_px,
           CAST(SUM(v) % 1000003 AS BIGINT) AS checksum,
           CAST(SUM(v) AS DOUBLE) / {SIDE * SIDE} AS mean_byte
    FROM px GROUP BY doc_id
"""


# ======================================================================
# gpkg_lines — line-buffer ingest (inventories/utils.py:58-88)
# ======================================================================
_LINE_WIDTH = 10.0


def q_gpkg_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark import fixtures as fx
    from emiproc_spark.functions.geometry import wkb_linestring
    from emiproc_spark.sources.geopackage import (
        export_to_geopackage,
        from_geopackage,
    )

    nat = (
        fx.load(spark, sf_dir, "nation")
        .select("n_nationkey")
        .toPandas()
        .sort_values("n_nationkey")
        .reset_index(drop=True)
    )
    # horizontal segments at integer coordinates: every buffered vertex
    # is exact, so the shoelace area is the closed form bit-for-bit
    pdf = pd.DataFrame(
        {
            "geometry": [
                wkb_linestring(
                    [(0.0, float(k)), (10.0 * (k + 1), float(k))]
                )
                for k in nat["n_nationkey"]
            ],
            "Shape_Length": [10.0 * (k + 1) for k in nat["n_nationkey"]],
            "Emission_CO2": nat["n_nationkey"] * 2.0,
        }
    )
    layer = (
        spark.createDataFrame(pdf)
        .coalesce(1)
        .sortWithinPartitions("Shape_Length")
    )
    path = os.path.join(fx.scratch_dir("emiproc_gpkgl_"), "lines.gpkg")
    export_to_geopackage({"traffic_lines": layer}, path)
    out = from_geopackage(spark, path, line_width=_LINE_WIDTH)

    @F.pandas_udf("double")
    def poly_area(geoms: pd.Series) -> pd.Series:
        import numpy as np

        from emiproc_spark.functions import geometry as geom

        return pd.Series(
            [
                abs(geom.shoelace_area(np.asarray(geom.parse_wkb(bytes(b))[1][0])))
                for b in geoms
            ]
        )

    return out.select(
        "category",
        "source_id",
        "substance",
        "value_kg_y",
        qd(poly_area("geometry")).alias("area"),
    )


SQL_GPKG_LINES = f"""
    SELECT 'traffic_lines' AS category, n_nationkey + 1 AS source_id,
           'CO2' AS substance, n_nationkey * 2.0 AS value_kg_y,
           {sql_qd(f"(10.0 * (n_nationkey + 1) + 2 * {_LINE_WIDTH}) * 2 * {_LINE_WIDTH}")} AS area
    FROM nation
"""


# ======================================================================
# cf_attrs — nc_cf_attributes read-back (reference exports/netcdf.py:6-69)
# ======================================================================
_CF_FIELDS = {
    "title": "r5 attrs check",
    "author": "emiproc_spark",
    "institution": "driver",
    "source": "sf fixtures",
    "comment": "cf attrs oracle",
    "references": "SURVEY.md",
}


def q_cf_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from emiproc_spark import fixtures as fx
    from emiproc_spark.exports.netcdf import (
        cf_global_attributes,
        export_raster_netcdf,
    )
    from emiproc_spark.qhelpers import sumd

    agg = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category", "substance")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    out = os.path.join(fx.scratch_dir("emiproc_cf_"), "inv.nc")
    export_raster_netcdf(
        agg,
        _raster_grid(spark),
        out,
        add_totals=False,
        netcdf_attributes=cf_global_attributes(**_CF_FIELDS),
    )

    files = spark.read.format("binaryFile").load(out).select("content")

    def attrs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from emiproc_spark.functions.netcdf3 import read_netcdf

        for pdf in batches:
            for content in pdf["content"]:
                ds = read_netcdf(bytes(content), header_only=True)
                rows = [
                    {"key": k, "value": str(ds.attrs[k])}
                    for k in sorted(_CF_FIELDS)
                    if k in ds.attrs
                ]
                rows.append(
                    {
                        "key": "Conventions",
                        "value": str(ds.attrs.get("Conventions", "")),
                    }
                )
                # timestamped fields: presence + stamp-format markers
                rows.append(
                    {
                        "key": "history_stamped",
                        "value": str(
                            "created by emiproc_spark"
                            in str(ds.attrs.get("history", ""))
                        ).lower(),
                    }
                )
                rows.append(
                    {
                        "key": "created_is_iso",
                        "value": str(
                            str(ds.attrs.get("created", "")).count("-") >= 2
                            and "T" in str(ds.attrs.get("created", ""))
                        ).lower(),
                    }
                )
                yield pd.DataFrame(rows, columns=["key", "value"])

    return files.mapInPandas(attrs, "key string, value string")


def _sql_cf_attrs() -> str:
    vals = ", ".join(f"('{k}', '{v}')" for k, v in sorted(_CF_FIELDS.items()))
    return f"""
        SELECT key, value FROM (VALUES
            {vals},
            ('Conventions', 'CF-1.10'),
            ('history_stamped', 'true'),
            ('created_is_iso', 'true')
        ) t(key, value)
    """


# ======================================================================
# wav_cycle — WAV codec round-trip + audio features (functions/wav.py)
# ======================================================================
WAV_RATE = 8000


def q_wav_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode a deterministic int16 waveform per doc through the
    pure-numpy WAV codec, decode it back with the same codec inside
    ``audio_features`` (mapInPandas), and emit exact-integer stats; the
    oracle recomputes every stat arithmetically from the sample formula
    — the codec must be lossless for the hashes to match.
    """
    import numpy as np
    import pandas as pd

    from emiproc_spark.functions.wav import encode_wav
    from emiproc_spark.operators.multimodal import audio_features

    ids = fx.load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 200
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 160 + (d % 7) * 40
                i = np.arange(n, dtype=np.int64)
                samples = ((d * 31 + i * 17) % 2048 - 1024).astype(np.int16)
                rows.append({"doc_id": d, "payload": encode_wav(samples, WAV_RATE)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = ids.mapInPandas(gen, schema="doc_id long, payload binary")
    return audio_features(media)


SQL_WAV_CYCLE = f"""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 200),
    s AS (
        SELECT ids.doc_id,
               t.i,
               ((ids.doc_id * 31 + t.i * 17) % 2048) - 1024 AS v
        FROM ids,
             UNNEST(range(160 + (ids.doc_id % 7) * 40)) AS t(i)
    ),
    sgn AS (
        SELECT doc_id, i, CASE WHEN v > 0 THEN 1 ELSE -1 END AS g
        FROM s WHERE v <> 0
    ),
    zc AS (
        SELECT doc_id,
               CAST(COALESCE(SUM(CASE WHEN flip THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n
        FROM (SELECT doc_id,
                     g <> LAG(g) OVER (PARTITION BY doc_id ORDER BY i) AS flip
              FROM sgn)
        GROUP BY doc_id
    )
    SELECT s.doc_id,
           {WAV_RATE} AS sample_rate,
           COUNT(*) AS n_samples,
           1 AS channels,
           COUNT(*) / {WAV_RATE}.0 AS duration_s,
           CAST(MAX(ABS(v)) AS INT) AS peak,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(COALESCE(MIN(zc.n), 0) AS BIGINT) AS zero_crossings
    FROM s LEFT JOIN zc ON zc.doc_id = s.doc_id
    GROUP BY s.doc_id
"""


# ======================================================================
# image_resize — decode → nearest-neighbor resize → stats (multimodal)
# ======================================================================
RS_N, RS_SIDE, RS_H, RS_W = 300, 24, 10, 6


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode + resize path: deterministic 24x24 grey PNGs decoded
    through the pure-numpy codec, nearest-neighbor resized to 10x6 with
    the exact integer index map (src = (dst*24)//10), stats of the
    RESIZED pixels emitted.  The oracle recomputes the sampled pixel
    lattice arithmetically — codec and resize must both be exact for
    the hashes to match."""
    import numpy as np
    import pandas as pd

    def run(batches):
        from emiproc_spark.functions.png import write_png

        for pdf in batches:
            rows = []
            for doc_id in pdf["id"]:
                i = int(doc_id)
                px = (
                    (i * 31 + np.arange(RS_SIDE * RS_SIDE)) % 256
                ).astype(np.uint8).reshape(RS_SIDE, RS_SIDE)
                rows.append({"doc_id": i, "payload": write_png(px)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    from emiproc_spark.operators.multimodal import resize_features

    media = spark.range(RS_N).mapInPandas(run, "doc_id long, payload binary")
    return resize_features(media, RS_H, RS_W)


SQL_IMAGE_RESIZE = f"""
    WITH px AS (
        SELECT d.i AS doc_id,
               (d.i * 31 + ((r.r * {RS_SIDE}) // {RS_H}) * {RS_SIDE}
                         + ((c.c * {RS_SIDE}) // {RS_W})) % 256 AS v
        FROM range({RS_N}) d(i), range({RS_H}) r(r), range({RS_W}) c(c)
    )
    SELECT doc_id,
           {RS_H} AS out_h, {RS_W} AS out_w,
           CAST({RS_H * RS_W} AS BIGINT) AS n_px,
           CAST(SUM(v) % 1000003 AS BIGINT) AS checksum,
           CAST(SUM(v) AS DOUBLE) / {RS_H * RS_W} AS mean_byte
    FROM px GROUP BY doc_id
"""


# ======================================================================
# orc_partitioned — hive-partitioned ORC round-trip (exports/store.py)
# ======================================================================
ORC_LANGS = ("en", "de", "fr")

# sf_dir -> written ORC dir (write once per session per sf_dir — the
# benchmark times the pruned read, not the sink)
_ORC_DIRS: dict[str, str] = {}


def q_orc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → lang-partitioned ORC → pruned read of 3 of 5
    partitions → per-lang rollup.  Integer sums only (n_chars), so the
    round-trip is exact; the oracle reads the source parquet with the
    same predicate."""
    from emiproc_spark.exports.store import read_partitioned, save_partitioned

    path = _ORC_DIRS.get(sf_dir)
    if path is None or not os.path.isdir(path):
        tag = re.sub(r"\W+", "_", sf_dir).strip("_")
        path = os.path.join(
            fx.scratch_dir("emiproc_orc_"), f"docs_{tag}"
        )
        docs = fx.load(spark, sf_dir, "documents").select(
            "doc_id", "n_chars", "lang"
        )
        save_partitioned(docs, path, ["lang"], fmt="orc")
        _ORC_DIRS[sf_dir] = path

    back = read_partitioned(spark, path, fmt="orc")
    return (
        back.where(F.col("lang").isin(*ORC_LANGS))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_ORC_LANG_LIST = ", ".join(f"'{lang}'" for lang in ORC_LANGS)
SQL_ORC_PARTITIONED = f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ({_ORC_LANG_LIST})
    GROUP BY lang
"""


# ======================================================================
# jsonl_roundtrip — JSON-lines sink + schema-explicit source
# ======================================================================
_JSONL_DIRS: dict[str, str] = {}


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _JSONL_DIRS.get(sf_dir)
    if path is None or not os.path.isdir(path):
        tag = re.sub(r"\W+", "_", sf_dir).strip("_")
        path = os.path.join(
            fx.scratch_dir("emiproc_jsonl_"), f"docs_{tag}"
        )
        fx.load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        ).write.mode("overwrite").json(path)
        _JSONL_DIRS[sf_dir] = path
    # explicit schema: inference would cost a second full scan, and at
    # 100 TB the contract should come from the catalog, not the data
    back = spark.read.schema("doc_id long, lang string, text string").json(
        path
    )
    return back.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("text_chars"),
    )


SQL_JSONL_ROUNDTRIP = """
    SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_chars
    FROM documents
"""


QUERIES = {
    "netcdf_ingest": (q_netcdf_ingest, SQL_NETCDF_INGEST),
    "tno_ingest": (q_tno_ingest, SQL_TNO_INGEST),
    "tno_points": (q_tno_points, SQL_TNO_POINTS),
    "gpkg_roundtrip": (q_gpkg_roundtrip, SQL_GPKG_ROUNDTRIP),
    "gral_roundtrip": (q_gral_roundtrip, SQL_GRAL_ROUNDTRIP),
    "swiss_ingest": (q_swiss_ingest, SQL_SWISS_INGEST),
    "prtr_ingest": (q_prtr_ingest, SQL_PRTR_INGEST),
    "lpj_ingest": (q_lpj_ingest, SQL_LPJ_INGEST),
    "edgar_ingest": (q_edgar_ingest, SQL_EDGAR_INGEST),
    "cams_ingest": (q_cams_ingest, SQL_CAMS_INGEST),
    "gfas_ingest": (q_gfas_ingest, SQL_GFAS_INGEST),
    "saunois_ingest": (q_saunois_ingest, SQL_SAUNOIS_INGEST),
    "edgar_legacy": (q_edgar_legacy, SQL_EDGAR_LEGACY),
    "wetcharts_ingest": (q_wetcharts_ingest, SQL_WETCHARTS_INGEST),
    "gfed5_ingest": (q_gfed5_ingest, SQL_GFED5_INGEST),
    "wrf_flux": (q_wrf_flux, SQL_WRF_FLUX),
    "from_duckdb": (q_from_duckdb, SQL_FROM_DUCKDB),
    "osm_ways": (q_osm_ways, SQL_OSM_WAYS),
    "shapefile_regions": (q_shapefile_regions, SQL_SHAPEFILE_REGIONS),
    "fluxie_export": (q_fluxie_export, SQL_FLUXIE_EXPORT),
    "netcdf4_ingest": (q_netcdf4_ingest, SQL_NETCDF4_INGEST),
    "gfed4_ingest": (q_gfed4_ingest, SQL_GFED4_INGEST),
    "png_cycle": (q_png_cycle, SQL_PNG_CYCLE),
    "gpkg_lines": (q_gpkg_lines, SQL_GPKG_LINES),
    "cf_attrs": (q_cf_attrs, _sql_cf_attrs()),
    "wav_cycle": (q_wav_cycle, SQL_WAV_CYCLE),
    "image_resize": (q_image_resize, SQL_IMAGE_RESIZE),
    "orc_partitioned": (q_orc_partitioned, SQL_ORC_PARTITIONED),
    "jsonl_roundtrip": (q_jsonl_roundtrip, SQL_JSONL_ROUNDTRIP),
}
