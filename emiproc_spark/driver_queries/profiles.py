"""Temporal and vertical profile driver queries: profile algebra,
temporal expansion and local-time scaling, interpolation, profile
indexes and specific days, the profile file readers/writers (CSV,
YAML, EDGAR, TNO, OEM) and the ratio-sum gates.

Every query takes ``(spark, sf_dir)`` and returns a DataFrame whose row
multiset the DuckDB oracle SQL next to it reproduces over the driver's
parquet tables.  Parity conventions: md5-derived randomness, per-row
IEEE doubles written identically on both engines, sums through the
µ-quantized integer helpers (``qhelpers``), explicit tie-break keys.

- ``profile_da`` — the standalone midpoint-stamped native-frequency
  profile series (reference profiles/temporal/operators.py:152-235).
- ``profile_index_wildcard``: the nan/empty-selector wildcard fallback
  of the profile-index CSV reader (reference ``get_profiles_indexes``,
  profiles/utils.py:152-239 — a missing coordinate means "applies to
  all values of that dim", and a specific (category, substance) miss
  falls back to the most specific wildcard row).  A CSV with all four
  selector patterns is read by ``read_temporal_profiles_csv`` and
  resolved against a fact key set via ``attach_profiles``; the oracle
  replays the specificity lattice in SQL.
- ``specific_days``: ``ensure_specific_days_consistency`` (reference
  temporal/utils.py:36-97) — weekday/weekday_4/weekend expansion with
  single-day > weekday_4 > range precedence and general-profile gap
  fill, including the ``weekday_4`` type added for reference-enum
  parity.
- ``profile_validity``: ``check_valid_profiles`` as a data-quality
  query returning the violating rows (reference profile invariants,
  profiles/utils.py:54-92, temporal/profiles.py:53-55).
- ``ratio_gate``: profile-normalization invariant (every group's ratios
  sum to 1) over an hourly event-share profile derived from the events
  table, with one planted broken group — exercising
  ``quality.ratio_sum_gate``'s exact tick arithmetic.
- ``hourly_gate``: the profile-normalization gate frame the hourly/ICON
  export pipelines now enforce BY DEFAULT before the hour fan-out
  (``pipelines.temporal_profile_gates`` — array-form profile store →
  explode → ``quality.ratio_sum_gate``), evaluated over the same
  profile fixtures the temporal-expansion queries use plus one planted
  non-normalized profile proving the gate detects under-emission.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark.fixtures import NS_PER_DAY, NS_PER_HOUR
from emiproc_spark.fixtures import events as _events
from emiproc_spark.localdf import local_rows_df
from emiproc_spark.operators import temporal as tp
from emiproc_spark.operators.profiles import get_weights_of_profiles
from emiproc_spark.qhelpers import qd, sql_qd, sql_sumd, sumd


def q_events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile — the engine's cyclic-profile position
    expression (get_index_in_profile semantics,
    reference emiproc/profiles/temporal/operators.py:49-94)."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn(
            "hour_of_day", ((F.col("ts") / F.lit(NS_PER_HOUR)).cast("long") % 24).cast("int")
        )
        .groupBy("hour_of_day")
        .agg(F.count("*").alias("n_events"), sumd("value").alias("sum_value"))
    )


SQL_EVENTS_HOURLY_PROFILE = f"""
    SELECT CAST(FLOOR(epoch_ns(ts) / {NS_PER_HOUR}.0) AS BIGINT) % 24 AS hour_of_day,
           COUNT(*) AS n_events,
           {sql_sumd('value')} AS sum_value
    FROM events
    GROUP BY 1
"""


# ======================================================================
# Profile algebra + temporal expansion
# ======================================================================
def _daily_ratios(k: int = 0) -> list[float]:
    """Pattern-k daily profile: r[h] = (h+1+k)/(300+24k) — sums to 1
    exactly in rational arithmetic; identical double arithmetic exists
    in closed-form SQL."""
    return [(h + 1 + k) / (300.0 + 24 * k) for h in range(24)]


WEEKLY_RATIOS = [(d + 1) / 28.0 for d in range(7)]
EXPAND_HOURS = 72
YEAR_HOURS = 8784.0  # 2024 is a leap year


def _test_tprofiles(spark: SparkSession) -> DataFrame:
    from emiproc_spark.core.schemas import TPROFILE

    return local_rows_df(spark, 
        [
            (0, "daily", _daily_ratios(0)),
            (1, "daily", [1.0 / 24] * 24),
            (2, "weekly", WEEKLY_RATIOS),
        ],
        schema=TPROFILE,
    )


def q_temporal_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annual → hourly expansion over 72 h: category A follows the daily
    profile, R the weekly profile, N is constant (missing index row →
    sf 1.0).  Exercises temporally_scaled end-to-end."""
    from emiproc_spark.operators.temporal import temporally_scaled

    e = fx.emissions(spark, sf_dir)
    # pre-aggregate to the canonical one-row-per-(cell, cat, sub)
    # inventory before exploding hours: the expansion fans out keys,
    # not raw scan rows (600 × 72 instead of |lineitem| × 72)
    e2 = e.groupBy("cell_id", "category", "substance").agg(
        sumd("value_kg_y").alias("value_kg_y")
    )
    index = local_rows_df(spark, 
        [("A", "F", 0), ("A", "O", 0), ("R", "F", 2), ("R", "O", 2)],
        schema="category string, substance string, profile_id int",
    )
    out = temporally_scaled(
        e2, index, _test_tprofiles(spark), "2024-01-01 00:00:00", EXPAND_HOURS, int(YEAR_HOURS)
    )
    return out.groupBy("category", "substance", "hour_index").agg(
        sumd("value_kg_h").alias("value_kg_h")
    )


# 2024-01-01 is a Monday → weekday(ts) == (h // 24) % 7 over the window
SQL_TEMPORAL_EXPAND = f"""
    WITH e0 AS ({fx.EMISSIONS_SQL}),
    e AS (
        SELECT cell_id, category, substance, {sql_sumd('value_kg_y')} AS value_kg_y
        FROM e0 GROUP BY 1, 2, 3
    ),
    hrs AS (SELECT h FROM range({EXPAND_HOURS}) t(h)),
    x AS (
        SELECT e.category, e.substance, hrs.h AS hour_index,
               e.value_kg_y / {YEAR_HOURS} * (
                   CASE e.category
                       WHEN 'A' THEN ((hrs.h % 24) + 1) / 300.0 * 24
                       WHEN 'R' THEN (((hrs.h // 24) % 7) + 1) / 28.0 * 7
                       ELSE 1.0
                   END
               ) AS value_kg_h
        FROM e CROSS JOIN hrs
    )
    SELECT category, substance, hour_index, {sql_sumd('value_kg_h')} AS value_kg_h
    FROM x GROUP BY 1, 2, 3
"""


def q_profiles_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emission-weighted profile merge under a category grouping
    (combine_profiles / group_profiles_indexes semantics).  Weights are
    the µ-quantized per-category masses, so both engines blend identical
    doubles; the blended ratio is re-quantized at 1e-9."""
    from emiproc_spark.operators.profiles import combine_profiles

    e = fx.emissions(spark, sf_dir)
    w = e.groupBy("category").agg(sumd("value_kg_y").alias("weight"))
    idx = local_rows_df(spark, 
        [("A", 0), ("N", 1), ("R", 0)], schema="category string, profile_id int"
    )
    grp = local_rows_df(spark, 
        [("A", "grp_an"), ("N", "grp_an"), ("R", "grp_r")],
        schema="category string, grp string",
    )
    iw = idx.join(w, "category").join(F.broadcast(grp), "category")
    out = combine_profiles(iw, _test_tprofiles(spark), ["grp"])
    return out.select(
        "grp", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_PROFILES_COMBINE = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    w AS (
        SELECT category, {sql_sumd('value_kg_y')} AS weight
        FROM e GROUP BY category
    ),
    -- profiles: A,R → pattern-0 daily; N → uniform daily
    blend AS (
        SELECT 'grp_an' AS grp, 'daily' AS ptype, p.pos,
               ((wa.weight * ((p.pos + 1) / 300.0)) + (wn.weight * (1.0 / 24)))
               / (wa.weight + wn.weight) AS ratio
        FROM range(24) p(pos),
             (SELECT weight FROM w WHERE category = 'A') wa,
             (SELECT weight FROM w WHERE category = 'N') wn
        UNION ALL
        SELECT 'grp_r' AS grp, 'daily' AS ptype, p.pos,
               (p.pos + 1) / 300.0 AS ratio
        FROM range(24) p(pos)
    ),
    -- plain SUM: the ±ulp fold-order wobble is collapsed by the 1e-9
    -- output quantizer (sql_sumd would quantize at 1e-6 and skew ratios)
    tot AS (
        SELECT grp, ptype, SUM(ratio) AS total FROM blend GROUP BY grp, ptype
    )
    SELECT b.grp, b.ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.ratio / t.total')} AS ratio
    FROM blend b JOIN tot t ON b.grp = t.grp AND b.ptype = t.ptype
"""


def q_country_to_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country-keyed profiles → cell-keyed via country fractions
    (country_to_cells fraction method).  cell_country is closed-form:
    cell c belongs 60 % to country C(c%3), 40 % to C((c+1)%3)."""
    from emiproc_spark.operators.profiles import country_to_cells

    cidx = local_rows_df(spark, 
        [("C0", 0), ("C1", 1), ("C2", 2)], schema="country string, profile_id int"
    )
    store = local_rows_df(spark, 
        [(k, "daily", _daily_ratios(k)) for k in range(3)],
        schema="profile_id int, ptype string, ratios array<double>",
    )
    cc = (
        spark.range(fx.N_CELLS)
        .select(
            F.col("id").alias("cell_id"),
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("C"), (F.col("id") % 3)).alias("country"),
                        F.lit(0.6).alias("fraction"),
                    ),
                    F.struct(
                        F.concat(F.lit("C"), ((F.col("id") + 1) % 3)).alias("country"),
                        F.lit(0.4).alias("fraction"),
                    ),
                )
            ).alias("cf"),
        )
        .select("cell_id", "cf.country", "cf.fraction")
    )
    out = country_to_cells(cidx, store, cc)
    return out.select(
        "cell_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_COUNTRY_TO_CELLS = f"""
    WITH cells AS (SELECT c AS cell_id FROM range({fx.N_CELLS}) t(c)),
    blend AS (
        SELECT cell_id, 'daily' AS ptype, p.pos,
               0.6 * ((p.pos + 1 + (cell_id % 3)) / (300.0 + 24 * (cell_id % 3)))
             + 0.4 * ((p.pos + 1 + ((cell_id + 1) % 3)) / (300.0 + 24 * ((cell_id + 1) % 3)))
               AS wr
        FROM cells CROSS JOIN range(24) p(pos)
    ),
    tot AS (SELECT cell_id, ptype, SUM(wr) AS total FROM blend GROUP BY 1, 2)
    SELECT b.cell_id, b.ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.wr / t.total')} AS ratio
    FROM blend b JOIN tot t USING (cell_id, ptype)
"""


def q_profiles_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding dedup of per-cell ratio vectors
    (ratios_dataarray_to_profiles semantics): 100 cells carry 5 distinct
    daily patterns → 5 stored profiles; ids are lexicographic rank
    (pattern k has increasing first element, so id == k)."""
    from emiproc_spark.operators.profiles import dedup_profiles

    k = F.col("id") % 5
    per_cell = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"),
        F.lit("daily").alias("ptype"),
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda h: (h + 1 + k) / (F.lit(300.0) + 24 * k),
        ).alias("ratios"),
    )
    store, index = dedup_profiles(per_cell)
    counts = index.groupBy("profile_id").agg(F.count("*").alias("n_cells"))
    return (
        store.join(counts, "profile_id")
        .select("profile_id", "n_cells", F.posexplode("ratios").alias("pos", "ratio"))
    )


SQL_PROFILES_DEDUP = f"""
    SELECT k AS profile_id,
           CAST({fx.N_CELLS} / 5 AS BIGINT) AS n_cells,
           CAST(p.pos AS INT) AS pos,
           (p.pos + 1 + k) / (300.0 + 24 * k) AS ratio
    FROM range(5) t(k) CROSS JOIN range(24) p(pos)
"""


def q_vertical_rebin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conservative vertical re-binning onto [100, 200, 400] m levels
    (resample_vertical_profiles)."""
    from emiproc_spark.operators.vertical import resample_vertical_profiles

    vp = local_rows_df(spark, 
        [
            (0, [50.0, 100.0, 200.0], [0.5, 0.3, 0.2]),
            (1, [100.0, 300.0], [0.6, 0.4]),
        ],
        schema="profile_id int, heights_top_m array<double>, ratios array<double>",
    )
    out = resample_vertical_profiles(vp, [100.0, 200.0, 400.0])
    return out.select("profile_id", F.posexplode("ratios").alias("layer", "ratio"))


SQL_VERTICAL_REBIN = """
    WITH src(profile_id, lo, hi, ratio) AS (
        VALUES (0, 0.0, 50.0, 0.5), (0, 50.0, 100.0, 0.3), (0, 100.0, 200.0, 0.2),
               (1, 0.0, 100.0, 0.6), (1, 100.0, 300.0, 0.4)
    ),
    tgt(layer, t_lo, t_hi) AS (
        VALUES (0, 0.0, 100.0), (1, 100.0, 200.0), (2, 200.0, 400.0)
    ),
    contrib AS (
        SELECT s.profile_id, t.layer,
               s.ratio * GREATEST(0.0, LEAST(s.hi, t.t_hi) - GREATEST(s.lo, t.t_lo))
               / (s.hi - s.lo) AS part
        FROM src s CROSS JOIN tgt t
        WHERE LEAST(s.hi, t.t_hi) - GREATEST(s.lo, t.t_lo) > 0
    )
    SELECT p.profile_id, t.layer, COALESCE(SUM(c.part), 0.0) AS ratio
    FROM (SELECT DISTINCT profile_id FROM src) p
    CROSS JOIN tgt t
    LEFT JOIN contrib c ON c.profile_id = p.profile_id AND c.layer = t.layer
    GROUP BY p.profile_id, t.layer
"""


def q_hdd_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heating-degree-day factors from the events stream used as a
    temperature series (create_HDD_scaling_factor semantics):
    temp = value/10, HDD = (20 − T̄)·[T̄ < 12], normalized by the
    period-mean HDD — all arithmetic deterministic via sumd."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.withColumn("epoch_day", (F.col("ts") / F.lit(NS_PER_DAY)).cast("long"))
        .groupBy("epoch_day")
        .agg(sumd("value").alias("sv"), F.count("*").alias("n"))
        .withColumn("temp_c", F.col("sv") / F.col("n") / F.lit(10.0))
        .withColumn(
            "hdd",
            F.when(F.col("temp_c") < 12.0, F.lit(20.0) - F.col("temp_c")).otherwise(
                F.lit(0.0)
            ),
        )
    )
    mean = daily.agg(
        (sumd("hdd") / F.count("*")).alias("mean_hdd")
    )
    return (
        daily.crossJoin(F.broadcast(mean))
        .withColumn(
            "factor",
            F.when(F.col("mean_hdd") == 0.0, F.lit(1.0)).otherwise(
                F.col("hdd") / F.col("mean_hdd")
            ),
        )
        .select("epoch_day", "hdd", "factor")
    )


SQL_HDD_FACTORS = f"""
    WITH daily AS (
        SELECT CAST(FLOOR(epoch_ns(ts) / {NS_PER_DAY}.0) AS BIGINT) AS epoch_day,
               {sql_sumd('value')} AS sv, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    h AS (
        SELECT epoch_day,
               CASE WHEN sv / n / 10.0 < 12.0 THEN 20.0 - sv / n / 10.0 ELSE 0.0 END AS hdd
        FROM daily
    ),
    m AS (SELECT {sql_sumd('hdd')} / COUNT(*) AS mean_hdd FROM h)
    SELECT epoch_day, hdd,
           CASE WHEN m.mean_hdd = 0.0 THEN 1.0 ELSE hdd / m.mean_hdd END AS factor
    FROM h CROSS JOIN m
"""


def q_composite_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite profile (daily × weekly) scaling factors over one week
    — the product-of-cycles semantics (composite_scaling_factor).
    exp(Σlog) vs direct product differ at libm-ulp level only, collapsed
    by the 1e-9 quantizer."""
    from emiproc_spark.operators.temporal import scaling_factor_at, time_scaffold

    subs = local_rows_df(spark, 
        [
            (0, "daily", _daily_ratios(0)),
            (0, "weekly", WEEKLY_RATIOS),
        ],
        schema="comp_id int, ptype string, ratios array<double>",
    )
    hours = time_scaffold(subs, "2024-01-01 00:00:00", 168)
    per_type = hours.crossJoin(F.broadcast(subs)).withColumn(
        "sf1", scaling_factor_at(F.col("ts"), F.col("ptype"), F.col("ratios"))
    )
    return (
        per_type.groupBy("comp_id", "hour_index")
        .agg(F.exp(F.sum(F.log("sf1"))).alias("sf"))
        .select("comp_id", "hour_index", qd("sf").alias("sf"))
    )


SQL_COMPOSITE_SCALING = f"""
    SELECT 0 AS comp_id, h AS hour_index,
           {sql_qd('EXP(LN(((h % 24) + 1) / 300.0 * 24) + LN((((h // 24) % 7) + 1) / 28.0 * 7))')} AS sf
    FROM range(168) t(h)
"""


def q_interpolate_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly profile → hour-of-year with midpoint linear interpolation
    (interpolate_profiles semantics); first 1000 hours."""
    from emiproc_spark.operators.interpolation import profile_to_hour_of_year

    prof = local_rows_df(spark, 
        [(0, [(m + 1) / 78.0 for m in range(12)])],
        schema="profile_id int, ratios array<double>",
    )
    out = profile_to_hour_of_year(prof, "monthly", 8760, interpolate=True)
    return out.where(F.col("hour") < 1000).select(
        "profile_id", "hour", qd("sf").alias("sf")
    )


SQL_INTERPOLATE_PROFILES = f"""
    WITH hrs AS (SELECT h FROM range(1000) t(h)),
    calc AS (
        SELECT h,
               ((h % 8760) + 0.5) / (8760.0 / 12) - 0.5 AS frac
        FROM hrs
    ),
    pos AS (
        SELECT h, frac, FLOOR(frac) AS k0, frac - FLOOR(frac) AS t,
               CAST(((CAST(FLOOR(frac) AS BIGINT) % 12) + 12) % 12 AS INT) AS lo
        FROM calc
    )
    SELECT 0 AS profile_id, h AS hour,
           {sql_qd('((lo + 1) / 78.0 * (1.0 - t) + (((lo + 1) % 12) + 1) / 78.0 * t) * 12')} AS sf
    FROM pos
"""


# ======================================================================
# TNO gridded day-of-year profiles: CSV → per-cell normalized ratios
# (reference read_tno_gridded_profiles, inventories/tno.py:325-404)
# ======================================================================
TNOP_NLON, TNOP_NLAT, TNOP_DAYS = 3, 2, 365


def q_tno_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.tno import tno_gridded_profiles

    lines = ["year,latitude,longitude,POLL,GNFR,day,Factor"]
    for lon_i in range(TNOP_NLON):
        for lat_i in range(TNOP_NLAT):
            cell = lon_i * TNOP_NLAT + lat_i
            for day in range(1, TNOP_DAYS + 1):
                f = (day * 3 + cell * 7) % 11 + 1
                lines.append(
                    f"2020,{45.5 + lat_i},{7.5 + lon_i},CH4,A,{day},{f}"
                )
                # duplicated rows must collapse (first wins) and other
                # years filter out
                lines.append(f"2020,{45.5 + lat_i},{7.5 + lon_i},CH4,A,{day},{9 * f}")
                lines.append(f"2019,{45.5 + lat_i},{7.5 + lon_i},CH4,A,{day},999")
    d = fx.scratch_dir("emiproc_tnop_")
    path = os.path.join(d, "profiles.csv")
    with open(path, "w") as fobj:
        fobj.write("\n".join(lines) + "\n")
    ratios, _ = tno_gridded_profiles(spark, path, year=2020)
    return ratios


SQL_TNO_PROFILES = f"""
    WITH c AS (
        SELECT lo.lo * {TNOP_NLAT} + la.la AS cell_id
        FROM range({TNOP_NLON}) lo(lo) CROSS JOIN range({TNOP_NLAT}) la(la)
    ),
    f AS (
        SELECT cell_id, d.d AS pos,
               CAST(((d.d + 1) * 3 + cell_id * 7) % 11 + 1 AS DOUBLE) AS factor
        FROM c CROSS JOIN range({TNOP_DAYS}) d(d)
    ),
    tot AS (SELECT cell_id, SUM(factor) AS t FROM f GROUP BY cell_id)
    SELECT 'A' AS category, 'CH4' AS substance, f.cell_id,
           CAST(f.pos AS INT) AS pos, f.factor / t.t AS ratio
    FROM f JOIN tot t USING (cell_id)
"""


# ======================================================================
# Profile CSV readers: weekly temporal profiles (column-set dispatch +
# auto-normalize + dedup) and vertical height-header profiles
# (reference profiles/temporal/io.py:167-181, vertical_profiles.py:276-364)
# ======================================================================
def q_tprofiles_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.profiles_io import read_temporal_profiles_csv

    d = fx.scratch_dir("emiproc_tp_")
    p = os.path.join(d, "profiles.csv")
    with open(p, "w") as f:
        f.write("category,Mon,Tue,Wed,Thu,Fri,Sat,Sun\n")
        f.write("A,1,2,3,4,5,6,7\n")
        f.write("B,2,2,2,2,2,2,2\n")
        f.write("C,1,2,3,4,5,6,7\n")  # duplicate of A: dedup path
    store, index = read_temporal_profiles_csv(spark, p, ["category"])
    out = index.join(store, ["profile_id", "ptype"]).select(
        "category", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    )
    return out.withColumn("ratio", qd("ratio"))


SQL_TPROFILES_CSV = """
    WITH rows(category, pos, v) AS (
        SELECT cat.category, t.pos,
               CASE WHEN cat.category = 'B' THEN 2.0 ELSE CAST(t.pos + 1 AS DOUBLE) END
        FROM (VALUES ('A'), ('B'), ('C')) AS cat(category),
             UNNEST(range(7)) AS t(pos)
    )
    SELECT category, 'weekly' AS ptype, pos,
           {qd} AS ratio
    FROM rows
""".format(qd=sql_qd("v / SUM(v) OVER (PARTITION BY category)"))


def q_vprofiles_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.sources.profiles_io import read_vertical_profiles_csv

    d = fx.scratch_dir("emiproc_vp_")
    p = os.path.join(d, "vertical.csv")
    with open(p, "w") as f:
        # headers intentionally out of height order: the reader re-sorts
        f.write("category,92m,20m,184m\n")
        f.write("traffic,0,10,0\n")
        f.write("industry,4,1,5\n")
    store, index = read_vertical_profiles_csv(spark, p, ["category"])
    out = index.join(store, "profile_id").select(
        "category",
        F.posexplode(F.arrays_zip("heights_top_m", "ratios")).alias("pos", "z"),
    )
    return out.select(
        "category",
        "pos",
        F.col("z.heights_top_m").alias("height_top_m"),
        qd("z.ratios").alias("ratio"),
    )


SQL_VPROFILES_CSV = """
    WITH rows(category, pos, height_top_m, v) AS (VALUES
        ('traffic', 0, 20.0, 10.0), ('traffic', 1, 92.0, 0.0),
        ('traffic', 2, 184.0, 0.0),
        ('industry', 0, 20.0, 1.0), ('industry', 1, 92.0, 4.0),
        ('industry', 2, 184.0, 5.0))
    SELECT category, pos, height_top_m,
           {qd} AS ratio
    FROM rows
""".format(qd=sql_qd("v / SUM(v) OVER (PARTITION BY category)"))


def _store3(spark: SparkSession) -> DataFrame:
    """Profile store: pattern-k daily (k=0,1) + weekly (id 2).
    Pattern-k daily ratio: (pos+1+k)/(300+24k); weekly (d+1)/28."""
    rows = [
        (0, "daily", [(h + 1) / 300.0 for h in range(24)]),
        (1, "daily", [1.0 / 24] * 24),
        (2, "weekly", [(d + 1) / 28.0 for d in range(7)]),
    ]
    return local_rows_df(spark, 
        rows, schema="profile_id int, ptype string, ratios array<double>"
    )


def _daily_k(spark: SparkSession) -> DataFrame:
    """Three pattern-k daily profiles, ids 0..2."""
    return local_rows_df(spark, 
        [
            (k, "daily", [(h + 1 + k) / (300.0 + 24 * k) for h in range(24)])
            for k in range(3)
        ],
        schema="profile_id int, ptype string, ratios array<double>",
    )


# ======================================================================
# remap_profiles: carry per-cell profiles through the fine→coarse
# regrid, (emission × remap-weight)-weighted
# (reference emiproc/profiles/operators.py:571-666)
# ======================================================================
def q_remap_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.profiles import remap_profiles
    from emiproc_spark.operators.regrid import weights_rect_rect

    e = fx.emissions(spark, sf_dir)
    # integral masses: any fold order sums exactly in both engines
    mass = e.groupBy("cell_id").agg(
        F.floor(sumd("value_kg_y")).cast("double").alias("mass")
    )
    cidx = spark.range(fx.N_CELLS).select(
        F.col("id").alias("cell_id"), (F.col("id") % 3).cast("int").alias("profile_id")
    )
    w = weights_rect_rect(fx.fine_grid(spark), fx.coarse_grid(spark), tile=fx.COARSE_D)
    out = remap_profiles(cidx, _daily_k(spark), w, emissions_by_cell=mass)
    return out.select(
        "cell_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_REMAP_PROFILES = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    mass AS (
        SELECT cell_id, FLOOR({sql_sumd('value_kg_y')}) AS mass
        FROM e GROUP BY cell_id
    ),
    w AS ({fx.WEIGHTS_SQL}),
    blend AS (
        SELECT w.dst_id AS cell_id, p.pos,
               SUM(w.weight * m.mass *
                   ((p.pos + 1 + (w.src_id % 3)) / (300.0 + 24 * (w.src_id % 3))))
                   AS wr
        FROM w JOIN mass m ON w.src_id = m.cell_id
        CROSS JOIN range(24) p(pos)
        GROUP BY 1, 2
    ),
    tot AS (SELECT cell_id, SUM(wr) AS t FROM blend GROUP BY cell_id)
    SELECT b.cell_id, 'daily' AS ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.wr / t.t')} AS ratio
    FROM blend b JOIN tot t USING (cell_id)
"""


# ======================================================================
# group_profiles_indexes: category grouping applied to a
# (category, substance)-keyed profile index, emission-mass weighted
# (reference emiproc/profiles/operators.py:307-411)
# ======================================================================
GPI_ASSIGN = [
    ("A", "F", 0), ("A", "O", 2), ("N", "F", 1),
    ("N", "O", 1), ("R", "F", 0), ("R", "O", 2),
]


def q_group_profiles_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.profiles import group_profiles_indexes

    e = fx.emissions(spark, sf_dir)
    w = e.groupBy("category", "substance").agg(sumd("value_kg_y").alias("weight"))
    idx = local_rows_df(spark, 
        GPI_ASSIGN, schema="category string, substance string, profile_id int"
    )
    iw = idx.join(w, ["category", "substance"])
    out = group_profiles_indexes(iw, _store3(spark), fx.CATEGORY_GROUPS, dim="category")
    return out.select(
        "category", "substance", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_GROUP_PROFILES_INDEXES = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    w AS (
        SELECT category, substance, {sql_sumd('value_kg_y')} AS weight
        FROM e GROUP BY 1, 2
    ),
    -- grp_an/F: daily blend of pattern-0 (A,F mass) and uniform (N,F);
    -- grp_an/O: weekly (A,O only) and daily uniform (N,O only) separate
    -- by ptype; grp_r: single members pass through.
    blend AS (
        SELECT 'grp_an' AS category, 'F' AS substance, 'daily' AS ptype, p.pos,
               (wa.weight * ((p.pos + 1) / 300.0) + wn.weight * (1.0 / 24))
               / (wa.weight + wn.weight) AS val
        FROM range(24) p(pos),
             (SELECT weight FROM w WHERE category = 'A' AND substance = 'F') wa,
             (SELECT weight FROM w WHERE category = 'N' AND substance = 'F') wn
        UNION ALL
        SELECT 'grp_an', 'O', 'weekly', p.pos, (p.pos + 1) / 28.0
        FROM range(7) p(pos)
        UNION ALL
        SELECT 'grp_an', 'O', 'daily', p.pos, 1.0 / 24 FROM range(24) p(pos)
        UNION ALL
        SELECT 'grp_r', 'F', 'daily', p.pos, (p.pos + 1) / 300.0
        FROM range(24) p(pos)
        UNION ALL
        SELECT 'grp_r', 'O', 'weekly', p.pos, (p.pos + 1) / 28.0
        FROM range(7) p(pos)
    ),
    tot AS (
        SELECT category, substance, ptype, SUM(val) AS t
        FROM blend GROUP BY 1, 2, 3
    )
    SELECT b.category, b.substance, b.ptype, CAST(b.pos AS INT) AS pos,
           {sql_qd('b.val / t.t')} AS ratio
    FROM blend b JOIN tot t USING (category, substance, ptype)
"""


# ======================================================================
# merge_indexes: specificity-ordered overlay of sparse index tables
# (reference emiproc/profiles/utils.py:271-339)
# ======================================================================
def q_merge_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.profiles import merge_indexes

    e = fx.emissions(spark, sf_dir)
    keys = e.select("category", "substance").distinct()
    general = local_rows_df(spark, 
        [("A", 0), ("N", 1)], schema="category string, profile_id int"
    )
    specific = local_rows_df(spark, 
        [("A", "F", 5), ("R", "O", 7)],
        schema="category string, substance string, profile_id int",
    )
    return merge_indexes([general, specific], keys)


SQL_MERGE_INDEXES = f"""
    WITH e AS ({fx.EMISSIONS_SQL})
    SELECT DISTINCT category, substance,
           CASE
               WHEN category = 'A' AND substance = 'F' THEN 5
               WHEN category = 'R' AND substance = 'O' THEN 7
               WHEN category = 'A' THEN 0
               WHEN category = 'N' THEN 1
               ELSE -1
           END AS profile_id
    FROM e
"""


# ======================================================================
# resolve_daytype: weekday/weekend daily profiles → hour-of-week
# (reference emiproc/profiles/temporal/operators.py:345-437)
# ======================================================================
def q_resolve_daytype(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.interpolation import resolve_daytype

    day_profiles = local_rows_df(spark, 
        [
            (0, "weekday", [(h + 1) / 300.0 for h in range(24)]),
            (0, "weekend", [1.0 / 24] * 24),
            (1, "weekday", [1.0 / 24] * 24),
            (1, "weekend", [(h + 2) / 324.0 for h in range(24)]),
        ],
        schema="profile_id int, day_type string, ratios array<double>",
    )
    out = resolve_daytype(day_profiles)
    return out.select(
        "profile_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    ).withColumn("ratio", qd("ratio"))


SQL_RESOLVE_DAYTYPE = f"""
    WITH hp AS (
        SELECT pid.pid, d.dow, h.h,
               CASE
                   WHEN pid.pid = 0 AND d.dow < 5 THEN (h.h + 1) / 300.0
                   WHEN pid.pid = 0 THEN 1.0 / 24
                   WHEN d.dow < 5 THEN 1.0 / 24
                   ELSE (h.h + 2) / 324.0
               END AS val
        FROM range(2) pid(pid), range(7) d(dow), range(24) h(h)
    ),
    tot AS (SELECT pid, SUM(val) AS t FROM hp GROUP BY pid)
    SELECT CAST(hp.pid AS INT) AS profile_id, 'hour_of_week' AS ptype,
           CAST(hp.dow * 24 + hp.h AS INT) AS pos,
           {sql_qd('hp.val / tot.t')} AS ratio
    FROM hp JOIN tot USING (pid)
"""


# ======================================================================
# tz_shifted_ratios: roll daily ratios by per-region UTC offsets
# (reference emiproc/exports/icon.py:505-526)
# ======================================================================
def q_tz_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.writers import tz_shifted_ratios

    shifts = local_rows_df(spark, 
        [(r, r - 2) for r in range(6)], schema="region_id int, shift_h int"
    )
    out = tz_shifted_ratios(_daily_k(spark), shifts)
    return out.select(
        "profile_id",
        "region_id",
        F.posexplode("ratios_local").alias("pos", "ratio"),
    )


SQL_TZ_SHIFT = """
    SELECT k.k AS profile_id, CAST(r.r AS INT) AS region_id,
           CAST(p.pos AS INT) AS pos,
           ((((p.pos + r.r - 2) % 24 + 24) % 24) + 1 + k.k)
               / (300.0 + 24 * k.k) AS ratio
    FROM range(3) k(k), range(6) r(r), range(24) p(pos)
"""


# ======================================================================
# hour_of_year_to_cycles: inverse temporal resample — hourly series →
# (daily mean, weekly mean, monthly sum) cycles
# (reference emiproc/profiles/temporal/operators.py:304-318)
# ======================================================================
def q_hoy_to_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.interpolation import hour_of_year_to_cycles

    series = (
        spark.range(3)
        .select(F.col("id").alias("profile_id"))
        .crossJoin(spark.range(8760).select(F.col("id").alias("hour")))
        .withColumn(
            "sf",
            ((F.col("hour") * (F.col("profile_id") + 3)) % 97 + 1) / F.lit(49.0),
        )
    )
    out = hour_of_year_to_cycles(series, year_start_weekday=0)
    return out.withColumn("ratio", qd("ratio"))


_MONTH_CASE = (
    "CASE WHEN doy >= 334 THEN 11 WHEN doy >= 304 THEN 10 WHEN doy >= 273 THEN 9 "
    "WHEN doy >= 243 THEN 8 WHEN doy >= 212 THEN 7 WHEN doy >= 181 THEN 6 "
    "WHEN doy >= 151 THEN 5 WHEN doy >= 120 THEN 4 WHEN doy >= 90 THEN 3 "
    "WHEN doy >= 59 THEN 2 WHEN doy >= 31 THEN 1 ELSE 0 END"
)

SQL_HOY_TO_CYCLES = f"""
    WITH s AS (
        SELECT pid.pid, h.h, h.h // 24 AS doy,
               ((h.h * (pid.pid + 3)) % 97 + 1) / 49.0 AS sf
        FROM range(3) pid(pid), range(8760) h(h)
    ),
    enr AS (
        SELECT pid, sf, h % 24 AS hod, (h // 24) % 7 AS dow,
               {_MONTH_CASE} AS mon
        FROM s
    ),
    daily AS (
        SELECT pid, 'daily' AS ptype, hod AS pos, AVG(sf) AS val
        FROM enr GROUP BY 1, 3
    ),
    weekly AS (
        SELECT pid, 'weekly' AS ptype, dow AS pos, AVG(sf) AS val
        FROM enr GROUP BY 1, 3
    ),
    monthly AS (
        SELECT pid, 'monthly' AS ptype, mon AS pos, SUM(sf) AS val
        FROM enr GROUP BY 1, 3
    ),
    cyc AS (
        SELECT * FROM daily UNION ALL SELECT * FROM weekly
        UNION ALL SELECT * FROM monthly
    ),
    tot AS (SELECT pid, ptype, SUM(val) AS t FROM cyc GROUP BY 1, 2)
    SELECT c.pid AS profile_id, c.ptype, CAST(c.pos AS INT) AS pos,
           {sql_qd('c.val / t.t')} AS ratio
    FROM cyc c JOIN tot t USING (pid, ptype)
"""


# ======================================================================
# icon_oem_sf: OEM region scaling factors with UTC-shift roll
# (reference exports/icon.py:505-526)
# ======================================================================
def q_icon_oem_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.exports.icon import region_scaling_factors

    regions = local_rows_df(spark, 
        [(r, f"R{r}", r - 2) for r in range(6)],
        "region_id int, region_key string, tz_shift int",
    )
    index = local_rows_df(spark, 
        [("traffic", "NOx", r, "daily", r % 3) for r in range(6)],
        "category string, substance string, region_id int, ptype string, profile_id int",
    )
    out = region_scaling_factors(index, _daily_k(spark), regions)
    return out.select(
        "category", "substance", "region_id", "profile_id",
        F.posexplode("sf").alias("pos", "sf"),
    )


SQL_ICON_OEM_SF = """
    SELECT 'traffic' AS category, 'NOx' AS substance,
           CAST(r.r AS INT) AS region_id, CAST(r.r % 3 AS INT) AS profile_id,
           CAST(p.pos AS INT) AS pos,
           ((((p.pos + (r.r - 2)) % 24 + 24) % 24) + 1 + (r.r % 3))
               / (300.0 + 24 * (r.r % 3)) * 24 AS sf
    FROM range(6) r(r), range(24) p(pos)
"""


# ======================================================================
# add_profiles / concatenate_profiles: store union with id offset
# (reference concatenate_profiles, profiles/operators.py:35-55)
# ======================================================================
def q_add_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.composite import concatenate_profiles

    a = local_rows_df(spark, 
        [(k, "daily", [(h + 1 + k) / (300.0 + 24 * k) for h in range(24)])
         for k in range(2)],
        "profile_id int, ptype string, ratios array<double>",
    )
    b = local_rows_df(spark, 
        [(0, "weekly", [(d + 1) / 28.0 for d in range(7)]),
         (1, "daily", [1.0 / 24] * 24)],
        "profile_id int, ptype string, ratios array<double>",
    )
    merged, _offset = concatenate_profiles(a, b)
    return merged.select(
        "profile_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    )


SQL_ADD_PROFILES = """
    SELECT k.k AS profile_id, 'daily' AS ptype, CAST(p.pos AS INT) AS pos,
           (p.pos + 1 + k.k) / (300.0 + 24 * k.k) AS ratio
    FROM range(2) k(k), range(24) p(pos)
    UNION ALL
    SELECT 2, 'weekly', CAST(p.pos AS INT), (p.pos + 1) / 28.0 FROM range(7) p(pos)
    UNION ALL
    SELECT 3, 'daily', CAST(p.pos AS INT), 1.0 / 24 FROM range(24) p(pos)
"""


# ======================================================================
# broadcast_to_types: widen composites to a common type set, −1 fill
# (reference CompositeTemporalProfiles.broadcast, composite.py:230-372)
# ======================================================================
def q_broadcast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.composite import broadcast_to_types

    composite = local_rows_df(spark, 
        [(0, "daily", 4), (0, "weekly", 5), (1, "daily", 6), (2, "monthly", 7)],
        "comp_id int, ptype string, profile_id int",
    )
    return broadcast_to_types(composite, ["daily", "weekly", "monthly"])


SQL_BROADCAST_TYPES = """
    WITH comps AS (SELECT c AS comp_id FROM range(3) t(c)),
    types(ptype) AS (VALUES ('daily'), ('weekly'), ('monthly')),
    assigned(comp_id, ptype, profile_id) AS (
        VALUES (0, 'daily', 4), (0, 'weekly', 5), (1, 'daily', 6), (2, 'monthly', 7)
    )
    SELECT CAST(c.comp_id AS INT) AS comp_id, t.ptype,
           CAST(COALESCE(a.profile_id, -1) AS INT) AS profile_id
    FROM comps c CROSS JOIN types t
    LEFT JOIN assigned a ON a.comp_id = c.comp_id AND a.ptype = t.ptype
"""


def _ntz(ev: DataFrame) -> DataFrame:
    """epoch-nanos ``ts`` → ``ts_ntz`` via integer day/second splitting.

    Day extraction uses integral ``div`` — a double division of the
    ~1e18 nanos value carries ~1e-12 relative error, enough to land one
    ulp below an exact day boundary and truncate to the previous day for
    some date ranges.  ns-of-day < 2**53 so its double path is exact.
    """
    ns_of_day = F.col("ts") % F.lit(NS_PER_DAY)
    epoch_day = F.expr(f"ts div {NS_PER_DAY}L").cast("int")
    sec_of_day = (ns_of_day / F.lit(10**9)).cast("long")
    return ev.withColumn(
        "ts_ntz",
        F.date_from_unix_date(epoch_day).cast("timestamp_ntz")
        + F.make_interval(secs=sec_of_day),
    )


# ======================================================================
# all distinct cyclic position types on one event stream (reference
# get_index_in_profile, profiles/temporal/operators.py:49-94)
# ======================================================================
POSITION_TYPES = [
    "daily",
    "weekly",
    "monthly",
    "day_of_year",
    "hour_of_year",
    "hour_of_week",
    "hour3_of_day",
    "hour3_of_day_per_month",
    "hour_of_week_per_month",
]


def q_profile_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ntz(_events(spark, sf_dir).select("event_id", "ts"))
    cols = [
        tp.position_in_profile(F.col("ts_ntz"), t).cast("int").alias(f"pos_{t}")
        for t in POSITION_TYPES
    ]
    return ev.select("event_id", *cols)


SQL_PROFILE_POSITIONS = """
    WITH e AS (
        SELECT event_id,
               make_timestamp(CAST(FLOOR(epoch_ns(ts) / 1000.0) AS BIGINT)) AS t
        FROM events
    )
    SELECT event_id,
           CAST(hour(t) AS INT) AS pos_daily,
           CAST(isodow(t) - 1 AS INT) AS pos_weekly,
           CAST(month(t) - 1 AS INT) AS pos_monthly,
           CAST(dayofyear(t) - 1 AS INT) AS pos_day_of_year,
           CAST((dayofyear(t) - 1) * 24 + hour(t) AS INT) AS pos_hour_of_year,
           CAST((isodow(t) - 1) * 24 + hour(t) AS INT) AS pos_hour_of_week,
           CAST(hour(t) // 3 AS INT) AS pos_hour3_of_day,
           CAST(hour(t) // 3 + (month(t) - 1) * 8 AS INT)
               AS pos_hour3_of_day_per_month,
           CAST((isodow(t) - 1) * 24 + hour(t) + (month(t) - 1) * 168 AS INT)
               AS pos_hour_of_week_per_month
    FROM e
"""


# ======================================================================
# tz-aware local-time scaling factors (reference
# create_scaling_factors_time_serie, operators.py:443-485)
# ======================================================================
TZS = ["UTC", "Europe/Zurich", "America/New_York", "Asia/Tokyo"]
# daily ratio vector r_h = (h+1)/300 (sums to 1); sf = r[pos]·24
_RATIOS = [(h + 1) / 300.0 for h in range(24)]


def q_local_time_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ntz(_events(spark, sf_dir).select("event_id", "ts", "user_id"))
    ev = ev.withColumn(
        "tz",
        F.element_at(
            F.array(*[F.lit(z) for z in TZS]),
            (F.col("user_id") % 4 + 1).cast("int"),
        ),
    )
    ratios = F.array(*[F.lit(r) for r in _RATIOS])
    out = tp.local_scaling_series(ev, ratios, "daily")
    return out.select("event_id", "tz", "pos_local", qd("sf").alias("sf"))


_SQL_TZ_CASE = (
    "CASE CAST(user_id % 4 AS INT) "
    + " ".join(f"WHEN {i} THEN '{z}'" for i, z in enumerate(TZS))
    + " END"
)

SQL_LOCAL_TIME_SF = f"""
    WITH e AS (
        SELECT event_id, {_SQL_TZ_CASE} AS tz,
               make_timestamp(CAST(FLOOR(epoch_ns(ts) / 1000.0) AS BIGINT)) AS t
        FROM events
    ),
    loc AS (
        SELECT event_id, tz,
               CAST(hour(timezone(tz, timezone('UTC', t))) AS INT) AS pos_local
        FROM e
    )
    SELECT event_id, tz, pos_local,
           {sql_qd('(pos_local + 1) / 300.0 * 24')} AS sf
    FROM loc
"""


# ======================================================================
# profile weights with the −1 → weight 0 rule (reference
# get_weights_of_gdf_profiles, profiles/operators.py:253-304)
# ======================================================================
def q_profile_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-quantized per-(cell, category) mass so the weight entering the
    # masking rule is engine-independent
    e = (
        fx.emissions(spark, sf_dir)
        .groupBy("cell_id", "category")
        .agg(sumd("value_kg_y").alias("value_kg_y"))
    )
    w = get_weights_of_profiles(e, ["cell_id", "category"])
    idx = e.select(
        "cell_id",
        "category",
        ((F.col("cell_id") + F.length("category")) % 5 - 1).alias("profile_id"),
    )
    return w.join(idx, ["cell_id", "category"]).select(
        "cell_id",
        "category",
        F.col("profile_id").cast("int").alias("profile_id"),
        F.when(F.col("profile_id") == -1, F.lit(0.0))
        .otherwise(F.col("weight"))
        .alias("weight"),
    )


SQL_PROFILE_WEIGHTS = f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    w AS (
        SELECT cell_id, category, {sql_sumd('value_kg_y')} AS weight
        FROM e GROUP BY 1, 2
    )
    SELECT cell_id, category,
           CAST((cell_id + len(category)) % 5 - 1 AS INT) AS profile_id,
           CASE WHEN (cell_id + len(category)) % 5 - 1 = -1
                THEN 0.0 ELSE weight END AS weight
    FROM w
"""


# ======================================================================
# normalize_ratios incl. the all-zero → uniform rule (reference
# rescale_ratios, composite.py:29-45)
# ======================================================================
def q_normalize_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.profiles import normalize_ratios

    base = fx.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("profile_id"),
        F.array(
            (F.col("n_nationkey") % 5).cast("double"),
            (F.col("n_nationkey") % 3).cast("double"),
            F.lit(0.0),
            (F.col("n_nationkey") % 7).cast("double"),
        ).alias("ratios"),
    )
    out = base.select(
        "profile_id", F.posexplode(normalize_ratios(F.col("ratios"))).alias("pos", "ratio")
    )
    return out.select("profile_id", "pos", qd("ratio").alias("ratio"))


SQL_NORMALIZE_RATIOS = f"""
    WITH base AS (
        SELECT n_nationkey AS profile_id,
               [CAST(n_nationkey % 5 AS DOUBLE), CAST(n_nationkey % 3 AS DOUBLE),
                0.0, CAST(n_nationkey % 7 AS DOUBLE)] AS ratios,
               CAST(n_nationkey % 5 AS DOUBLE) + CAST(n_nationkey % 3 AS DOUBLE)
                   + 0.0 + CAST(n_nationkey % 7 AS DOUBLE) AS total
        FROM nation
    )
    SELECT profile_id, CAST(u.i - 1 AS INT) AS pos,
           {sql_qd('CASE WHEN total = 0.0 THEN 0.25 ELSE ratios[u.i] / total END')}
               AS ratio
    FROM base, UNNEST(range(1, 5)) u(i)
"""


# ======================================================================
# midpoint-stamped profile series (reference get_profile_da,
# profiles/temporal/operators.py:152-235)
# ======================================================================
def q_profile_da(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.interpolation import profile_da

    prof = local_rows_df(spark, 
        [(0, [(h + 1) / 300.0 for h in range(24)])],
        schema="profile_id int, ratios array<double>",
    )
    return profile_da(prof, 2024, "daily")


# daily profile over leap 2024: stamps k = −1 .. 8784 (prepended point
# + inclusive year-end), pos = hour of the UN-offset stamp, emitted ts
# carries the +30 min midpoint offset
SQL_PROFILE_DA = """
    SELECT 0 AS profile_id,
           TIMESTAMP '2024-01-01' + k * INTERVAL 1 HOUR + INTERVAL 30 MINUTE AS ts,
           CAST(EXTRACT(hour FROM TIMESTAMP '2024-01-01' + k * INTERVAL 1 HOUR) AS INT) AS pos,
           (CAST(EXTRACT(hour FROM TIMESTAMP '2024-01-01' + k * INTERVAL 1 HOUR) AS INT) + 1) / 300.0 AS ratio
    FROM range(-1, 8785) t(k)
"""


# ======================================================================
# calendar rule (reference get_day_per_year, emiproc/utilities.py:38-46)
# ======================================================================
def q_days_in_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.temporal import days_in_year

    return spark.range(1896, 2125).select(
        F.col("id").cast("int").alias("year"),
        days_in_year(F.col("id")).alias("days"),
    )


# span includes the 1900/2000/2100 century cases of the Gregorian rule
SQL_DAYS_IN_YEAR = """
    SELECT CAST(y AS INT) AS year,
           CASE WHEN (y % 4 = 0 AND y % 100 <> 0) OR y % 400 = 0
                THEN 366 ELSE 365 END AS days
    FROM range(1896, 2125) t(y)
"""


# ======================================================================
# YAML profile definitions (reference profiles/temporal/io.py:211-306):
# write → read → normalized dedup store.  Ratios are dyadic rationals
# ((k+1)/16, /8, /4) whose double sums are exact in ANY fold order, so
# normalization is bit-identical with no quantizer.
# ======================================================================
def q_profiles_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full write→read round-trip: profiles_to_yaml dumps the raw ratio
    lists (reference to_yaml dumps profile.ratios verbatim), then
    profiles_from_yaml reads + normalizes them into the dedup store."""
    import os

    from emiproc_spark.sources.profiles_io import (
        profiles_from_yaml,
        profiles_to_yaml,
    )

    path = os.path.join(fx.scratch_dir("emiproc_yaml_"), "prof.yaml")
    prof = local_rows_df(spark, 
        [
            ("daily", [(h + 1) / 16.0 for h in range(24)]),
            ("weekly", [(d + 1) / 8.0 for d in range(7)]),
            ("monthly", [(m + 1) / 4.0 for m in range(12)]),
        ],
        schema="ptype string, ratios array<double>",
    )
    profiles_to_yaml(prof, path)
    store, _index = profiles_from_yaml(spark, path)
    return store.select(
        "profile_id", "ptype", F.posexplode("ratios").alias("pos", "ratio")
    )


# ids are the lexicographic rank of (ptype, ratios): daily < monthly <
# weekly.  Sums: 24 terms/16 → 18.75, 12/4 → 19.5, 7/8 → 3.5 (exact).
SQL_PROFILES_YAML = """
    SELECT 0 AS profile_id, 'daily' AS ptype, CAST(p.pos AS INT) AS pos,
           ((p.pos + 1) / 16.0) / 18.75 AS ratio
    FROM range(24) p(pos)
    UNION ALL
    SELECT 1, 'monthly', CAST(p.pos AS INT), ((p.pos + 1) / 4.0) / 19.5
    FROM range(12) p(pos)
    UNION ALL
    SELECT 2, 'weekly', CAST(p.pos AS INT), ((p.pos + 1) / 8.0) / 3.5
    FROM range(7) p(pos)
"""


# ======================================================================
# edgar_profiles — EDGAR auxiliary weekly + hour-of-week-per-month
# composite profiles (reference emiproc/inventories/edgar/temporal.py)
# ======================================================================
def _write_edgar_aux(d: str) -> None:
    """Reference-format fixture: AAA uses weekend type 0 (Sat/Sun),
    SEA type 2 (Fri/Sat); hourly value = daytype*48 + hour so the
    oracle recomputes every position in closed form."""
    with open(os.path.join(d, "weekly_profiles.csv"), "w") as f:
        f.write("Country_code_A3,activity_code,Weekday_id,daily_factor\n")
        for c in ("AAA", "SEA"):
            for cat in ("ENE", "IND"):
                for w in range(1, 8):
                    f.write(f"{c},{cat},{w},{w if cat == 'ENE' else 1}\n")
    with open(os.path.join(d, "hourly_profiles.csv"), "w") as f:
        f.write(
            "Country_code_A3,activity_code,month_id,Daytype_id,"
            + ",".join(f"h{i}" for i in range(1, 25))
            + "\n"
        )
        for c in ("AAA", "SEA"):
            for cat in ("ENE", "IND"):
                for m in range(1, 13):
                    for dt in (1, 2, 3):
                        vals = ",".join(str(dt * 48 + h) for h in range(1, 25))
                        f.write(f"{c},{cat},{m},{dt},{vals}\n")
    with open(os.path.join(d, "weekenddays.csv"), "w") as f:
        f.write("Weekend_type_id;Country_code_A3\n0;AAA\n2;SEA\n")
    with open(os.path.join(d, "weekdays.csv"), "w") as f:
        f.write("Weekend_type_id;weekday_name;Weekday_id;Daytype_id\n")
        for wt, dts in ((0, [1, 1, 1, 1, 1, 2, 3]), (2, [1, 1, 1, 1, 2, 3, 3])):
            for w, dt in enumerate(dts, start=1):
                f.write(f"{wt};day{w};{w};{dt}\n")


def q_edgar_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGAR auxiliary tables → composite profile store + index, long
    form.  Exercises the weekend-type day-type placement, SEA → -99,
    the country alias fan-out and the 3-letter category-prefix
    fallback (reference emiproc/inventories/edgar/temporal.py:62-259)."""
    from emiproc_spark.sources.edgar_profiles import edgar_auxiliary_profiles

    d = fx.scratch_dir("emiproc_edgar_aux_")
    _write_edgar_aux(d)
    store, index = edgar_auxiliary_profiles(
        spark,
        d,
        inv_categories=["ENE", "INDZZZ"],
        country_aliases={"BBB": "AAA"},
    )
    return (
        index.join(store, "profile_id")
        .select(
            "country",
            "category",
            "ptype",
            F.posexplode("ratios").alias("pos", "ratio"),
        )
        .withColumn("ratio", qd("ratio"))
    )


SQL_EDGAR_PROFILES = """
    WITH c(country, wt) AS (VALUES ('AAA', 0), ('-99', 2), ('BBB', 0)),
    cat(category) AS (VALUES ('ENE'), ('INDZZZ')),
    wk AS (
        SELECT country, category, 'weekly' AS ptype, t.pos,
               CASE WHEN category = 'ENE'
                    THEN CAST(t.pos + 1 AS DOUBLE) / 28.0
                    ELSE 1.0 / 7.0 END AS ratio
        FROM c, cat, UNNEST(range(7)) AS t(pos)
    ),
    hp_raw AS (
        SELECT country, category, t.pos,
               CASE WHEN wt = 0
                    THEN CASE WHEN (t.pos % 168) // 24 <= 4 THEN 1
                              WHEN (t.pos % 168) // 24 = 5 THEN 2
                              ELSE 3 END
                    ELSE CASE WHEN (t.pos % 168) // 24 <= 3 THEN 1
                              WHEN (t.pos % 168) // 24 = 4 THEN 2
                              ELSE 3 END
               END * 48 + (t.pos % 24) + 1 AS v
        FROM c, cat, UNNEST(range(2016)) AS t(pos)
    ),
    hp AS (
        SELECT country, category, 'hour_of_week_per_month' AS ptype, pos,
               CAST(v AS DOUBLE)
               / SUM(CAST(v AS DOUBLE)) OVER (PARTITION BY country, category)
               AS ratio
        FROM hp_raw
    )
    SELECT country, category, ptype, CAST(pos AS INT) AS pos,
           {qd} AS ratio
    FROM (SELECT * FROM wk UNION ALL SELECT * FROM hp)
""".format(qd=sql_qd("ratio"))


# ======================================================================
# temporal_expand_cell — annual→hourly with CELL-keyed profiles (the
# post-country_to_cells path the dimension-indexed expansion rejects)
# ======================================================================
def q_temporal_expand_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """country profiles → per-cell blend (0.6/0.4 fractions, same
    fixture as `country_to_cells`) → cell-wise hourly expansion of the
    emissions table, aggregated per (category, substance, hour)."""
    from emiproc_spark import fixtures as fx
    from emiproc_spark.operators.profiles import country_to_cells
    from emiproc_spark.operators.temporal import temporally_scaled_cellwise
    from emiproc_spark.qhelpers import sumd

    cidx = local_rows_df(spark, 
        [("C0", 0), ("C1", 1), ("C2", 2)], schema="country string, profile_id int"
    )
    store = local_rows_df(spark, 
        [(k, "daily", _daily_ratios(k)) for k in range(3)],
        schema="profile_id int, ptype string, ratios array<double>",
    )
    cc = (
        spark.range(fx.N_CELLS)
        .select(
            F.col("id").alias("cell_id"),
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("C"), (F.col("id") % 3)).alias("country"),
                        F.lit(0.6).alias("fraction"),
                    ),
                    F.struct(
                        F.concat(F.lit("C"), ((F.col("id") + 1) % 3)).alias("country"),
                        F.lit(0.4).alias("fraction"),
                    ),
                )
            ).alias("cf"),
        )
        .select("cell_id", "cf.country", "cf.fraction")
    )
    cell_profiles = country_to_cells(cidx, store, cc)
    hourly = temporally_scaled_cellwise(
        fx.emissions(spark, sf_dir), cell_profiles,
        "2024-01-02 00:00:00", 24, year_hours=8760,
    )
    return hourly.groupBy("category", "substance", "hour_index").agg(
        sumd("value_kg_h").alias("value_kg_h")
    )


def _sql_temporal_expand_cell() -> str:
    from emiproc_spark import fixtures as fx
    from emiproc_spark.qhelpers import sql_sumd

    return f"""
    WITH e AS ({fx.EMISSIONS_SQL}),
    cells AS (SELECT c AS cell_id FROM range({fx.N_CELLS}) t(c)),
    blend AS (
        SELECT cell_id, p.pos,
               0.6 * ((p.pos + 1 + (cell_id % 3)) / (300.0 + 24 * (cell_id % 3)))
             + 0.4 * ((p.pos + 1 + ((cell_id + 1) % 3)) / (300.0 + 24 * ((cell_id + 1) % 3)))
               AS wr
        FROM cells CROSS JOIN range(24) p(pos)
    ),
    tot AS (SELECT cell_id, SUM(wr) AS total FROM blend GROUP BY 1),
    cellsf AS (
        SELECT b.cell_id, b.pos, (b.wr / t.total) * 24 AS sf
        FROM blend b JOIN tot t USING (cell_id)
    ),
    h AS (SELECT hh AS hour_index, hh % 24 AS pos FROM range(24) t(hh))
    SELECT e.category, e.substance, h.hour_index,
           {sql_sumd('e.value_kg_y / 8760.0 * cf.sf')} AS value_kg_h
    FROM e
    JOIN h ON TRUE
    JOIN cellsf cf ON cf.cell_id = e.cell_id AND cf.pos = h.pos
    GROUP BY 1, 2, 3
    """


# ======================================================================
# oem_profiles_export — the full export_inventory_profiles composition
# (OEM per-cycle files + tz_mask raster) read back from disk
# ======================================================================
def q_oem_profiles_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4×4 grid, UTC/CET checkerboard by latitude row, one daily
    profile: the hourofday matrix carries the tz-rolled scaling factors
    (regions sorted by tzid: CET=0 shift +1, UTC=1 shift 0) and tz_mask
    holds the region index per raster cell."""
    from emiproc_spark.exports.icon import export_inventory_profiles
    from emiproc_spark.functions.netcdf3 import read_netcdf
    from emiproc_spark.grids import regular_grid

    index = local_rows_df(spark, 
        [("A", "F", "daily", 0)],
        "category string, substance string, ptype string, profile_id int",
    )
    store = local_rows_df(spark, 
        [(0, "daily", [(h + 1) / 300.0 for h in range(24)])],
        "profile_id int, ptype string, ratios array<double>",
    )
    grid = regular_grid(spark, 0.0, 0.0, 4, 4, 1.0, 1.0, with_geometry=False)
    cell_tz = grid.select(
        "cell_id",
        F.when(F.col("cell_id") % 2 == 0, "UTC").otherwise("CET").alias("tzid"),
    )
    d = fx.scratch_dir("emiproc_oem_")
    out = export_inventory_profiles(
        index, store, cell_tz, grid, d, tz_shifts={"CET": 1}
    )
    hod = read_netcdf(out["hourofday"]).variables["A_F"].data
    tzm = read_netcdf(out["tz_mask"]).variables["tz_mask"].data
    rows = [
        ("sf", int(r), int(h), float(hod[h, r]))
        for h in range(hod.shape[0])
        for r in range(hod.shape[1])
    ] + [
        ("tz", -1, int(p), float(v))
        for p, v in enumerate(tzm.reshape(-1))
    ]
    return local_rows_df(spark, 
        rows, "kind string, region int, pos int, value double"
    ).withColumn("value", qd("value"))


SQL_OEM_PROFILES_EXPORT = """
    SELECT 'sf' AS kind, CAST(r.r AS INT) AS region, CAST(p.pos AS INT) AS pos,
           {qd_sf} AS value
    FROM range(2) r(r), range(24) p(pos)
    UNION ALL
    SELECT 'tz', -1, CAST(t.p AS INT),
           CASE WHEN (t.p // 4) % 2 = 0 THEN 1.0 ELSE 0.0 END
    FROM range(16) t(p)
""".format(
    qd_sf=sql_qd(
        "((p.pos + CASE WHEN r.r = 0 THEN 1 ELSE 0 END) % 24 + 1) / 300.0 * 24"
    )
)


# ======================================================================
# profile_index_wildcard — CSV wildcard fallback (profiles/utils.py:228-238)
# ======================================================================
def q_profile_index_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.temporal import attach_profiles
    from emiproc_spark.sources.profiles_io import read_temporal_profiles_csv

    # integer period values: the normalization total is an exact double,
    # so every ratio is bit-identical int/total in both engines
    path = os.path.join(fx.scratch_dir("emiproc_wildidx_"), "tprof.csv")
    rows = [
        "category,substance," + ",".join(f"h{h}" for h in range(24)),
        "heat,CO2," + ",".join(str(h + 1) for h in range(24)),          # specific
        "heat,," + ",".join(str(25 - h) for h in range(24)),            # (cat, ·)
        ",CH4," + ",".join("1" for _ in range(24)),                     # (·, sub)
        ",," + ",".join(str(h % 2 + 1) for h in range(24)),             # (·, ·)
    ]
    with open(path, "w") as f:
        f.write("\n".join(rows) + "\n")
    store, index = read_temporal_profiles_csv(
        spark, path, ["category", "substance"]
    )
    facts = local_rows_df(spark, 
        [
            (c, s, 1.0)
            for c in ("heat", "traffic")
            for s in ("CO2", "CH4", "N2O")
        ],
        schema="category string, substance string, value_kg_y double",
    )
    att = attach_profiles(facts, index, store)
    return att.select(
        "category", "substance", F.explode("__profs").alias("p")
    ).select(
        "category",
        "substance",
        F.posexplode("p.ratios").alias("pos", "ratio"),
    )


# specificity: (cat,sub) > (cat,·) > (·,sub) > (·,·); totals 300/324/24/36
SQL_PROFILE_INDEX_WILDCARD = """
    WITH f AS (
        SELECT c.category, s.substance
        FROM (VALUES ('heat'), ('traffic')) c(category),
             (VALUES ('CO2'), ('CH4'), ('N2O')) s(substance)
    )
    SELECT f.category, f.substance, CAST(h.h AS INT) AS pos,
           CASE
               WHEN f.category = 'heat' AND f.substance = 'CO2'
                   THEN (h.h + 1) / 300.0
               WHEN f.category = 'heat' THEN (25 - h.h) / 324.0
               WHEN f.substance = 'CH4' THEN 1 / 24.0
               ELSE (h.h % 2 + 1) / 36.0
           END AS ratio
    FROM f, range(24) h(h)
"""


# ======================================================================
# specific_days — ensure_specific_days_consistency (temporal/utils.py:36-97)
# ======================================================================
# length-3 marker ratios: [c, 2c, 3c]; passed through unchanged
_SD_C = {"w4": 0.125, "we": 0.25, "sat": 0.5, "wk": 0.0625, "g0": 2.0, "g1": 4.0}


def q_specific_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.composite import ensure_specific_days_consistency

    def mk(c: float) -> list[float]:
        return [c, 2 * c, 3 * c]

    prof = local_rows_df(spark, 
        [
            (0, "weekday_4", mk(_SD_C["w4"])),
            (0, "weekend", mk(_SD_C["we"])),
            (0, "saturday", mk(_SD_C["sat"])),
            (1, "weekday", mk(_SD_C["wk"])),
        ],
        schema="profile_id int, day_type string, ratios array<double>",
    )
    general = local_rows_df(spark, 
        [(0, mk(_SD_C["g0"])), (1, mk(_SD_C["g1"]))],
        schema="profile_id int, ratios array<double>",
    )
    out = ensure_specific_days_consistency(prof, general)
    return out.select(
        "profile_id", "dow", F.posexplode("ratios").alias("pos", "ratio")
    )


# pid 0: dow 0-3 weekday_4, dow 4 gap→general, dow 5 saturday (beats
# weekend), dow 6 weekend; pid 1: dow 0-4 weekday, dow 5-6 gap→general
SQL_SPECIFIC_DAYS = f"""
    WITH base AS (
        SELECT p.pid, d.dow,
               CASE
                   WHEN p.pid = 0 AND d.dow <= 3 THEN {_SD_C['w4']}
                   WHEN p.pid = 0 AND d.dow = 4 THEN {_SD_C['g0']}
                   WHEN p.pid = 0 AND d.dow = 5 THEN {_SD_C['sat']}
                   WHEN p.pid = 0 THEN {_SD_C['we']}
                   WHEN d.dow <= 4 THEN {_SD_C['wk']}
                   ELSE {_SD_C['g1']}
               END AS c
        FROM range(2) p(pid), range(7) d(dow)
    )
    SELECT CAST(pid AS INT) AS profile_id, CAST(dow AS INT) AS dow,
           CAST(k.k AS INT) AS pos, c * (k.k + 1) AS ratio
    FROM base, range(3) k(k)
"""


# ======================================================================
# profile_validity — check_valid_profiles (profiles/utils.py:54-92)
# ======================================================================
_VALIDITY_ROWS = [
    (0, [0.5, 0.25, 0.25]),     # valid
    (1, [0.5, 0.25, 0.5]),      # sum 1.25
    (2, [1.5, -0.25, -0.25]),   # sum 1.0 but negative entries
    (3, [0.125, 0.375, 0.5]),   # valid
    (4, [0.25, 0.25, 0.25]),    # sum 0.75
]


def q_profile_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.composite import check_valid_profiles

    prof = local_rows_df(spark, 
        [(i, "daily", r) for i, r in _VALIDITY_ROWS],
        schema="profile_id int, ptype string, ratios array<double>",
    )
    return check_valid_profiles(prof).select("profile_id", "ratio_sum")


def _sql_profile_validity() -> str:
    vals = ", ".join(
        f"({i}, {r[0]}, {r[1]}, {r[2]})" for i, r in _VALIDITY_ROWS
    )
    return f"""
        SELECT profile_id, a + b + c AS ratio_sum
        FROM (VALUES {vals}) t(profile_id, a, b, c)
        WHERE a < 0 OR b < 0 OR c < 0 OR ABS(a + b + c - 1.0) > 1e-6
    """


# ======================================================================
# specific_day_sf — SpecificDayProfile in a composite product: off-days
# contribute factor 1.0, the profile's own days ratio·24 (reference
# get_scaling_factors_at_time, temporal/operators.py:120-144, the
# where(index≠−1, 1.0)).  Same exp(Σlog)+quantize convention as
# composite_scaling.
# ======================================================================
def q_specific_day_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.temporal import scaling_factor_at, time_scaffold

    subs = local_rows_df(spark, 
        [
            (0, "daily_saturday", _daily_ratios(0)),
            (0, "weekly", WEEKLY_RATIOS),
        ],
        schema="comp_id int, ptype string, ratios array<double>",
    )
    hours = time_scaffold(subs, "2024-01-01 00:00:00", 168)  # Monday start
    per_type = hours.crossJoin(F.broadcast(subs)).withColumn(
        "sf1", scaling_factor_at(F.col("ts"), F.col("ptype"), F.col("ratios"))
    )
    return (
        per_type.groupBy("comp_id", "hour_index")
        .agg(F.exp(F.sum(F.log("sf1"))).alias("sf"))
        .select("comp_id", "hour_index", qd("sf").alias("sf"))
    )


SQL_SPECIFIC_DAY_SF = f"""
    SELECT 0 AS comp_id, h AS hour_index,
           {sql_qd(
               "EXP(CASE WHEN (h // 24) % 7 = 5 "
               "THEN LN(((h % 24) + 1) / 300.0 * 24) ELSE 0 END "
               "+ LN((((h // 24) % 7) + 1) / 28.0 * 7))"
           )} AS sf
    FROM range(168) t(h)
"""


# ======================================================================
# ratio_gate — profile rows must sum to 1 (exact tick arithmetic)
# ======================================================================

def q_ratio_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emiproc_spark.operators.quality import ratio_sum_gate

    ev = fx.events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        ((F.col("ts") / F.lit(NS_PER_HOUR)).cast("long") % 24)
        .cast("int")
        .alias("hour_of_day"),
    ).agg(F.count("*").alias("c"))
    totals = hourly.groupBy("event_type").agg(F.sum("c").alias("ct"))
    ratios = hourly.join(totals, "event_type").select(
        F.col("event_type").alias("grp"),
        (F.col("c") / F.col("ct")).alias("ratio"),
    )
    broken = local_rows_df(spark, 
        [("__broken", 0.5), ("__broken", 0.4)], "grp string, ratio double"
    )
    return ratio_sum_gate(ratios.unionByName(broken), ["grp"], "ratio")


SQL_RATIO_GATE = f"""
    WITH h AS (
        SELECT event_type,
               CAST(FLOOR(epoch_ns(ts) / {NS_PER_HOUR}.0) AS BIGINT) % 24
                   AS hour_of_day,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT event_type, SUM(c) AS ct FROM h GROUP BY event_type),
    r AS (
        SELECT h.event_type AS grp,
               CAST(c AS DOUBLE) / CAST(ct AS DOUBLE) AS ratio
        FROM h JOIN t USING (event_type)
        UNION ALL SELECT '__broken', 0.5
        UNION ALL SELECT '__broken', 0.4
    ),
    g AS (
        SELECT grp,
               SUM(CAST(FLOOR(ratio * 1e9 + 0.5) AS BIGINT)) AS s
        FROM r GROUP BY grp
    )
    SELECT 'ratio_sum_1' AS relation, COUNT(*) AS n_groups,
           CAST(COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END)
                AS BIGINT) AS n_violations,
           COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END) = 0 AS pass
    FROM g
"""


# ======================================================================
# hourly_gate — the default-on profile gate of the hourly export paths
# ======================================================================
def q_hourly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pipelines.temporal_profile_gates`` over the shared temporal
    profile fixtures (the ones ``temporal_expand`` expands with) plus a
    planted profile summing to 23/24 + 0.5 — the exact frame
    ``tno_to_hourly`` / ``edgar_to_hourly`` / ``tno_to_icon`` enforce
    before fanning the fact table out over hours."""
    from emiproc_spark import pipelines
    from emiproc_spark.core.schemas import TPROFILE

    profs = _test_tprofiles(spark)
    broken = local_rows_df(spark, 
        [(99, "daily", [1.0 / 24] * 23 + [0.5])], schema=TPROFILE
    )
    return pipelines.temporal_profile_gates(profs.unionByName(broken))


SQL_HOURLY_GATE = """
    WITH profs AS (
        SELECT 0 AS profile_id, 'daily' AS ptype, (h + 1) / 300.0 AS ratio
        FROM UNNEST(range(24)) AS t(h)
        UNION ALL
        SELECT 1, 'daily', 1.0 / 24.0 FROM UNNEST(range(24)) AS t(h)
        UNION ALL
        SELECT 2, 'weekly', (d + 1) / 28.0 FROM UNNEST(range(7)) AS t(d)
        UNION ALL
        SELECT 99, 'daily',
               CASE WHEN h < 23 THEN 1.0 / 24.0 ELSE 0.5 END
        FROM UNNEST(range(24)) AS t(h)
    ),
    g AS (
        SELECT profile_id, ptype,
               SUM(CAST(FLOOR(ratio * 1e9 + 0.5) AS BIGINT)) AS s
        FROM profs GROUP BY 1, 2
    )
    SELECT 'temporal_profile_ratio_sum' AS relation,
           COUNT(*) AS n_groups,
           CAST(COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END)
                AS BIGINT) AS n_violations,
           COUNT(CASE WHEN ABS(s - 1000000000) > 32 THEN 1 END) = 0 AS pass
    FROM g
"""


QUERIES = {
    "events_hourly_profile": (q_events_hourly_profile, SQL_EVENTS_HOURLY_PROFILE),
    "temporal_expand": (q_temporal_expand, SQL_TEMPORAL_EXPAND),
    "profiles_combine": (q_profiles_combine, SQL_PROFILES_COMBINE),
    "country_to_cells": (q_country_to_cells, SQL_COUNTRY_TO_CELLS),
    "profiles_dedup": (q_profiles_dedup, SQL_PROFILES_DEDUP),
    "vertical_rebin": (q_vertical_rebin, SQL_VERTICAL_REBIN),
    "hdd_factors": (q_hdd_factors, SQL_HDD_FACTORS),
    "composite_scaling": (q_composite_scaling, SQL_COMPOSITE_SCALING),
    "interpolate_profiles": (q_interpolate_profiles, SQL_INTERPOLATE_PROFILES),
    "tno_profiles": (q_tno_profiles, SQL_TNO_PROFILES),
    "tprofiles_csv": (q_tprofiles_csv, SQL_TPROFILES_CSV),
    "vprofiles_csv": (q_vprofiles_csv, SQL_VPROFILES_CSV),
    "remap_profiles": (q_remap_profiles, SQL_REMAP_PROFILES),
    "group_profiles_indexes": (q_group_profiles_indexes, SQL_GROUP_PROFILES_INDEXES),
    "merge_indexes": (q_merge_indexes, SQL_MERGE_INDEXES),
    "resolve_daytype": (q_resolve_daytype, SQL_RESOLVE_DAYTYPE),
    "tz_shift": (q_tz_shift, SQL_TZ_SHIFT),
    "hoy_to_cycles": (q_hoy_to_cycles, SQL_HOY_TO_CYCLES),
    "icon_oem_sf": (q_icon_oem_sf, SQL_ICON_OEM_SF),
    "add_profiles": (q_add_profiles, SQL_ADD_PROFILES),
    "broadcast_types": (q_broadcast_types, SQL_BROADCAST_TYPES),
    "profile_positions": (q_profile_positions, SQL_PROFILE_POSITIONS),
    "local_time_sf": (q_local_time_sf, SQL_LOCAL_TIME_SF),
    "profile_weights": (q_profile_weights, SQL_PROFILE_WEIGHTS),
    "normalize_ratios": (q_normalize_ratios, SQL_NORMALIZE_RATIOS),
    "profile_da": (q_profile_da, SQL_PROFILE_DA),
    "days_in_year": (q_days_in_year, SQL_DAYS_IN_YEAR),
    "profiles_yaml": (q_profiles_yaml, SQL_PROFILES_YAML),
    "edgar_profiles": (q_edgar_profiles, SQL_EDGAR_PROFILES),
    "oem_profiles_export": (q_oem_profiles_export, SQL_OEM_PROFILES_EXPORT),
    "temporal_expand_cell": (q_temporal_expand_cell, _sql_temporal_expand_cell()),
    "profile_index_wildcard": (q_profile_index_wildcard, SQL_PROFILE_INDEX_WILDCARD),
    "specific_days": (q_specific_days, SQL_SPECIFIC_DAYS),
    "profile_validity": (q_profile_validity, _sql_profile_validity()),
    "specific_day_sf": (q_specific_day_sf, SQL_SPECIFIC_DAY_SF),
    "ratio_gate": (q_ratio_gate, SQL_RATIO_GATE),
    "hourly_gate": (q_hourly_gate, SQL_HOURLY_GATE),
}

try:  # pyyaml is an optional dependency (pyproject [yaml]/[dev]); the
    # registry must import cleanly without it
    import yaml as _yaml  # noqa: F401
except ImportError:  # pragma: no cover
    del QUERIES["profiles_yaml"]
