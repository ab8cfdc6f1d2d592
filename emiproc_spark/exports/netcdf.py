"""NetCDF raster export (reference export_raster_netcdf,
emiproc/exports/rasters.py:14-323) on the pure-numpy NetCDF-3 codec.

Semantics mirrored from the reference:

- one variable per (substance, category) named by ``var_name_format``
  (default ``{substance}_{category}``), or per substance with a
  ``category`` dimension when ``group_categories=True``
  (rasters.py:63-68,113-162);
- unit choices kg/year/cell (identity), kg/m2/s (÷ area ÷ s/yr),
  µg/m2/s (×1e9 on the flux) — rasters.py:95-106;
- ``add_totals``: per-substance ``emi_{sub}_all_sectors`` raster sum
  over categories (in the file unit) and scalar ``emi_{sub}_total``
  always in kg/yr (rasters.py:247-306);
- lon/lat center + bounds coordinates with CF attributes, ``cell_area``
  variable, CF global attributes, year midpoint time stamp
  (rasters.py:163-320).

Scale posture: the heavy work — reducing fact-scale emissions to one
value per (cell, category, substance) — happens in Spark with map-side
partial aggregation, and each dense (lat, lon) slab is assembled
EXECUTOR-side by an ``applyInPandas`` group task that writes a ``.npy``
slab file (same pattern as the hourly writer below).  The driver
collects only per-slab metadata (one row per (category, substance)) and
streams the slabs one at a time into the final NetCDF through
``LazySlab`` — peak driver memory is one raster (``group_categories``
stacks ncat rasters for its one variable), never the full
cell × (category, substance) matrix.  ``path``'s directory must be a
shared filesystem on a real cluster, the same contract the hourly
writer states.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emiproc_spark.functions.netcdf3 import NCDataset, NCVariable, write_netcdf
from emiproc_spark.sources.netcdf import SEC_PER_YR

KG_PER_YEAR = "kg/year/cell"
KG_PER_M2_PER_S = "kg/m2/s"
MUG_PER_M2_PER_S = "mug/m2/s"


def cf_global_attributes(
    author: str = "emiproc_spark",
    title: str = "emiproc_spark generated file",
    source: str = "",
    comment: str = "",
    institution: str = "",
    history: str = "",
    references: str = "",
    additional_attributes: dict | None = None,
) -> dict:
    """CF-convention global attributes (reference nc_cf_attributes,
    exports/netcdf.py:6-69) — creation stamp + provenance fields."""
    now = datetime.datetime.now(datetime.timezone.utc).isoformat()
    attrs = {
        "Conventions": "CF-1.10",
        "title": title,
        "author": author,
        "institution": institution,
        "source": source,
        "comment": comment,
        "history": f"{now} created by emiproc_spark" + (f"; {history}" if history else ""),
        "references": references,
        "created": now,
    }
    attrs.update(additional_attributes or {})
    return {k: v for k, v in attrs.items() if v != ""}


def _coord_vars(lon_c: np.ndarray, lat_c: np.ndarray, lon_name: str, lat_name: str):
    def bounds(c):
        step = c[1] - c[0] if c.size > 1 else 1.0
        return np.append(c - step / 2.0, c[-1] + step / 2.0)

    return [
        NCVariable(
            lon_name,
            (lon_name,),
            lon_c,
            {
                "standard_name": "longitude",
                "long_name": "longitude",
                "units": "degrees_east",
                "comment": "center_of_cell",
                "bounds": f"{lon_name}_bnds",
                "axis": "X",
            },
        ),
        NCVariable(
            lat_name,
            (lat_name,),
            lat_c,
            {
                "standard_name": "latitude",
                "long_name": "latitude",
                "units": "degrees_north",
                "comment": "center_of_cell",
                "bounds": f"{lat_name}_bnds",
                "axis": "Y",
            },
        ),
        NCVariable(
            f"{lon_name}_bnds",
            (f"{lon_name}_bnds",),
            bounds(lon_c),
            {"units": "degrees_east", "comment": "cell_boundaries", "axis": "X"},
        ),
        NCVariable(
            f"{lat_name}_bnds",
            (f"{lat_name}_bnds",),
            bounds(lat_c),
            {"units": "degrees_north", "comment": "cell_boundaries", "axis": "Y"},
        ),
    ]


def scan_raster_grid(
    grid: DataFrame, area_path: str | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Every question an export asks the grid, in ONE single-task pass:
    returns the sorted ``(lon, lat)`` axes of a (cell_id, lon, lat
    [, area_m2]) grid after checking that it is a dense raster numbered
    lon-major ascending (``cell_id == lon_i * nlat + lat_i``) — the
    layout every executor-side slab scatter assumes.  A grid whose ids
    follow another convention (e.g. built north-to-south) would
    otherwise silently mirror every raster against its coordinate
    variables.

    With ``area_path`` the same task scatters ``area_m2`` into a dense
    (nlat, nlon) ``.npy`` slab there, written only for a valid grid
    (bounded by one raster, so the driver never collects the cell
    table).  The task returns the axes, the cell count and the first
    layout violation; the driver raises the named errors."""
    import pandas as pd

    cols = ["cell_id", "lon", "lat"] + (["area_m2"] if area_path else [])

    def grid_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
        lon_c, lat_c = np.unique(lon), np.unique(lat)
        nlat, nlon = lat_c.size, lon_c.size
        out = {"lons": [lon_c], "lats": [lat_c], "n": [len(pdf)],
               "bad_cell": [None], "bad_lat": [None], "bad_lon": [None],
               "bad_expect": [None]}
        if nlat * nlon != len(pdf):
            return pd.DataFrame(out)
        lat_i = np.searchsorted(lat_c, lat)
        lon_i = np.searchsorted(lon_c, lon)
        cell = pdf["cell_id"].to_numpy()
        expect = lon_i.astype(np.int64) * nlat + lat_i
        bad = cell != expect
        if bad.any():
            k = int(np.argmax(bad))
            out.update(bad_cell=[int(cell[k])], bad_lat=[float(lat[k])],
                       bad_lon=[float(lon[k])], bad_expect=[int(expect[k])])
        elif area_path:
            arr = np.zeros((nlat, nlon))
            arr[lat_i, lon_i] = pdf["area_m2"].to_numpy()
            np.save(area_path, arr)
        return pd.DataFrame(out)

    rows = (
        grid.select(*cols)
        .withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandas(
            grid_pass,
            "lons array<double>, lats array<double>, n long, bad_cell long, "
            "bad_lat double, bad_lon double, bad_expect long",
        )
        .collect()
    )
    # an empty grid has no group (and no raster)
    if not rows:
        raise ValueError("grid is not a dense regular raster")
    r = rows[0]
    lon_c = np.array(r["lons"], dtype=float)
    lat_c = np.array(r["lats"], dtype=float)
    if lon_c.size * lat_c.size != r["n"]:
        raise ValueError("grid is not a dense regular raster")
    if r["bad_cell"] is not None:
        raise ValueError(
            f"grid is not lon-major ascending: cell_id {r['bad_cell']} sits at "
            f"(lat {r['bad_lat']}, lon {r['bad_lon']}) = index {r['bad_expect']}"
            " — renumber the grid (cell_id = lon_i*nlat + lat_i, axes ascending)"
            " before exporting"
        )
    return lon_c, lat_c


_SLAB_CACHE: dict = {}


def _load_npy_cached(path: str):
    """Per-process memoized ``np.load`` for slab files re-read by many
    tasks (the hourly exporter's cell_area: 8784 per-hour tasks would
    otherwise each re-fetch the same raster from the shared
    filesystem).  Python workers are reused across tasks, so each
    worker fetches once.  Keyed by (path, mtime) so a rewritten slab
    invalidates; only ONE entry is kept — slabs are per-export scratch,
    not a long-lived cache."""
    key = (path, os.path.getmtime(path))
    if key not in _SLAB_CACHE:
        _SLAB_CACHE.clear()
        _SLAB_CACHE[key] = np.load(path)
    return _SLAB_CACHE[key]


def export_raster_netcdf(
    emissions: DataFrame,
    grid: DataFrame,
    path: str,
    var_name_format: str | None = None,
    unit: str = KG_PER_YEAR,
    group_categories: bool = False,
    add_totals: bool = True,
    netcdf_attributes: dict | None = None,
    year: int | None = None,
    categories_description: dict[str, str] | None = None,
    lon_name: str = "lon",
    lat_name: str = "lat",
    container: str = "netcdf3",
) -> str:
    """Write the inventory as a NetCDF raster.

    ``emissions``: long (cell_id, category, substance, value_kg_y) on the
    raster grid (remap first if not).  ``grid``: (cell_id, lon, lat,
    area_m2) lon-major regular raster (netcdf_regular_grid layout).
    Returns the written path.
    """
    import hashlib
    import shutil

    import pandas as pd

    from emiproc_spark.functions.netcdf3 import LazySlab

    if var_name_format is None:
        var_name_format = "{substance}" if group_categories else "{substance}_{category}"

    out = path if path.endswith(".nc") else path + ".nc"
    slab_dir = out + ".slabs"
    os.makedirs(slab_dir, exist_ok=True)
    try:
        # axes, density + lon-major checks and the cell_area slab in one
        # grid task, before any emission slab is written
        area_path = os.path.join(slab_dir, "cell_area.npy")
        lon_c, lat_c = scan_raster_grid(grid, area_path)
        nlon, nlat = lon_c.size, lat_c.size
        area_grid = np.load(area_path)

        def slab_path(cat: str, sub: str) -> str:
            tag = hashlib.md5(f"{cat}\x00{sub}".encode()).hexdigest()[:16]
            return os.path.join(slab_dir, f"{tag}.npy")

        # Spark side: reduce to one value per (cell, cat, sub) with map-side
        # partial agg, then ONE executor task per (category, substance) group
        # scatters its rows into a dense (nlat, nlon) slab and writes it as
        # .npy; only (cat, sub, path, total_kg) metadata reaches the driver.
        def write_slab(pdf: pd.DataFrame) -> pd.DataFrame:
            cat = str(pdf["category"].iloc[0])
            sub = str(pdf["substance"].iloc[0])
            cell = pdf["cell_id"].to_numpy()
            if ((cell < 0) | (cell >= nlat * nlon)).any():
                raise ValueError(
                    f"emission rows reference cell_ids outside the raster "
                    f"[0, {nlat * nlon}): {cell[(cell < 0) | (cell >= nlat * nlon)][:5]}"
                )
            arr = np.zeros((nlat, nlon))
            # cell_id is lon-major: lat_i = cell % nlat, lon_i = cell // nlat
            arr[cell % nlat, cell // nlat] = pdf["value_kg_y"].to_numpy()
            p = slab_path(cat, sub)
            np.save(p, arr)
            return pd.DataFrame(
                {"category": [cat], "substance": [sub], "path": [p],
                 "total_kg": [float(arr.sum())]}
            )

        meta = (
            emissions.groupBy("cell_id", "category", "substance")
            .agg(F.sum("value_kg_y").alias("value_kg_y"))
            .groupBy("category", "substance")
            .applyInPandas(
                write_slab,
                "category string, substance string, path string, total_kg double",
            )
            .collect()
        )
        slab_of = {(r["category"], r["substance"]): r["path"] for r in meta}
        total_of = {(r["category"], r["substance"]): r["total_kg"] for r in meta}

        categories = sorted({c for c, _ in slab_of})
        substances = sorted({s for _, s in slab_of})
        if categories_description is not None:
            missing = set(categories) - set(categories_description)
            if missing:
                raise ValueError(
                    f"Categories are missing in `categories_description`: {missing}"
                )

        if unit == KG_PER_YEAR:
            conv = 1.0
            unit_str = "kg year-1 cell-1"
        elif unit == KG_PER_M2_PER_S:
            conv = 1.0 / SEC_PER_YR / area_grid
            unit_str = "kg m-2 s-1"
        elif unit == MUG_PER_M2_PER_S:
            conv = 1e9 / SEC_PER_YR / area_grid
            unit_str = "ug m-2 s-1"
        else:
            raise NotImplementedError(f"Unknown unit={unit!r}")

        def load_pair(cat: str, sub: str) -> np.ndarray:
            p = slab_of.get((cat, sub))
            return np.load(p) if p is not None else np.zeros((nlat, nlon))

        def pair_slab(cat: str, sub: str) -> LazySlab:
            return LazySlab(
                (nlat, nlon), "float64", lambda c=cat, s=sub: load_pair(c, s) * conv
            )

        def stacked_slab(sub: str) -> LazySlab:
            return LazySlab(
                (len(categories), nlat, nlon),
                "float64",
                lambda s=sub: np.stack([load_pair(c, s) for c in categories]) * conv,
            )

        def all_sectors_slab(sub: str) -> LazySlab:
            def load(s=sub):
                acc = np.zeros((nlat, nlon))
                for c in categories:
                    acc += load_pair(c, s)
                return acc * conv

            return LazySlab((nlat, nlon), "float64", load)

        ds = NCDataset()
        ds.dims = {
            lat_name: nlat,
            lon_name: nlon,
            f"{lat_name}_bnds": nlat + 1,
            f"{lon_name}_bnds": nlon + 1,
        }
        for v in _coord_vars(lon_c, lat_c, lon_name, lat_name):
            ds.variables[v.name] = v

        if group_categories:
            strlen = max(max((len(c) for c in categories), default=1), 1)
            ds.dims["category"] = len(categories)
            ds.dims["strlen"] = strlen
            labels = np.array(
                [list(c.ljust(strlen)) for c in categories], dtype="S1"
            ).reshape(len(categories), strlen)
            ds.variables["category"] = NCVariable(
                "category", ("category", "strlen"), labels, {"long_name": "category"}
            )
            for sub in substances:
                name = var_name_format.format(substance=sub)
                ds.variables[name] = NCVariable(
                    name,
                    ("category", lat_name, lon_name),
                    stacked_slab(sub),
                    {
                        "standard_name": (
                            f"tendency_of_atmosphere_mass_content_of_{sub}"
                            "_due_to_emission"
                        ),
                        "long_name": sub,
                        "units": unit_str,
                        "comment": f"emissions of {sub}",
                        "substance": sub,
                    },
                )
        else:
            for sub in substances:
                for cat in categories:
                    if (cat, sub) not in slab_of:
                        continue
                    name = var_name_format.format(substance=sub, category=cat)
                    ds.variables[name] = NCVariable(
                        name,
                        (lat_name, lon_name),
                        pair_slab(cat, sub),
                        {
                            "standard_name": f"{sub}_{cat}",
                            "long_name": f"{sub}_{cat}",
                            "units": unit_str,
                            "comment": (
                                categories_description[cat]
                                if categories_description
                                else f"emissions of {sub} from {cat}"
                            ),
                            "substance": sub,
                            "category": cat,
                        },
                    )

        if add_totals:
            for sub in substances:
                ds.variables[f"emi_{sub}_all_sectors"] = NCVariable(
                    f"emi_{sub}_all_sectors",
                    (lat_name, lon_name),
                    all_sectors_slab(sub),
                    {
                        "standard_name": (
                            f"tendency_of_atmosphere_mass_content_of_{sub}"
                            "_due_to_emission"
                        ),
                        "long_name": f"Aggregated Emissions of {sub} from all sectors",
                        "units": unit_str,
                        "comment": "annual mean emission rate",
                    },
                )
                # scalar total always in kg/yr (rasters.py:281-305); pure
                # driver arithmetic over per-slab totals from the meta rows
                ds.variables[f"emi_{sub}_total"] = NCVariable(
                    f"emi_{sub}_total",
                    (),
                    np.float64(
                        sum(total_of.get((cat, sub), 0.0) for cat in categories)
                    ),
                    {
                        "long_name": f"Total Emissions of {sub}",
                        "units": "kg yr-1",
                        "comment": "annual total emission",
                    },
                )

        ds.variables["cell_area"] = NCVariable(
            "cell_area",
            (lat_name, lon_name),
            area_grid,
            {
                "standard_name": "cell_area",
                "long_name": "cell_area",
                "units": "m2",
                "comment": "area of the cell",
            },
        )

        attrs = cf_global_attributes()
        attrs.update(netcdf_attributes or {})
        if year is not None:
            # year midpoint stamp (rasters.py:220-234), days since epoch
            midpoint = (datetime.date(year, 7, 1) - datetime.date(1970, 1, 1)).days
            ds.dims["time"] = 1
            ds.variables["time"] = NCVariable(
                "time",
                ("time",),
                np.array([midpoint], dtype=np.int32),
                {
                    "axis": "T",
                    "standard_name": "time",
                    "long_name": "Inventory year",
                    "units": "days since 1970-01-01",
                    "comment": "Midpoint of the year",
                },
            )
            attrs["year"] = year
        else:
            attrs["year"] = "not specified in inventory.year"
        ds.attrs = attrs

        if categories_description is not None and not group_categories:
            # description variable needs the category dim even ungrouped
            strlen = max(len(categories_description[c]) for c in categories)
            ds.dims["category"] = len(categories)
            ds.dims["desc_strlen"] = strlen
            labels = np.array(
                [list(categories_description[c].ljust(strlen)) for c in categories],
                dtype="S1",
            ).reshape(len(categories), strlen)
            ds.variables["categories_description"] = NCVariable(
                "categories_description",
                ("category", "desc_strlen"),
                labels,
                {"long_name": "Description of the categories"},
            )

        if container == "hdf5":
            # NetCDF-4 container via the minimal pure-numpy HDF5 writer.
            # It builds the file image in memory, so materialize the lazy
            # slabs up front (hdf5 mode peaks at the full dataset; the
            # netcdf3 default streams one variable at a time).
            from emiproc_spark.functions.hdf5_write import write_netcdf4

            for v in ds.variables.values():
                if getattr(v.data, "load", None) is not None:
                    v.data = v.data.load()
                elif getattr(v.data, "chunk_loaders", None) is not None:
                    v.data = np.concatenate(
                        [np.asarray(ld()) for ld in v.data.chunk_loaders], axis=0
                    )
            write_netcdf4(out, ds)
        else:
            write_netcdf(out, ds)
    finally:
        shutil.rmtree(slab_dir, ignore_errors=True)
    return out


def export_hourly_netcdf(
    hourly: DataFrame,
    grid: DataFrame,
    nx: int,
    ny: int,
    start: str,
    out_dir: str,
    var_name_format: str = "{substance}_{category}",
    unit: str = "kg h-1",
    filename_format: str = "%Y%m%d%H.nc",
    cs_pairs: list[tuple[str, str]] | None = None,
) -> list[str]:
    """One NetCDF file per hour (reference export_hourly_emissions,
    exports/hourly.py:60-230): variables ``{substance}_{category}`` with
    dims (lat, lon, time=1), a ``cell_area`` variable, files named by
    the timestamp.

    ``hourly``: (cell_id, category, substance, hour_index, value_kg_h)
    from ``operators.temporal.temporally_scaled``.

    Scale posture: the hourly expansion is NEVER materialized on the
    driver (and neither is the grid — same pattern as
    ``export_raster_netcdf``): ONE grid task (:func:`scan_raster_grid`)
    returns the axes, validates the dense lon-major ascending
    ``cell_id = lon_i·nlat + lat_i`` layout and writes the ``cell_area``
    raster executor-side as a ``.npy`` slab, and each hour's dense
    raster is assembled and written executor-side
    (``groupBy(hour_index).applyInPandas``).  The only driver-side data
    are the two axis arrays, the dimension-sized (category, substance)
    code table, and the returned path list (one row per hour).
    Per-hour groups are already TASK-AMORTIZED: ``applyInPandas``
    runs one task per SHUFFLE PARTITION and streams every group in
    that partition through it, so there is no per-file task-launch
    cost to batch away.  (An hour-BLOCK grouping layer — the
    reference's 168-h chunking, exports/hourly.py:166-169, which does
    pay per-chunk overhead in its scheduler — was A/B-measured here
    at 2.2× SLOWER: the extra block column widens the exchange and
    the block group re-slices per hour in pandas; see PLANS round-9
    adjudication.)  ``out_dir`` must be a shared filesystem on a real
    cluster (the same contract the reference's single-node writer
    implies).

    The (category, substance) strings are DICTIONARY-ENCODED to a
    small int before the hour shuffle (broadcast join against the
    distinct pairs) and decoded executor-side from the closure-carried
    table: the two repeated strings per fact row roughly double the
    exchange bytes (network shuffle on a real cluster) and measured
    ~11% on the cold year × 100k-cell smoke, whose remaining wall is
    the ~14 GB of NetCDF writeback itself.
    """
    import datetime
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    t0 = datetime.datetime.strptime(start, "%Y-%m-%d %H:%M:%S")
    slab_dir = tempfile.mkdtemp(prefix=".hourly_slabs_", dir=out_dir)
    try:
        # axes, density + lon-major checks and the cell_area slab in one
        # grid task; a failed check still removes the slab dir (finally)
        area_path = os.path.join(slab_dir, "cell_area.npy")
        lons, lats = scan_raster_grid(grid, area_path)
        nlon, nlat = lons.size, lats.size
        if (nx, ny) != (nlon, nlat):
            raise ValueError(
                f"grid axes are {nlon}×{nlat} (lon×lat) but nx={nx}, ny={ny}"
            )

        # dictionary-encode (category, substance) before the hour
        # shuffle (writers.dim_codes carries the sorted-order contract);
        # cs_pairs lets pipelines pass the pre-fan-out dimension pairs
        # so the code table costs no pass over the expansion lineage
        from emiproc_spark.exports.writers import dim_codes, encode_dims

        codes, decode = dim_codes(
            hourly, ["category", "substance"], pairs=cs_pairs
        )
        # encode_dims fails loudly on a (category, substance) missing
        # from caller-supplied cs_pairs — an inner join silently
        # dropped those hourly rows from the export
        coded = encode_dims(
            hourly, codes, ["category", "substance"]
        ).select("cell_id", "cs_code", "hour_index", "value_kg_h")

        def write_hour(pdf: pd.DataFrame) -> pd.DataFrame:
            from emiproc_spark.functions.netcdf3 import (
                NCDataset,
                NCVariable,
                write_netcdf,
            )

            hour = int(pdf["hour_index"].iloc[0])
            dt = t0 + datetime.timedelta(hours=hour)
            ds = NCDataset()
            ds.dims = {"lat": nlat, "lon": nlon, "time": 1}
            ds.variables["lat"] = NCVariable(
                "lat", ("lat",), lats, {"units": "degrees_north"}
            )
            ds.variables["lon"] = NCVariable(
                "lon", ("lon",), lons, {"units": "degrees_east"}
            )
            ds.variables["time"] = NCVariable(
                "time", ("time",), np.array([hour], dtype=np.int32),
                {"units": f"hours since {start}"},
            )
            ds.variables["cell_area"] = NCVariable(
                "cell_area", ("lat", "lon"), _load_npy_cached(area_path),
                {"standard_name": "cell_area", "long_name": "cell_area",
                 "units": "m2", "comment": "area of the cell"},
            )
            for code, g in pdf.groupby("cs_code"):
                cat, sub = decode[int(code)]
                arr = np.zeros((nlat, nlon, 1))
                cells = g["cell_id"].to_numpy()
                if ((cells < 0) | (cells >= nlat * nlon)).any():
                    raise ValueError(
                        "hourly rows reference cell_ids outside the raster "
                        f"[0, {nlat * nlon})"
                    )
                # lon-major ids: lat_i = cell % nlat, lon_i = cell // nlat
                arr[cells % nlat, cells // nlat, 0] = g["value_kg_h"].to_numpy()
                name = var_name_format.format(substance=sub, category=cat)
                ds.variables[name] = NCVariable(
                    name, ("lat", "lon", "time"), arr,
                    {"standard_name": f"{sub}_{cat}", "long_name": f"{sub}_{cat}",
                     "units": unit, "comment": f"emissions of {sub} from {cat}"},
                )
            path = os.path.join(out_dir, dt.strftime(filename_format))
            write_netcdf(path, ds)
            return pd.DataFrame({"hour_index": [hour], "path": [path]})

        written = (
            coded.groupBy("hour_index")
            .applyInPandas(write_hour, "hour_index long, path string")
            .collect()
        )
    finally:
        shutil.rmtree(slab_dir, ignore_errors=True)
    # ≤ 8784 rows: sort on the driver, not with a range exchange
    return [r["path"] for r in sorted(written, key=lambda r: r["hour_index"])]
