"""The benchmark workloads.

Each workload knows how to prepare its inputs from a seed (part of
set-up), which operations make up one pass, and how to check their
outputs.  An operation is one driver query (built, then written to the
``noop`` sink) or one pipeline call (which writes real NetCDF).

Query workloads collect every query once per run (its cold first run,
timed into set-up) and check it, untimed, against its DuckDB oracle with
``emiproc_spark.parity.compare``'s semantics on the same sf directory
the timed passes read.  ``inventory_pipeline`` re-reads every
file it wrote and checks its mass against the generator's totals.
"""

from __future__ import annotations

import math
import os
import random
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

import datagen

# Query subsets, chosen by domain: the registry's similarity/dedup/
# retrieval family (one or two queries per operator module) and its
# stream family (a plain and a resumed stateful stream).  README.md says
# why these and not the whole family.
SIMILARITY = ["setsim_exact", "ngram_jaccard", "bm25_topk", "semdedup"]
STREAMS = ["stream_dedup", "stream_funnel_resume"]

# inventory_pipeline sizing: one fixed raster pair, a new inventory per
# pass (README.md has the size sweep behind these numbers)
NX, NY = 48, 32
COARSE = 4.0
N_CAT = 10
N_POINTS = 1000
SUBSTANCES = ["co2", "nox", "ch4", "pm10"]
HOURS = 3
START = "2024-01-02 00:00:00"
YEAR_HOURS = 8760
MAX_PASSES = 16
RTOL = 1e-6


def describe(exc: Exception) -> str:
    """One line naming a failed operation's exception."""
    first = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {first[0][:200] if first else ''}"


def _canon_rows(df) -> Counter:
    """``emiproc_spark.parity._canon``'s row canonicalization (sorted
    column names; floats by repr; NaN as NULL; datetimes by isoformat;
    the rest by str), kept as a multiset: ``_canon`` sorts the rows,
    which raises TypeError when a NULL and a string meet in one column
    of otherwise tied rows."""
    df = df[sorted(df.columns)]
    rows: Counter = Counter()
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(None)
            elif isinstance(v, float):
                row.append(repr(float(v)))
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            else:
                row.append(str(v))
        rows[tuple(row)] += 1
    return rows


def oracle_mismatch(sf_dir: str, name: str, got) -> str | None:
    """The oracle check ``emiproc_spark.parity.compare`` makes on the
    query's collected result ``got``: same column names, same row count
    and same canonical rows (as a multiset) as the DuckDB oracle on the
    same sf directory."""
    from emiproc_spark.driver_queries import ORACLES
    from emiproc_spark.parity import duckdb_conn

    con = duckdb_conn(sf_dir)
    try:
        want = con.execute(ORACLES[name]).df()
    finally:
        con.close()
    if sorted(got.columns) != sorted(want.columns):
        return f"oracle mismatch: columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"oracle mismatch: rows {len(got)} vs {len(want)}"
    a, b = _canon_rows(got), _canon_rows(want)
    if a != b:
        return f"oracle mismatch: {sum((a - b).values())} rows differ, e.g. {next(iter(a - b), None)}"
    return None


@dataclass
class Op:
    """One closed-loop operation.  ``run`` returns what ``check`` needs;
    ``check`` returns an error message or None and is never timed."""

    name: str
    run: Callable[[object], object]
    check: Callable[[object], str | None] = field(default=lambda _out: None)


class QueryWorkload:
    """Driver-contract queries over a seeded sf directory."""

    def __init__(self, queries: list[str], sf: float):
        self.queries = queries
        self.sf = sf

    def prepare(self, spark, out_dir: str, seed: int) -> str:
        return datagen.write_sf_tables(out_dir, seed, self.sf)

    def output_dir(self, sf_dir: str) -> str:
        return sf_dir

    def verify(self, spark, sf_dir: str) -> tuple[dict[str, str], float]:
        """Cold first run of every query (collected; timed) and its
        oracle check (untimed).  Returns ({name: reason} for each
        mismatch or error, seconds spent in the cold runs)."""
        from emiproc_spark.driver_queries import QUERIES

        bad: dict[str, str] = {}
        cold = 0.0
        for name in self.queries:
            t0 = time.perf_counter()
            try:
                got = QUERIES[name](spark, sf_dir).toPandas()
                cold += time.perf_counter() - t0
                err = oracle_mismatch(sf_dir, name, got)
            except Exception as e:  # a raising query is a failed operation
                err = describe(e)
            if err:
                bad[name] = err
            spark.catalog.clearCache()
        return bad, cold

    def ops(self, sf_dir: str, seed: int, pass_idx: int) -> list[Op]:
        from emiproc_spark.driver_queries import QUERIES

        order = list(self.queries)
        random.Random(seed * 1_000_003 + pass_idx).shuffle(order)

        def make(name: str) -> Op:
            def run(probe):
                with probe.build():
                    df = QUERIES[name](self._spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()

            return Op(name, run)

        return [make(n) for n in order]

    def bind(self, spark) -> None:
        self._spark = spark


class InventoryWorkload:
    """TNO inventory → raster NetCDF and → hourly NetCDF (the paper's
    ``tno_2_raster`` / ``tno_2_hourly`` scripts)."""

    def prepare(self, spark, out_dir: str, seed: int) -> dict:
        from emiproc_spark.sources.tno import write_tno_netcdf

        os.makedirs(out_dir, exist_ok=True)
        files = []
        for k in range(MAX_PASSES):
            src = datagen.tno_sources(seed * 1000 + k, NX, NY, N_CAT, N_POINTS, SUBSTANCES)
            path = write_tno_netcdf(
                os.path.join(out_dir, f"tno_{k:02d}.nc"), src, NX, NY, SUBSTANCES
            )
            area = src[src["source_type"] == "a"]
            files.append(
                {
                    "path": path,
                    "total": {s: float(src[s].sum()) for s in SUBSTANCES},
                    "area": {s: float(area[s].sum()) for s in SUBSTANCES},
                    "cats": sorted(src["category"].unique()),
                }
            )
        return {"dir": out_dir, "files": files}

    def bind(self, spark) -> None:
        from pyspark.sql import functions as F

        from emiproc_spark.grids import regular_grid

        self._spark = spark
        self.src_grid = regular_grid(spark, 0.0, 0.0, NX, NY, 1.0, 1.0)
        nxc, nyc = int(NX / COARSE), int(NY / COARSE)
        self.dst_grid = regular_grid(
            spark, 0.0, 0.0, nxc, nyc, COARSE, COARSE, with_geometry=False
        ).withColumn("area_m2", (F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin")))
        self.hourly_grid = regular_grid(spark, 0.0, 0.0, NX, NY, 1.0, 1.0, with_geometry=False)
        self.tprofiles = spark.createDataFrame(
            [(0, "daily", [1.0 / 24] * 24)],
            "profile_id int, ptype string, ratios array<double>",
        )
        cats = [f"C{c:02d}" for c in range(N_CAT)]
        self.tindex = spark.createDataFrame(
            [(c, s, 0) for c in cats for s in SUBSTANCES],
            "category string, substance string, profile_id int",
        )

    def output_dir(self, inputs: dict) -> str:
        return inputs["dir"]

    def verify(self, spark, inputs: dict) -> tuple[dict[str, str], float]:
        """Cold first pass on its own inventory (timed) and the check of
        the files it wrote (untimed); every timed operation also checks
        its files.  Returns ({name: reason}, seconds of the cold pass)."""
        bad = {}
        cold = 0.0
        for op in self.ops(inputs, 0, -1):
            t0 = time.perf_counter()
            try:
                out = op.run(None)
                cold += time.perf_counter() - t0
                err = op.check(out)
            except Exception as e:  # a raising operation is a failed one
                err = describe(e)
            if err:
                bad[op.name] = err
            spark.catalog.clearCache()
        return bad, cold

    def ops(self, inputs: dict, seed: int, pass_idx: int) -> list[Op]:
        """Pass ``pass_idx`` reads inventory file ``pass_idx + 1``; file 0
        is the warm-up pass (``pass_idx`` -1)."""
        from emiproc_spark import pipelines

        if pass_idx + 1 >= len(inputs["files"]):
            return []
        f = inputs["files"][pass_idx + 1]
        out = os.path.join(inputs["dir"], f"out_{pass_idx + 1:02d}")

        def raster(probe):
            return pipelines.tno_to_raster(
                self._spark, f["path"], self.src_grid, self.dst_grid,
                os.path.join(out, "raster.nc"),
            )

        def hourly(probe):
            return pipelines.tno_to_hourly(
                self._spark, f["path"], self.tindex, self.tprofiles,
                self.hourly_grid, NX, NY, START, HOURS,
                os.path.join(out, "hourly"), year_hours=YEAR_HOURS,
            )

        return [
            Op("tno_to_raster", raster, lambda p: _check_raster(p, f)),
            Op("tno_to_hourly", hourly, lambda ps: _check_hourly(ps, f)),
        ]


def _close(got: float, want: float) -> bool:
    return abs(got - want) <= RTOL * abs(want)


def _check_raster(path: str, f: dict) -> str | None:
    from emiproc_spark.functions.netcdf3 import read_netcdf

    ds = read_netcdf(path)
    got = {s: 0.0 for s in SUBSTANCES}
    for v in ds.variables.values():
        sub = v.attrs.get("substance")
        if sub in got and "category" in v.attrs:
            got[sub] += float(np.asarray(v.data, dtype=np.float64).sum())
    bad = [f"{s}: {got[s]!r} != {f['total'][s]!r}" for s in SUBSTANCES
           if not _close(got[s], f["total"][s])]
    return f"raster mass: {'; '.join(bad)}" if bad else None


def _check_hourly(paths: list[str], f: dict) -> str | None:
    from emiproc_spark.functions.netcdf3 import read_netcdf

    if len(paths) != HOURS:
        return f"hourly: {len(paths)} files, expected {HOURS}"
    for p in sorted(paths):
        ds = read_netcdf(p)
        for s in SUBSTANCES:
            got = sum(
                float(np.asarray(ds.variables[f"{s}_{c}"].data, dtype=np.float64).sum())
                for c in f["cats"]
                if f"{s}_{c}" in ds.variables
            )
            want = f["area"][s] / YEAR_HOURS
            if not _close(got, want):
                return f"hourly mass {os.path.basename(p)} {s}: {got!r} != {want!r}"
    return None


WORKLOADS = {
    "inventory_pipeline": InventoryWorkload,
    "corpus_similarity": lambda: QueryWorkload(SIMILARITY, 0.01),
    "stream_resume": lambda: QueryWorkload(STREAMS, 0.01),
}
