"""Structural guards on the TNO pipelines' Spark work, read from the SQL
status store around each call (the executions a call started, their
physical plans and node metrics):

- ``tno_to_raster`` rasterizes its point sources JVM-side: no Arrow UDF
  (``ArrowEvalPython``) and no WKB ``refine`` ``MapInPandas``;
- ``tno_to_hourly`` decodes the TNO file once;
- every export asks the grid its questions in exactly one action.
"""

import time

import pytest
from pyspark.sql import functions as F

from emiproc_spark import fixtures as fx
from emiproc_spark import pipelines as pl
from emiproc_spark.grids import regular_grid


@pytest.fixture(scope="module")
def tno_path(spark, sf_dir):
    from emiproc_spark.driver_queries.formats import _tno_fixture

    return _tno_fixture(spark, sf_dir)


def _executions(spark, fn):
    """Run ``fn`` and return one ``(plan text, {node name: [metric
    dicts]})`` per SQL execution it started."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def tail():
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    last = tail()
    fn()
    # execution end events reach the store asynchronously
    deadline = time.time() + 10
    while True:
        n = store.executionsCount()
        k = min(tail() - last, n)
        execs = [
            e for e in conv.asJava(store.executionsList(n - k, k))
            if e.executionId() > last
        ] if k > 0 else []
        if all(e.completionTime().isDefined() for e in execs) or time.time() > deadline:
            break
        time.sleep(0.05)
    out = []
    for e in execs:
        eid = e.executionId()
        values = {
            str(a): str(v)
            for a, v in conv.asJava(store.executionMetrics(eid)).items()
        }
        nodes = {}
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            nodes.setdefault(str(node.name()), []).append(
                {
                    str(m.name()): values.get(str(m.accumulatorId()), "0")
                    for m in conv.asJava(node.metrics())
                }
            )
        out.append((str(e.physicalPlanDescription()), nodes))
    return out


def _grid_actions(execs):
    return sum("grid_pass(" in plan for plan, _ in execs)


def _tno_decodes(execs):
    """Executions in which a binaryFile scan actually read a file (a
    cached subtree shows the scan node with zero files read)."""
    return sum(
        any(
            int(m.get("number of files read", "0").replace(",", "")) > 0
            for name, ms in nodes.items() if "Scan binaryFile" in name
            for m in ms
        )
        for _, nodes in execs
    )


def test_tno_to_raster_points_stay_in_the_jvm(spark, tno_path, tmp_path):
    dst = fx.coarse_grid(spark).withColumns(
        {
            "lon": (F.col("xmin") + F.col("xmax")) / 2,
            "lat": (F.col("ymin") + F.col("ymax")) / 2,
            "area_m2": (F.col("xmax") - F.col("xmin"))
            * (F.col("ymax") - F.col("ymin")),
        }
    )
    src = regular_grid(spark, 0.0, 0.0, fx.FINE_NX, fx.FINE_NY, 1.0, 1.0)
    execs = _executions(
        spark,
        lambda: pl.tno_to_raster(
            spark, tno_path, src, dst, str(tmp_path / "r.nc")
        ),
    )
    plans = "\n".join(plan for plan, _ in execs)
    # Python nodes are named in the plans: the TNO decode shows up
    assert "MapInPandas" in plans and "decode(" in plans
    assert "ArrowEvalPython" not in plans
    assert "refine(" not in plans
    assert _grid_actions(execs) == 1


def test_tno_to_hourly_decodes_once(spark, tno_path, tmp_path):
    store = spark.createDataFrame(
        [(0, "daily", [1.0 / 24] * 24)],
        "profile_id int, ptype string, ratios array<double>",
    )
    index = spark.createDataFrame(
        [("A", "F", 0), ("A", "O", 0)],
        "category string, substance string, profile_id int",
    )
    grid = regular_grid(spark, 0.0, 0.0, fx.FINE_NX, fx.FINE_NY, 1.0, 1.0)
    execs = _executions(
        spark,
        lambda: pl.tno_to_hourly(
            spark, tno_path, index, store, grid, fx.FINE_NX, fx.FINE_NY,
            "2024-01-02 00:00:00", 3, str(tmp_path / "hourly"),
        ),
    )
    assert _tno_decodes(execs) == 1
    assert _grid_actions(execs) == 1
    # the pipeline released what it persisted
    assert store.storageLevel.useMemory is False
    assert index.storageLevel.useMemory is False


def test_tno_to_hourly_keeps_a_caller_cache(spark, tno_path, tmp_path):
    store = spark.createDataFrame(
        [(0, "daily", [1.0 / 24] * 24)],
        "profile_id int, ptype string, ratios array<double>",
    ).cache()
    index = spark.createDataFrame(
        [("A", "F", 0)], "category string, substance string, profile_id int"
    )
    grid = regular_grid(spark, 0.0, 0.0, fx.FINE_NX, fx.FINE_NY, 1.0, 1.0)
    pl.tno_to_hourly(
        spark, tno_path, index, store, grid, fx.FINE_NX, fx.FINE_NY,
        "2024-01-02 00:00:00", 1, str(tmp_path / "hourly"),
    )
    assert store.storageLevel.useMemory
    assert index.storageLevel.useMemory is False
    store.unpersist()


def test_fluxie_export_one_grid_action(spark, tmp_path):
    from emiproc_spark.exports.fluxie import export_fluxie

    grid = regular_grid(spark, 0.0, 0.0, 3, 2, 1.0, 1.0, with_geometry=False)
    e = spark.createDataFrame(
        [(0, "A", "CO2", 1.0), (5, "A", "CO2", 2.0)],
        "cell_id long, category string, substance string, value_kg_y double",
    )
    cfrac = grid.select(
        "cell_id", F.lit("C").alias("country"), F.lit(1.0).alias("fraction")
    )
    execs = _executions(
        spark, lambda: export_fluxie({2020: e}, grid, cfrac, str(tmp_path / "fx"))
    )
    assert _grid_actions(execs) == 1
