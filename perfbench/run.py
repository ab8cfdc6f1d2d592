"""emiproc_spark benchmark: one seeded workload in a closed loop, one client.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload corpus_similarity --seed 1 --seconds 10 --trace 0

Set-up starts a 4-core local Spark session, warms it, checks that a
Python worker imports ``emiproc_spark`` from this checkout, prepares
the workload's inputs from ``--seed``, and runs every operation once
cold (that first run is part of set-up time; checking its output
against the oracle is not).  Then passes over the workload run back to
back until ``--seconds`` have elapsed (and at least two passes have
run).  The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run alternates untraced and traced passes and reports
the per-layer metrics (see layers.py and README.md).  Everything the run
writes goes under ``.perfbench_work/`` in the checkout, emptied first.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
# A median needs more than one pass, even when a pass outlasts --seconds.
# peak_rss_mb is read right after this many timed passes, so that a
# faster program (more passes in --seconds) is compared on the same work.
MIN_PASSES = 2


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate() -> None:
    """Route every file the run writes into WORK and put the checkout
    on the Spark driver's and the Python workers' import path."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "scratch", "local"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(WORK, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # Spark's own default driver heap, the one a plain SparkSession (the
    # registry's driver-contract path) runs with.  Under get_spark's 8g
    # default, G1 sizes the heap by GC timing and peak RSS steps by
    # hundreds of MB between identical runs; README.md has the A/B.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    sys.path.insert(0, ROOT)


def start_session(master: str = f"local[{CORES}]"):
    from emiproc_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def warm_up(spark) -> None:
    """First job, the Python worker pool, and the import-path check."""
    import emiproc_spark

    def _worker_origin(batches):  # nested: pickled by value
        import pandas as pd

        import emiproc_spark

        for _ in batches:
            yield pd.DataFrame({"path": [os.path.dirname(os.path.abspath(emiproc_spark.__file__))]})

    spark.range(1).collect()
    got = {
        r["path"]
        for r in spark.range(CORES).repartition(CORES)
        .mapInPandas(_worker_origin, "path string").collect()
    }
    want = os.path.dirname(os.path.abspath(emiproc_spark.__file__))
    if got != {want}:
        raise RuntimeError(f"Python workers import emiproc_spark from {got}, driver from {want}")


def clean_after_op(spark, base_views: set[str]) -> None:
    """Keep passes independent: drop cached data and the memory-sink
    tables stream queries leave behind."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name not in base_views:
            spark.catalog.dropTempView(t.name)


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def tail(samples: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it, and that
    percentile; the max (p100) when that percentile would fall below the
    median, i.e. with fewer than 20 samples."""
    s = sorted(samples)
    k = len(s) - 10
    if 2 * k < len(s):
        return s[-1], 100
    return s[k - 1], (100 * k) // len(s)


class _NoProbe:
    """Untraced runs: the op hooks cost nothing."""

    def build(self):
        return contextlib.nullcontext()


def run_pass(spark, wl, inputs, seed, p, bad, base_views, probe, on_op=None):
    """One pass; returns ([(op name, latency s)], failed count) or None
    when the workload has no inputs left for pass ``p``."""
    import workloads
    ops = wl.ops(inputs, seed, p)
    if not ops:
        return None
    sc = spark.sparkContext
    lat, failed = [], 0
    for op in ops:
        sc.setJobGroup(f"{op.name}#{p}", op.name)
        if on_op:
            on_op.start(op.name)
        t0 = time.perf_counter()
        err = None
        try:
            out = op.run(probe)
        except Exception as e:  # a raising operation is a failed one
            err = workloads.describe(e)
        dt = time.perf_counter() - t0
        if on_op:
            on_op.end(op.name, dt)
        if err is None:
            err = op.check(out) or bad.get(op.name)
        if err is not None:
            failed += 1
            bad.setdefault(op.name, err)
        lat.append((op.name, dt))
        clean_after_op(spark, base_views)
    sc.setJobGroup("perfbench", "between operations")
    return lat, failed


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv: list[str]) -> int:
    t_main = time.perf_counter()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "emiproc_spark", "__init__.py")):
        print(f"perfbench: no emiproc_spark package under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    _isolate()
    wl = workloads.WORKLOADS[args.workload]()

    t0 = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        warm_up(spark)
        warm_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        inputs = wl.prepare(spark, os.path.join(WORK, "inputs"), args.seed)
        wl.bind(spark)
        prep_s = time.perf_counter() - t2
        base_views = {t.name for t in spark.catalog.listTables() if t.isTemporary}

        t_verify = time.perf_counter()
        # the cold first run of every operation (plan paths, per-sf
        # stores, weights) is timed into set-up; its check is not
        bad, cold_s = wl.verify(spark, inputs)
        clean_after_op(spark, base_views)
        setup_s = session_s + warm_s + prep_s + cold_s
        t_measure = time.perf_counter()

        if args.trace:
            import layers as tr

            result = tr.traced_run(
                spark, wl, inputs, args, bad, base_views, session_s=session_s,
            )
            lat_all, passes, failed = result["lat"], result["passes"], result["failed"]
            rss = result["rss_per_pass"][MIN_PASSES - 1]
        else:
            lat_all, passes, failed = [], [], 0
            t_run = time.perf_counter()
            p = 0
            while time.perf_counter() - t_run < args.seconds or len(passes) < MIN_PASSES:
                r = run_pass(spark, wl, inputs, args.seed, p, bad, base_views, _NoProbe())
                if r is None:
                    break
                lat, f = r
                lat_all += lat
                passes.append(sum(dt for _, dt in lat))
                failed += f
                p += 1
                if p == MIN_PASSES:
                    rss = peak_rss_mb(spark)
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
    t_end = time.perf_counter()

    attempted = len(lat_all)
    times = [dt for _, dt in lat_all]
    op_tail, pct = tail(times)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "op_tail_s": (op_tail, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    print(f"# workload {args.workload} seed {args.seed}: {len(passes)} passes, "
          f"{attempted} operations, cores {CORES}")
    for name, (v, unit) in e2e.items():
        note = f"  (p{pct} of {attempted} samples)" if name == "op_tail_s" else ""
        print(f"#   {name:12s} {v:12.4f} {unit}{note}")
    print(f"#   {'fail_ratio':12s} {failed / max(attempted, 1):12.4f} ratio  ({failed}/{attempted})")
    by_op: dict[str, list[float]] = {}
    for name, dt in lat_all:
        by_op.setdefault(name, []).append(dt)
    for name, v in sorted(by_op.items()):
        print(f"#   op {name:24s} n={len(v):3d} median {statistics.median(v):.3f} s  "
              f"[{' '.join(f'{x:.2f}' for x in v)}]")
    print(f"#   phases: start+imports {t0 - t_main:.1f} s, set-up {setup_s:.1f} s "
          f"(session {session_s:.1f}, warm-up {warm_s:.1f}, inputs {prep_s:.2f}, "
          f"cold first runs {cold_s:.1f}), verify {t_measure - t_verify:.1f} s "
          f"(cold runs + checks), measure {t_stop - t_measure:.1f} s, "
          f"stop {t_end - t_stop:.1f} s")
    for name, why in sorted(bad.items()):
        print(f"#   FAILED {name}: {why}")
    if args.trace:
        metrics = result["per_layer"]
        tr.print_table(args.workload, metrics, result)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
