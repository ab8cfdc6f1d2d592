"""Driver-contract queries: Spark implementation + DuckDB oracle pairs.

Every entry exercises an engine operator (SURVEY.md §2) on data derived
deterministically from the driver's parquet tables; the oracle is the
same computation in closed-form ANSI SQL.

Float determinism: aggregation order differs between engines, so sums
route through per-row integer quantization (see ``qhelpers``) — per-row
double arithmetic is bit-identical across engines, int64 addition is
exact, and the final divide back to double matches bit-for-bit.  No
tolerance needed anywhere.

The queries live in one module per domain; each module ends with a
``QUERIES = {name: (query_fn, oracle_sql)}`` table, and adding a query
means adding one row there.  This package merges the tables into the
public ``QUERIES`` / ``ORACLES`` dicts in front-window order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from emiproc_spark.driver_queries import (
    formats,
    inventory,
    profiles,
    relational,
    retrieval,
    similarity,
    streaming,
    text,
)

_DOMAINS = (relational, inventory, profiles, text, similarity, retrieval, formats, streaming)
_ROWS = {name: row for mod in _DOMAINS for name, row in mod.QUERIES.items()}
assert len(_ROWS) == sum(len(mod.QUERIES) for mod in _DOMAINS), "duplicate query name"

# Front-window rotation.  The driver samples a contiguous 50-query block
# from the FRONT of the registry: the queries listed here lead, then the
# rest refill oldest evidence first (``_evidence_order``).  Derive the
# front/refill split from ``len(_REVERIFY)``, never by hand-counting.
# This set is the evidence debt: queries whose implementation changed
# after their last green row in the committed CORRECTNESS ledger.
_REVERIFY = [
    "stream_dedup", "stream_sessionize", "stream_heavy", "stream_cdc_resume",
    "stream_funnel_resume",
    "robust_outliers", "group_quantiles", "winnow_fp", "winnow_overlap",
    "dup_spans", "dup_fraction", "speciate", "merge_indexes",
    "broadcast_types", "specific_days",
    # the raster and fluxie exports ask the grid in one task
    # (exports.netcdf.scan_raster_grid)
    "netcdf_ingest", "fluxie_export", "netcdf4_ingest", "cf_attrs",
    # temporally_scaled builds its sf_dim dimension from collected pairs
    "temporal_expand",
]


def _evidence_order(names: list[str]) -> list[str]:
    """Refill policy: OLDEST EVIDENCE FIRST.

    The registry is >4× the driver's 50-query window, so refill slots
    are scarce; recent-rounds-first refill (r5-r7) starved the r1-r4
    era queries of re-verification.  Instead, read the committed
    ``CORRECTNESS_r*.json`` ledger, compute each query's most recent
    green round, and order the unchanged remainder by (last green
    round ASC, name) — deterministic, and every query re-verifies at
    least every ``ceil(registry / refill_slots)`` rounds as the window
    cycles through the stalest evidence.  Queries with no ledger row
    yet (should not happen) sort first.
    """
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    root = _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    )
    last: dict[str, int] = {}
    for p in sorted(_glob.glob(_os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as fh:
                data = _json.load(fh)
        except (OSError, ValueError):
            continue
        for name, res in data.items():
            if isinstance(res, dict) and res.get("rows_match"):
                last[name] = max(rnd, last.get(name, 0))
    return sorted(names, key=lambda n: (last.get(n, 0), n))


_FRONT = [k for k in _REVERIFY if k in _ROWS]
_REFILL = _evidence_order([k for k in _ROWS if k not in _FRONT])
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    k: _ROWS[k][0] for k in _FRONT + _REFILL
}
ORACLES: dict[str, str] = {k: _ROWS[k][1] for k in QUERIES}
