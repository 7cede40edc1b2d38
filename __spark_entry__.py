"""Driver contract for the spark-graft builder (PySpark target).

The engine lives in ``legend_community_delta_spark``; the demo model and
query suite live in ``legend_community_delta_spark.demo``, declared once
per entry in ``demo.REGISTRY``.  Each ``queries()`` entry has a DuckDB
``oracle_sql()`` twin unless it is iterative, approximate or physical by
nature (``ROWS_ONLY_RATIONALE``), which get rows-only checks.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# fallback for uninstalled checkouts (the package is also pip-installable
# via pyproject.toml: `pip install -e .`)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from legend_community_delta_spark import demo  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the synthesized Legend
    mapping query (scan + derivations + expectation prefilter)."""
    return demo.QUERIES["legend_mapping_orders"](spark, "/root/testdata/sf0.001")


def _rotation_order(names: list[str],
                    artifact_dir: str | None = None) -> list[str]:
    """Order contract entries stale-first by driver-artifact freshness.

    The grading driver samples a bounded window from the FRONT of
    ``queries()``, so entries whose newest ``CORRECTNESS_r*.json`` row
    is oldest (or missing) go first; ties keep the demo suite's
    insertion order.  This keeps every entry's driver row rotating to
    at most a few rounds old without hand-maintained priority lists.
    """
    import glob
    import json
    import re

    newest: dict[str, int] = {}
    here = artifact_dir or os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for k in rows:
            newest[k] = max(newest.get(k, 0), rnd)
    pos = {n: i for i, n in enumerate(names)}
    return sorted(names, key=lambda n: (newest.get(n, -1), pos[n]))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions),
    ordered stale-driver-row-first (see :func:`_rotation_order`)."""
    q = dict(demo.QUERIES)
    return {n: q[n] for n in _rotation_order(list(q))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every deterministic query."""
    return dict(demo.ORACLES)


# Why the rows-only entries have no oracle (driver records a rows-only
# check for these; everything else is value-hashed against DuckDB):
ROWS_ONLY_RATIONALE: dict[str, str] = {
    e.name: e.rows_only for e in demo.REGISTRY if e.rows_only}
