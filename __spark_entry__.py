"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``mcp_server_vector_search_spark``; this file
only exposes the registry.  Importing the operators builds no oracle:
the generators (driver-side training folded into SQL literals) run on
the first ``oracle_sql()`` call, once per process.

The driver's correctness gate samples a bounded prefix (~50 entries)
of the ``queries()`` iteration order.  To maximize UNION coverage
across rounds the order is DERIVED, not hand-rotated (VERDICT r7+r8
both caught a stale hand-rotated prefix): each query's last-checked
round is parsed from the committed ``CORRECTNESS_r*.json`` records and
the registry is sorted ascending by (last_checked_round, name), so
never-checked queries lead, then the stalest cohort, and the rotation
can never be forgotten again.  ``tests/test_entry.py`` asserts the
sort property against the same files.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from mcp_server_vector_search_spark import registry
from mcp_server_vector_search_spark.operators.topk import flagship

SMOKE_SF_DIR = "/root/testdata/sf0.001"

_REPO = Path(__file__).resolve().parent


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference server.py:85-91 semantics) on sf0.001."""
    return flagship(spark, SMOKE_SF_DIR)


def last_checked_rounds() -> dict[str, int]:
    """name -> highest round with a committed GREEN driver CORRECTNESS
    row.  Queries absent from every record map to 0 so they sort
    first; a failed/errored record does NOT count as checked, so a
    query whose latest check went red re-enters the sample immediately
    instead of rotating to the back for ~3 rounds.
    """
    last: dict[str, int] = {}
    for path in sorted(_REPO.glob("CORRECTNESS_r*.json")):
        digits = path.stem.split("_r")[-1]
        if not digits.isdigit():
            continue
        rnd = int(digits)
        try:
            record = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(record, dict):
            continue
        for name, row in record.items():
            # Require an explicit POSITIVE signal (ADVICE r9): a
            # malformed or format-drifted row must re-enter the sample,
            # not silently rotate an unverified query to the back.
            ok = isinstance(row, dict) and (
                not row.get("err")
                and row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is True
            )
            if ok:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _prioritized(mapping: dict) -> dict:
    last = last_checked_rounds()
    names = sorted(mapping, key=lambda n: (last.get(n, 0), n))
    return {n: mapping[n] for n in names}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry.load_all_operators()
    return _prioritized(dict(registry.QUERIES))


def oracle_sql() -> dict[str, str]:
    registry.load_all_operators()
    return _prioritized(registry.oracles())
