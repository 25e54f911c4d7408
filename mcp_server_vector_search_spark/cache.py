"""Query scratch: everything a query leaves behind has one owner.

A query may leave three kinds of scratch:

- persisted blocks (``scratch_persist``): signature tables, exploded
  shingles, edge lists read several times within ONE query's plan;
- directories (``scratch_dir``): staged stream sources, checkpoints,
  sink round-trips, rewritten index layouts;
- temp views (``scratch_view``, ``scratch_table``): memory-sink
  tables and streaming input views, which keep their rows in driver
  memory, and the input views of SQL-text queries.  A query never
  registers a fixed view name: that would replace a view the caller
  has under the same name.

The one rule for scratch lifetime: it lives until the owner of the
query's result has consumed it, and that owner then calls
``release_scratch()`` (bench.py after each query, perfbench after each
shard, tests).  Query functions never release their own scratch: they
may return lazy DataFrames that still read it.  A query that raises
halfway loses its scratch the same way, on the next release.  For
callers that never release, the per-process root every ``scratch_dir``
lives under is removed at process exit.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_SCRATCH: list[DataFrame] = []
_DIRS: list[str] = []
_VIEWS: list[tuple[SparkSession, str]] = []
_ROOT: str | None = None
_SEQ = itertools.count()


def scratch_persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """persist() with handle tracking; returns the same DataFrame."""
    out = df.persist(level) if level is not None else df.persist()
    _SCRATCH.append(out)
    return out


def _root() -> str:
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="mcpvs_scratch_")
        atexit.register(shutil.rmtree, _ROOT, True)
    return _ROOT


def scratch_dir(prefix: str) -> str:
    """A new empty directory under the per-process scratch root,
    removed by the next ``release_scratch()``."""
    d = os.path.join(_root(), f"{prefix}{next(_SEQ)}")
    os.makedirs(d)
    _DIRS.append(d)
    return d


def scratch_view(spark: SparkSession, prefix: str) -> str:
    """A process-unique temp-view name in ``spark``'s session; the view
    registered under it is dropped by the next ``release_scratch()``."""
    name = f"{prefix}{next(_SEQ)}"
    _VIEWS.append((spark, name))
    return name


def scratch_table(df: DataFrame, prefix: str) -> str:
    """Register ``df`` under a new ``scratch_view`` name; returns it."""
    name = scratch_view(df.sparkSession, prefix)
    df.createOrReplaceTempView(name)
    return name


def release_scratch() -> int:
    """Unpersist every tracked DataFrame (blocking=False), drop every
    tracked view and remove every tracked directory.  Returns how many
    handles were released.  Does nothing when nothing is tracked.  Safe
    to call repeatedly and with stopped sessions (errors are swallowed —
    the JVM frees blocks and views on session stop anyway)."""
    n = len(_SCRATCH) + len(_VIEWS) + len(_DIRS)
    while _SCRATCH:
        try:
            _SCRATCH.pop().unpersist()
        except Exception:  # noqa: BLE001 — session may be gone
            pass
    while _VIEWS:
        spark, name = _VIEWS.pop()
        try:
            spark.catalog.dropTempView(name)
        except Exception:  # noqa: BLE001 — session may be gone
            pass
    while _DIRS:
        shutil.rmtree(_DIRS.pop(), ignore_errors=True)
    return n
