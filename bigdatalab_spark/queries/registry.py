"""Registry of named queries with optional DuckDB oracles.

The driver contract (``__spark_entry__.py``) needs, per query: a callable
``(spark, sf_dir) -> DataFrame`` and, when ANSI-SQL-expressible, an oracle
SQL string DuckDB runs over the same parquet tables. Column names must
match exactly between the two — alias everything on both sides.

Concurrency contract: query callables are SEQUENTIAL per session (the
driver's execution model). SQL-entry queries bind session-global temp
views (``orders``, ``lineitem``, ...) and analyze immediately, so
back-to-back calls at different sf_dirs are safe (each ``spark.sql``
resolves against the views registered an instant earlier, and the
returned plan keeps its binding) — but two THREADS interleaving
view registration and analysis in one session could cross-bind. Run
queries concurrently only from separate SparkSessions. The same holds
for on-disk state: a query that writes a table, index or checkpoint
does it under :func:`query_scratch`, one fixed root per (query,
sf_dir) that every run empties first — so no run leaves a new
directory behind, and two concurrent runs of one query at one sf_dir
would share (and wipe) each other's root.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    survey_ids: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, *, oracle: str | None = None, ids: tuple[str, ...] = ()):
    """Decorator: register ``fn`` as a named engine query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, survey_ids=ids)
        return fn

    return deco


def query_scratch(name: str, sf_dir: str) -> str:
    """The per-query scratch root
    ``<temp dir>/bigdatalab_<name>/<basename(sf_dir)>``, emptied for
    this run. The directory itself is removed, not re-created: the
    writers below it (ManagedTable, the dedup index, stream
    checkpoints) create what they need, and a dataset's writer lock
    lives beside it, never inside."""
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        f"bigdatalab_{name}",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    shutil.rmtree(root, ignore_errors=True)
    return root
