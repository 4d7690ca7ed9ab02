"""Registry wiring SURVEY.md §2 operators to the driver contract.

Each implemented operator registers a callable ``(spark, sf_dir) ->
DataFrame`` plus (when SQL-expressible) the equivalent ANSI SQL that
DuckDB runs on the same parquet for the correctness oracle. Column
names must match between the two lanes — alias everything.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


# DataFrames persisted INSIDE a query body (some operators reuse an
# intermediate across several subtrees and cannot unpersist it before
# returning their lazy result). Registered here so the next query
# invocation releases them — callers that run many queries in one
# session (the driver gate, pytest, bench) never accumulate caches.
#
# ORDERING CONSTRAINT: release happens on ENTRY to every registered
# query, including nested calls (near_dup_clusters → ngram_jaccard_
# pairs). A query body must therefore invoke other registered queries
# BEFORE its own scoped_persist/scoped_register calls, or the nested
# entry would release the caller's still-needed frames.
_SCOPED_PERSISTS: list[DataFrame] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` until the NEXT registered query is invoked."""
    out = df.persist()
    _SCOPED_PERSISTS.append(out)
    return out


def scoped_register(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted frame for next-query release."""
    _SCOPED_PERSISTS.append(df)
    return df


def release_scoped() -> None:
    while _SCOPED_PERSISTS:
        try:
            _SCOPED_PERSISTS.pop().unpersist()
        except Exception:
            pass  # session already stopped


from contextlib import contextmanager


@contextmanager
def scoped_shuffle(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` for a harness-bound e2e
    body. Streaming state partitions are FIXED at a query's first run
    from this conf, and every partition is a per-batch state-store
    file + task; batch warehouse merges over bounded fixtures pay the
    same fixed per-task cost. The session default returns on exit —
    production sizing goes UP with volume, this scopes the harness,
    not the design."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@functools.cache
def _e2e_root() -> str:
    """This process's root for e2e scratch dirs, made on first use and
    removed at interpreter exit (by this process, not a forked child)."""
    root = tempfile.mkdtemp(prefix="cw_scratch_")
    owner = os.getpid()

    def cleanup() -> None:
        if os.getpid() == owner:
            shutil.rmtree(root, ignore_errors=True)

    atexit.register(cleanup)
    return root


def sf_tag(sf_dir: str) -> str:
    """Short stable tag of an input directory, so the scratch dirs and
    session-scoped names (memory sinks, views) of one entry run at two
    scale factors in one session never collide."""
    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def e2e_scratch_dir(name: str, sf_dir: str) -> str:
    """Working directory for one e2e body's feeds, warehouse and
    checkpoints at ``sf_dir``: ``<root>/<name>_<sf_tag(sf_dir)>``,
    removed if a previous call left it, and returned ABSENT (callers
    create what they write). ``<root>`` is per process, so two
    processes on one host never share, or delete, each other's
    tables."""
    path = os.path.join(_e2e_root(), f"{name}_{sf_tag(sf_dir)}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def query_scoped_shuffle(
    name: str,
    oracle: str | None = None,
    *,
    partitions: int | Callable[[str], int],
) -> Callable[[QueryFn], QueryFn]:
    """Register a query whose BODY runs under ``scoped_shuffle`` (the
    returned lazy DataFrame — a small post-run aggregate — evaluates
    under the restored session default). ``partitions`` may be a
    callable of ``sf_dir`` so the count derives from the input volume
    at call time rather than a constant fixed at import time."""

    def deco(fn: QueryFn) -> QueryFn:
        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            n = partitions(sf_dir) if callable(partitions) else partitions
            with scoped_shuffle(spark, n):
                return fn(spark, sf_dir)

        scoped.__name__ = fn.__name__
        scoped.__doc__ = fn.__doc__
        scoped.__module__ = fn.__module__  # family introspection
        scoped.__wrapped__ = fn
        return query(name, oracle)(scoped)

    return deco


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle.

    ``oracle=None`` marks a genuinely non-SQL-expressible op — the
    driver then records a weaker rows-only check for it.
    """

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_scoped()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco
