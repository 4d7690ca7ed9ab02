from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from couchwarehouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="couchwarehouse_tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _stop_leaked_streams(request):
    """Stop any streaming query a test leaves running — and say which
    test leaked it. A leaked query keeps submitting micro-batches (and
    can pin Python workers at full CPU) for the REST of the suite,
    silently inflating every later test's wall time."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return
    leaked = list(s.streams.active)
    for q in leaked:
        try:
            q.stop()
        except Exception:
            pass
    if leaked:
        names = [q.name or str(q.id) for q in leaked]
        print(
            f"\n[stream-leak] {request.node.nodeid} left active queries: {names}",
            file=sys.stderr,
        )


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views
    at sf0.001 — mirrors the driver's oracle harness."""
    import duckdb

    from couchwarehouse_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con


# -- Hypothesis determinism policy (r7 verdict #8) --------------------
# CI/suite runs are derandomized so a property-test counterexample
# reproduces identically for the next builder (the KN tie in round 7
# was found by a randomized run and would have been a heisenbug under
# a fresh seed). Exploratory fuzzing re-enables randomness with
# SPARK_GRAFT_HYPOTHESIS_RANDOM=1 — the 200-example local sweeps use
# that mode.
import os as _os

try:
    from hypothesis import settings as _hyp_settings

    _hyp_settings.register_profile(
        "deterministic", derandomize=True, print_blob=True
    )
    _hyp_settings.register_profile("random", print_blob=True)
    _hyp_settings.load_profile(
        "random"
        if _os.environ.get("SPARK_GRAFT_HYPOTHESIS_RANDOM") == "1"
        else "deterministic"
    )
except ImportError:  # hypothesis optional for non-property runs
    pass


# -- Fast lane (r12 verdict #2: the driver's pytest gate must COMPLETE
# within its verify budget; the full suite has grown to ~32 min) ------
# Default runs deselect the tests recorded slowest in
# tests/fast_lane_skip.json (every node whose measured call+setup+
# teardown time was >= 2 s in the committed full-suite timing run,
# tests/test_durations.json, with the cheapest test of each file and
# the registry-contract tests always kept). The FULL suite remains one
# env var away and is the builder-loop default before every round
# close:
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -q
# Regenerate the manifests after adding slow tests:
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -q --durations=0
# then rebuild the two JSON files from the durations block.
def pytest_collection_modifyitems(config, items):
    if _os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    # A test named on the command line (``file.py::test``) runs even
    # when it is on the fast-lane skip list.
    if any("::" in arg for arg in config.args):
        return
    import json
    import pathlib

    manifest = pathlib.Path(__file__).parent / "fast_lane_skip.json"
    if not manifest.exists():
        return
    skip = set(json.loads(manifest.read_text()))
    keep = [it for it in items if it.nodeid not in skip]
    drop = [it for it in items if it.nodeid in skip]
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


def pytest_report_header(config):
    if _os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return "test lane: FULL (SPARK_GRAFT_FULL_TESTS=1)"
    return (
        "test lane: FAST (recorded-slow tests deselected; "
        "SPARK_GRAFT_FULL_TESTS=1 for the full suite)"
    )
