"""The merge's file prune: which part files a batch's key read opens.

``_prune_bucket_files`` is pure driver arithmetic over the manifest's
recorded per-file id ranges and the batch's per-bucket id range (taken
from the batch keys the merge collects), so its rule is tested here on
hand-built manifests with no Spark session. The last test pins what
the merge costs: the number of Spark jobs one merge into an existing
table submits.
"""

from __future__ import annotations

import os
import random

from couchwarehouse_spark.warehouse import Warehouse

from .fixtures import envelope, jobs_run_by, order_doc, write_feed

PATH = "/wh/t"


def _prune(manifest, ranges):
    # The rule reads nothing from the instance: no session needed.
    return Warehouse.__new__(Warehouse)._prune_bucket_files(PATH, manifest, ranges)


def _file(b, fn):
    return os.path.join(PATH, f"_cw_bucket={b}", fn)


MANIFEST = {
    "buckets": {
        "0": ["low.parquet", "mid.parquet", "high.parquet"],
        "1": ["nostats.parquet", "other.parquet"],
    },
    "stats": {
        "0": {
            "low.parquet": ["a000", "a999"],
            "mid.parquet": ["m000", "m999"],
            "high.parquet": ["z000", "z999"],
        },
        "1": {"nostats.parquet": None, "other.parquet": ["b000", "b999"]},
    },
}


def test_overlapping_file_is_read_disjoint_file_carried_by_name():
    read, untouched = _prune(MANIFEST, {0: ("m500", "m600")})
    assert read == [_file(0, "mid.parquet")]
    assert untouched == {0: ["low.parquet", "high.parquet"]}


def test_straddled_file_is_read():
    # Batch ids a500 and z500: none lies inside mid's [m000, m999], but
    # the bucket's batch range [a500, z500] spans it.
    read, untouched = _prune(MANIFEST, {0: ("a500", "z500")})
    assert sorted(read) == sorted(
        _file(0, fn) for fn in ("low.parquet", "mid.parquet", "high.parquet")
    )
    assert untouched == {}


def test_file_without_recorded_range_is_read():
    read, untouched = _prune(MANIFEST, {1: ("x000", "x001")})
    assert read == [_file(1, "nostats.parquet")]
    assert untouched == {1: ["other.parquet"]}


def test_all_null_bucket_reads_every_file():
    read, untouched = _prune(MANIFEST, {0: (None, None)})
    assert len(read) == 3 and untouched == {}


def test_bucket_without_files_yields_nothing():
    assert _prune(MANIFEST, {7: ("a", "z")}) == ([], {})


def test_buckets_outside_ranges_are_not_considered():
    read, untouched = _prune(MANIFEST, {1: ("b100", "b100")})
    assert sorted(read) == sorted(
        _file(1, fn) for fn in ("nostats.parquet", "other.parquet")
    )
    assert untouched == {}


def test_merge_into_existing_table_job_count(spark, tmp_path):
    """A 50-change page merged into a 200-doc table: the id-range
    aggregate, the driver-side prune and the write — at most 5 Spark
    jobs in ``_merge_conformed`` (7 with the semi-join probes)."""
    rng = random.Random(5)
    wh = Warehouse(spark, str(tmp_path / "wh"), "prunejobs", n_buckets=4)
    wh.spool(write_feed(
        str(tmp_path / "f1"), [envelope(i + 1, order_doc(i, rng)) for i in range(200)]
    ))
    page = (
        [envelope(201 + i, order_doc(i * 7, rng)) for i in range(30)]
        + [envelope(231 + i, order_doc(200 + i, rng)) for i in range(10)]
        + [
            envelope(241 + i, None, doc_id=f"order{i * 11 + 1:05d}", deleted=True)
            for i in range(10)
        ]
    )
    counts = []
    merge = wh._merge_conformed

    def counted(*args):
        _, n = jobs_run_by(spark, f"merge-{len(counts)}", lambda: merge(*args))
        counts.append(n)

    wh._merge_conformed = counted
    wh.spool(write_feed(str(tmp_path / "f2"), page))
    assert len(counts) == 1
    assert counts[0] <= 5, counts
    assert wh.table().count() == 200
