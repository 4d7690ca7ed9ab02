"""The merge's file prune: which part files a batch's key read opens.

``_prune_bucket_files`` is pure driver arithmetic over the manifest's
recorded per-file id ranges and the batch's per-bucket id range (taken
from the batch keys the merge collects), so its rule is tested here on
hand-built manifests with no Spark session. The last tests pin what
a merge costs: the Spark jobs an appending merge, a folding merge and
``merge_into`` submit, and the one job a batch submits outside them.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

from couchwarehouse_spark.sources.changes import read_changes_feed
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


def _count_merge_jobs(spark, wh) -> list[int]:
    """Wrap ``wh._merge_conformed`` to record the Spark jobs of each
    call; returns the (growing) list of counts."""
    counts: list[int] = []
    merge = wh._merge_conformed

    def counted(*args):
        out, n = jobs_run_by(spark, f"merge-{id(counts)}-{len(counts)}", lambda: merge(*args))
        counts.append(n)
        return out

    wh._merge_conformed = counted
    return counts


def test_merge_into_existing_table_job_count(spark, tmp_path):
    """A 50-change page merged into a 200-doc table submits no Spark
    job in ``_merge_conformed``: the batch is already Arrow, and the
    prune, the stored-seq read, latest-wins and the part-file write run
    on the driver."""
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
    counts = _count_merge_jobs(spark, wh)
    wh.spool(write_feed(str(tmp_path / "f2"), page))
    assert counts == [0]
    assert wh.table().count() == 200


def test_folding_merge_job_count(spark, tmp_path, monkeypatch):
    """Pages of 40 upserts and 5 tombstones into a 4-bucket table: every
    page touches every bucket, so the 4th page folds them. A fold reads
    the folded buckets' live rows with pyarrow on the driver, so it
    submits no Spark job, as an append — and it reads, merges and
    writes them a bucket at a time, so the driver never holds two
    folded buckets' rows."""
    rng = random.Random(9)
    wh = Warehouse(spark, str(tmp_path / "wh"), "foldjobs", n_buckets=4)
    wh.spool(write_feed(
        str(tmp_path / "f0"), [envelope(i + 1, order_doc(i, rng)) for i in range(200)]
    ))
    live = set(range(200))
    counts = _count_merge_jobs(spark, wh)
    events: list[tuple[str, str]] = []
    read, write = wh._read_live_rows, pq.write_table

    def logged_read(files, schema, dead, filters=None):
        if filters is None:  # a fold's read of a whole bucket
            events.extend(("read", os.path.basename(os.path.dirname(f))) for f in files[:1])
        return read(files, schema, dead, filters)

    def logged_write(rows, where, **kwargs):
        events.append(("write", os.path.basename(os.path.dirname(where))))
        return write(rows, where, **kwargs)

    wh._read_live_rows = logged_read
    monkeypatch.setattr(pq, "write_table", logged_write)
    seq = 1000
    folds, page_events = [], []
    for n in range(1, 6):
        envs = []
        for i in rng.sample(range(260), 40):
            seq += 1
            envs.append(envelope(seq, order_doc(i, rng)))
            live.add(i)
        for i in rng.sample(sorted(live), 5):
            seq += 1
            envs.append(envelope(seq, None, doc_id=f"order{i:05d}", deleted=True))
            live.discard(i)
        wh.spool(write_feed(str(tmp_path / f"f{n}"), envs))
        folds.append(wh._load_manifest(wh._table_path("_default"))["metrics"]["buckets_folded"])
        page_events.append(events[:])
        events.clear()
    assert folds == [0, 0, 0, 4, 0]
    assert counts == [0] * 5
    bucket_dirs = [f"_cw_bucket={b}" for b in range(4)]
    assert page_events[3] == [(op, d) for d in bucket_dirs for op in ("read", "write")]
    for n in (0, 1, 2, 4):
        assert page_events[n] == [("write", d) for d in bucket_dirs]
    assert sorted(r["id"] for r in wh.table().collect()) == sorted(
        f"order{i:05d}" for i in live
    )


def test_merge_into_job_count(spark, tmp_path):
    """merge_into's live-row count comes from the merge's batch
    collect: the whole call submits that 1 job and nothing else (the
    seq probe reads parquet footers)."""
    wh = Warehouse(spark, str(tmp_path / "wh"), "mijobs", n_buckets=4)
    schema = "id string, total double, gone boolean"
    wh.merge_into(
        spark.createDataFrame([(f"o{i:03d}", float(i), False) for i in range(200)], schema),
        delete_col="gone",
    )
    inc = spark.createDataFrame(
        [(f"o{i * 7:03d}", -1.0, False) for i in range(30)]
        + [(f"n{i:03d}", 1.0, False) for i in range(10)]
        + [(f"o{i * 7 + 3:03d}", None, True) for i in range(10)],
        schema,
    )
    n, n_jobs = jobs_run_by(spark, "merge-into", lambda: wh.merge_into(inc, delete_col="gone"))
    assert n == 50  # 40 live rows, 10 deletes of stored ids
    assert n_jobs == 1
    assert wh.table().count() == 201  # o203 and n000-n009 are new


def test_process_batch_submits_no_job(spark, tmp_path):
    """A batch with no Spark hook set submits no Spark job at all: its
    max seq, live types and tombstones come from the driver-side parse,
    and each type's merge runs on the driver too."""
    rng = random.Random(4)
    wh = Warehouse(spark, str(tmp_path / "wh"), "probejobs", n_buckets=4, split="type")
    wh.spool(write_feed(
        str(tmp_path / "f0"), [envelope(i + 1, order_doc(i, rng)) for i in range(20)]
    ))
    merge = wh._merge_type
    merged = []

    def recording_merge(flat, tombstones, doc_type):
        merged.append(doc_type)
        return merge(flat, tombstones, doc_type)

    wh._merge_type = recording_merge
    page = [envelope(100 + i, order_doc(i, rng)) for i in range(5)] + [
        envelope(200, None, doc_id="order00007", deleted=True)
    ]
    env = read_changes_feed(write_feed(str(tmp_path / "f1"), page))
    last, n_jobs = jobs_run_by(spark, "probe-batch", lambda: wh._process_batch(env))
    assert last == page[-1]["seq"]
    assert merged == ["order"]
    assert n_jobs == 0
    assert wh.lookup("order00007", "order").count() == 0
