"""Merge-on-read: a merge appends the batch's winning rows and records
the stored row versions they supersede (the manifest's dead set).

Checked here: the merge against a Python dict reference at every
version (``table``, ``table(version=k)``, ``changes``, ``lookup``),
the fold back to one file, restore/clone/compact with a dead set, a
crash between publish and commit, the merge's recorded metrics, and
two read-path faults the multi-file buckets expose (``lookup`` over
several covering files, the per-read listing job).
"""

from __future__ import annotations

import json
import os
import random

import pytest

from couchwarehouse_spark.cli import main
from couchwarehouse_spark.sources.changes import read_changes_feed
from couchwarehouse_spark.warehouse import Warehouse

from .fixtures import envelope, jobs_run_by, person_doc, write_feed

MAX = Warehouse.MAX_FILES_PER_BUCKET


def _doc(i: int, age: int) -> dict:
    d = person_doc(i, random.Random(i))
    d["age"] = age
    return d


def _apply(wh, tmp_path, name, envs):
    """Merge one page of envelopes as one batch, bypassing the
    checkpoint filter, so replays and stale changes reach the merge."""
    wh._process_batch(read_changes_feed(write_feed(str(tmp_path / name), envs)))


def _ref_apply(state: dict, envs: list[dict]) -> None:
    """The merge's semantics on a dict id → (seq, age): the batch's
    latest change per id wins over the stored row only with a higher
    seq; a winning tombstone deletes."""
    win: dict = {}
    for e in envs:
        seq = int(e["seq"].split("-")[0])
        if e["id"] not in win or seq > win[e["id"]][0]:
            win[e["id"]] = (seq, None if e.get("deleted") else e["doc"]["age"])
    for doc_id, (seq, age) in win.items():
        if doc_id in state and seq <= state[doc_id][0]:
            continue
        if age is None:
            state.pop(doc_id, None)
        else:
            state[doc_id] = (seq, age)


def _ages(df) -> dict:
    rows = df.select("id", "age").collect()
    assert len(rows) == len({r["id"] for r in rows}), "duplicate id"
    return {r["id"]: int(r["age"]) for r in rows}


def _manifest(wh, version=None):
    return wh._load_manifest(wh._table_path("_default"), version)


def test_merge_on_read_matches_dict_reference(spark, tmp_path):
    rng = random.Random(3)
    wh = Warehouse(spark, str(tmp_path / "wh"), "mor", n_buckets=2)
    ids = [f"person{i:04d}" for i in range(40)]
    state: dict = {}
    refs: dict[int, dict] = {}  # version -> {id: (seq, age)}

    def merge(name, envs):
        _apply(wh, tmp_path, name, envs)
        _ref_apply(state, envs)
        refs[_manifest(wh)["version"]] = dict(state)

    merge("p0", [envelope(i + 1, _doc(i, 0)) for i in range(20)])
    seq = 20
    for n in range(1, 9):
        envs = []
        for _ in range(12):
            seq += 1
            doc_id = rng.choice(ids)
            if doc_id in state and rng.random() < 0.25:
                envs.append(envelope(seq, None, doc_id=doc_id, deleted=True))
            else:
                envs.append(envelope(seq, _doc(int(doc_id[6:]), rng.randrange(1000))))
        merge(f"p{n}", envs)
    # Delete then re-create one id inside one page.
    last = [
        envelope(seq + 1, None, doc_id="person0001", deleted=True),
        envelope(seq + 2, _doc(1, 4242)),
    ]
    merge("recreate", last)
    merge("replay", last)  # a replay of the last page
    merge("stale", [envelope(5, _doc(1, 7))])  # older than the stored seq
    head = max(refs)
    assert refs[head]["person0001"] == (seq + 2, 4242)
    assert _manifest(wh)["metrics"]["rows_appended"] == 0
    assert _manifest(wh, head - 1)["metrics"] == {
        "rows_appended": 0, "rows_superseded": 0, "buckets_folded": 0
    }

    def ages(ref):
        return {i: age for i, (_, age) in ref.items()}

    folded = [v for v in refs if _manifest(wh, v)["metrics"]["buckets_folded"]]
    assert folded, "no fold in 12 batches"
    assert any(_manifest(wh, v)["dead"] for v in refs), "no version had a dead set"
    for v, ref in refs.items():
        assert all(len(fs) <= MAX for fs in _manifest(wh, v)["buckets"].values()), v
        assert _ages(wh.table(version=v)) == ages(ref), v
        want = {}
        for i in set(ref) | set(refs[head]):
            if i not in ref:
                want[i] = "insert"
            elif i not in refs[head]:
                want[i] = "delete"
            elif ref[i] != refs[head][i]:
                want[i] = "update"
        got = {r["id"]: r["change_type"] for r in wh.changes(v).collect()}
        assert got == want, v
    assert _ages(wh.table()) == ages(refs[head])
    for doc_id in ids:
        rows = wh.lookup(doc_id).collect()
        want = refs[head].get(doc_id)
        assert [int(r["age"]) for r in rows] == ([] if want is None else [want[1]]), doc_id

    # Restore to the version before the first fold keeps that
    # version's dead set: superseded rows stay dead.
    pre = min(folded) - 1
    wh.restore(pre)
    assert _manifest(wh)["dead"] == _manifest(wh, pre)["dead"]
    assert _ages(wh.table()) == ages(refs[pre])
    for doc_id in ids:
        want = refs[pre].get(doc_id)
        assert [int(r["age"]) for r in wh.lookup(doc_id).collect()] == (
            [] if want is None else [want[1]]
        ), doc_id

    # A clone copies the dead set with the files.
    wh.clone("_default", "branch")
    branch = wh._load_manifest(wh._table_path("branch"))
    assert branch["dead"] == _manifest(wh)["dead"]
    assert _ages(wh.table("branch")) == ages(refs[pre])

    # compact rewrites every bucket to one file and clears its dead set.
    assert wh.compact() > 0
    m = _manifest(wh)
    assert m["dead"] == {} and all(len(fs) == 1 for fs in m["buckets"].values())
    assert _ages(wh.table()) == ages(refs[pre])


def test_analyze_counts_live_rows_after_a_merge(spark, tmp_path):
    """Per-file ANALYZE counts go stale when a later merge marks rows
    of those files dead: they are re-scanned, not carried."""
    wh = Warehouse(spark, str(tmp_path / "wh"), "morstats", n_buckets=1)
    _apply(wh, tmp_path, "p0", [envelope(i + 1, _doc(i, 1)) for i in range(10)])
    assert wh.analyze() == 1
    _apply(wh, tmp_path, "p1", [envelope(20 + i, _doc(i, 2)) for i in range(3)])
    assert wh.describe_stats().count() == 0  # the analyzed file's counts are stale
    assert wh.analyze() == 2  # the old file is re-scanned with the new one
    assert wh.describe_stats().collect()[0]["n_rows"] == 10


def _metrics(wh, version):
    return _manifest(wh, version)["metrics"]


def test_merge_records_metrics_and_history_shows_them(spark, tmp_path, capsys):
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir, "mormetrics", n_buckets=1)
    _apply(wh, tmp_path, "p0", [envelope(i + 1, _doc(i, 1)) for i in range(10)])
    assert _metrics(wh, 1) == {"rows_appended": 10, "rows_superseded": 0, "buckets_folded": 0}
    # 3 updates, 2 inserts, 1 delete of a stored id, 1 of an absent id.
    page = (
        [envelope(20 + i, _doc(i, 2)) for i in range(3)]
        + [envelope(30 + i, _doc(10 + i, 2)) for i in range(2)]
        + [envelope(40, None, doc_id="person0009", deleted=True)]
        + [envelope(41, None, doc_id="person0099", deleted=True)]
    )
    _apply(wh, tmp_path, "p1", page)
    assert _metrics(wh, 2) == {"rows_appended": 5, "rows_superseded": 4, "buckets_folded": 0}
    assert sorted(_manifest(wh, 2)["dead"]["0"]) == sorted(
        [f"{i + 1}:person{i:04d}" for i in range(3)] + ["10:person0009"]
    )
    for n in range(2, MAX):
        _apply(wh, tmp_path, f"p{n}", [envelope(100 * n + i, _doc(i, n)) for i in range(2)])
    assert len(_manifest(wh)["buckets"]["0"]) == MAX
    # The next append would leave a 5th file: the bucket folds.
    _apply(wh, tmp_path, "fold", [envelope(1000, _doc(0, 9)), envelope(1001, _doc(20, 9))])
    m = _manifest(wh)
    assert m["metrics"] == {"rows_appended": 2, "rows_superseded": 1, "buckets_folded": 1}
    assert len(m["buckets"]["0"]) == 1 and m["dead"] == {}
    assert wh.table().count() == 12

    # A second file gives compact a bucket to rewrite.
    _apply(wh, tmp_path, "post", [envelope(2000, _doc(1, 9))])
    assert wh.compact() == 1
    hist = {r["version"]: r.asDict() for r in wh.history().collect()}
    assert hist[2]["rows_appended"] == 5 and hist[2]["rows_superseded"] == 4
    assert hist[max(hist) - 2]["buckets_folded"] == 1
    assert hist[max(hist)]["op"] == "compact" and hist[max(hist)]["rows_appended"] is None
    empty = write_feed(str(tmp_path / "empty"), [])
    assert main(["--feed", empty, "--database", "mormetrics", "--warehouse-dir", wh_dir,
                 "--history", "--quiet"]) == 0
    out = capsys.readouterr().out
    assert "rows_appended" in out and "rows_superseded" in out and "buckets_folded" in out


def _disk_files(path: str) -> set[str]:
    return {
        os.path.join(root, fn)
        for root, _, fns in os.walk(path)
        if "_cw_bucket=" in root
        for fn in fns
        if fn.endswith(".parquet")
    }


@pytest.mark.parametrize("n_pages", [1, MAX], ids=["append", "fold"])
def test_crash_between_publish_and_commit(spark, tmp_path, n_pages):
    """A merge that dies after its files are published and before its
    manifest lands leaves the table at version v with v's dead set;
    re-running the batch gives a clean run's rows; vacuum deletes the
    orphans."""
    pages = [[envelope(i + 1, _doc(i, 0)) for i in range(12)]] + [
        [envelope(100 * n + i, _doc(i * 3 % 12, n)) for i in range(4)]
        + [envelope(100 * n + 50, None, doc_id=f"person{n:04d}", deleted=True)]
        for n in range(1, n_pages + 1)
    ]
    clean = Warehouse(spark, str(tmp_path / "clean"), "crash", n_buckets=1)
    for n, envs in enumerate(pages):
        clean.spool(write_feed(str(tmp_path / f"c{n}"), envs))
    want = _ages(clean.table())

    wh = Warehouse(spark, str(tmp_path / "wh"), "crash", n_buckets=1)
    for n, envs in enumerate(pages[:-1]):
        wh.spool(write_feed(str(tmp_path / f"w{n}"), envs))
    before = _manifest(wh)
    rows_before = _ages(wh.table())
    published: list[str] = []
    publish, commit = wh._publish_tmp, wh._commit_manifest

    def recording_publish(path, tmp):
        moved, stats = publish(path, tmp)
        published.extend(
            os.path.join(path, f"_cw_bucket={b}", fn) for b, fns in moved.items() for fn in fns
        )
        return moved, stats

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the manifest commit")

    wh._publish_tmp, wh._commit_manifest = recording_publish, crash
    last = write_feed(str(tmp_path / "last"), pages[-1])
    with pytest.raises(RuntimeError, match="crash"):
        wh.spool(last)
    wh._publish_tmp, wh._commit_manifest = publish, commit
    assert published
    assert _manifest(wh) == before
    assert _ages(wh.table()) == rows_before

    wh.spool(last)  # the checkpoint did not advance: the batch re-runs
    head = _manifest(wh)
    assert head["metrics"]["buckets_folded"] == (1 if n_pages == MAX else 0)
    assert _ages(wh.table()) == want
    path = wh._table_path("_default")
    referenced = set(wh._manifest_files(path, head))
    unreferenced = _disk_files(path) - referenced
    assert set(published) <= unreferenced
    assert wh.vacuum(retain_versions=1, min_age_seconds=0) == len(unreferenced)
    assert _disk_files(path) == referenced
    assert _ages(wh.table()) == want


def test_merge_clears_a_stale_scratch_dir_of_a_reused_pid(spark, tmp_path, monkeypatch):
    """A crashed writer whose pid this process now holds left its
    scratch dir behind, with a part file in it. The merge that draws
    that name clears it first: it neither fails nor publishes the
    stale file."""
    import itertools

    import pyarrow as pa
    import pyarrow.parquet as pq

    from couchwarehouse_spark import warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"), "stale", n_buckets=1)
    wh.spool(write_feed(str(tmp_path / "f0"), [envelope(i + 1, _doc(i, 0)) for i in range(4)]))
    path = wh._table_path("_default")
    stale = f"{path}._tmp.{os.getpid()}.7"
    os.makedirs(os.path.join(stale, "_cw_bucket=0"))
    pq.write_table(
        pa.table({"id": ["ghost"], "_cw_seq": pa.array([99], pa.int64())}),
        os.path.join(stale, "_cw_bucket=0", "part-stale.parquet"),
    )
    monkeypatch.setattr(warehouse, "_SCRATCH_COUNTER", itertools.count(7))

    wh.spool(write_feed(str(tmp_path / "f1"), [envelope(10, _doc(1, 5))]))
    assert _ages(wh.table()) == {"person0000": 0, "person0001": 5, "person0002": 0, "person0003": 0}
    assert not os.path.exists(stale)
    assert "part-stale.parquet" not in {fn for fns in _manifest(wh)["buckets"].values() for fn in fns}
    assert not any(f.endswith("part-stale.parquet") for f in _disk_files(path))


def test_lookup_finds_an_id_in_the_last_of_several_covering_files(spark, tmp_path):
    """Files with no recorded id range all cover every id, so pyarrow
    yields an empty record batch per file before the one holding the
    row; every id must still be found."""
    wh = Warehouse(spark, str(tmp_path / "wh"), "manyfiles", n_buckets=1)
    seq = 0
    for prefix in ("aaa", "mmm", "zzz"):
        envs = []
        for i in range(4):
            seq += 1
            d = _doc(i, seq)
            d["_id"] = f"{prefix}{i:04d}"
            envs.append(envelope(seq, d))
        wh.spool(write_feed(str(tmp_path / f"f_{prefix}"), envs))
    path = wh._table_path("_default")
    manifest = wh._load_manifest(path)
    assert len(manifest["buckets"]["0"]) == 3
    manifest["stats"] = {"0": {fn: None for fn in manifest["buckets"]["0"]}}
    with open(wh._manifest_file(path, manifest["version"]), "w") as f:
        json.dump(manifest, f)
    for row in wh.table().collect():
        got = wh.lookup(row["id"]).collect()
        assert [r["age"] for r in got] == [row["age"]], row["id"]


def test_read_of_a_40_file_table_is_one_job(spark, tmp_path):
    """The manifest is the listing: a read of more part files than
    Spark's parallel-listing threshold (32) submits no listing job."""
    wh = Warehouse(spark, str(tmp_path / "wh"), "wide", n_buckets=40)
    wh.spool(write_feed(
        str(tmp_path / "feed"), [envelope(i + 1, _doc(i, i)) for i in range(400)]
    ))
    manifest = _manifest(wh)
    assert sum(len(fs) for fs in manifest["buckets"].values()) >= 40
    rows, n_jobs = jobs_run_by(spark, "wide-read", lambda: wh.table().collect())
    assert len(rows) == 400
    assert n_jobs == 1
