"""Unit tests for the merge kernel (R11/R12) and multimodal plumbing
(X3) on hand-built frames.
"""

from __future__ import annotations

import pyarrow as pa

from couchwarehouse_spark.multimodal import (
    FEATURE_DIM,
    _fake_features,
    extract_features,
    media_struct,
)
from couchwarehouse_spark.operators.upsert import (
    SEQ_COL,
    latest_rows,
    latest_wins,
    merge_batch,
)

from pyspark.sql import functions as F

from .fixtures import jobs_run_by


def _frame(spark, rows):
    return spark.createDataFrame(rows, f"id string, v string, {SEQ_COL} long")


def _table(rows):
    return pa.table(
        {
            "id": [r[0] for r in rows],
            "v": [r[1] for r in rows],
            SEQ_COL: pa.array([r[2] for r in rows], pa.int64()),
        }
    )


def test_latest_wins_picks_highest_seq(spark):
    df = _frame(spark, [("a", "v1", 1), ("a", "v2", 5), ("a", "v3", 3), ("b", "x", 2)])
    got = {r["id"]: r["v"] for r in latest_wins(df).collect()}
    assert got == {"a": "v2", "b": "x"}


def test_merge_batch_upsert_delete_recreate():
    state = _table([("a", "old", 1), ("b", "keep", 2)])
    upserts = _table([("a", "new", 10), ("c", "created", 11)])
    tombs = pa.table({"id": ["b", "c"], SEQ_COL: pa.array([12, 5], pa.int64())})
    # b deleted at seq 12 (after its state seq 2) → gone.
    # c tombstone at seq 5 but re-created at seq 11 → survives.
    got = {r["id"]: r["v"] for r in merge_batch(state, upserts, tombs).to_pylist()}
    assert got == {"a": "new", "c": "created"}


def test_merge_batch_idempotent_replay():
    state = _table([("a", "v", 5)])
    replay = _table([("a", "v", 5)])  # same batch again
    got = merge_batch(state, replay, None).to_pylist()
    assert len(got) == 1 and got[0]["v"] == "v"


def test_latest_rows_matches_a_loop():
    """The kernel latest-wins against a per-row loop: each id's
    highest-seq row, NULL ids forming one group, the result id-sorted
    with the NULL group last."""
    import random

    rng = random.Random(3)
    for n in (0, 1, 2, 50, 400):
        ids = [rng.choice(["a", "b", "c", None, f"x{rng.randrange(30)}"]) for _ in range(n)]
        seqs = rng.sample(range(10 * n + 1), n)
        want: dict = {}
        for i, s in zip(ids, seqs):
            if i not in want or s > want[i]:
                want[i] = s
        got = latest_rows(pa.table({"id": pa.array(ids, pa.string()), SEQ_COL: seqs}))
        assert got.to_pylist() == [
            {"id": i, SEQ_COL: want[i]}
            for i in sorted(want, key=lambda k: (k is None, k or ""))
        ]


def test_latest_rows_composite_key():
    """A list key keeps each (group, id)'s highest-seq row, sorted by
    group then id: an id in two groups keeps a row in each."""
    t = pa.table({
        "g": [1, 0, 1, 0, 1],
        "id": ["b", "a", "a", "a", "b"],
        SEQ_COL: pa.array([4, 1, 2, 3, 5], pa.int64()),
    })
    got = latest_rows(t, ["g", "id"]).to_pylist()
    assert got == [
        {"g": 0, "id": "a", SEQ_COL: 3},
        {"g": 1, "id": "a", SEQ_COL: 2},
        {"g": 1, "id": "b", SEQ_COL: 5},
    ]


def test_multimodal_feature_determinism(spark):
    assert _fake_features(b"abc") == _fake_features(b"abc")
    assert _fake_features(b"abc") != _fake_features(b"abd")
    assert len(_fake_features(b"")) == FEATURE_DIM

    df = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    with_media = df.withColumn(
        "media", media_struct(F.encode("text", "utf-8"), F.lit("text/plain"))
    )
    feats = {r["doc_id"]: r for r in extract_features(with_media).collect()}
    assert feats[1]["n_bytes"] == 5
    assert feats[2]["n_bytes"] == 0
    assert feats[1]["feature"] == _fake_features(b"hello")


def test_decode_stub_raises():
    import pytest

    from couchwarehouse_spark.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(None)


def test_resize_media_sets_dims_and_budget(spark):
    from couchwarehouse_spark.multimodal import resize_media

    df = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    with_media = df.withColumn(
        "media", media_struct(F.encode("text", "utf-8"), F.lit("image/fake"))
    )
    out = {r["doc_id"]: r["media"] for r in resize_media(with_media, 64, 32).collect()}
    for m in out.values():
        assert m["meta"]["width"] == 64 and m["meta"]["height"] == 32
        assert len(m["data"]) == (64 * 32) // 64  # byte budget w*h/64
        assert m["mime"] == "image/fake"
    # deterministic: same payload → same resampled bytes
    again = {r["doc_id"]: r["media"] for r in resize_media(with_media, 64, 32).collect()}
    assert out[1]["data"] == again[1]["data"]


def test_sample_frames_fanout_contiguous(spark):
    from couchwarehouse_spark.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, "x", 1000), (2, "y", 0), (3, "z", 499)],
        "doc_id long, text string, dur int",
    )
    with_media = df.withColumn(
        "media",
        media_struct(
            F.encode("text", "utf-8"), F.lit("video/fake"), duration_ms=F.col("dur")
        ),
    )
    rows = sample_frames(with_media, 250).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # duration 1000 → frames at 0,250,500,750,1000 = 5; 0 → 1; 499 → 2
    assert {d: len(v) for d, v in by_doc.items()} == {1: 5, 2: 1, 3: 2}
    for d, v in by_doc.items():
        idxs = sorted(r["frame_idx"] for r in v)
        assert idxs == list(range(len(v)))
        for r in v:
            assert r["ts_ms"] == r["frame_idx"] * 250
            assert len(r["frame"]) == 16


def test_snapshot_diff_classifies_changes(spark):
    """CDC between two table states: insert/update/delete by seq
    comparison; unchanged keys emit nothing."""
    from couchwarehouse_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")],
        "id string, _cw_seq long, payload string",
    )
    new = spark.createDataFrame(
        [("a", 1, "x"), ("b", 5, "y2"), ("d", 6, "w")],
        "id string, _cw_seq long, payload string",
    )
    got = {
        r["id"]: (r["change_type"], r["old_seq"], r["new_seq"])
        for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        "b": ("update", 2, 5),
        "c": ("delete", 3, None),
        "d": ("insert", None, 6),
    }  # 'a' unchanged → absent


def test_checkpoint_store_json_per_table(spark, tmp_path):
    """Each table's resume point is one JSON file, replaced atomically.
    After interleaved writes a fresh store (new process) reads every
    table's latest seq; ``"a/b"`` and ``"a"`` do not collide; a crashed
    writer's leftover temp file changes nothing; ``reset()`` forgets
    every table; and neither a write nor a fresh store's read submits
    a Spark job."""
    from couchwarehouse_spark.operators.upsert import CheckpointStore

    path = str(tmp_path / "ckpt")
    store = CheckpointStore(spark, path)
    assert store.read("t_a") is None
    for i in range(1, 9):
        store.write("t_a", f"{i}-seq")
        store.write("t_b", f"{100 + i}-seq")
    store.write("a/b", "5-slash")
    store.write("a", "6-plain")
    # A writer killed mid-write leaves its temp file behind.
    (tmp_path / "ckpt" / f"t_a.json.{'0' * 32}.tmp").write_text('{"tablename": "t_a", "se')

    fresh = CheckpointStore(spark, path)
    assert {t: fresh.read(t) for t in ("t_a", "t_b", "a/b", "a", "b")} == {
        "t_a": "8-seq",
        "t_b": "108-seq",
        "a/b": "5-slash",
        "a": "6-plain",
        "b": None,
    }

    _, n_write = jobs_run_by(spark, "ckpt-write", lambda: store.write("t_a", "9-seq"))
    seq, n_read = jobs_run_by(
        spark, "ckpt-read", lambda: CheckpointStore(spark, path).read("t_a")
    )
    assert (seq, n_write, n_read) == ("9-seq", 0, 0)

    fresh.reset()
    assert [CheckpointStore(spark, path).read(t) for t in ("t_a", "t_b", "a/b", "a")] == [None] * 4
