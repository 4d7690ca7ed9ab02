"""End-to-end warehouse golden tests — ports of the reference's E2E
suite semantics (reference test/run.js, test/run_mixed.js,
test/run_evolve.js) over generated fixtures (tests/fixtures.py).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from couchwarehouse_spark.warehouse import Warehouse

from .fixtures import (
    envelope,
    evolve_feed,
    mixed_feed,
    order_doc,
    person_doc,
    person_feed,
    write_feed,
)


def test_basic_spool_golden(spark, tmp_path):
    """reference test/run.js:34-60 — full pipeline, then SELECT golden."""
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=100)
    wh = Warehouse(spark, str(tmp_path / "wh"), "sampledata")
    last = wh.spool(feed)
    assert last.startswith("100-")

    df = wh.table()
    assert df.count() == 100
    # Flattened wide row with renamed id/rev and typed columns.
    cols = set(df.columns)
    assert {"id", "rev", "name", "age", "verified",
            "address_street", "address_location_long", "tags"} <= cols
    row = df.filter(F.col("id") == "person0007").collect()[0]
    assert row["name"] == "Person 7"
    assert row["age"] == 27.0
    # Typed lane keeps real booleans (the reference's SQLite golden
    # stores 0/1 only because SQLite has no boolean).
    assert row["verified"] in (True, False)
    # tags arrived as JSON text (lib/flatten.js:45).
    assert row["tags"].startswith("[")

    # SQL passthrough (R17).
    out = wh.query("SELECT count(*) AS n FROM sampledata").collect()
    assert out[0]["n"] == 100


def test_mixed_split_mode(spark, tmp_path):
    """reference test/run_mixed.js:42-86 — split on 'type', counts 200/20/10."""
    feed = mixed_feed(str(tmp_path / "feed.jsonl"))
    wh = Warehouse(spark, str(tmp_path / "wh"), "sample-data", split="type")
    wh.spool(feed)

    assert wh.table("order").count() == 200
    assert wh.table("product").count() == 20
    assert wh.table("user").count() == 10
    # Identifier sanitisation: 'sample-data' → 'sampledata_order'.
    assert wh.query("SELECT count(*) AS n FROM sampledata_order").collect()[0]["n"] == 200
    # Nested dispatch address flattened; basket array → JSON text.
    order = wh.table("order").limit(1).collect()[0]
    assert "dispatchAddress_town" in order.asDict()
    assert order["basket"].startswith("[")


def test_schema_evolution_frozen(spark, tmp_path):
    """reference test/run_evolve.js:53-69 — frozen first-doc schema:
    count 30, newfield never becomes a column, missing → NULL ×10."""
    feed = evolve_feed(str(tmp_path / "feed.jsonl"))
    wh = Warehouse(spark, str(tmp_path / "wh"), "evolvedata")
    wh.spool(feed)

    df = wh.table()
    assert df.count() == 30
    assert "newfield" not in df.columns  # extra field dropped
    n_null = df.filter(F.col("dispatchCourierRef").isNull()).count()
    assert n_null == 10  # missing field null-filled


def test_upsert_delete_recreate(spark, tmp_path):
    """R11/R12 semantics: latest-wins update, tombstone delete, and
    delete-then-recreate (the case a naive anti-join gets wrong)."""
    rng = random.Random(3)
    d1 = order_doc(1, rng)
    d1v2 = dict(order_doc(1, rng), status="returned", _rev="2-aaaa")
    d2 = order_doc(2, rng)
    d3 = order_doc(3, rng)
    d3v2 = dict(order_doc(3, rng), status="recreated", _rev="3-bbbb")
    envs = [
        envelope(1, d1),
        envelope(2, d2),
        envelope(3, d3),
        envelope(4, d1v2),                              # update: latest wins
        envelope(5, None, doc_id=d2["_id"], deleted=True),  # delete
        envelope(6, None, doc_id=d3["_id"], deleted=True),  # delete…
        envelope(7, d3v2),                              # …then recreate
    ]
    feed = write_feed(str(tmp_path / "feed.jsonl"), envs)
    wh = Warehouse(spark, str(tmp_path / "wh"), "upsertdata")
    wh.spool(feed)

    df = wh.table()
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {d1["_id"], d3["_id"]}          # d2 deleted
    assert rows[d1["_id"]]["status"] == "returned"      # v2 won
    assert rows[d3["_id"]]["status"] == "recreated"     # recreate survived


def test_checkpoint_resume(spark, tmp_path):
    """R14 — second spool resumes past the checkpoint; replay is a no-op."""
    rng = random.Random(5)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(10)]
    feed = write_feed(str(tmp_path / "feed.jsonl"), envs)
    wh = Warehouse(spark, str(tmp_path / "wh"), "ckptdata")
    assert wh.spool(feed).startswith("10-")
    assert wh.table().count() == 10

    # Replay the same feed: resume filter skips everything.
    assert wh.spool(feed) is None
    assert wh.table().count() == 10

    # Extend the feed; only the new changes apply.
    envs += [envelope(11, order_doc(100, rng)),
             envelope(12, None, doc_id="order00001", deleted=True)]
    write_feed(str(tmp_path / "feed.jsonl"), envs)
    assert wh.spool(feed).startswith("12-")
    assert wh.table().count() == 10  # +1 insert, −1 delete

    # Reset (R19) drops state and checkpoints → full reload.
    wh2 = Warehouse(spark, str(tmp_path / "wh"), "ckptdata", reset=True)
    wh2.spool(feed)
    assert wh2.table().count() == 10


def test_mango_selector_and_transform(spark, tmp_path):
    """R4 selector pushdown + R5 transform (frame lane and doc lane)."""
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=50)

    # Mango: only age >= 60 (ages are 20 + i % 60 → i in 40..49).
    wh = Warehouse(
        spark, str(tmp_path / "wh1"), "mangodata",
        selector={"age": {"$gte": 60}},
    )
    wh.spool(feed)
    assert wh.table().count() == 10
    assert wh.table().agg(F.min("age")).collect()[0][0] >= 60

    # Frame transform — the README example shape (README.md:177-197):
    # drop a field, derive a concat column.
    def tx(df):
        return df.drop("description").withColumn(
            "name_street", F.concat_ws(" ", F.col("name"), F.col("address_street"))
        )

    wh2 = Warehouse(spark, str(tmp_path / "wh2"), "txdata", transform=tx)
    wh2.spool(feed)
    assert "description" not in wh2.table().columns
    assert "name_street" in wh2.table().columns

    # Doc transform — dict→dict per-doc hook (reference index.js:46-49).
    def doc_tx(doc):
        doc = dict(doc)
        doc["name"] = doc["name"].upper()
        doc.pop("tags", None)
        return doc

    wh3 = Warehouse(spark, str(tmp_path / "wh3"), "doctxdata", doc_transform=doc_tx)
    wh3.spool(feed)
    assert "tags" not in wh3.table().columns
    assert wh3.table().filter(F.col("id") == "person0003").collect()[0]["name"] == "PERSON 3"


def test_design_docs_excluded(spark, tmp_path):
    """R9 — _design/* excluded from schema discovery and inserts."""
    rng = random.Random(9)
    design = {"_id": "_design/views", "_rev": "1-x", "views": {"by_name": {"map": "fn"}}}
    envs = [envelope(1, design), envelope(2, person_doc(1, rng))]
    feed = write_feed(str(tmp_path / "feed.jsonl"), envs)
    wh = Warehouse(spark, str(tmp_path / "wh"), "designdata")
    wh.spool(feed)
    assert wh.table().count() == 1
    assert not [c for c in wh.table().columns if c.startswith("views")]


def test_doc_transform_strict_schema(spark, tmp_path):
    """Strict mode: doc_schema parses the transform lane with one
    from_json projection (no RDD inference round-trip)."""
    from couchwarehouse_spark.sources.changes import read_changes_feed

    feed = person_feed(str(tmp_path / "feed.jsonl"), n=10)

    def doc_tx(doc):
        doc = dict(doc)
        doc["name"] = doc["name"].upper()
        return doc

    env = read_changes_feed(
        spark,
        feed,
        doc_transform=doc_tx,
        doc_schema="_id string, _rev string, name string, age bigint",
    )
    rows = env.orderBy("id").collect()
    assert len(rows) == 10
    assert rows[3]["doc"]["name"] == "PERSON 3"
    assert rows[3]["doc"]["age"] == 23
    assert env.schema["doc"].dataType.fieldNames() == ["_id", "_rev", "name", "age"]


def test_incremental_bucket_merge(spark, tmp_path):
    """A second spool rewrites ONLY the bucket partitions its batch ids
    hash into; untouched buckets' files stay byte-identical (the
    incremental analog of the reference's per-row REPLACE INTO,
    reference lib/sqlite.js:82)."""
    import os

    rng = random.Random(11)
    feed1 = write_feed(
        str(tmp_path / "feed1.jsonl"),
        [envelope(i + 1, person_doc(i, rng)) for i in range(100)],
    )
    wh = Warehouse(spark, str(tmp_path / "wh"), "sampledata", n_buckets=8)
    wh.spool(feed1)
    table_dir = wh._table_path("_default")
    buckets = sorted(e for e in os.listdir(table_dir) if e.startswith("_cw_bucket="))
    assert buckets, "table should be bucket-partitioned"

    def snapshot(d):
        out = {}
        for b in os.listdir(d):
            if not b.startswith("_cw_bucket="):
                continue
            bd = os.path.join(d, b)
            out[b] = {f: os.path.getmtime(os.path.join(bd, f)) for f in os.listdir(bd)}
        return out

    before = snapshot(table_dir)

    # Batch 2: update one doc, delete another.
    upd = person_doc(7, random.Random(7))
    upd["name"] = "Updated 7"
    feed2 = write_feed(
        str(tmp_path / "feed2.jsonl"),
        [envelope(101, upd), envelope(102, None, deleted=True, doc_id="person0003")],
    )
    wh.spool(feed2)
    after = snapshot(table_dir)

    untouched = [b for b in before if before[b] == after.get(b)]
    changed = [b for b in after if before.get(b) != after[b]]
    assert len(changed) <= 2, f"batch of 2 ids must touch <=2 buckets, got {changed}"
    assert len(untouched) >= len(before) - 2

    # Semantics unchanged: update applied, delete applied.
    t = wh.table()
    assert t.count() == 99
    assert t.filter(F.col("id") == "person0007").collect()[0]["name"] == "Updated 7"
    assert t.filter(F.col("id") == "person0003").count() == 0


def test_lookup_prunes_to_one_bucket(spark, tmp_path):
    """Point lookup reads only the id's bucket, and within it only the
    files whose recorded id range covers the id: every other part file
    is overwritten with garbage bytes and the lookup still returns the
    right row (while a lookup that does reach a garbled file fails)."""
    import os as _os

    import pyarrow as pa
    import pytest

    rng = random.Random(264)
    wh = Warehouse(spark, str(tmp_path / "wh"), "lookupdata", n_buckets=2)
    seq = 0
    for prefix in ("aaa", "mmm", "zzz"):
        envs = []
        for i in range(8):
            seq += 1
            d = person_doc(i, rng)
            d["_id"] = f"{prefix}{i:04d}"
            envs.append(envelope(seq, d))
        wh.spool(write_feed(str(tmp_path / f"f_{prefix}.jsonl"), envs))

    path = wh._table_path("_default")
    manifest = wh._load_manifest(path)
    b = str(wh._bucket_of_id("mmm0003", 2))
    garbled = {"other bucket": 0, "range excludes id": 0}
    for bucket, files in manifest["buckets"].items():
        for fn in files:
            lo, hi = manifest["stats"][bucket][fn]
            if bucket != b:
                garbled["other bucket"] += 1
            elif not lo <= "mmm0003" <= hi:
                garbled["range excludes id"] += 1
            else:
                continue
            fp = _os.path.join(path, f"_cw_bucket={bucket}", fn)
            with open(fp, "wb") as f:
                f.write(b"not a parquet file" * 64)
    assert min(garbled.values()) >= 1, garbled

    rows = wh.lookup("mmm0003").collect()
    assert len(rows) == 1
    assert rows[0]["id"] == "mmm0003" and rows[0]["name"] == "Person 3"
    other = next(
        f"{p}{i:04d}" for p in ("aaa", "zzz") for i in range(8)
        if str(wh._bucket_of_id(f"{p}{i:04d}", 2)) != b
    )
    with pytest.raises(pa.ArrowInvalid):
        wh.lookup(other)


def test_random_replay_matches_dict_oracle(spark, tmp_path):
    """Randomized multi-batch replay: shuffled inserts / amendments /
    deletes / recreates split across three spools must end in exactly
    the state a dict latest-wins replay predicts — the merge + bucket
    + checkpoint stack under adversarial orderings."""
    rng = random.Random(1234)
    n_docs = 40
    seq = 0
    envs = []
    expected: dict[str, dict | None] = {}
    for _ in range(200):
        i = rng.randrange(n_docs)
        doc_id = f"person{i:04d}"
        seq += 1
        if rng.random() < 0.25 and expected.get(doc_id) is not None:
            envs.append(envelope(seq, None, doc_id=doc_id, deleted=True))
            expected[doc_id] = None
        else:
            doc = person_doc(i, rng)
            doc["age"] = seq  # trace which version won
            envs.append(envelope(seq, doc))
            expected[doc_id] = doc
    wh = Warehouse(spark, str(tmp_path / "wh"), "replaydata", n_buckets=4)
    # Split into three spools at random cut points (feed stays seq-
    # ordered), with maintenance ops (compact + vacuum) interleaved —
    # neither may change one row of state.
    cuts = sorted(rng.sample(range(1, len(envs)), 2))
    for n, chunk in enumerate([envs[: cuts[0]], envs[cuts[0]: cuts[1]], envs[cuts[1]:]]):
        wh.spool(write_feed(str(tmp_path / f"feed{n}.jsonl"), chunk))
        if n == 0:
            wh.compact(max_files_per_bucket=1)
        elif n == 1:
            wh.vacuum(retain_versions=1, min_age_seconds=0)

    live = {k: v for k, v in expected.items() if v is not None}
    rows = {r["id"]: r for r in wh.table().collect()}
    assert set(rows) == set(live)
    for doc_id, doc in live.items():
        assert rows[doc_id]["age"] == float(doc["age"]), doc_id


def test_commit_crash_orphans_invisible_and_vacuumed(spark, tmp_path):
    """Simulated crash mid-commit — new part files landed in bucket
    dirs but the manifest rename never happened: readers (same or new
    process) must see the previous version untouched, and vacuum()
    must reclaim the orphans."""
    import os
    import shutil

    feed = person_feed(str(tmp_path / "feed.jsonl"), n=60)
    wh = Warehouse(spark, str(tmp_path / "wh"), "crashdata", n_buckets=8)
    wh.spool(feed)
    path = wh._table_path("_default")
    before = {r["id"]: r["name"] for r in wh.table().collect()}

    # Fake the torn state: drop orphan parquet files (unreferenced by
    # any manifest) into two bucket dirs, plus a leftover scratch dir —
    # exactly what a crash between _publish_tmp and _commit_manifest
    # leaves behind.
    buckets = [
        e for e in sorted(os.listdir(path)) if e.startswith("_cw_bucket=")
    ][:2]
    orphans = []
    for bdir in buckets:
        src = next(
            f
            for f in os.listdir(os.path.join(path, bdir))
            if f.endswith(".parquet")
        )
        dst = os.path.join(path, bdir, "part-99999-deadbeef-orphan.parquet")
        shutil.copy2(os.path.join(path, bdir, src), dst)
        orphans.append(dst)
    os.makedirs(path + "._tmp", exist_ok=True)

    wh2 = Warehouse(spark, str(tmp_path / "wh"), "crashdata", n_buckets=8)
    after = {r["id"]: r["name"] for r in wh2.table().collect()}
    assert after == before  # orphans invisible: no duplicate rows

    assert wh2.vacuum(retain_versions=1, min_age_seconds=0) >= len(orphans)
    assert not any(os.path.exists(fp) for fp in orphans)
    assert not os.path.isdir(path + "._tmp")
    assert {r["id"]: r["name"] for r in wh2.table().collect()} == before


def test_n_buckets_persisted_across_reopen(spark, tmp_path):
    """The on-disk bucket count must win over the constructor default:
    a reopen with a different n_buckets would otherwise silently
    mis-route point lookups and merge pruning."""
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=30)
    wh = Warehouse(spark, str(tmp_path / "wh"), "bucketmeta", n_buckets=4)
    wh.spool(feed)

    wh2 = Warehouse(spark, str(tmp_path / "wh"), "bucketmeta")  # default 16
    assert wh2.n_buckets == 4
    rows = wh2.lookup("person0011").collect()
    assert len(rows) == 1 and rows[0]["name"] == "Person 11"


def test_reader_snapshot_isolated_from_concurrent_merge(spark, tmp_path):
    """Snapshot isolation: a DataFrame planned against version N keeps
    reading version N's exact state even after a later merge commits
    version N+1 — the manifest's explicit file list is the snapshot,
    and superseded files persist until vacuum()."""
    rng = random.Random(77)
    feed1 = write_feed(
        str(tmp_path / "feed1.jsonl"),
        [envelope(i + 1, person_doc(i, rng)) for i in range(50)],
    )
    wh = Warehouse(spark, str(tmp_path / "wh"), "snapdata", n_buckets=8)
    wh.spool(feed1)

    old_view = wh.table()  # planned at version 1, collected later

    upd = person_doc(3, random.Random(3))
    upd["name"] = "Renamed 3"
    feed2 = write_feed(
        str(tmp_path / "feed2.jsonl"),
        [envelope(51, upd), envelope(52, None, doc_id="person0001", deleted=True)],
    )
    wh.spool(feed2)

    old_rows = {r["id"]: r["name"] for r in old_view.collect()}
    assert old_rows["person0003"] == "Person 3"  # pre-update value
    assert "person0001" in old_rows  # pre-delete row still visible
    new_rows = {r["id"]: r["name"] for r in wh.table().collect()}
    assert new_rows["person0003"] == "Renamed 3"
    assert "person0001" not in new_rows


def test_time_travel_and_history(spark, tmp_path):
    """table(version=N) reads any retained snapshot; history() lists
    the commit log; vacuum(retain_versions=1) drops old versions."""
    import pytest

    rng = random.Random(88)
    wh = Warehouse(spark, str(tmp_path / "wh"), "traveldata", n_buckets=4)
    wh.spool(
        write_feed(
            str(tmp_path / "f1.jsonl"),
            [envelope(i + 1, person_doc(i, rng)) for i in range(20)],
        )
    )
    upd = person_doc(5, random.Random(5))
    upd["name"] = "V2 name"
    wh.spool(write_feed(str(tmp_path / "f2.jsonl"), [envelope(21, upd)]))

    hist = {r["version"]: r["op"] for r in wh.history().collect()}
    assert hist == {1: "merge", 2: "merge"}
    v1 = wh.table(version=1)
    assert v1.filter(F.col("id") == "person0005").collect()[0]["name"] == "Person 5"
    v2 = wh.table(version=2)
    assert v2.filter(F.col("id") == "person0005").collect()[0]["name"] == "V2 name"
    assert v1.count() == v2.count() == 20

    wh.vacuum(retain_versions=1, min_age_seconds=0)
    assert [r["version"] for r in wh.history().collect()] == [2]
    with pytest.raises(ValueError):
        wh.table(version=1)
    assert (
        wh.table().filter(F.col("id") == "person0005").collect()[0]["name"]
        == "V2 name"
    )


def test_compact_reduces_files_preserves_content(spark, tmp_path):
    """Bucket compaction: disjoint-id-range batches accumulate carried-
    forward part files in a bucket (file-level pruning never rewrites
    them); compact() rewrites fragmented buckets to ~one file in a new
    manifest version, and vacuum() reclaims the superseded fragments —
    layout changes, not one row of content."""
    import os

    rng = random.Random(5)
    # n_buckets=1 so every disjoint-prefix batch lands (as a new
    # carried-forward file) in the same bucket.
    wh = Warehouse(spark, str(tmp_path / "wh"), "compactdata", n_buckets=1)

    def doc(i, prefix):
        d = order_doc(i, rng)
        d["_id"] = f"{prefix}{i:04d}"
        return d

    seq = 0
    for prefix in ("aaa", "bbb", "ccc", "ddd"):
        envs = []
        for i in range(10):
            seq += 1
            envs.append(envelope(seq, doc(i, prefix)))
        wh.spool(write_feed(str(tmp_path / f"f_{prefix}.jsonl"), envs))

    path = wh._table_path("_default")

    def referenced_per_bucket():
        m = wh._load_manifest(path)
        return {b: len(fs) for b, fs in m["buckets"].items()}

    def disk_files_per_bucket():
        out = {}
        for e in os.listdir(path):
            if e.startswith("_cw_bucket="):
                out[e] = sum(
                    1
                    for f in os.listdir(os.path.join(path, e))
                    if f.endswith(".parquet")
                )
        return out

    before_rows = sorted((r["id"], r["status"]) for r in wh.table().collect())
    before_refs = referenced_per_bucket()
    assert any(n > 1 for n in before_refs.values()), "fixture must fragment"

    n = wh.compact(max_files_per_bucket=1)
    assert n >= 1

    after_refs = referenced_per_bucket()
    assert set(after_refs) == set(before_refs)  # no bucket lost
    for b, n_files in after_refs.items():
        if before_refs[b] > 1:
            assert n_files == 1, b
    after_rows = sorted((r["id"], r["status"]) for r in wh.table().collect())
    assert after_rows == before_rows

    # Superseded fragments persist for older snapshots until vacuum.
    assert wh.vacuum(retain_versions=1, min_age_seconds=0) > 0
    assert disk_files_per_bucket() == {
        f"_cw_bucket={b}": n for b, n in after_refs.items()
    }
    assert sorted((r["id"], r["status"]) for r in wh.table().collect()) == before_rows
    assert not os.path.isdir(path + "._tmp")
    # Second pass is a no-op.
    assert wh.compact(max_files_per_bucket=1) == 0


def test_query_substitutions_bind_as_parameters(spark, tmp_path):
    """R17 parity with the reference's query(sql, substitutions)
    (lib/sqlite.js:123-134): named and positional parameters bind as
    literals — never string-spliced."""
    import random

    from .fixtures import envelope, order_doc, write_feed

    rng = random.Random(31)
    feed = write_feed(
        str(tmp_path / "feed"),
        [envelope(i + 1, order_doc(i, rng)) for i in range(6)],
    )
    wh = Warehouse(spark, str(tmp_path / "wh"), "subst", verbose=False)
    wh.spool(feed)
    some_id = wh.table().select("id").orderBy("id").first()["id"]
    named = wh.query(
        "SELECT count(*) AS n FROM subst WHERE id = :target",
        {"target": some_id},
    ).first()["n"]
    positional = wh.query(
        "SELECT count(*) AS n FROM subst WHERE id = ?", [some_id]
    ).first()["n"]
    assert named == positional == 1
    # Malicious input binds as a literal, not as SQL.
    hostile = wh.query(
        "SELECT count(*) AS n FROM subst WHERE id = :target",
        {"target": "x' OR '1'='1"},
    ).first()["n"]
    assert hostile == 0


def test_concurrent_commit_loses_loudly(spark, tmp_path):
    """Optimistic concurrency via read-version pinning: a writer that
    planned against version N commits exactly N+1; any commit landing
    in between takes that name first, so the stale writer gets
    ConcurrentCommitError — no mocking needed, the pin turns the whole
    read→commit window into a detectable conflict (the ADVICE r4
    lost-update scenario)."""
    import pytest

    from couchwarehouse_spark.warehouse import ConcurrentCommitError

    feed = person_feed(str(tmp_path / "feed.jsonl"), n=10)
    wh = Warehouse(spark, str(tmp_path / "wh"), "racedata", n_buckets=2)
    wh.spool(feed)
    path = wh._table_path("_default")
    manifest = wh._load_manifest(path)
    buckets = {int(b): fs for b, fs in manifest["buckets"].items()}

    # We read v1 and start planning a commit against it... meanwhile
    # another writer (who also read v1) commits v2 first.
    wh._commit_manifest(
        path, "merge", buckets, manifest["schema"], base_version=manifest["version"]
    )
    # Our commit is pinned to the version we READ (v1 → target v2),
    # not to a re-listing at commit time — so the interloper's v2 is a
    # LOUD collision instead of a silently-dropped lost update.
    with pytest.raises(ConcurrentCommitError):
        wh._commit_manifest(
            path, "merge", {}, manifest["schema"], base_version=manifest["version"]
        )
    # The winner's commit log is intact and readable.
    assert [r["version"] for r in wh.history().collect()] == [1, 2]
    assert wh.table().count() == 10


def test_commit_without_hardlink_support(spark, tmp_path):
    """Filesystems without hardlinks (FUSE/object-store mounts raise
    EPERM/ENOTSUP from link()): commits must fall back to a portable
    put-if-absent with the same one-winner contract, not fail."""
    import errno
    from unittest import mock

    import pytest

    from couchwarehouse_spark.warehouse import ConcurrentCommitError

    feed = person_feed(str(tmp_path / "feed.jsonl"), n=6)
    wh = Warehouse(spark, str(tmp_path / "wh"), "nolinkdata", n_buckets=2)

    def no_link(src, dst, **kw):
        raise OSError(errno.ENOTSUP, "hardlinks not supported", dst)

    with mock.patch("os.link", side_effect=no_link):
        wh.spool(feed)  # every commit goes through the fallback
        path = wh._table_path("_default")
        manifest = wh._load_manifest(path)
        assert manifest is not None and manifest["version"] == 1
        # Put-if-absent still loses loudly on a taken version name.
        wh._commit_manifest(
            path,
            "merge",
            {int(b): fs for b, fs in manifest["buckets"].items()},
            manifest["schema"],
            base_version=1,
        )
        with pytest.raises(ConcurrentCommitError):
            wh._commit_manifest(path, "merge", {}, manifest["schema"], base_version=1)
    assert wh.table().count() == 6
    assert [r["version"] for r in wh.history().collect()] == [1, 2]


def test_auto_vacuum_bounds_retained_versions(spark, tmp_path):
    """auto_vacuum=N: continuous ingest (many spools) retains at most N
    manifest versions per table, with the newest state always intact —
    the retention policy an unattended monitor needs."""
    rng = random.Random(21)
    wh = Warehouse(
        spark, str(tmp_path / "wh"), "autovacdata", n_buckets=2, auto_vacuum=2
    )
    for n in range(4):
        envs = [
            envelope(10 * n + i + 1, dict(person_doc(i, rng), age=n))
            for i in range(5)
        ]
        wh.spool(write_feed(str(tmp_path / f"f{n}.jsonl"), envs))

    versions = [r["version"] for r in wh.history().collect()]
    assert len(versions) == 2 and versions[-1] == 4
    rows = wh.table().collect()
    assert len(rows) == 5
    assert all(r["age"] == 3.0 for r in rows)  # newest batch won


def test_lookup_skips_files_via_manifest_stats(spark, tmp_path):
    """Stats-in-log file skipping: with disjoint-range part files in
    one bucket, the manifest's recorded min/max ranges decide which
    files a point lookup reads before any Spark plan exists."""
    import random as _random

    rng = _random.Random(61)
    wh = Warehouse(spark, str(tmp_path / "wh"), "statskip", n_buckets=1)

    def doc(i, prefix):
        d = person_doc(i, rng)
        d["_id"] = f"{prefix}{i:04d}"
        return d

    seq = 0
    for prefix in ("aaa", "mmm", "zzz"):
        envs = []
        for i in range(6):
            seq += 1
            envs.append(envelope(seq, doc(i, prefix)))
        wh.spool(write_feed(str(tmp_path / f"f_{prefix}.jsonl"), envs))

    path = wh._table_path("_default")
    manifest = wh._load_manifest(path)
    n_files = sum(len(fs) for fs in manifest["buckets"].values())
    assert n_files >= 3  # disjoint batches carried forward as separate files
    # Every referenced file has recorded stats.
    n_stats = sum(
        1
        for per in manifest["stats"].values()
        for rng_ in per.values()
        if rng_ is not None
    )
    assert n_stats == n_files

    # The skipping decision: exactly ONE file's range covers the key.
    covering = [
        fn
        for b, fs in manifest["buckets"].items()
        for fn in fs
        if manifest["stats"][b][fn][0] <= "mmm0003" <= manifest["stats"][b][fn][1]
    ]
    assert len(covering) == 1

    rows = wh.lookup("mmm0003").collect()
    assert len(rows) == 1 and rows[0]["name"] == "Person 3"
    # An id outside every recorded range reads zero files (empty-frame
    # fast path) and returns no rows.
    assert wh.lookup("qqq9999").count() == 0


def test_versioned_view_composes_with_sql(spark, tmp_path):
    """register_view(version=N) exposes a snapshot as <table>_vN, so
    time travel composes with the query() SQL surface."""
    rng = random.Random(91)
    wh = Warehouse(spark, str(tmp_path / "wh"), "sqltravel", n_buckets=2)
    wh.spool(
        write_feed(
            str(tmp_path / "f1.jsonl"),
            [envelope(i + 1, person_doc(i, rng)) for i in range(10)],
        )
    )
    wh.spool(
        write_feed(
            str(tmp_path / "f2.jsonl"),
            [envelope(11, None, doc_id="person0004", deleted=True)],
        )
    )
    wh.register_view(version=1)
    wh.register_view()  # current
    n = wh.query(
        "SELECT (SELECT count(*) FROM sqltravel_v1) - "
        "(SELECT count(*) FROM sqltravel) AS delta"
    ).collect()[0]["delta"]
    assert n == 1  # version 1 has the row the delete removed


def test_changes_between_versions_cdc_feed(spark, tmp_path):
    """changes(since_version=N): the CDF-style incremental diff between
    a retained snapshot and the current version — insert/update/delete
    classified per key, new values attached, deletes flagged."""
    rng = random.Random(101)
    wh = Warehouse(spark, str(tmp_path / "wh"), "cdfdata", n_buckets=2)
    wh.spool(
        write_feed(
            str(tmp_path / "f1.jsonl"),
            [envelope(i + 1, person_doc(i, rng)) for i in range(10)],
        )
    )
    upd = person_doc(2, random.Random(2))
    upd["name"] = "Changed 2"
    new = person_doc(77, rng)
    wh.spool(
        write_feed(
            str(tmp_path / "f2.jsonl"),
            [
                envelope(11, upd),
                envelope(12, new),
                envelope(13, None, doc_id="person0005", deleted=True),
            ],
        )
    )

    feed = {r["id"]: r for r in wh.changes(since_version=1).collect()}
    assert {r["change_type"] for r in feed.values()} == {
        "insert", "update", "delete",
    }
    assert feed["person0002"]["change_type"] == "update"
    assert feed["person0002"]["name"] == "Changed 2"
    assert feed["person0077"]["change_type"] == "insert"
    assert feed["person0005"]["change_type"] == "delete"
    assert feed["person0005"]["_cw_deleted"] is True
    assert feed["person0005"]["name"] is None  # no values for deletes
    assert len(feed) == 3  # unchanged keys never appear


def test_corrupt_newest_manifest_walks_back(spark, tmp_path):
    """A torn/unreadable newest manifest (impossible under the rename
    protocol, cheap insurance against a dying disk) must not brick the
    table: the reader walks back to the newest COMPLETE version."""
    rng = random.Random(111)
    wh = Warehouse(spark, str(tmp_path / "wh"), "tornlog", n_buckets=2)
    wh.spool(
        write_feed(
            str(tmp_path / "f1.jsonl"),
            [envelope(i + 1, person_doc(i, rng)) for i in range(8)],
        )
    )
    path = wh._table_path("_default")
    # Fabricate a torn next version.
    with open(wh._manifest_file(path, 2), "w") as f:
        f.write('{"version": 2, "op": "merge", "buck')  # truncated

    assert wh.table().count() == 8  # walked back to v1
    # An explicit read of the torn version raises instead of guessing.
    import pytest

    with pytest.raises(Exception):
        wh.table(version=2).count()


def test_vacuum_never_deletes_walkback_version_under_torn_newest(spark, tmp_path):
    """Retention counts READABLE manifests: with a torn newest file,
    vacuum(retain_versions=1) must keep the walk-back version's files —
    deleting 'through' the torn manifest would destroy the snapshot
    readers actually resolve."""
    rng = random.Random(131)
    wh = Warehouse(spark, str(tmp_path / "wh"), "tornvac", n_buckets=2)
    wh.spool(
        write_feed(
            str(tmp_path / "f1.jsonl"),
            [envelope(i + 1, person_doc(i, rng)) for i in range(8)],
        )
    )
    path = wh._table_path("_default")
    with open(wh._manifest_file(path, 2), "w") as f:
        f.write('{"torn')

    wh.vacuum(retain_versions=1, min_age_seconds=0)
    assert wh.table().count() == 8  # v1's files survived

    # Pathological total loss: every manifest torn → vacuum refuses.
    with open(wh._manifest_file(path, 1), "w") as f:
        f.write('{"also torn')
    assert wh.vacuum(retain_versions=1, min_age_seconds=0) == 0


def test_torn_manifest_repair_on_no_hardlink_fs(spark, tmp_path):
    """A crash mid-write in the no-hardlink fallback leaves a TORN
    manifest at the committed name; without repair every retry
    collides forever and the table wedges one version behind. A torn
    target older than the staleness bound must be reclaimed and the
    retried commit must land."""
    import errno
    import os
    from unittest import mock

    feed = person_feed(str(tmp_path / "feed.jsonl"), n=6)
    wh = Warehouse(spark, str(tmp_path / "wh"), "torndata", n_buckets=2)
    wh.spool(feed)
    path = wh._table_path("_default")
    manifest = wh._load_manifest(path)
    buckets = {int(b): fs for b, fs in manifest["buckets"].items()}

    # Simulate the crash residue: a half-written v2 manifest, old
    # enough that its writer is clearly dead.
    torn = wh._manifest_file(path, 2)
    with open(torn, "w") as f:
        f.write('{"version": 2, "op": "mer')  # truncated JSON
    old = os.path.getmtime(torn) - 120
    os.utime(torn, (old, old))

    def no_link(src, dst, **kw):
        raise OSError(errno.ENOTSUP, "hardlinks not supported", dst)

    with mock.patch("os.link", side_effect=no_link):
        v = wh._commit_manifest(
            path, "merge", buckets, manifest["schema"], base_version=1
        )
    assert v == 2
    # The repaired v2 is complete and readable; state intact.
    assert wh._load_manifest(path, 2)["op"] == "merge"
    assert wh.table().count() == 6

    # A FRESH torn file (writer may still be mid-write) is NOT
    # reclaimed: the commit must lose loudly instead.
    import pytest

    from couchwarehouse_spark.warehouse import ConcurrentCommitError

    torn3 = wh._manifest_file(path, 3)
    with open(torn3, "w") as f:
        f.write('{"version": 3, "op": "mer')
    with mock.patch("os.link", side_effect=no_link):
        with pytest.raises(ConcurrentCommitError):
            wh._commit_manifest(
                path, "merge", buckets, manifest["schema"], base_version=2
            )


def test_restore_rolls_back_as_new_version(spark, tmp_path):
    """restore(version) re-references the old snapshot as a NEW commit:
    content equals the restored version, history shows op='restore',
    CDF diffs across it, and nothing was rewritten (pure metadata)."""
    import pytest

    rng = random.Random(99)
    wh = Warehouse(spark, str(tmp_path / "wh"), "restoredata", n_buckets=4)
    wh.spool(
        write_feed(
            str(tmp_path / "f1.jsonl"),
            [envelope(i + 1, person_doc(i, rng)) for i in range(20)],
        )
    )
    bad = person_doc(5, random.Random(5))
    bad["name"] = "CORRUPTED"
    wh.spool(
        write_feed(
            str(tmp_path / "f2.jsonl"),
            [
                envelope(21, bad),
                envelope(22, None, doc_id="person0001", deleted=True),
            ],
        )
    )
    assert wh.table().count() == 19

    new_v = wh.restore(1)
    assert new_v == 3
    hist = {r["version"]: r["op"] for r in wh.history().collect()}
    assert hist == {1: "merge", 2: "merge", 3: "restore"}
    # Current state == version 1 exactly (delete undone, update undone).
    cur = {r["id"]: r["name"] for r in wh.table().collect()}
    assert len(cur) == 20
    assert cur["person0005"] == "Person 5"
    assert "person0001" in cur
    # The bad version remains time-travelable until vacuumed.
    assert wh.table(version=2).count() == 19
    # Restore referenced the SAME files — no new parquet was written.
    from couchwarehouse_spark.warehouse import DEFAULT_TYPE

    tpath = wh._table_path(DEFAULT_TYPE)
    m1 = wh._load_manifest(tpath, 1)
    m3 = wh._load_manifest(tpath, 3)
    assert m1["buckets"] == m3["buckets"]

    # After vacuuming history away, restoring to a dropped version
    # must fail loudly, not silently lose rows.
    wh.vacuum(retain_versions=1, min_age_seconds=0)
    with pytest.raises((FileNotFoundError, ValueError)):
        wh.restore(2)


def test_merge_retries_replay_against_winner(spark, tmp_path):
    """merge_retries=1: a writer that loses the commit race replays
    its batch against the winner's head and converges — both batches'
    rows land, the conflict costs one orphaned attempt, history shows
    the interloper's commit plus the retried merge. With the default
    merge_retries=0 the same interleaving raises loudly."""
    rng = random.Random(41)
    wh = Warehouse(
        spark, str(tmp_path / "wh"), "retrydata", n_buckets=2, merge_retries=1
    )
    wh.spool(
        write_feed(
            str(tmp_path / "f1.jsonl"),
            [envelope(i + 1, person_doc(i, rng)) for i in range(10)],
        )
    )

    # Interpose on _publish_tmp: the FIRST publish of the next spool
    # lets a rival writer commit first (advancing the head past our
    # pinned base), then proceeds — forcing ConcurrentCommitError on
    # our commit and exercising the retry replay.
    real_publish = wh._publish_tmp
    state = {"fired": False}

    def racing_publish(path, tmp):
        out = real_publish(path, tmp)
        if not state["fired"]:
            state["fired"] = True
            rival = Warehouse(spark, str(tmp_path / "wh"), "retrydata", n_buckets=2)
            rival.spool(
                write_feed(
                    str(tmp_path / "rival.jsonl"),
                    [envelope(100, person_doc(50, random.Random(50)))],
                )
            )
        return out

    wh._publish_tmp = racing_publish
    try:
        wh.spool(
            write_feed(
                str(tmp_path / "f2.jsonl"),
                [envelope(200, person_doc(60, random.Random(60)))],
            )
        )
    finally:
        wh._publish_tmp = real_publish

    assert state["fired"]
    ids = {r["id"] for r in wh.table().collect()}
    assert "person0050" in ids  # rival's row survived
    assert "person0060" in ids  # our retried row landed
    assert len(ids) == 12
    ops = [r["op"] for r in wh.history().collect()]
    assert ops.count("merge") >= 3  # initial + rival + retried commit


def test_schema_evolution_opt_in(spark, tmp_path):
    """evolve_schema=True (Delta mergeSchema): a later batch ADDS a
    column — null-backfilled for existing rows, visible from the
    version that added it; earlier versions keep their own schema;
    pre-evolution bucket files read correctly (explicit-schema read).
    The default remains the reference's frozen-drop semantics."""
    rng = random.Random(13)
    wh = Warehouse(
        spark, str(tmp_path / "wh"), "evodata", n_buckets=2, evolve_schema=True
    )
    wh.spool(
        write_feed(
            str(tmp_path / "f1.jsonl"),
            [envelope(i + 1, person_doc(i, rng)) for i in range(12)],
        )
    )
    assert "loyalty_tier" not in wh.table().columns

    doc = person_doc(50, random.Random(50))
    doc["loyalty_tier"] = "gold"
    doc["visits"] = 7
    wh.spool(write_feed(str(tmp_path / "f2.jsonl"), [envelope(13, doc)]))

    t = wh.table()
    assert "loyalty_tier" in t.columns and "visits" in t.columns
    assert dict(t.dtypes)["visits"] == "double"  # number → double lane
    rows = {r["id"]: (r["loyalty_tier"], r["visits"]) for r in t.collect()}
    assert rows["person0050"] == ("gold", 7.0)
    # Pre-evolution rows (files carried forward by reference in
    # untouched buckets) read the new columns as NULL.
    assert rows["person0001"] == (None, None)
    assert len(rows) == 13
    # Time travel: version 1 still reads with ITS schema.
    assert "loyalty_tier" not in wh.table(version=1).columns
    # The widened schema persists across a reopen.
    wh2 = Warehouse(spark, str(tmp_path / "wh"), "evodata", n_buckets=2)
    assert "loyalty_tier" in wh2.schemas["_default"]
    # A third batch updating an OLD doc must not disturb the new cols.
    upd = person_doc(1, random.Random(1))
    upd["name"] = "Updated 1"
    wh.spool(write_feed(str(tmp_path / "f3.jsonl"), [envelope(14, upd)]))
    rows3 = {r["id"]: r["loyalty_tier"] for r in wh.table().collect()}
    assert rows3["person0050"] == "gold"
    assert rows3["person0001"] is None


def test_optimize_zorder_relayouts_preserves_content(spark, tmp_path):
    """OPTIMIZE ZORDER: rewrites every bucket's bytes ordered by the
    Morton interleave of the given columns, committed as a new
    manifest version — not one row of content changes, older
    snapshots still read, and within each rewritten file the rows are
    monotone in z-value (the property that makes parquet row-group
    min/max tight in every z-dimension)."""
    import os

    rng = random.Random(11)
    wh = Warehouse(spark, str(tmp_path / "wh"), "zorderdata", n_buckets=2)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(60)]
    wh.spool(write_feed(str(tmp_path / "f.jsonl"), envs))

    path = wh._table_path("_default")
    v_before = wh._load_manifest(path)["version"]
    before_rows = sorted((r["id"], r["total"]) for r in wh.table().collect())

    n = wh.optimize_zorder(["total", "customerId"])
    assert n == 2  # both buckets rewritten

    m = wh._load_manifest(path)
    assert m["version"] == v_before + 1
    assert m["op"] == "zorder" or "zorder" in str(m.get("op", ""))

    after_rows = sorted((r["id"], r["total"]) for r in wh.table().collect())
    assert after_rows == before_rows
    # Old snapshot still reads (superseded files retained pre-vacuum).
    assert wh.table(version=v_before).count() == 60

    # Physical layout (single-column z-order so the z-value is
    # recomputable here): after zorder(["total"]) every rewritten
    # file's quantized-total sequence must be NON-DECREASING — the
    # property that makes parquet row-group min/max on `total` tight.
    wh.optimize_zorder(["total"])
    m2 = wh._load_manifest(path)
    assert sorted((r["id"], r["total"]) for r in wh.table().collect()) == before_rows

    import pyarrow.parquet as pq

    totals = [t for _, t in before_rows]
    mn = min(int(t) for t in totals)
    st = (max(int(t) for t in totals) - mn) // 256 + 1
    checked = 0
    for b, fnames in m2["buckets"].items():
        bdir = os.path.join(path, f"_cw_bucket={b}")
        for fn in fnames:
            seq = [
                (int(t) - mn) // st
                for t in pq.read_table(
                    os.path.join(bdir, fn), columns=["total"]
                ).to_pandas()["total"]
            ]
            assert seq == sorted(seq), f"bucket {b} file not z-ordered"
            checked += len(seq)
    assert checked == 60


def test_optimize_zorder_unknown_column_raises(spark, tmp_path):
    rng = random.Random(12)
    wh = Warehouse(spark, str(tmp_path / "wh"), "zordererr", n_buckets=1)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(5)]
    wh.spool(write_feed(str(tmp_path / "f.jsonl"), envs))
    try:
        wh.optimize_zorder(["no_such_col"])
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "no_such_col" in str(e)


def test_rebucket_changes_layout_keeps_contract(spark, tmp_path):
    """Partition-strategy evolution: rebucket(5) rewrites the table
    under the new id-hash count as a new version; later merges hash
    with the NEW count (files land where readers look), lookups still
    prune to one bucket, the pre-rebucket version still reads, and
    restore() brings back the OLD layout *and* its count."""
    import os

    rng = random.Random(21)
    wh = Warehouse(spark, str(tmp_path / "wh"), "rebucketdata", n_buckets=2)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(40)]
    wh.spool(write_feed(str(tmp_path / "f1.jsonl"), envs))

    path = wh._table_path("_default")
    v1 = wh._load_manifest(path)["version"]
    before = sorted((r["id"], r["status"]) for r in wh.table().collect())

    assert wh.rebucket(5) == 1
    m = wh._load_manifest(path)
    assert m["op"] == "rebucket" and m["n_buckets"] == 5
    assert len([b for b, fs in m["buckets"].items() if fs]) > 2
    assert sorted((r["id"], r["status"]) for r in wh.table().collect()) == before
    # Old version still reads its own 2-bucket layout.
    assert wh.table(version=v1).count() == 40

    # CRITICAL: a merge after rebucket must hash with the new count.
    amend = [
        envelope(100 + i, order_doc(i, rng, extra={"status": "amended"}))
        for i in range(0, 40, 5)
    ]
    wh.spool(write_feed(str(tmp_path / "f2.jsonl"), amend))
    t = wh.table()
    assert t.count() == 40
    assert t.filter(F.col("status") == "amended").count() == 8
    m2 = wh._load_manifest(path)
    assert m2["n_buckets"] == 5  # merge preserved the rebucketed count

    # Point lookup prunes against the new layout and finds the row.
    row = wh.lookup("order00005").collect()
    assert len(row) == 1 and row[0]["status"] == "amended"

    # Reopen from disk: the persisted default follows the rebucket.
    wh2 = Warehouse(spark, str(tmp_path / "wh"), "rebucketdata")
    assert wh2.n_buckets == 5
    assert wh2.table().count() == 40

    # Restore to the pre-rebucket version: layout AND count roll back,
    # and a merge on top of the restored version hashes with 2 again.
    wh.restore(v1)
    m3 = wh._load_manifest(path)
    assert m3["op"] == "restore" and m3["n_buckets"] == 2
    assert wh.table().count() == 40
    wh.spool(write_feed(str(tmp_path / "f3.jsonl"), [
        envelope(200, order_doc(0, rng, extra={"status": "postrestore"}))
    ]))
    assert wh._load_manifest(path)["n_buckets"] == 2
    row = wh.lookup("order00000").collect()
    assert len(row) == 1 and row[0]["status"] == "postrestore"


def test_clone_zero_copy_then_diverge(spark, tmp_path):
    """clone(): the target's version 1 hardlinks the source's bytes
    (no rewrite), reads identically, then DIVERGES independently —
    a spool into the clone never touches the source, and vacuuming
    the source never breaks the clone (hardlinked inodes survive
    until the last link drops)."""
    import os

    rng = random.Random(31)
    wh = Warehouse(spark, str(tmp_path / "wh"), "clonedata", n_buckets=2)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(30)]
    wh.spool(write_feed(str(tmp_path / "f1.jsonl"), envs))

    src_rows = sorted((r["id"], r["status"]) for r in wh.table().collect())
    n = wh.clone("_default", "sandbox")
    assert n > 0

    # Same bytes: every clone file shares its inode with the source.
    src_path, dst_path = wh._table_path("_default"), wh._table_path("sandbox")
    assert dst_path != src_path
    m = wh._load_manifest(dst_path)
    assert m["op"] == "clone" and m["version"] == 1
    shared = 0
    for b, files in m["buckets"].items():
        for fn in files:
            s = os.stat(os.path.join(src_path, f"_cw_bucket={b}", fn))
            d = os.stat(os.path.join(dst_path, f"_cw_bucket={b}", fn))
            if s.st_ino == d.st_ino:
                shared += 1
    assert shared == n  # hardlinks, not copies (POSIX tmp supports them)

    assert sorted(
        (r["id"], r["status"]) for r in wh.table("sandbox").collect()
    ) == src_rows

    # Diverge: amend 5 orders in the CLONE only (higher seq).
    amend = [
        envelope(1000 + i, order_doc(i, rng, extra={"status": "sandboxed"}))
        for i in range(5)
    ]
    # Spool targets every type in the batch's route; write directly
    # through the merge path for the sandbox type.
    from couchwarehouse_spark.sources.changes import read_changes_feed

    env = read_changes_feed(spark, write_feed(str(tmp_path / "f2.jsonl"), amend))
    from couchwarehouse_spark.operators.document import seq_number_col  # noqa: F401

    live = env.withColumn("_cw_type", F.lit("sandbox"))
    wh._merge_type(live, live.filter(F.lit(False)).select("id", "_cw_seq"), "sandbox")

    sandboxed = wh.table("sandbox").filter(F.col("status") == "sandboxed").count()
    assert sandboxed == 5
    # Source untouched.
    assert sorted((r["id"], r["status"]) for r in wh.table().collect()) == src_rows

    # Vacuum the SOURCE hard (retain 1, no grace): the clone still reads.
    wh.vacuum("_default", retain_versions=1, min_age_seconds=0)
    assert wh.table("sandbox").count() == 30
    assert sorted((r["id"], r["status"]) for r in wh.table().collect()) == src_rows

    # Reopened warehouse still knows the clone.
    wh2 = Warehouse(spark, str(tmp_path / "wh"), "clonedata")
    assert wh2.table("sandbox").count() == 30

    # Guard rails.
    try:
        wh.clone("_default", "sandbox")
        raise AssertionError("expected ValueError for existing target")
    except ValueError:
        pass
    try:
        wh.clone("nope", "other")
        raise AssertionError("expected ValueError for unknown source")
    except ValueError:
        pass


def test_describe_detail_reads_manifest_only(spark, tmp_path):
    rng = random.Random(41)
    wh = Warehouse(spark, str(tmp_path / "wh"), "detaildata", n_buckets=2)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(10)]
    wh.spool(write_feed(str(tmp_path / "f.jsonl"), envs))
    row = wh.describe_detail().collect()[0]
    assert row["table_name"] == "detaildata"
    assert row["version"] == 1 and row["last_op"] == "merge"
    assert row["n_buckets"] == 2
    assert row["n_files"] >= 1 and row["size_bytes"] > 0
    assert row["n_versions_retained"] == 1
    assert row["n_columns"] > 5
    wh.rebucket(4)
    row2 = wh.describe_detail().collect()[0]
    assert row2["version"] == 2 and row2["last_op"] == "rebucket"
    assert row2["n_buckets"] == 4
    assert row2["n_versions_retained"] == 2


def test_random_maintenance_ops_preserve_content(spark, tmp_path):
    """Model check: a seeded random interleaving of spool batches with
    EVERY maintenance operation (compact, zorder, rebucket, vacuum,
    clone) keeps the table exactly equal to a dict model — layout ops
    may move bytes but never rows, and merges after layout changes
    stay correct."""
    rng = random.Random(1234)
    wh = Warehouse(spark, str(tmp_path / "wh"), "modeldata", n_buckets=2)
    model: dict[str, str] = {}
    seq = 0
    feed_no = 0

    def spool_batch():
        nonlocal seq, feed_no
        envs = []
        for _ in range(rng.randrange(3, 9)):
            seq += 1
            i = rng.randrange(25)
            if model and rng.random() < 0.25:
                victim = rng.choice(sorted(model))
                envs.append(envelope(seq, None, doc_id=victim, deleted=True))
                model.pop(victim)
            else:
                status = rng.choice(["paid", "dispatched", "returned", "amended"])
                doc = order_doc(i, rng)
                doc["status"] = status
                envs.append(envelope(seq, doc))
                model[doc["_id"]] = status
        feed_no += 1
        wh.spool(write_feed(str(tmp_path / f"feed_{feed_no}.jsonl"), envs))

    spool_batch()
    ops = ["spool", "compact", "zorder", "rebucket", "vacuum", "spool", "clone"]
    rng.shuffle(ops)
    clone_no = 0
    for op in ops + ["spool"]:
        if op == "spool":
            spool_batch()
        elif op == "compact":
            wh.compact(max_files_per_bucket=1)
        elif op == "zorder":
            wh.optimize_zorder(["total"])
        elif op == "rebucket":
            wh.rebucket(rng.randrange(1, 6))
        elif op == "vacuum":
            wh.vacuum(retain_versions=1, min_age_seconds=0)
        elif op == "clone":
            clone_no += 1
            wh.clone("_default", f"branch{clone_no}")
            clone_snapshot = dict(model)
        got = {r["id"]: r["status"] for r in wh.table().collect()}
        assert got == model, f"divergence after {op}"
    # The clone froze the model state AT CLONE TIME: later spools into
    # the source must never leak into it.
    if clone_no:
        branch = {
            r["id"]: r["status"]
            for r in wh.table(f"branch{clone_no}").collect()
        }
        assert branch == clone_snapshot


def test_analyze_stats_match_direct_scan(spark, tmp_path):
    """ANALYZE's folded table stats equal a direct scan's min/max/null
    counts; NDV upper bound ≥ true NDV; row counts exact."""
    rng = random.Random(5)
    wh = Warehouse(spark, str(tmp_path / "wh"), "statsdata", n_buckets=2)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(40)]
    wh.spool(write_feed(str(tmp_path / "feed.jsonl"), envs))
    n_scanned = wh.analyze()
    assert n_scanned > 0
    stats = {r["column"]: r for r in wh.describe_stats().collect()}
    t = wh.table()
    direct = t.agg(
        F.min("total").alias("mn"),
        F.max("total").alias("mx"),
        F.count("*").alias("n"),
        F.countDistinct("status").alias("ndv_status"),
    ).collect()[0]
    assert float(stats["total"]["min_value"]) == direct["mn"]
    assert float(stats["total"]["max_value"]) == direct["mx"]
    assert stats["total"]["n_rows"] == direct["n"]
    assert stats["total"]["null_count"] == 0
    assert stats["status"]["ndv_upper_bound"] >= direct["ndv_status"]
    # Idempotent: nothing pending → no scan, no new version.
    v_before = wh.describe_detail().collect()[0]["version"]
    assert wh.analyze() == 0
    assert wh.describe_detail().collect()[0]["version"] == v_before


def test_analyze_is_incremental_by_file(spark, tmp_path):
    """A merge that touches one bucket leaves the other bucket's
    analyzed files alone: re-ANALYZE scans only the rewritten files,
    and stats survive the intervening non-analyze commit."""
    rng = random.Random(6)
    wh = Warehouse(spark, str(tmp_path / "wh"), "incrdata", n_buckets=4)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(40)]
    wh.spool(write_feed(str(tmp_path / "f1.jsonl"), envs))
    first = wh.analyze()
    assert first > 0
    # One updated doc → merge rewrites only its bucket's file(s).
    doc = order_doc(3, rng)
    doc["status"] = "amended"
    wh.spool(write_feed(str(tmp_path / "f2.jsonl"), [envelope(100, doc)]))
    second = wh.analyze()
    assert 0 < second < first
    # Folded stats reflect the post-merge table exactly.
    stats = {r["column"]: r for r in wh.describe_stats().collect()}
    assert stats["status"]["n_rows"] == wh.table().count()
    amended_max = wh.table().agg(F.max("status")).collect()[0][0]
    # 'amended' sorts after nothing else here unless statuses exceed it;
    # just assert the folded max matches the scan's max.
    assert stats["status"]["max_value"] == amended_max


def test_describe_stats_without_analyze_is_empty(spark, tmp_path):
    rng = random.Random(7)
    wh = Warehouse(spark, str(tmp_path / "wh"), "nostats", n_buckets=2)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(5)]
    wh.spool(write_feed(str(tmp_path / "f.jsonl"), envs))
    assert wh.describe_stats().count() == 0


def test_check_constraint_error_mode_rejects_batch(spark, tmp_path):
    """Default mode: a violating batch fails whole — the table never
    holds a violating row and stays at its prior version."""
    from couchwarehouse_spark.warehouse import ConstraintViolationError

    rng = random.Random(11)
    wh = Warehouse(spark, str(tmp_path / "wh"), "consdata", n_buckets=2)
    good = [envelope(i + 1, order_doc(i, rng)) for i in range(5)]
    wh.spool(write_feed(str(tmp_path / "f1.jsonl"), good))
    wh.add_constraint("positive_total", "total > 0")
    v_before = wh.describe_detail().collect()[0]["version"]

    bad_doc = order_doc(99, rng)
    bad_doc["total"] = -5.0
    ok_doc = order_doc(50, rng)
    try:
        wh.spool(write_feed(str(tmp_path / "f2.jsonl"),
                            [envelope(10, ok_doc), envelope(11, bad_doc)]))
        raise AssertionError("expected ConstraintViolationError")
    except ConstraintViolationError as e:
        assert "positive_total" in str(e)
    assert wh.describe_detail().collect()[0]["version"] == v_before
    assert wh.table().filter(F.col("total") < 0).count() == 0
    # The whole batch was rejected: the OK doc didn't land either.
    assert wh.table().filter(F.col("id") == ok_doc["_id"]).count() == 0


def test_check_constraint_quarantine_mode_diverts_offenders(spark, tmp_path):
    rng = random.Random(12)
    wh = Warehouse(
        spark, str(tmp_path / "wh"), "qdata", n_buckets=2,
        constraint_mode="quarantine",
    )
    good = [envelope(i + 1, order_doc(i, rng)) for i in range(5)]
    wh.spool(write_feed(str(tmp_path / "f1.jsonl"), good))
    wh.add_constraint("positive_total", "total > 0")

    bad_doc = order_doc(99, rng)
    bad_doc["total"] = -5.0
    ok_doc = order_doc(50, rng)
    wh.spool(write_feed(str(tmp_path / "f2.jsonl"),
                        [envelope(10, ok_doc), envelope(11, bad_doc)]))
    t = wh.table()
    assert t.filter(F.col("id") == ok_doc["_id"]).count() == 1  # merged
    assert t.filter(F.col("total") < 0).count() == 0  # diverted
    q = wh.quarantined()
    assert q.count() == 1
    assert q.collect()[0]["id"] == bad_doc["_id"]


def test_check_constraint_null_passes_and_persistence(spark, tmp_path):
    """SQL-standard CHECK: NULL evaluates as pass; constraints persist
    across Warehouse reopen (stored in _schemas.json meta)."""
    rng = random.Random(13)
    whdir = str(tmp_path / "wh")
    wh = Warehouse(spark, whdir, "nulldata", n_buckets=2)
    wh.spool(write_feed(str(tmp_path / "f1.jsonl"),
                        [envelope(1, order_doc(0, rng))]))
    wh.add_constraint("positive_total", "total > 0")
    del wh
    wh2 = Warehouse(spark, whdir, "nulldata", n_buckets=2)
    assert wh2.constraints["_default"]["positive_total"] == "total > 0"
    # A doc with no total (NULL after conform) passes the check.
    doc = order_doc(7, rng, drop={"total"})
    wh2.spool(write_feed(str(tmp_path / "f2.jsonl"), [envelope(5, doc)]))
    assert wh2.table().filter(F.col("id") == doc["_id"]).count() == 1


def test_delete_where_predicate_and_time_travel(spark, tmp_path):
    """DELETE WHERE removes only TRUE-predicate rows, commits a new
    version, leaves the old snapshot intact, and untouched buckets
    carry forward by reference (same file names in both manifests)."""
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=100)
    wh = Warehouse(spark, str(tmp_path / "wh"), "deldata", n_buckets=8)
    wh.spool(feed)
    v1 = wh._load_manifest(wh._table_path("_default"))["version"]

    n_young = wh.table().filter(F.col("age") < 30).count()
    assert n_young > 0
    deleted = wh.delete_where("age < 30")
    assert deleted == n_young
    assert wh.table().filter(F.col("age") < 30).count() == 0
    assert wh.table().count() == 100 - n_young
    # Old snapshot unchanged.
    assert wh.table(version=v1).count() == 100
    # Untouched buckets carried forward by reference.
    m1 = wh._load_manifest(wh._table_path("_default"), v1)
    m2 = wh._load_manifest(wh._table_path("_default"))
    assert m2["op"] == "delete_where"
    # A bucket present in v2 either kept v1's exact file list (carried
    # by reference — zero I/O) or was rewritten with all-new files;
    # a rewrite never mixes old and new parts in one bucket.
    for b, fs in m2["buckets"].items():
        old = set(m1["buckets"].get(b, []))
        assert set(fs) == old or not (set(fs) & old)
    # No-match delete is a no-op (no new version).
    assert wh.delete_where("age < 0") == 0
    assert wh._load_manifest(wh._table_path("_default"))["version"] == m2["version"]


def test_update_where_assignments(spark, tmp_path):
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=50)
    wh = Warehouse(spark, str(tmp_path / "wh"), "upddata", n_buckets=8)
    wh.spool(feed)
    before = {r["id"]: r["age"] for r in wh.table().collect()}

    n = wh.update_where("age >= 40", {"age": "age + 100"})
    assert n == sum(1 for a in before.values() if a >= 40)
    after = {r["id"]: r["age"] for r in wh.table().collect()}
    for pid, age in before.items():
        assert after[pid] == (age + 100 if age >= 40 else age)
    # protected columns refuse updates
    import pytest as _pt
    with _pt.raises(ValueError):
        wh.update_where("age > 0", {"id": "'x'"})


def test_update_where_respects_check_constraints(spark, tmp_path):
    from couchwarehouse_spark.warehouse import ConstraintViolationError

    feed = person_feed(str(tmp_path / "feed.jsonl"), n=30)
    wh = Warehouse(spark, str(tmp_path / "wh"), "consdata", n_buckets=4)
    wh.spool(feed)
    wh.add_constraint("age_cap", "age <= 200")
    import pytest as _pt
    with _pt.raises(ConstraintViolationError):
        wh.update_where("age > 0", {"age": "age + 500"})
    # error mode aborted BEFORE committing: table unchanged
    assert wh.table().filter(F.col("age") > 200).count() == 0


def test_timestamp_time_travel(spark, tmp_path):
    import time as _time

    feed = person_feed(str(tmp_path / "feed.jsonl"), n=20)
    wh = Warehouse(spark, str(tmp_path / "wh"), "ttsdata", n_buckets=4)
    wh.spool(feed)
    t_between = _time.time()
    _time.sleep(0.05)
    wh.delete_where("age < 100")  # deletes everything (ages < 100)
    n_now = wh.table().count()
    assert wh.table(as_of_ts=t_between).count() == 20
    assert wh.table(as_of_ts=_time.time()).count() == n_now
    import pytest as _pt
    with _pt.raises(ValueError):
        wh.table(as_of_ts=1.0)  # before the first commit
    with _pt.raises(ValueError):
        wh.table(version=1, as_of_ts=t_between)


def test_random_dml_and_maintenance_model(spark, tmp_path):
    """Model check for the ROW-LEVEL DML verbs: a seeded random
    interleaving of spool batches, delete_where, update_where, and the
    layout ops keeps the table exactly equal to a dict model — the
    same harness as test_random_maintenance_ops_preserve_content with
    predicate DML in the mix, so bucket pruning, carried-forward
    files, and version commits are exercised against arbitrary
    interleavings."""
    rng = random.Random(99)
    wh = Warehouse(spark, str(tmp_path / "wh"), "dmlmodel", n_buckets=2)
    model: dict[str, str] = {}
    seq = 0
    feed_no = 0
    statuses = ["paid", "dispatched", "returned", "archived"]

    def spool_batch():
        nonlocal seq, feed_no
        envs = []
        for _ in range(rng.randrange(3, 9)):
            seq += 1
            i = rng.randrange(25)
            doc = order_doc(i, rng)
            doc["status"] = rng.choice(statuses[:3])
            envs.append(envelope(seq, doc))
            model[doc["_id"]] = doc["status"]
        feed_no += 1
        wh.spool(write_feed(str(tmp_path / f"dml_feed_{feed_no}.jsonl"), envs))

    spool_batch()
    ops = [
        "delete", "spool", "update", "compact", "delete",
        "spool", "update", "vacuum", "spool",
    ]
    rng.shuffle(ops)
    for op in ops + ["spool", "delete"]:
        if op == "spool":
            spool_batch()
        elif op == "delete":
            victim = rng.choice(statuses[:3])
            n = wh.delete_where(f"status = '{victim}'")
            expect = [k for k, v in model.items() if v == victim]
            assert n == len(expect)
            for k in expect:
                model.pop(k)
        elif op == "update":
            src = rng.choice(statuses[:3])
            n = wh.update_where(f"status = '{src}'", {"status": "'archived'"})
            expect = [k for k, v in model.items() if v == src]
            assert n == len(expect)
            for k in expect:
                model[k] = "archived"
        elif op == "compact":
            wh.compact(max_files_per_bucket=1)
        elif op == "vacuum":
            wh.vacuum(retain_versions=1, min_age_seconds=0)
        got = {r["id"]: r["status"] for r in wh.table().collect()}
        assert got == model, f"divergence after {op}"


def test_merge_into_dataframe_upsert(spark, tmp_path):
    """merge_into: inserts new ids, updates existing ones (winning by
    the stamped seq), honors delete_col, and a later FEED batch still
    outranks the merge."""
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=10)
    wh = Warehouse(spark, str(tmp_path / "wh"), "midata", n_buckets=4)
    wh.spool(feed)
    t0 = wh.table()
    cols = t0.columns
    assert "name" in cols

    incoming = spark.createDataFrame(
        [("person0001", "Renamed One", False),
         ("newdoc0001", "Brand New", False),
         ("person0002", None, True)],
        "id string, name string, gone boolean",
    )
    n = wh.merge_into(incoming, delete_col="gone")
    assert n == 3
    got = {r["id"]: r["name"] for r in wh.table().collect()}
    assert got["person0001"] == "Renamed One"
    assert got["newdoc0001"] == "Brand New"
    assert "person0002" not in got
    assert len(got) == 10  # 10 - 1 deleted + 1 inserted
    # conformance: columns the frame lacked are NULL, schema unchanged
    row = [r for r in wh.table().collect() if r["id"] == "newdoc0001"][0]
    assert row["age"] is None
    # a later feed amendment (higher seq) still wins over the merge
    from .fixtures import envelope, person_doc
    import random as _r
    doc = person_doc(1, _r.Random(0))
    doc["name"] = "Feed Wins"
    wh.spool(write_feed(str(tmp_path / "feed2.jsonl"), [envelope(1000, doc)]))
    got2 = {r["id"]: r["name"] for r in wh.table().collect()}
    assert got2["person0001"] == "Feed Wins"


def test_merge_into_idempotent_replay(spark, tmp_path):
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=6)
    wh = Warehouse(spark, str(tmp_path / "wh"), "midem", n_buckets=2)
    wh.spool(feed)
    inc = spark.createDataFrame([("person0001", "X")], "id string, name string")
    wh.merge_into(inc)
    snap1 = sorted((r["id"], r["name"]) for r in wh.table().collect())
    wh.merge_into(inc)  # replay: content-identical
    snap2 = sorted((r["id"], r["name"]) for r in wh.table().collect())
    assert snap1 == snap2


def test_create_masked_view_policies(spark, tmp_path):
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=8)
    wh = Warehouse(spark, str(tmp_path / "wh"), "maskdata", n_buckets=2)
    wh.spool(feed)
    wh.create_masked_view(
        "people_masked",
        {"name": "sha2(name, 256)", "age": "CASE WHEN age > 30 THEN 31 ELSE age END"},
        drop=["address_street"],
    )
    out = spark.sql("SELECT * FROM people_masked")
    assert "address_street" not in out.columns
    rows = out.collect()
    assert all(len(r["name"]) == 64 for r in rows)  # sha2 hex
    assert all(r["age"] <= 31 for r in rows)
    # raw table untouched
    raw = wh.table().collect()
    assert any(r["name"].startswith("Person") for r in raw)
    # unknown column in the policy is loud
    import pytest as _pt
    with _pt.raises(ValueError):
        wh.create_masked_view("bad", {"nope": "1"})


def test_changes_bounded_window(spark, tmp_path):
    """changes(since, to_version=...) diffs two PINNED snapshots: the
    v1→v2 window reports only the delete_where effects even after a
    later merge created v3."""
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=12)
    wh = Warehouse(spark, str(tmp_path / "wh"), "cdfwin", n_buckets=2)
    wh.spool(feed)  # v1
    n_del = wh.delete_where("age < 30")  # v2
    inc = spark.createDataFrame([("zzz1", "Late Row")], "id string, name string")
    wh.merge_into(inc)  # v3
    win = wh.changes(1, to_version=2).collect()
    assert len(win) == n_del
    assert all(r["change_type"] == "delete" for r in win)
    # unbounded reaches the head: the v3 insert appears too
    full = {r["id"]: r["change_type"] for r in wh.changes(1).collect()}
    assert full["zzz1"] == "insert"


def test_update_where_simultaneous_set_semantics(spark, tmp_path):
    """ANSI UPDATE: every SET expression sees the OLD row — a swap
    assignment {a: b, b: a} must actually swap, not copy."""
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=5)
    wh = Warehouse(spark, str(tmp_path / "wh"), "swapdata", n_buckets=2)
    wh.spool(feed)
    before = {r["id"]: (r["name"], r["address_street"]) for r in wh.table().collect()}
    n = wh.update_where(
        "age >= 0", {"name": "address_street", "address_street": "name"}
    )
    assert n == 5
    after = {r["id"]: (r["name"], r["address_street"]) for r in wh.table().collect()}
    for pid, (nm, st) in before.items():
        assert after[pid] == (st, nm), pid


def test_delete_where_crash_before_commit_leaves_table_intact(spark, tmp_path):
    """Crash injection: if the manifest commit dies AFTER the rewrite
    published its part files, the table still reads the previous
    version (orphans are invisible), and vacuum(min_age_seconds=0)
    reclaims them."""
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=20)
    wh = Warehouse(spark, str(tmp_path / "wh"), "crashdml", n_buckets=2)
    wh.spool(feed)
    v1 = wh._load_manifest(wh._table_path("_default"))["version"]
    before = sorted(r["id"] for r in wh.table().collect())

    orig = Warehouse._commit_manifest

    def boom(self, *a, **k):
        raise RuntimeError("injected crash before manifest commit")

    Warehouse._commit_manifest = boom
    try:
        import pytest as _pt
        with _pt.raises(RuntimeError, match="injected"):
            wh.delete_where("age >= 0")
    finally:
        Warehouse._commit_manifest = orig
    # Table unchanged, version unchanged.
    assert wh._load_manifest(wh._table_path("_default"))["version"] == v1
    assert sorted(r["id"] for r in wh.table().collect()) == before
    # The published-but-uncommitted part files are reclaimable orphans.
    wh.vacuum(min_age_seconds=0)
    assert sorted(r["id"] for r in wh.table().collect()) == before
    # And the verb still works afterwards.
    n = wh.delete_where("age >= 0")
    assert n == 20 and wh.table().count() == 0


def test_fsck_clean_and_corrupted(spark, tmp_path):
    import os as _os

    feed = person_feed(str(tmp_path / "feed.jsonl"), n=30)
    wh = Warehouse(spark, str(tmp_path / "wh"), "fsckdata", n_buckets=4)
    wh.spool(feed)
    rep = wh.fsck().collect()[0]
    assert rep["ok"] and rep["n_files"] > 0
    assert rep["n_missing_files"] == 0 and rep["n_misplaced_rows"] == 0
    # delete one referenced part file → fsck flags it
    path = wh._table_path("_default")
    m = wh._load_manifest(path)
    b, files = next((b, f) for b, f in m["buckets"].items() if f)
    _os.remove(_os.path.join(path, f"_cw_bucket={b}", files[0]))
    rep2 = wh.fsck().collect()[0]
    assert not rep2["ok"]
    assert rep2["n_missing_files"] == 1


def _jobs_run_by(spark, group: str, fn):
    """(fn(), number of Spark jobs ``fn`` submitted), counted through a
    job group; the listener bus is drained so no job is missed."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookup_submits_no_spark_job(spark, tmp_path):
    """A point lookup is served on the driver: building it and
    collecting it each submit NO Spark job, for a hit and a miss."""
    feed = person_feed(str(tmp_path / "feed.jsonl"), n=50)
    wh = Warehouse(spark, str(tmp_path / "wh"), "lookupjobs", n_buckets=8)
    wh.spool(feed)

    for doc_id, want in (("person0009", ["Person 9"]), ("person9999", [])):
        df, n_build = _jobs_run_by(spark, f"build-{doc_id}", lambda: wh.lookup(doc_id))
        rows, n_exec = _jobs_run_by(spark, f"exec-{doc_id}", df.collect)
        assert (n_build, n_exec) == (0, 0)
        assert [r["name"] for r in rows] == want


def test_bucket_of_id_matches_bucket_formula(spark, tmp_path):
    """The driver-side bucket (Spark's XXH64 called directly) equals the
    column formula ``_bucket_of`` for every id, edge cases included:
    the empty string, non-ASCII text and long ids."""
    import pandas as pd

    rng = random.Random(5)
    alphabet = "abcxyz019-_:é漢字🙂Ωß"
    ids = ["", "é", "漢字🙂", "x" * 200, "order00005"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 40)))
        for _ in range(1000)
    ] + [f"doc{i:06d}" for i in range(1000)]
    wh = Warehouse(spark, str(tmp_path / "wh"), "bucketids")
    frame = spark.createDataFrame(pd.DataFrame({"id": ids}))
    got = frame.select(
        "id", *[wh._bucket_of("id", n).alias(f"b{n}") for n in (1, 5, 16)]
    ).collect()
    assert len(got) == len(ids)
    for r in got:
        for n in (1, 5, 16):
            assert wh._bucket_of_id(r["id"], n) == r[f"b{n}"], (r["id"], n)


def test_lookup_after_rebucket_and_restore(spark, tmp_path):
    """The driver-side bucket choice hashes with the CURRENT version's
    bucket count: after rebucket(5), and after restoring the 2-bucket
    version, every looked-up id is still found."""
    rng = random.Random(23)
    wh = Warehouse(spark, str(tmp_path / "wh"), "lookuplayout", n_buckets=2)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(30)]
    wh.spool(write_feed(str(tmp_path / "f1.jsonl"), envs))
    v1 = wh._load_manifest(wh._table_path("_default"))["version"]
    ids = [f"order{i:05d}" for i in (0, 3, 7, 12, 21, 29)]

    def found():
        return [len(wh.lookup(i).collect()) for i in ids]

    assert found() == [1] * len(ids)
    wh.rebucket(5)
    assert found() == [1] * len(ids)
    wh.restore(v1)
    assert found() == [1] * len(ids)
    assert wh.lookup("order99999").collect() == []


def _assert_lookups_match_table(wh, ids, doc_type="_default"):
    """Every id in ``ids`` looks up exactly its ``table()`` rows (none
    for a deleted or unknown id), under the same schema."""
    table = wh.table(doc_type)
    want: dict[str, list] = {}
    for r in table.collect():
        want.setdefault(r["id"], []).append(r)
    for i in sorted(ids):
        got = wh.lookup(i, doc_type=doc_type)
        assert got.schema == table.schema, i
        assert got.collect() == want.get(i, []), i
    return want


def test_lookup_matches_table_through_history(spark, tmp_path):
    """``lookup(i)`` equals ``table().filter(id == i)`` — rows and
    schema — after every kind of commit: updates, deletes, a delete
    then recreate, a column added by ``evolve_schema`` (older files
    lack it), compact, rebucket, z-order, restore and clone; for a
    split-mode type; and after ``vacuum`` removed the looked-up files."""
    import os as _os

    import pyarrow.parquet as pq

    rng = random.Random(2387)
    wh = Warehouse(
        spark, str(tmp_path / "wh"), "lookupeq", n_buckets=3, evolve_schema=True
    )
    path = wh._table_path("_default")
    seen: set[str] = {"order99999", ""}
    seq = 0

    def spool(name, changes):
        nonlocal seq
        envs = []
        for i, kind in changes:
            seq += 1
            doc_id = f"order{i:05d}"
            seen.add(doc_id)
            if kind == "delete":
                envs.append(envelope(seq, None, doc_id=doc_id, deleted=True))
            else:
                extra = {"newfield": f"{kind}{i}"} if kind != "base" else None
                envs.append(envelope(seq, order_doc(i, rng, extra=extra)))
        wh.spool(write_feed(str(tmp_path / f"{name}.jsonl"), envs))
        return _assert_lookups_match_table(wh, seen)

    spool("base", [(i, "base") for i in range(20)])
    v1 = wh._load_manifest(path)["version"]
    want = spool("evolve", [(i, "new") for i in range(20, 25)])
    assert want["order00022"][0]["newfield"] == "new22"
    assert want["order00003"][0]["newfield"] is None
    assert any(
        "newfield" not in pq.read_schema(fp).names
        for fp in wh._manifest_files(path, wh._load_manifest(path))
    )
    want = spool(
        "churn",
        [(i, "upd") for i in range(5)]
        + [(i, "delete") for i in (5, 6, 7, 21)]
        + [(20, "upd")],
    )
    assert "order00005" not in want and want["order00020"][0]["newfield"] == "upd20"
    want = spool("recreate", [(5, "again"), (6, "upd"), (25, "base"), (26, "new")])
    assert want["order00005"][0]["newfield"] == "again5" and "order00007" not in want

    wh.compact(max_files_per_bucket=1)
    _assert_lookups_match_table(wh, seen)
    wh.rebucket(5)
    _assert_lookups_match_table(wh, seen)
    wh.optimize_zorder(["total"])
    _assert_lookups_match_table(wh, seen)
    wh.restore(v1)
    want = _assert_lookups_match_table(wh, seen)
    assert len(want) == 20 and "newfield" not in wh.table().columns
    wh.clone("_default", "branch")
    _assert_lookups_match_table(wh, seen, doc_type="branch")

    # A lookup is materialised when it is called: vacuuming the files
    # it read does not change what collecting it returns.
    pinned = wh.lookup("order00010")
    read_before = set(wh._manifest_files(path, wh._load_manifest(path)))
    wh.rebucket(2)
    wh.vacuum(retain_versions=1, min_age_seconds=0)
    assert not any(_os.path.exists(fp) for fp in read_before)
    assert pinned.collect() == want["order00010"]

    split = Warehouse(spark, str(tmp_path / "split"), "lookupsplit", split="type")
    split.spool(mixed_feed(str(tmp_path / "mixed.jsonl")))
    products = {f"A{i}" for i in range(20)} | {"A999", "order00001"}
    assert len(_assert_lookups_match_table(split, products, doc_type="product")) == 20


def test_maintenance_rewrites_keep_evolved_columns(spark, tmp_path):
    """compact, rebucket and optimize_zorder rewrite a snapshot whose
    files mix rows written before and after ``evolve_schema`` added a
    column; the rewrite must keep that column's values (a read that
    inferred the schema from one part file's footer dropped the column
    whenever it sampled the pre-evolution file). Which file is sampled
    varies with the part-file names, so eight fresh tables are built,
    each from one pre-evolution and one evolved batch."""
    want = {f"aaa{i:02d}": None for i in range(12)}
    want.update({f"ddd{i:02d}": f"y{i}" for i in range(3)})
    for trial in range(8):
        wh = Warehouse(
            spark, str(tmp_path / f"wh{trial}"), f"evo{trial}",
            n_buckets=1, evolve_schema=True,
        )
        seq = 0
        for prefix, n in (("aaa", 12), ("ddd", 3)):
            envs = []
            for i in range(n):
                seq += 1
                doc = {"_id": f"{prefix}{i:02d}", "_rev": f"1-{seq:04d}", "x": i}
                if prefix == "ddd":
                    doc["y"] = f"y{i}"
                envs.append(envelope(seq, doc))
            wh.spool(write_feed(str(tmp_path / f"t{trial}{prefix}.jsonl"), envs))
        wh.clone("_default", "rb")
        wh.clone("_default", "zo")

        assert wh.compact(max_files_per_bucket=1) == 1
        assert wh.rebucket(3, doc_type="rb") == 1
        # Z-ordering BY the evolved column: it must be a known column.
        assert wh.optimize_zorder(["y"], doc_type="zo") == 1
        for t in ("_default", "rb", "zo"):
            got = {r["id"]: r["y"] for r in wh.table(t).collect()}
            assert got == want, (trial, t)
