"""Manual 10x scale stress harness (VERDICT r06 ask #4): measured —
not argued — evidence that the heaviest pair/graph operators scale
quasi-linearly, and that the derived LSH geometry steps up with corpus
size.

NOT collected by pytest (no test_ prefix); run by hand:

    python tests/stress_10x.py [--copies 10] [--sf /root/testdata/sf0.1]

What it does:
- Builds a COPIES-fold corpus from the base SF dir with re-keyed ids.
  Document text is vocabulary-salted per copy (every token gets a
  _c{i} suffix), so each copy reproduces the base corpus's pair
  structure on a disjoint vocabulary — the honest linear-scale model
  (plain duplication would make every doc a 10-way near-dup cluster
  and measure the clone blowup, not scaling). Embeddings are re-keyed
  only: the SRP planes re-derive from the larger N, which is exactly
  the behavior under test.
- Times the five heaviest operators at 1x and at COPIES-x and asserts
  wall-time grows within the op's work model:
  * the four text/dedup ops are linear by construction (inverted-index
    work is per-copy-independent) → ratio ≤ copies × SLACK;
  * graph_pagerank_3iter's bucketed pair work is N·min(N, 2^p·target)
    — below bucket saturation the model ratio exceeds `copies`; the
    assert binds against the MODEL ratio × SLACK, and the model itself
    goes linear once buckets saturate (the derive_planes design).
- Asserts derive_planes(N) strictly increases from 1x to COPIES-x.
"""

from __future__ import annotations

import argparse
import functools
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The 10x pair stages need real heap; the default local-mode JVM is
# 1g. Must be set before the gateway launches (session.py NB).
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import couchwarehouse_spark.plans.all  # noqa: F401
from couchwarehouse_spark.catalog import load_table
from couchwarehouse_spark.plans import QUERIES
from couchwarehouse_spark.plans.similarity import derive_planes
from couchwarehouse_spark.session import get_spark

LINEAR_OPS = [
    "containment_dup_pairs",
    "sparse_cosine_pairs",
    "minhash_lsh_candidates",
    "near_dup_clusters",
]
BUCKET_OPS = ["graph_pagerank_3iter"]
SLACK = 3.0  # wall-time noise allowance over the work model
ID_STRIDE = 100_000_000


def build_scaled(spark, base: str, out: str, copies: int) -> None:
    os.makedirs(out, exist_ok=True)
    docs = load_table(spark, base, "documents")

    def salt_copy(i: int) -> DataFrame:
        # Disjoint vocabulary per copy: suffix every token. Structure
        # within a copy is identical to the base corpus.
        salted = F.array_join(
            F.transform(F.split("text", " "), lambda w: F.concat(w, F.lit(f"_c{i}"))),
            " ",
        )
        return docs.select(
            (F.col("doc_id") + i * ID_STRIDE).alias("doc_id"),
            salted.alias("text"),
            "lang",
            "source",
            "n_chars",
        )

    functools.reduce(
        DataFrame.unionByName, [salt_copy(i) for i in range(copies)]
    ).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = load_table(spark, base, "embeddings")
    functools.reduce(
        DataFrame.unionByName,
        [
            emb.select(
                (F.col("vec_id") + i * ID_STRIDE).alias("vec_id"),
                "embedding",
                "label",
            )
            for i in range(copies)
        ],
    ).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")


def time_op(spark, name: str, sf_dir: str) -> tuple[float, int]:
    spark.catalog.clearCache()
    t0 = time.monotonic()
    n = QUERIES[name](spark, sf_dir).count()
    return time.monotonic() - t0, n




# ---------------------------------------------------------------------------
# Warehouse DML/maintenance verbs at COPIES-x (VERDICT r10 ask #4):
# assert the O(touched-buckets) claim EMPIRICALLY — files rewritten vs
# total files out of the manifest diff, like the zorder row-group-
# pruning pin — and record the wall times the README scale section
# quotes.
# ---------------------------------------------------------------------------

DML_BUCKETS = 32
DML_REBUCKETS = 64
DML_DDL = "_id string, _rev string, status string, total double"


def _bucket_files(wh, doc_type="_default"):
    path = wh._table_path(doc_type)
    m = wh._load_manifest(path)
    return {int(b): sorted(fs) for b, fs in m["buckets"].items()}, m


def _diff_buckets(before: dict, after: dict) -> list[int]:
    keys = set(before) | set(after)
    return sorted(b for b in keys if before.get(b) != after.get(b))


def dml_stress(spark, base_sf: str, workdir: str, copies: int) -> list[str]:
    from couchwarehouse_spark.warehouse import Warehouse

    failures: list[str] = []
    base_dir = os.path.join(workdir, "dml")
    shutil.rmtree(base_dir, ignore_errors=True)

    orders = load_table(spark, base_sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    fan = orders.select(
        F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("c"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    )
    key = F.col("o_orderkey") + F.col("c").cast("long") * ID_STRIDE

    def build_feed(prefix: str, seq_off: int, out: str) -> None:
        doc_id = F.concat(F.lit(prefix), key.cast("string"))
        env = F.to_json(
            F.struct(
                F.concat((key + seq_off).cast("string"), F.lit("-seq")).alias("seq"),
                doc_id.alias("id"),
                F.struct(
                    doc_id.alias("_id"),
                    F.lit("1-x").alias("_rev"),
                    F.col("o_orderstatus").alias("status"),
                    F.col("o_totalprice").alias("total"),
                ).alias("doc"),
            )
        )
        fan.select(env.alias("value")).write.mode("overwrite").text(out)

    def check(label: str, cond: bool, detail) -> None:
        print(f"  {label}: {'OK' if cond else 'FAIL'} ({detail})", flush=True)
        if not cond:
            failures.append(label)

    feed_a = os.path.join(base_dir, "feed_a")
    feed_b = os.path.join(base_dir, "feed_b")
    # Disjoint id prefixes ("doc…"/"xdoc…"): wave B merges carry wave
    # A part files forward by id-range pruning, so every bucket ends
    # up fragmented (2 files) — compaction's precondition.
    build_feed("doc", 0, feed_a)
    build_feed("xdoc", 20 * ID_STRIDE, feed_b)

    wh = Warehouse(
        spark,
        os.path.join(base_dir, "wh"),
        "stressdml",
        reset=True,
        n_buckets=DML_BUCKETS,
        feed_schema=DML_DDL,
    )
    t0 = time.monotonic()
    wh.spool(feed_a)
    wh.spool(feed_b)
    t_spool = time.monotonic() - t0
    n_rows = wh.table().count()
    files0, _ = _bucket_files(wh)
    total0 = sum(len(v) for v in files0.values())
    frag = [b for b, fs in files0.items() if len(fs) > 1]
    print(
        f"dml warehouse: {n_rows} rows, {DML_BUCKETS} buckets, "
        f"{total0} files ({len(frag)} fragmented), spool {t_spool:.1f}s",
        flush=True,
    )
    check("two disjoint waves fragment buckets", len(frag) > 0, f"{len(frag)} buckets")

    # 1. OPTIMIZE: rewrites exactly the fragmented buckets, nothing else.
    t0 = time.monotonic()
    n_rw = wh.compact()
    t_compact = time.monotonic() - t0
    files1, _ = _bucket_files(wh)
    total1 = sum(len(v) for v in files1.values())
    check(
        f"compact rewrote exactly the fragmented buckets in {t_compact:.1f}s",
        n_rw == len(frag) and total1 < total0,
        f"rewrote {n_rw}/{len(frag)}, files {total0}->{total1}",
    )

    # 2. Narrow DELETE (3 ids): manifest diff touches <= 3 of 32
    # buckets; every other bucket's file list carries BY REFERENCE.
    first_keys = [r["o_orderkey"] for r in orders.limit(3).collect()]
    ids = [f"doc{k}" for k in first_keys]
    t0 = time.monotonic()
    n_del = wh.delete_where(F.col("id").isin(ids))
    t_del = time.monotonic() - t0
    files2, _ = _bucket_files(wh)
    changed = _diff_buckets(files1, files2)
    check(
        f"delete_where({len(ids)} ids) touched <= {len(ids)} buckets in {t_del:.1f}s",
        n_del == len(ids) and len(changed) <= len(ids),
        f"deleted {n_del}, rewrote buckets {changed} "
        f"({sum(len(files2.get(b, [])) for b in changed)}/{total1} files)",
    )

    # 3. Narrow UPDATE (1 id): <= 1 bucket rewritten.
    uid = f"xdoc{first_keys[0]}"
    t0 = time.monotonic()
    n_upd = wh.update_where(f"id = '{uid}'", {"total": "total + 1"})
    t_upd = time.monotonic() - t0
    files3, _ = _bucket_files(wh)
    changed_u = _diff_buckets(files2, files3)
    check(
        f"update_where(1 id) touched <= 1 bucket in {t_upd:.1f}s",
        n_upd == 1 and len(changed_u) <= 1,
        f"updated {n_upd}, rewrote buckets {changed_u}",
    )

    # 4. REBUCKET (partition-strategy evolution): the one-time full
    # relayout, after which narrow verbs prune against the NEW units.
    t0 = time.monotonic()
    wh.rebucket(DML_REBUCKETS)
    t_reb = time.monotonic() - t0
    files4, m4 = _bucket_files(wh)
    check(
        f"rebucket({DML_REBUCKETS}) relaid out in {t_reb:.1f}s",
        int(m4["n_buckets"]) == DML_REBUCKETS and wh.table().count() == n_rows - n_del,
        f"n_buckets={m4['n_buckets']}, rows={n_rows - n_del}",
    )
    t0 = time.monotonic()
    n_del2 = wh.delete_where(f"id = '{uid}'")
    t_del2 = time.monotonic() - t0
    files5, _ = _bucket_files(wh)
    changed_r = _diff_buckets(files4, files5)
    check(
        f"post-rebucket delete_where(1 id) touched <= 1 of {DML_REBUCKETS} in {t_del2:.1f}s",
        n_del2 == 1 and len(changed_r) <= 1,
        f"deleted {n_del2}, rewrote buckets {changed_r}",
    )
    return failures



# ---------------------------------------------------------------------------
# Streaming state-store growth at COPIES-x (VERDICT r11 ask #5):
# assert the "state is watermark-bounded" docstring claim EMPIRICALLY
# via the progress listener. The scaled corpus EXTENDS TIME (copy i is
# time-shifted by i spans, ids re-keyed), so total input grows x
# copies while the event-time density — and therefore the
# watermark-horizon row count — stays constant. File size is held
# constant across scales (files = base x copies), so per-trigger batch
# size is constant too, and the max in-flight state row count must
# stay FLAT as input grows 10x: state ∝ batch + horizon, never input.
# ---------------------------------------------------------------------------

SS_FILES_PER_COPY = 8  # constant-span files: batch size fixed across scales
SS_FILES_PER_TRIGGER = 2
SS_WM = "30 minutes"
SS_STATE_SLACK = 1.5  # max-state growth allowed at copies-x (target: ~1.0)


def _scaled_events(spark, base_sf: str, copies: int) -> DataFrame:
    """Time-extended corpus: copy i shifts ts by i full spans and
    re-keys event/user ids — constant rows per unit time."""
    ev = load_table(spark, base_sf, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    span = ev.agg(
        (
            F.max("ts").cast("timestamp").cast("long")
            - F.min("ts").cast("timestamp").cast("long")
            + 7200
        ).alias("s")
    ).collect()[0]["s"]
    parts = [
        ev.select(
            (F.col("event_id") + i * ID_STRIDE).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {int(span) * i} SECOND")).alias("ts"),
            (F.col("user_id") + i * ID_STRIDE).alias("user_id"),
            "event_type",
            "value",
        )
        for i in range(copies)
    ]
    return functools.reduce(DataFrame.unionByName, parts)


def _max_state_rows(q) -> int:
    """Max total state-store rows across the run's progress events."""
    import json as _json

    mx = 0
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(p.json)
        mx = max(mx, sum(so.get("numRowsTotal", 0) for so in d.get("stateOperators", [])))
    return mx


def _drain(df, qname: str, ckpt: str):
    q = (
        df.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_state_stress(spark, base_sf: str, workdir: str, copies: int) -> list[str]:
    from couchwarehouse_spark.plans.streaming_e2e import _stage_by_event_time

    failures: list[str] = []

    def check(label: str, cond: bool, detail) -> None:
        print(f"  {label}: {'OK' if cond else 'FAIL'} ({detail})", flush=True)
        if not cond:
            failures.append(label)

    base_dir = os.path.join(workdir, "sstate")
    shutil.rmtree(base_dir, ignore_errors=True)
    stats: dict[tuple[str, int], tuple[int, int]] = {}

    for c in (1, copies):
        ev = _scaled_events(spark, base_sf, c)

        # --- watermarked dedup: every event id arrives twice --------
        dup = ev.select("ts", "event_id").unionByName(ev.select("ts", "event_id"))
        n_in = dup.count()
        stage = os.path.join(base_dir, f"dedup_in_{c}x")
        _stage_by_event_time(dup, stage, SS_FILES_PER_COPY * c)
        stream = (
            spark.readStream.schema("ts timestamp, event_id long")
            .option("maxFilesPerTrigger", SS_FILES_PER_TRIGGER)
            .parquet(stage)
            .withWatermark("ts", SS_WM)
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = _drain(stream, f"ss_dedup_{c}x", os.path.join(base_dir, f"dedup_ck_{c}x"))
        n_out = spark.table(f"ss_dedup_{c}x").count()
        st = _max_state_rows(q)
        check(
            f"dedup {c}x drops every within-horizon duplicate",
            n_out == n_in // 2,
            f"{n_in} in -> {n_out} out",
        )
        stats[("dedup", c)] = (n_in, st)
        print(f"  dedup {c}x: input {n_in}, max state rows {st}", flush=True)

        # --- stream-stream interval join (view -> purchase, 1h) -----
        vstage = os.path.join(base_dir, f"join_v_{c}x")
        pstage = os.path.join(base_dir, f"join_p_{c}x")
        _stage_by_event_time(
            ev.filter(F.col("event_type") == "view").select("ts", "user_id"),
            vstage, SS_FILES_PER_COPY * c,
        )
        _stage_by_event_time(
            ev.filter(F.col("event_type") == "purchase").select("ts", "user_id"),
            pstage, SS_FILES_PER_COPY * c,
        )
        schema = "ts timestamp, user_id long"
        views = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", SS_FILES_PER_TRIGGER)
            .parquet(vstage)
            .withWatermark("ts", SS_WM)
            .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        )
        purch = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", SS_FILES_PER_TRIGGER)
            .parquet(pstage)
            .withWatermark("ts", SS_WM)
            .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        )
        joined = views.join(
            purch,
            F.expr(
                "v_user = p_user AND purchase_ts > view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
            ),
        )
        q = _drain(joined, f"ss_join_{c}x", os.path.join(base_dir, f"join_ck_{c}x"))
        n_pairs = spark.table(f"ss_join_{c}x").count()
        n_join_in = ev.filter(F.col("event_type").isin("view", "purchase")).count()
        stj = _max_state_rows(q)
        check(f"join {c}x emits matches", n_pairs > 0, f"{n_pairs} pairs")
        stats[("join", c)] = (n_join_in, stj)
        print(
            f"  join {c}x: input {n_join_in}, pairs {n_pairs}, "
            f"max state rows {stj}",
            flush=True,
        )

    for op in ("dedup", "join"):
        (in1, st1), (inX, stX) = stats[(op, 1)], stats[(op, copies)]
        check(
            f"{op}: input grew {inX / in1:.1f}x but max state stayed flat "
            f"({st1} -> {stX})",
            inX == in1 * copies and stX <= st1 * SS_STATE_SLACK,
            f"state ratio {stX / max(st1, 1):.2f} (bound {SS_STATE_SLACK})",
        )
        check(
            f"{op}: eviction engaged at {copies}x (state << input)",
            stX * 4 <= inX,
            f"max state {stX} vs input {inX}",
        )
    return failures


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--workdir", default="/tmp/cw_stress_10x")
    ap.add_argument("--skip-dml", action="store_true")
    ap.add_argument("--skip-streaming", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="stress_10x")
    big = os.path.join(args.workdir, f"x{args.copies}")
    print(f"building {args.copies}x corpus under {big} ...", flush=True)
    build_scaled(spark, args.sf, big, args.copies)

    n1 = load_table(spark, args.sf, "embeddings").count()
    nX = n1 * args.copies
    p1, pX = derive_planes(n1), derive_planes(nX)
    print(f"derive_planes: {n1} rows -> {p1} planes; {nX} rows -> {pX} planes")
    assert pX > p1, "derived LSH planes must step up with corpus size"
    # Pair-work model for the bucketed graph op: N * min(N, bucket).
    bucket1 = min(n1, max(1, n1 // (1 << p1)))
    bucketX = min(nX, max(1, nX // (1 << pX)))
    model_ratio = (nX * bucketX) / (n1 * bucket1)

    failures = []
    results = []
    for name in LINEAR_OPS + BUCKET_OPS:
        t1, r1 = time_op(spark, name, args.sf)
        tX, rX = time_op(spark, name, big)
        bound = (model_ratio if name in BUCKET_OPS else args.copies) * SLACK
        ratio = tX / max(t1, 1e-9)
        ok = ratio <= bound
        results.append((name, t1, tX, ratio, bound, r1, rX, ok))
        print(
            f"{name}: 1x {t1:.1f}s ({r1} rows) -> {args.copies}x {tX:.1f}s "
            f"({rX} rows); ratio {ratio:.1f} (bound {bound:.1f}) "
            f"{'OK' if ok else 'FAIL'}",
            flush=True,
        )
        if not ok:
            failures.append(name)

    if not args.skip_dml:
        print("--- warehouse DML/maintenance verbs ---", flush=True)
        failures += dml_stress(spark, args.sf, args.workdir, args.copies)

    if not args.skip_streaming:
        print("--- streaming state-store growth ---", flush=True)
        failures += streaming_state_stress(spark, args.sf, args.workdir, args.copies)

    shutil.rmtree(args.workdir, ignore_errors=True)
    if failures:
        sys.exit(f"super-linear scaling: {failures}")
    print("all operators scale within the model bound")


if __name__ == "__main__":
    main()
