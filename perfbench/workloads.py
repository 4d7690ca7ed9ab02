"""The two workloads, each run once per process, closed loop, one client.

A workload is set up (JVM start, input generation, preloads, warm-up),
measured, then checked. It returns a ``Result``: the end-to-end
metrics, the wall-clock figures, the operations attempted and failed,
and what the traced run needs for the per-layer metrics.

Sizes are fixed here, not by flags, so every run of every commit does
the same work; ``--seconds`` only sets the number of registry passes.
See README.md for why each size was chosen.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen

SYNC_PRELOAD = 3_000  # orders docs spooled cold before the stream
SYNC_PAGES = 3
SYNC_PAGE_SIZE = 1_000
QUERY_SF = 0.01  # scale factor of the registry tables
QUERY_ORDERS_DOCS = 1_000  # docs in the warehouse the lookups read
LOOKUPS = 8  # distinct ids per lookup round
LOOKUP_WARM = 6  # untimed lookups before the measured rounds
LOOKUP_ROUNDS = 3  # measured passes over the lookup ids
SETUP_REPEATS = 3
PASS_S = 1.6  # seconds of --seconds per measured pass over ENTRIES (sets the pass count)
WARM_PASSES = 2  # untimed noop passes over ENTRIES before the measured ones
READ_REPEATS = 2  # timed read-backs of the synced table
ENGINE_WARM_ROWS = 6_000_000  # rows of each engine warm-up job (Bench.warm_engine)
ENGINE_WARM_RUNS = 2

# One entry per registry family (two for text search), so a pass fits
# the run: relational, window, dedup, vector, text, event-time and
# inverted-index.
ENTRIES = (
    "pricing_summary",
    "latest_event_per_user",
    "exact_dedup",
    "knn_cosine_topk",
    "token_frequency",
    "bm25_relevance",
    "tumbling_window_counts",
    "inverted_index_postings",
)

# Measured with tracing off and bounded in BENCHMARK.json. Apart from
# set-up, the costs are CPU time, not wall time: see README.md.
END_TO_END = {
    "setup_s": "s",
    "work_cpu_s": "s",
    "lookup_cpu_ms": "ms",
    "disk_mb": "MB",
}
# Wall-clock figures of the same runs: printed, and reported by the
# traced run, but too much at the mercy of the host to bound.
WALL = {
    "docs_per_s": "1/s",
    "batch_p50_ms": "ms",
    "batch_p80_ms": "ms",
    "query_total_s": "s",
    "lookup_p50_ms": "ms",
    "lookup_p90_ms": "ms",
}
CLK_TCK = os.sysconf("SC_CLK_TCK")
# JVM threads whose CPU time is left out of the CPU metrics: the JIT
# compilers (and their code-cache sweeper) still compile for the whole
# of a short run, and how much they get done varies from run to run.
# ``/proc`` shows thread names cut to 15 characters.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


@dataclass
class Result:
    metrics: dict[str, float] = field(default_factory=dict)
    wall: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a wrong one is a failure, not an abort."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total / 1e6


class Bench:
    """One workload run: the session, its work dir and the tracer."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.setup_parts: dict[str, float] = {}
        self.work_cpu_ms = 0.0
        self.tracer = None
        self.spark = None
        self.jvm_pid = None
        self.event_dir = os.path.join(work, "eventlog")

    # -- session ----------------------------------------------------------

    def start(self) -> None:
        t0 = time.perf_counter()
        from couchwarehouse_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.setup_parts["jvm_s"] = time.perf_counter() - t0
        self.once("engine_warm_s", self.warm_engine)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    def repeat_setup(self, name: str, fn):
        """Run a deterministic set-up step SETUP_REPEATS times and keep
        the median time; returns the last result."""
        times, out = [], None
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
        self.setup_parts[name] = statistics.median(times)
        return out

    def once(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts[name] = time.perf_counter() - t0
        return out

    def cpu_ms(self) -> float:
        """CPU milliseconds the JVM, less its JIT compiler threads, and
        this process have used so far."""
        py_ms = time.process_time() * 1000
        jvm = _ticks(f"/proc/{self.jvm_pid}/stat")[1]
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            try:
                name, ticks = _ticks(f"/proc/{self.jvm_pid}/task/{tid}/stat")
            except FileNotFoundError:  # the thread ended meanwhile
                continue
            if name in JIT_THREADS:
                jvm -= ticks
        return jvm * 1000 / CLK_TCK + py_ms

    @contextmanager
    def metered(self):
        """Add the CPU time both processes spend in the block to
        ``work_cpu_ms``. Unlike wall time it does not grow while the host
        runs someone else on the cores."""
        c0 = self.cpu_ms()
        try:
            yield
        finally:
            self.work_cpu_ms += self.cpu_ms() - c0

    def warm_engine(self) -> None:
        """Run a fixed map-only Spark job that uses no code of the
        package, so that Spark's own start-up (class loading, the code
        generator, the task scheduler) is set-up, not charged to the
        first measured phase."""
        for _ in range(ENGINE_WARM_RUNS):
            self.spark.range(0, ENGINE_WARM_ROWS, 1, 4).selectExpr("hash(id, cast(id as string)) AS h").write.format(
                "noop"
            ).mode("overwrite").save()

    def setup_s(self) -> float:
        return sum(self.setup_parts.values())

    def begin_measure(self) -> None:
        if self.trace:
            from perfbench.tracing import Tracer, install_package_spans

            self.tracer = Tracer(self.spark)
            install_package_spans(self.tracer)

    def end_measure(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return _NULL_SPAN
        return self.tracer.span(name, **attrs)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _ticks(stat_path: str) -> tuple[str, int]:
    """A process's or thread's name and its user + system clock ticks."""
    with open(stat_path) as f:
        raw = f.read()
    name, rest = raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 1 :].split()
    return name, int(rest[11]) + int(rest[12])


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


# --------------------------------------------------------------------------
# Shared measurement pieces
# --------------------------------------------------------------------------


def settle(spark) -> None:
    """Start a measured phase from a collected heap on both sides of the
    gateway, so garbage left by set-up is not charged to it."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def median_time(b: Bench, fn):
    """Median wall seconds of ``READ_REPEATS`` calls of ``fn`` after one
    untimed call, and the last result."""
    out = fn()
    settle(b.spark)
    times = []
    with b.metered():
        for _ in range(READ_REPEATS):
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def timed_lookups(b: Bench, wh, ids: list[str], expected, res: Result):
    """``LOOKUP_ROUNDS`` rounds of sequential ``Warehouse.lookup(id).collect()``
    over ``ids``, after ``LOOKUP_WARM`` untimed ones; every row is checked
    against ``expected(id)`` outside the timed region. Returns each
    lookup's wall and CPU milliseconds."""
    def one(doc_id):
        df = wh.lookup(doc_id)
        with b.span("warehouse.lookup_exec"):
            return df.collect()

    for i in range(LOOKUP_WARM):
        one(ids[i % len(ids)])
    settle(b.spark)
    lat, cpu, rows = [], [], []
    for _ in range(LOOKUP_ROUNDS):
        for doc_id in ids:
            c0 = b.cpu_ms()
            t0 = time.perf_counter()
            got = one(doc_id)
            lat.append((time.perf_counter() - t0) * 1000)
            cpu.append(b.cpu_ms() - c0)
            rows.append((doc_id, got))
    for doc_id, got in rows:
        want = expected(doc_id)
        res.check(len(got) == 1 and want == got[0].asDict(), f"lookup {doc_id}: {got} != {want}")
    return lat, cpu


class BatchListener:
    """Per-micro-batch ``durationMs`` from a StreamingQueryListener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        self.done = threading.Event()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.batches.append({"rows": p.numInputRows, **p.durationMs})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.done.set()

        self.listener = _L()

    def data_batches(self) -> list[dict]:
        return [x for x in self.batches if x["rows"] > 0]


# --------------------------------------------------------------------------
# incremental_sync
# --------------------------------------------------------------------------


def incremental_sync(b: Bench) -> Result:
    from couchwarehouse_spark.operators.upsert import CheckpointStore
    from couchwarehouse_spark.streaming.ingest import monitor_warehouse
    from couchwarehouse_spark.warehouse import Warehouse

    res = Result()

    def make():
        pre = gen.orders_feed(b.seed, SYNC_PRELOAD)
        return pre, gen.sync_pages(b.seed, pre, SYNC_PAGES, SYNC_PAGE_SIZE)

    pre, pages = b.repeat_setup("generate_s", make)
    pre_path, feed_dir, wh_dir = b.path("preload.jsonl"), b.path("feed"), b.path("wh")

    def write():
        gen.write_lines(pre_path, pre.lines)
        gen.stage_pages(pages.pages, b.path("stage"), feed_dir)

    b.once("write_s", write)
    b.start()

    # Measured: a cold spool of the whole feed so far (one large batch,
    # with schema inference), then the stream drains the pages one
    # micro-batch each, the way an initial load is followed by sync.
    listener = BatchListener()
    b.spark.streams.addListener(listener.listener)
    b.begin_measure()
    settle(b.spark)
    with b.metered():
        t0 = time.perf_counter()
        wh = Warehouse(b.spark, wh_dir, "orders")
        last = wh.spool(pre_path)
        t1 = time.perf_counter()
        with b.span("streaming.ingest.monitor_warehouse"):
            q = monitor_warehouse(
                wh, feed_dir, b.path("ckpt"), available_now=True, max_files_per_trigger=1
            )
            q.awaitTermination()
        t2 = time.perf_counter()
    listener.done.wait(30)
    b.spark.streams.removeListener(listener.listener)
    res.check(last == f"{pre.last_seq}-g", f"spool returned seq {last}")
    res.check(q.exception() is None, f"stream failed: {q.exception()}")
    batches = listener.data_batches()
    res.check(len(batches) == SYNC_PAGES, f"{len(batches)} data batches, want {SYNC_PAGES}")
    trig = [x["triggerExecution"] for x in batches] or [(t2 - t1) * 1000]
    print(f"# spool_ms {(t1 - t0) * 1000:.0f}")
    print("# batch_ms " + " ".join(f"{x:.0f}" for x in trig))

    query_s, rows = median_time(b, lambda: wh.table().collect())
    got = {r["id"]: r for r in (x.asDict() for x in rows)}
    want = pages.expected
    res.check(len(got) == len(want), f"table rows {len(got)} != {len(want)}")
    bad = [i for i, row in want.items() if got.get(i) != _order_row(row, i)]
    res.check(not bad, f"{len(bad)} rows differ from the expected state, e.g. {bad[:3]}")
    seq = CheckpointStore(b.spark, os.path.join(wh_dir, "_checkpoints")).read("orders")
    res.check(seq == pages.last_seq, f"checkpoint seq {seq} != {pages.last_seq}")

    ids = gen.lookup_ids(b.seed, list(want), LOOKUPS)
    lat, lookup_cpu = timed_lookups(b, wh, ids, lambda i: _order_row(want[i], i), res)
    b.end_measure()

    changes = len(pre.lines) + pages.n_changes
    res.metrics = {"lookup_cpu_ms": statistics.median(lookup_cpu), "disk_mb": dir_mb(wh_dir)}
    res.wall = {
        "docs_per_s": changes / (t2 - t0),
        "batch_p50_ms": pct(trig, 50),
        "batch_p80_ms": pct(trig, 80),
        "query_total_s": query_s,
        "lookup_p50_ms": pct(lat, 50),
        "lookup_p90_ms": pct(lat, 90),
    }
    res.layers["changes"] = changes
    res.layers["listener"] = batches
    return res


def _preloaded(b: Bench, wh_dir: str, feed_path: str):
    from couchwarehouse_spark.warehouse import Warehouse

    wh = Warehouse(b.spark, wh_dir, "orders")
    wh.spool(feed_path)
    return wh


def _order_row(row: tuple, doc_id: str | None = None) -> dict:
    """The flattened warehouse row for one expected orders doc; numbers
    are frozen as doubles (the reference's single ``number`` type)."""
    rev, status, total, priority, date, cust, nation, lines = row
    out = {
        "rev": rev,
        "status": status,
        "total": float(total),
        "priority": priority,
        "date": date,
        "customer_id": float(cust),
        "customer_nation": float(nation),
        "lines": float(lines),
    }
    return out if doc_id is None else {"id": doc_id, **out}


# --------------------------------------------------------------------------
# warehouse_queries
# --------------------------------------------------------------------------


def warehouse_queries(b: Bench) -> Result:
    import couchwarehouse_spark.plans.all  # noqa: F401  (populate the registry)
    from couchwarehouse_spark.plans import ORACLES, QUERIES

    res = Result()
    sf_dir = b.path("sf")
    tables = b.repeat_setup("generate_s", lambda: gen.make_tables(b.seed, QUERY_SF))
    orders = gen.orders_feed(b.seed, QUERY_ORDERS_DOCS)
    b.once("write_s", lambda: (gen.write_tables(tables, sf_dir), gen.write_lines(b.path("orders.jsonl"), orders.lines)))
    # The oracles read only the generated parquet: compute them while
    # the JVM starts and warms, and finish before anything is measured.
    oracle = OracleRunner(sf_dir, {n: ORACLES[n] for n in ENTRIES})
    oracle.start()
    b.start()

    def collect_all():
        # One untimed pass that collects every entry's rows for the
        # oracle check, and WARM_PASSES as measured: they leave each
        # table resolved in the catalog's scan memo and warm the JIT on
        # every entry's shapes. The first measured pass is still the
        # dearest; the per-entry median over the passes leaves it out.
        out = {}
        for name in ENTRIES:
            out[name] = QUERIES[name](b.spark, sf_dir).toPandas()
            b.spark.catalog.clearCache()
        for _ in range(WARM_PASSES):
            for name in ENTRIES:
                QUERIES[name](b.spark, sf_dir).write.format("noop").mode("overwrite").save()
                b.spark.catalog.clearCache()
        return out

    # The preload runs first: ingest work after the warm-up passes
    # would leave the JIT's profiles in another state than the passes.
    wh = b.once("preload_s", lambda: _preloaded(b, b.path("wh"), b.path("orders.jsonl")))
    results = b.once("warmup_s", collect_all)
    b.once("oracle_wait_s", oracle.join)

    b.begin_measure()
    # Per entry and pass: (build ms, exec ms, CPU ms).
    per_entry: dict[str, list[tuple[float, float, float]]] = {n: [] for n in ENTRIES}
    pass_s = []
    # The pass count depends on the flag only, never on how fast this
    # run happens to be, so every run of a commit measures the same work.
    for _ in range(max(3, round(b.seconds / PASS_S))):
        settle(b.spark)
        total = 0.0
        for name in ENTRIES:
            c0 = b.cpu_ms()
            t0 = time.perf_counter()
            with b.span("plans.build", entry=name):
                df = QUERIES[name](b.spark, sf_dir)
            t1 = time.perf_counter()
            # Materialise every column of every row, as bench.py does.
            with b.span("plans.exec", entry=name):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            b.spark.catalog.clearCache()
            per_entry[name].append(((t1 - t0) * 1000, (t2 - t1) * 1000, b.cpu_ms() - c0))
            total += t2 - t0
        pass_s.append(total)
    # One pass's CPU time, each entry taken at its median over the
    # passes: a garbage collection or a stall of the host that hits one
    # entry in one pass does not move it.
    b.work_cpu_ms = sum(statistics.median(c for _, _, c in per_entry[n]) for n in ENTRIES)
    print("# pass_cpu_s " + " ".join(f"{sum(per_entry[n][i][2] for n in ENTRIES) / 1000:.2f}" for i in range(len(pass_s))))
    print("# entry_cpu_ms " + " ".join(f"{n}={statistics.median(c for _, _, c in per_entry[n]):.0f}" for n in ENTRIES))

    ids = gen.lookup_ids(b.seed, list(orders.state), LOOKUPS)
    lat, lookup_cpu = timed_lookups(b, wh, ids, lambda i: _order_row(orders.state[i], i), res)
    b.end_measure()

    oracle.check(results, res)
    entry_ms = [statistics.median(a + e for a, e, _ in per_entry[n]) for n in ENTRIES]
    print("# entry_ms " + " ".join(f"{n}={ms:.0f}" for n, ms in zip(ENTRIES, entry_ms)))
    res.metrics = {"lookup_cpu_ms": statistics.median(lookup_cpu), "disk_mb": dir_mb(b.path("wh"))}
    res.wall = {
        "docs_per_s": 0.0,
        "batch_p50_ms": pct(entry_ms, 50),
        "batch_p80_ms": pct(entry_ms, 80),
        "query_total_s": statistics.median(pass_s),
        "lookup_p50_ms": pct(lat, 50),
        "lookup_p90_ms": pct(lat, 90),
    }
    res.layers["entries"] = {
        n: {
            "build_ms": statistics.median(a for a, _, _ in per_entry[n]),
            "exec_ms": statistics.median(e for _, e, _ in per_entry[n]),
            "cpu_ms": statistics.median(c for _, _, c in per_entry[n]),
        }
        for n in ENTRIES
    }
    return res


class OracleRunner(threading.Thread):
    """Each entry's DuckDB oracle over the same parquet, on a thread."""

    def __init__(self, sf_dir: str, oracles: dict[str, str]):
        super().__init__(name="perfbench-oracles")
        self.sf_dir, self.oracles = sf_dir, oracles
        self.frames: dict = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        import duckdb

        try:
            # One thread: the oracles overlap the JVM start and the
            # collecting pass, and must not crowd them out.
            con = duckdb.connect(config={"threads": 1})
            try:
                for name in gen.BASE_ROWS.keys() | {"region", "nation", "lineitem"}:
                    path = os.path.join(self.sf_dir, f"{name}.parquet")
                    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
                for name, sql in self.oracles.items():
                    self.frames[name] = con.sql(sql).df()
            finally:
                con.close()
        except Exception as err:  # reported by check(), never lost with the thread
            self.error = err

    def check(self, results: dict, res: Result) -> None:
        from tests.oracle_utils import assert_frames_match

        res.check(self.error is None, f"oracle run failed: {self.error!r}")
        for name, pdf in results.items():
            try:
                assert_frames_match(pdf, self.frames[name], name)
                ok, why = len(pdf) > 0, f"{name}: empty result"
            except (AssertionError, KeyError) as err:
                ok, why = False, f"{name}: {err!s:.300}"
            res.check(ok, why)


WORKLOADS = {
    "incremental_sync": incremental_sync,
    "warehouse_queries": warehouse_queries,
}


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, t_start: float) -> tuple[Result, Bench]:
    b = Bench(work, seed, seconds, trace)
    b.setup_parts["imports_s"] = time.perf_counter() - t_start
    try:
        res = WORKLOADS[workload](b)
        res.metrics["setup_s"] = b.setup_s()
        res.metrics["work_cpu_s"] = b.work_cpu_ms / 1000
    finally:
        if b.spark is not None:
            b.stop()
    return res, b


def dump_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
