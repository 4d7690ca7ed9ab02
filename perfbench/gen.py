"""Seeded input generators for the benchmark.

Everything the program under test sees is made here from ``--seed``:
the TPC-H-shaped query tables, the orders changes feed plus staged
feed pages for ``incremental_sync``, and the point-lookup id lists. The same seed
gives byte-identical outputs; nothing here imports Spark.

Each feed generator also returns the table the program must hold
after applying it, computed directly from the generated rows, so the
benchmark can check outputs without trusting the code it measures.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 1, matching the TPC-H-shaped fixtures the
# registry's oracles were written against (sf0.1 = 600 k lineitem).
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
VOCAB = (
    "a the data table column row value key query scan filter join group agg "
    "sort hash merge window stream batch vector spark order customer part line "
    "fast slow big small"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_LABELS = 10

ORDER_STATUS = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PART_WORDS = np.array(["blue", "hot", "large", "red", "small", "green", "dark", "pale"])
PART_NOUNS = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "chain", "plate"])
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUS = np.array(["F", "O"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose): adding a stream
    never shifts the draws of another."""
    return np.random.default_rng([seed, int.from_bytes(stream.encode()[:8], "little")])


def _days(base: str, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + offsets.astype("timedelta64[D]")


def _iso_date(ts: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(ts.astype("datetime64[D]"))


# --------------------------------------------------------------------------
# Query tables
# --------------------------------------------------------------------------


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry tables at scale factor ``sf``."""
    n = {k: max(int(v * sf), 10) for k, v in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    k = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pa.table(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": r.integers(0, 25, len(k)).astype(np.int32),
            "c_acctbal": np.round(r.integers(-99999, 999999, len(k)) / 100, 2),
            "c_mktsegment": SEGMENTS[r.integers(0, 5, len(k))],
        }
    )

    r = _rng(seed, "supplier")
    k = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": r.integers(0, 25, len(k)).astype(np.int32),
            "s_acctbal": np.round(r.integers(-99999, 999999, len(k)) / 100, 2),
        }
    )

    r = _rng(seed, "part")
    k = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": k,
            "p_name": np.char.add(
                np.char.add(PART_WORDS[r.integers(0, 8, len(k))], " "),
                PART_NOUNS[r.integers(0, 8, len(k))],
            ),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, len(k)).astype(str)),
            "p_type": PART_TYPES[r.integers(0, 6, len(k))],
            "p_size": r.integers(1, 51, len(k)).astype(np.int32),
            "p_retailprice": np.round(900 + (k % 1000) / 10, 1),
        }
    )

    t["orders"] = pa.table(_orders_columns(seed, n["orders"], n["customer"]))

    t["lineitem"] = pa.table(_lineitem_columns(seed, n["orders"], n["part"], n["supplier"]))

    r = _rng(seed, "events")
    m = n["events"]
    offs = np.sort(r.integers(0, 30 * 86_400_000_000, m))
    t["events"] = pa.table(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": _EPOCH + (np.datetime64("2024-01-01", "us") - _EPOCH) + offs.astype("timedelta64[us]"),
            "user_id": r.integers(0, max(m // 66, 10), m).astype(np.int64),
            "event_type": EVENT_TYPES[r.integers(0, 5, m)],
            "value": np.round(r.exponential(60.0, m), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, m)],
        }
    )

    t["documents"] = _documents(seed, n["documents"])

    r = _rng(seed, "embeddings")
    m = n["embeddings"]
    centroids = r.normal(size=(N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = r.integers(0, N_LABELS, m)
    vec = centroids[label] * 0.6 + r.normal(scale=0.125, size=(m, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return t


def _orders_columns(seed: int, n_orders: int, n_customers: int) -> dict[str, np.ndarray]:
    r = _rng(seed, "orders")
    return {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": r.integers(0, n_customers, n_orders).astype(np.int64),
        "o_orderstatus": ORDER_STATUS[r.integers(0, 3, n_orders)],
        "o_totalprice": np.round(r.integers(100_000, 50_000_000, n_orders) / 100, 2),
        "o_orderdate": _days("1995-01-01", r.integers(0, 2404, n_orders)),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, n_orders)],
    }


def _lineitem_columns(seed: int, n_orders: int, n_part: int, n_supplier: int) -> dict[str, np.ndarray]:
    r = _rng(seed, "lineitem")
    lines_per_order = r.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    lnum = np.arange(len(okey)) - np.repeat(starts, lines_per_order) + 1
    m = len(okey)
    return {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, m).astype(np.int64),
        "l_suppkey": r.integers(0, n_supplier, m).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        # Whole hundreds: every aggregate the oracles round to two
        # decimals is then exact in decimal, so no seed can put a sum
        # on a rounding boundary where the two engines could differ.
        "l_extendedprice": (r.integers(9, 1050, m) * 100).astype(np.float64),
        "l_discount": r.integers(0, 11, m) / 100,
        "l_tax": r.integers(0, 9, m) / 100,
        "l_returnflag": RETURN_FLAGS[r.integers(0, 3, m)],
        "l_linestatus": LINE_STATUS[r.integers(0, 2, m)],
        "l_shipdate": _days("1995-01-02", r.integers(0, 2498, m)),
    }


def _documents(seed: int, m: int) -> pa.Table:
    """Closed-vocabulary texts with planted exact and near duplicates
    (a near duplicate is an earlier text with ``dup`` spliced in), so
    the dedup entries find real candidates."""
    r = _rng(seed, "documents")
    lengths = r.integers(10, 101, m)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(m)]
    for i in r.choice(np.arange(m // 2, m), size=max(m // 40, 2), replace=False):
        src = texts[int(r.integers(0, m // 2))].split(" ")
        for _ in range(2):
            src.insert(int(r.integers(0, len(src) + 1)), "dup")
        texts[i] = " ".join(src)
    for i in r.choice(np.arange(m // 2, m), size=max(m // 600, 1), replace=False):
        texts[i] = texts[int(r.integers(0, m // 2))]
    return pa.table(
        {
            "doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": LANGS[r.choice(5, size=m, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# Changes feeds
# --------------------------------------------------------------------------


def _envelope(seq: int, doc_id: str, doc: str | None, deleted: bool = False) -> str:
    if deleted:
        return f'{{"seq":"{seq}-g","id":"{doc_id}","changes":[{{"rev":"9-d"}}],"deleted":true}}'
    return f'{{"seq":"{seq}-g","id":"{doc_id}","changes":[{{"rev":"1-r"}}],"doc":{doc}}}'


def _order_doc(doc_id: str, rev: str, o: dict, i: int) -> str:
    return (
        f'{{"_id":"{doc_id}","_rev":"{rev}","status":"{o["status"][i]}",'
        f'"total":{o["total"][i]!r},"priority":"{o["priority"][i]}",'
        f'"date":"{o["date"][i]}","customer":{{"id":{o["cust"][i]},'
        f'"nation":{o["nation"][i]}}},"lines":{o["lines"][i]}}}'
    )


def _order_values(r: np.random.Generator, n: int) -> dict[str, list]:
    return {
        "status": ORDER_STATUS[r.integers(0, 3, n)].tolist(),
        "total": np.round(r.integers(100_000, 50_000_000, n) / 100, 2).tolist(),
        "priority": PRIORITIES[r.integers(0, 5, n)].tolist(),
        "date": _iso_date(_days("1995-01-01", r.integers(0, 2404, n))).tolist(),
        "cust": r.integers(0, 15_000, n).tolist(),
        "nation": r.integers(0, 25, n).tolist(),
        "lines": r.integers(1, 8, n).tolist(),
    }


ORDER_FIELDS = ("rev", "status", "total", "priority", "date", "customer_id", "customer_nation", "lines")


@dataclass
class OrdersFeed:
    """The orders preload feed and the state it produces: id → the
    flattened row the warehouse must hold (``ORDER_FIELDS`` order)."""

    lines: list[str]
    state: dict[str, tuple]
    last_seq: int


def orders_feed(seed: int, n_orders: int) -> OrdersFeed:
    r = _rng(seed, "orders_docs")
    o = _order_values(r, n_orders)
    lines, state = [], {}
    for i in range(n_orders):
        doc_id = f"o{i:07d}"
        lines.append(_envelope(i + 1, doc_id, _order_doc(doc_id, "1-r", o, i)))
        state[doc_id] = ("1-r",) + tuple(o[k][i] for k in ("status", "total", "priority", "date", "cust", "nation", "lines"))
    return OrdersFeed(lines, state, n_orders)


@dataclass
class SyncPages:
    """Staged feed pages for ``incremental_sync`` and the table the
    warehouse must hold after draining them."""

    pages: list[list[str]]
    expected: dict[str, tuple]
    last_seq: str
    n_updates: int
    n_inserts: int
    n_deletes: int

    @property
    def n_changes(self) -> int:
        return sum(len(p) for p in self.pages)


def sync_pages(
    seed: int,
    preload: OrdersFeed,
    n_pages: int,
    page_size: int,
    zipf_a: float = 0.8,
    mix: tuple[float, float, float] = (0.7, 0.2, 0.1),
) -> SyncPages:
    """Seq-ordered pages continuing ``preload``'s feed: ``mix`` =
    (updates over existing ids, new inserts, tombstones). Update and
    delete targets are Zipf-ranked over a seed-shuffled id order, so
    hot ids recur across pages while a page still touches hundreds of
    distinct ids; an update to a deleted id recreates it."""
    r = _rng(seed, "sync")
    ids = sorted(preload.state)
    hot = r.permutation(len(ids))
    state = dict(preload.state)
    n = n_pages * page_size
    kinds = r.choice(3, size=n, p=list(mix))
    ranks = zipf_ranks(r, len(ids), n, zipf_a)
    vals = _order_values(r, n)
    next_new = len(ids)
    seq = preload.last_seq
    pages: list[list[str]] = []
    counts = [0, 0, 0]
    for p in range(n_pages):
        page = []
        for j in range(p * page_size, (p + 1) * page_size):
            seq += 1
            kind = int(kinds[j])
            counts[kind] += 1
            if kind == 1:
                doc_id = f"o{next_new:07d}"
                next_new += 1
            else:
                doc_id = ids[hot[ranks[j]]]
            if kind == 2:
                state.pop(doc_id, None)
                page.append(_envelope(seq, doc_id, None, deleted=True))
                continue
            rev = f"{seq}-u"
            page.append(_envelope(seq, doc_id, _order_doc(doc_id, rev, vals, j)))
            state[doc_id] = (rev,) + tuple(
                vals[k][j] for k in ("status", "total", "priority", "date", "cust", "nation", "lines")
            )
        pages.append(page)
    return SyncPages(pages, state, f"{seq}-g", counts[0], counts[1], counts[2])


def zipf_ranks(r: np.random.Generator, n_ids: int, size: int, a: float) -> np.ndarray:
    """``size`` ranks in ``[0, n_ids)`` drawn with P(rank k) ∝ (k+1)^-a:
    a Zipf law truncated to the ids that exist, so no rank is piled up
    by clipping an unbounded draw."""
    p = 1.0 / np.arange(1, n_ids + 1, dtype=float) ** a
    return r.choice(n_ids, size=size, p=p / p.sum())


def lookup_ids(seed: int, candidates: list[str], n: int) -> list[str]:
    """``n`` ids drawn with replacement from ``candidates`` (sorted
    first, so the draw depends only on the set and the seed)."""
    r = _rng(seed, "lookups")
    pool = sorted(candidates)
    return [pool[i] for i in r.integers(0, len(pool), n)]


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def stage_pages(pages: list[list[str]], stage_dir: str, feed_dir: str) -> None:
    """Write each page under ``stage_dir`` and move it into the landing
    dir with strictly increasing mtimes: the file stream source orders
    by modification time, and a real changes tail lands pages in seq
    order."""
    os.makedirs(stage_dir, exist_ok=True)
    os.makedirs(feed_dir, exist_ok=True)
    base = 1_600_000_000
    for p, page in enumerate(pages):
        name = f"page-{p:05d}.json"
        tmp = os.path.join(stage_dir, name)
        write_lines(tmp, page)
        os.utime(tmp, (base + p, base + p))
        os.rename(tmp, os.path.join(feed_dir, name))


def feed_digest(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()
