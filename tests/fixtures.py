"""Synthetic changes-feed fixtures shaped like the reference's test
data (FIXTURES.md §A-§D; reference test/samplechanges*.txt) —
generated, not copied: deterministic person/order/product/user docs
with the same field shapes and counts the reference's E2E suite uses.
"""

from __future__ import annotations

import json
import random


def person_doc(i: int, rng: random.Random) -> dict:
    return {
        "_id": f"person{i:04d}",
        "_rev": f"1-{rng.getrandbits(64):016x}",
        "name": f"Person {i}",
        "age": 20 + (i % 60),
        "verified": i % 3 == 0,
        "description": " ".join(f"w{rng.randrange(1000)}" for _ in range(10)),
        "address": {
            "street": f"{i} Example Road, Town {i % 7}",
            "location": {
                "long": round(-180 + rng.random() * 360, 4),
                "lat": round(-90 + rng.random() * 180, 4),
            },
        },
        "tags": [f"t{rng.randrange(50)}" for _ in range(3)],
    }


def order_doc(i: int, rng: random.Random, extra: dict | None = None, drop: set | None = None) -> dict:
    doc = {
        "_id": f"order{i:05d}",
        "_rev": f"1-{rng.getrandbits(64):016x}",
        "type": "order",
        "customerId": f"user:{i % 10}",
        "customerEmail": f"u{i % 10}@example.com",
        "saleDate": f"2018-07-{(i % 28) + 1:02d}",
        "saleTime": f"{i % 24:02d}:22:38",
        "paymentRef": f"PAY{i:06d}",
        "currency": ["GBP", "USD", "EUR"][i % 3],
        "status": ["paid", "dispatched", "returned"][i % 3],
        "basket": [
            {"productId": f"A{(i + j) % 20}", "productName": f"prod{(i + j) % 20}",
             "productVariant": "std"}
            for j in range(1 + i % 3)
        ],
        "total": round(10 + rng.random() * 500, 4),
        "dispatched": i % 2 == 0,
        "dispatchAddress": {
            "street": f"{i} Delivery St",
            "town": f"Town{i % 5}",
            "zip": f"Z{i % 100:03d}",
        },
        "dispatchCourierRef": f"COUR{i:05d}",
    }
    if drop:
        for k in drop:
            doc.pop(k, None)
    if extra:
        doc.update(extra)
    return doc


def user_doc(i: int, rng: random.Random) -> dict:
    return {
        "_id": f"user:{i}",
        "_rev": f"1-{rng.getrandbits(64):016x}",
        "type": "user",
        "name": f"User {i}",
        "email": f"u{i}@example.com",
        "date": f"2017-0{(i % 9) + 1}-15",
        "address": {"street": f"{i} Home St", "town": f"Town{i % 5}", "postcode": f"P{i:04d}"},
    }


def product_doc(i: int, rng: random.Random) -> dict:
    return {
        "_id": f"A{i}",
        "_rev": f"1-{rng.getrandbits(64):016x}",
        "type": "product",
        "name": f"prod{i}",
        "description": f"product number {i}",
        "url": f"https://example.com/p/{i}",
        "supplier": f"Supplier {i % 4}",
        "price": round(1 + i * 1.5, 2),
        "vatrate": 20.0,
    }


def envelope(seq: int, doc: dict | None, doc_id: str | None = None, deleted: bool = False) -> dict:
    env = {
        "seq": f"{seq}-g1AAAA{seq:04d}",
        "id": doc_id or (doc["_id"] if doc else None),
        "changes": [{"rev": doc["_rev"] if doc else f"2-{seq:016x}"}],
    }
    if deleted:
        env["deleted"] = True
    if doc is not None:
        env["doc"] = doc
    return env


def write_feed(path: str, envelopes: list[dict]) -> str:
    with open(path, "w") as f:
        for env in envelopes:
            f.write(json.dumps(env) + "\n")
    return path


def person_feed(path: str, n: int = 100, seed: int = 7) -> str:
    rng = random.Random(seed)
    envs = [envelope(i + 1, person_doc(i, rng)) for i in range(n)]
    return write_feed(path, envs)


def mixed_feed(path: str, seed: int = 11) -> str:
    """230 changes: 200 order / 20 product / 10 user (FIXTURES.md §B)."""
    rng = random.Random(seed)
    docs = (
        [order_doc(i, rng) for i in range(200)]
        + [product_doc(i, rng) for i in range(20)]
        + [user_doc(i, rng) for i in range(10)]
    )
    rng.shuffle(docs)
    envs = [envelope(i + 1, d) for i, d in enumerate(docs)]
    return write_feed(path, envs)


def evolve_feed(path: str, seed: int = 13) -> str:
    """30 orders: 10 baseline, 10 +newfield, 10 −dispatchCourierRef
    (FIXTURES.md §C; reference test/run_evolve.js:53-69)."""
    rng = random.Random(seed)
    docs = (
        [order_doc(i, rng) for i in range(10)]
        + [order_doc(10 + i, rng, extra={"newfield": f"nf{i}"}) for i in range(10)]
        + [order_doc(20 + i, rng, drop={"dispatchCourierRef"}) for i in range(10)]
    )
    envs = [envelope(i + 1, d) for i, d in enumerate(docs)]
    return write_feed(path, envs)


def jobs_run_by(spark, group: str, fn):
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
