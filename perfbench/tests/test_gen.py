"""Generator determinism: a seed fixes every input byte, and another
seed moves every seed-chosen draw."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402


def test_orders_feed_is_byte_identical_per_seed():
    a, b, c = gen.orders_feed(7, 3_000), gen.orders_feed(7, 3_000), gen.orders_feed(8, 3_000)
    assert gen.feed_digest(a.lines) == gen.feed_digest(b.lines)
    assert a.state == b.state
    assert gen.feed_digest(a.lines) != gen.feed_digest(c.lines)


def test_sync_pages_are_deterministic_and_seed_dependent():
    pre = gen.orders_feed(5, 2_000)
    a = gen.sync_pages(5, pre, 4, 250)
    b = gen.sync_pages(5, pre, 4, 250)
    c = gen.sync_pages(6, pre, 4, 250)
    flat = lambda s: [line for page in s.pages for line in page]  # noqa: E731
    assert gen.feed_digest(flat(a)) == gen.feed_digest(flat(b))
    assert a.expected == b.expected
    assert a.n_changes == 1_000 and a.last_seq == f"{pre.last_seq + 1_000}-g"
    # Another seed moves every draw: the change kinds, the Zipf-ranked
    # targets and the tombstoned ids.
    kinds = lambda s: ["deleted" in x for x in flat(s)]  # noqa: E731
    targets = lambda s: [x.split('"id":"')[1].split('"')[0] for x in flat(s)]  # noqa: E731
    assert kinds(a) != kinds(c)
    assert targets(a) != targets(c)
    assert set(pre.state) - set(a.expected) != set(pre.state) - set(c.expected)
    assert (a.n_updates, a.n_inserts, a.n_deletes) != (c.n_updates, c.n_inserts, c.n_deletes)


def test_sync_pages_are_zipf_skewed():
    pre = gen.orders_feed(5, 5_000)
    s = gen.sync_pages(5, pre, 10, 500)
    touched = [line.split('"id":"')[1].split('"')[0] for page in s.pages for line in page]
    existing = [i for i in touched if i in pre.state]
    counts = sorted((existing.count(i) for i in set(existing)), reverse=True)
    # The hottest id recurs far more often than a uniform draw would make it.
    assert counts[0] > 20 * len(existing) / len(pre.state)
    # ...but no single id soaks up the draws, so a page still touches
    # many distinct ids.
    assert counts[0] < 0.06 * len(existing)
    assert len(set(existing)) > 0.3 * len(existing)


def test_zipf_ranks_follow_the_truncated_law():
    import numpy as np

    r = np.random.default_rng(0)
    ranks = gen.zipf_ranks(r, 30_000, 200_000, 0.8)
    assert ranks.min() >= 0 and ranks.max() < 30_000
    counts = np.bincount(ranks, minlength=30_000)
    p = 1.0 / np.arange(1, 30_001) ** 0.8
    p /= p.sum()
    # Rank 0 and the last rank get their own share, not a clipped pile.
    assert abs(counts[0] / len(ranks) - p[0]) < 0.1 * p[0]
    assert counts[-1] < 5
    assert counts[0] / len(ranks) < 0.04


def test_lookup_ids_depend_only_on_seed_and_set():
    pool = [f"o{i:07d}" for i in range(1_000)]
    assert gen.lookup_ids(1, pool, 50) == gen.lookup_ids(1, list(reversed(pool)), 50)
    assert gen.lookup_ids(1, pool, 50) != gen.lookup_ids(2, pool, 50)


def test_tables_are_deterministic():
    a, b, c = gen.make_tables(9, 0.001), gen.make_tables(9, 0.001), gen.make_tables(10, 0.001)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
