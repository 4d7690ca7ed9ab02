"""Live HTTP ``_changes`` tailer against a stdlib fake CouchDB.

Closes the loop on R1/R2's network layer: the fake server implements
the ``_changes`` API surface the reference's ChangesReader drives
(``since``/``limit``/``include_docs`` pagination, ``pending``,
``feed=longpoll``, Mango ``filter=_selector`` via POST), and the
tests drive the real tailer → landing dir → Spark feed reader chain.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from couchwarehouse_spark.operators.document import extract_seq_number
from couchwarehouse_spark.sources.changes import read_changes_feed
from couchwarehouse_spark.sources.http_changes import (
    ChangesHTTPClient,
    monitor_to_dir,
    resume_since,
    spool_to_dir,
)


def _mkchange(i: int, doc_type: str = "order", deleted: bool = False) -> dict:
    env = {
        "seq": f"{i}-seq{i:04d}",
        "id": f"doc{i:04d}",
        "changes": [{"rev": f"1-{i:x}"}],
    }
    if deleted:
        env["deleted"] = True
        env["doc"] = None
    else:
        env["doc"] = {
            "_id": f"doc{i:04d}",
            "type": doc_type,
            "n": i,
        }
    return env


class FakeCouch:
    """In-memory changes feed keyed by integer seq prefix."""

    def __init__(self, changes: list[dict]):
        self.changes = changes
        self.requests: list[dict] = []

    def _matches(self, env: dict, sel: dict) -> bool:
        """Minimal Mango: {"type": v} equality, {"_deleted": true},
        and one $or level — what the tailer actually sends."""
        if "$or" in sel:
            return any(self._matches(env, s) for s in sel["$or"])
        if sel.get("_deleted") is True:
            return bool(env.get("deleted"))
        want = sel.get("type")
        return (env.get("doc") or {}).get("type") == want

    def page(self, since: str, limit: int, selector: dict | None) -> dict:
        if since == "now":  # head probe: no rows, current update seq
            last = self.changes[-1]["seq"] if self.changes else "0"
            return {"results": [], "last_seq": last, "pending": 0}
        start = 0 if since == "0" else int(str(since).split("-", 1)[0])
        rows = [
            c for c in self.changes
            if int(c["seq"].split("-", 1)[0]) > start
        ]
        if selector:
            rows = [r for r in rows if self._matches(r, selector)]
        out = rows[:limit]
        last = out[-1]["seq"] if out else (
            self.changes[-1]["seq"] if self.changes and start else since
        )
        return {
            "results": out,
            "last_seq": last,
            "pending": len(rows) - len(out),
        }


def _serve(fake: FakeCouch) -> tuple[ThreadingHTTPServer, str]:
    class Handler(BaseHTTPRequestHandler):
        def _respond(self):
            parsed = urllib.parse.urlparse(self.path)
            assert parsed.path == "/mydb/_changes"
            q = dict(urllib.parse.parse_qsl(parsed.query))
            selector = None
            if self.command == "POST":
                n = int(self.headers.get("Content-Length", 0))
                body = json.loads(self.rfile.read(n) or b"{}")
                selector = body.get("selector")
                assert q.get("filter") == "_selector"
            fake.requests.append({"params": q, "selector": selector})
            page = fake.page(
                q.get("since", "0"), int(q.get("limit", 100)), selector
            )
            data = json.dumps(page).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        do_GET = _respond
        do_POST = _respond

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


@pytest.fixture()
def fake_couch():
    fake = FakeCouch([_mkchange(i) for i in range(1, 26)]
                     + [_mkchange(26, deleted=True)])
    srv, url = _serve(fake)
    yield fake, url
    srv.shutdown()


def test_spool_paginates_and_lands_immutable_pages(fake_couch, tmp_path):
    fake, url = fake_couch
    landing = str(tmp_path / "feed")
    client = ChangesHTTPClient(url, "mydb", batch_size=10)
    last = spool_to_dir(client, landing)
    assert last == "26-seq0026"
    pages = sorted(os.listdir(landing))
    assert pages == ["page-00000000.jsonl", "page-00000001.jsonl",
                     "page-00000002.jsonl"]  # 10 + 10 + 6
    assert not any(p.startswith(".") for p in pages)  # no torn temp files
    n_lines = sum(
        1 for p in pages for _ in open(os.path.join(landing, p))
    )
    assert n_lines == 26
    # Server saw limit/include_docs pagination from advancing seqs.
    sinces = [r["params"]["since"] for r in fake.requests]
    assert sinces == ["0", "10-seq0010", "20-seq0020"]
    assert all(r["params"]["include_docs"] == "true" for r in fake.requests)


def test_resume_since_and_incremental_spool(fake_couch, tmp_path):
    fake, url = fake_couch
    landing = str(tmp_path / "feed")
    client = ChangesHTTPClient(url, "mydb", batch_size=100)
    spool_to_dir(client, landing)
    assert resume_since(landing) == "26-seq0026"
    # New changes arrive; resume lands ONLY the delta as a new page.
    fake.changes.extend(_mkchange(i) for i in (27, 28))
    last = spool_to_dir(client, landing)
    assert last == "28-seq0028"
    pages = sorted(os.listdir(landing))
    assert len(pages) == 2
    delta = [json.loads(l) for l in open(os.path.join(landing, pages[-1]))]
    assert [d["id"] for d in delta] == ["doc0027", "doc0028"]


def test_selector_forwarded_as_mango_filter(fake_couch, tmp_path):
    fake, url = fake_couch
    fake.changes[2]["doc"]["type"] = "invoice"  # one non-matching doc
    landing = str(tmp_path / "feed")
    client = ChangesHTTPClient(
        url, "mydb", batch_size=100, selector={"type": "order"}
    )
    spool_to_dir(client, landing)
    assert fake.requests[0]["params"]["filter"] == "_selector"
    # The tailer ORs `_deleted` into the pushed selector so deletion
    # tombstones keep flowing to delete propagation.
    assert fake.requests[0]["selector"] == {
        "$or": [{"type": "order"}, {"_deleted": True}]
    }
    lines = [
        json.loads(l)
        for p in sorted(os.listdir(landing))
        for l in open(os.path.join(landing, p))
    ]
    assert all(
        (e.get("doc") or {}).get("type") == "order"
        for e in lines
        if e.get("doc")
    )
    # 25 live docs minus the invoice, PLUS the tombstone.
    assert len(lines) == 25
    assert sum(1 for e in lines if e.get("deleted")) == 1


def test_monitor_longpoll_lands_new_batches(fake_couch, tmp_path):
    fake, url = fake_couch
    landing = str(tmp_path / "feed")
    client = ChangesHTTPClient(url, "mydb", batch_size=100)
    last = spool_to_dir(client, landing)
    stop_after = {"n": 3}

    def should_stop() -> bool:
        stop_after["n"] -= 1
        if stop_after["n"] == 1:  # inject a change mid-monitor
            fake.changes.append(_mkchange(27))
        return stop_after["n"] < 0

    last = monitor_to_dir(client, landing, last, should_stop)
    assert last == "27-seq0027"
    assert any(
        r["params"].get("feed") == "longpoll" for r in fake.requests
    )
    assert resume_since(landing) == "27-seq0027"


def test_landed_pages_feed_the_spark_reader(fake_couch, tmp_path, spark):
    """End-to-end: HTTP spool → landing dir → the SAME
    read_changes_feed every other lane uses."""
    _, url = fake_couch
    landing = str(tmp_path / "feed")
    spool_to_dir(ChangesHTTPClient(url, "mydb", batch_size=7), landing)
    env = read_changes_feed(landing)
    assert env.num_rows == 26
    assert env["deleted"].to_pylist().count(True) == 1
    assert max(extract_seq_number(x) for x in env["seq"].to_pylist()) == 26


def test_cli_url_tails_http_into_warehouse(fake_couch, tmp_path, spark, capsys):
    """The reference's full loop: --url tails the live _changes feed
    into --feed, then the warehouse spools and answers SQL."""
    from couchwarehouse_spark.cli import main

    _, url = fake_couch
    rc = main(
        [
            "--feed", str(tmp_path / "landing"),
            "--database", "mydb",  # the fake serves /mydb/_changes
            "--warehouse-dir", str(tmp_path / "wh"),
            "--url", url,
            "--split", "type",
            "--sql", "SELECT count(*) AS n FROM mydb_order",
            "--quiet",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "25" in out  # 25 live orders (the tombstone never lands a row)


def test_head_seq_probe_and_cli_progress_percent(fake_couch, tmp_path, spark, capsys):
    """head_seq() = the reference's since=now&limit=1 progress-bar
    target (index.js:218-229); the verbose CLI spool reports percent
    toward it per landed batch."""
    from couchwarehouse_spark.cli import main

    fake, url = fake_couch
    client = ChangesHTTPClient(url, "mydb")
    assert client.head_seq() == 26  # newest change in the fixture
    probe = fake.requests[-1]["params"]
    assert probe["since"] == "now" and probe["limit"] == "1"
    rc = main([
        "--feed", str(tmp_path / "landing"),
        "--database", "mydb",
        "--warehouse-dir", str(tmp_path / "wh"),
        "--url", url,
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "feed head at seq 26" in out
    assert "(100%)" in out  # the final landed batch reaches the target


def test_pruned_pages_never_reused_or_clobbered(fake_couch, tmp_path):
    """Page numbering is max+1, not file count: archiving old pages
    must not make the tailer overwrite a still-live page name."""
    fake, url = fake_couch
    landing = str(tmp_path / "feed")
    client = ChangesHTTPClient(url, "mydb", batch_size=10)
    spool_to_dir(client, landing)  # pages 0,1,2
    os.remove(os.path.join(landing, "page-00000000.jsonl"))  # archive oldest
    keep = open(os.path.join(landing, "page-00000002.jsonl")).read()
    fake.changes.extend(_mkchange(i) for i in (27, 28))
    spool_to_dir(client, landing)
    assert sorted(os.listdir(landing)) == [
        "page-00000001.jsonl", "page-00000002.jsonl", "page-00000003.jsonl",
    ]
    assert open(os.path.join(landing, "page-00000002.jsonl")).read() == keep


def test_library_start_monitor_tails_http_and_stop_ends_it(
    fake_couch, tmp_path, spark
):
    """Full reference loop through the library API: start(url=...,
    monitor=True) spools over HTTP, keeps longpolling AND streaming;
    a change injected later lands in the warehouse; stop() ends both
    loops."""
    import time

    import couchwarehouse_spark as cw

    fake, url = fake_couch
    wh = cw.start(
        "mydb", str(tmp_path / "landing"),
        url=url,
        warehouse_dir=str(tmp_path / "wh"),
        monitor=True, verbose=False, spark=spark,
    )
    try:
        # Wait for the initial 25 live docs to merge.
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if wh.table().count() == 25:
                    break
            except Exception:
                pass
            time.sleep(1)
        assert wh.table().count() == 25
        # Inject a change server-side; the longpoll tailer must land it
        # and the stream must merge it.
        fake.changes.append(_mkchange(27))
        deadline = time.time() + 90
        while time.time() < deadline and wh.table().count() != 26:
            time.sleep(1)
        assert wh.table().count() == 26
    finally:
        cw.stop()
    assert cw._ACTIVE_WH is None
    assert wh._active_query is None and wh._tailer_stop is None
