"""HTTP endpoint smoke (VERDICT r4 item #2): the actix-analog surface.

The contract: a client on ONE port sees `POST /search` answers; a new
generation lands; the SAME port serves the refreshed index (blue/green
swap under the running endpoint, refresh driven by the server's poll
thread). Plus the reference's request hygiene: 4 KiB cap, 400 on bad
requests (main.rs:253, model.rs:189).
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request
from http.client import HTTPConnection

import pytest
from pyspark.sql import functions as F

from cantine_spark.corpus import generate_corpus
from cantine_spark.httpserve import SearchHTTPServer
from cantine_spark.serve import IndexServer
from cantine_spark.streaming import StreamingIndexer

N = 80


def _post(url: str, payload, raw: bytes | None = None):
    data = raw if raw is not None else json.dumps(payload).encode()
    req = urllib.request.Request(url + "/search", data=data,
                                 headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.status, json.load(r)


def _post_with_length(url: str, length: str) -> int:
    """POST /search with a hand-set Content-Length header; returns the
    response status."""
    host, port = url.removeprefix("http://").split(":")
    conn = HTTPConnection(host, int(port), timeout=10)
    try:
        conn.putrequest("POST", "/search")
        conn.putheader("Content-Length", length)
        conn.endheaders()
        return conn.getresponse().status
    finally:
        conn.close()


def _get(url: str, path: str):
    with urllib.request.urlopen(url + path, timeout=120) as r:
        return r.status, json.load(r)


@pytest.fixture(scope="module")
def http_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("http")
    src = str(root / "incoming")
    os.makedirs(src)
    corpus = generate_corpus(spark, N, partitions=2)
    halves = [corpus.filter(F.crc32(F.concat("repo", "path")) % 2 == i)
              for i in range(2)]
    indexer = StreamingIndexer(spark, str(root / "index"))
    halves[0].coalesce(1).write.mode("append").parquet(src)
    assert indexer.ingest_available(src, str(root / "ckpt")) == 1
    server = IndexServer(spark, str(root / "index"))
    http = SearchHTTPServer(server, port=0, poll_seconds=0.2).start()
    yield http, indexer, halves, src, str(root / "ckpt")
    http.stop()


def test_search_info_health(http_env):
    http, *_ = http_env
    assert _get(http.url, "/healthz")[0] == 200
    code, body = _post(http.url, {"fulltext": "def", "num_items": 5})
    assert code == 200
    assert body["total_found"] > 0 and len(body["items"]) == 5
    assert {"doc_id", "uuid", "repo", "path", "score"} <= set(body["items"][0])
    # pagination through the wire: page 2 disjoint from page 1
    code, page2 = _post(http.url, {"fulltext": "def", "num_items": 5,
                                   "after": body["next"]})
    assert code == 200
    assert {i["doc_id"] for i in page2["items"]}.isdisjoint(
        {i["doc_id"] for i in body["items"]})
    code, info = _get(http.url, "/info")
    assert code == 200 and info["n_docs"] > 0 and "num_lines" in info["features"]


def test_request_hygiene(http_env):
    http, *_ = http_env
    # unknown field → 400 (serde deny_unknown_fields analog)
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(http.url, {"fulltextt": "def"})
    assert e.value.code == 400
    # bad JSON → 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(http.url, None, raw=b"{not json")
    assert e.value.code == 400
    # a JSON body that is not an object → 400
    for body in (5, [1, 2], "def", None):
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(http.url, body)
        assert e.value.code == 400
    # body over the 4 KiB reference cap → 413
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(http.url, {"fulltext": "x" * 5000})
    assert e.value.code == 413
    # negative or non-integer Content-Length → 400, answered at once
    # (reading a -1 length would block until the client closes)
    for length in ("-1", "abc", "1.5", ""):
        assert _post_with_length(http.url, length) == 400
    # unknown route → 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(http.url, "/nope")
    assert e.value.code == 404


def test_concurrent_clients(http_env):
    import threading
    http, *_ = http_env
    errors, results = [], []

    def client():
        try:
            code, body = _post(http.url, {"fulltext": "def return",
                                          "num_items": 3})
            results.append((code, body["total_found"]))
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=client) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len({r for r in results}) == 1  # identical answers, all 200


def test_microbatching_coalesces_and_isolates_errors(http_env, monkeypatch):
    """Concurrent requests inside the batch window must share ONE
    engine.search_batch call (the serving-throughput point of
    QueryBatcher), and a bad request in the same window must fail alone
    with 400 while its batchmates answer 200."""
    import threading

    from cantine_spark.api import SearchEngine
    http, *_ = http_env
    batch_sizes: list[int] = []
    orig = SearchEngine.search_batch

    def counting(self, qs):
        batch_sizes.append(len(qs))
        return orig(self, qs)

    monkeypatch.setattr(SearchEngine, "search_batch", counting)
    http._batcher.window_ms = 300  # hold the door for the test's threads
    try:
        oks, bad_codes, errors = [], [], []

        def good():
            try:
                code, body = _post(http.url, {"fulltext": "def",
                                              "num_items": 3})
                oks.append((code, body["total_found"],
                            tuple(i["doc_id"] for i in body["items"])))
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))

        def bad():
            try:
                _post(http.url, {"bogus_field": 1})
                errors.append("bad request did not fail")
            except urllib.error.HTTPError as e:
                bad_codes.append(e.code)

        threads = ([threading.Thread(target=good) for _ in range(5)]
                   + [threading.Thread(target=bad)])
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        assert bad_codes == [400]
        assert len(oks) == 5 and len(set(oks)) == 1  # identical answers
        assert batch_sizes and max(batch_sizes) >= 2  # actually coalesced
    finally:
        http._batcher.window_ms = 5


def test_batches_overlap_up_to_max_concurrent():
    """Batches dispatch on a pool: with slots free, two windows' batches
    must run CONCURRENTLY (FAIR overlaps the jobs); serialized dispatch
    was measured 2× slower than unbatched at 8 clients (BENCH.md r5)."""
    import threading
    import types

    from cantine_spark.httpserve import QueryBatcher

    active, seen_overlap = [], []
    lock = threading.Lock()
    gate = threading.Event()

    class FakeEngine:
        features = {}

        def search(self, q):
            return self.search_batch([q])[0]

        def search_batch(self, qs):
            with lock:
                active.append(1)
                if len(active) >= 2:
                    seen_overlap.append(True)
                    gate.set()
            gate.wait(timeout=5)  # hold until a second batch is in flight
            with lock:
                active.pop()
            return [types.SimpleNamespace(items=[], total_found=0,
                                          next=None, agg=None)] * len(qs)

    b = QueryBatcher(types.SimpleNamespace(engine=FakeEngine()),
                     window_ms=1, max_batch=2, max_concurrent=2)
    try:
        th = [threading.Thread(
            target=lambda: b.search({"fulltext": "x"})) for _ in range(4)]
        for t in th:
            t.start()
        for t in th:
            t.join()
        assert seen_overlap, "batches never overlapped"
    finally:
        b.stop()


def test_batch_failure_fails_only_the_offending_request():
    """An engine-level exception from search_batch must not fail every
    request of the batch: each query is retried alone, and only the one
    whose own search raises gets the error."""
    import threading
    import types

    from cantine_spark.httpserve import QueryBatcher

    batch_sizes = []

    class FakeEngine:
        features = {}

        def search(self, q):
            if q.fulltext == "poison":
                raise RuntimeError("engine failure on poison")
            return types.SimpleNamespace(items=[q.fulltext], total_found=1,
                                         next=None, agg=None)

        def search_batch(self, qs):
            batch_sizes.append(len(qs))
            raise RuntimeError("batch job failed")

    b = QueryBatcher(types.SimpleNamespace(engine=FakeEngine()),
                     window_ms=200, max_batch=4, max_concurrent=1)
    texts = ["alpha", "poison", "beta", "gamma"]
    out: dict = {}

    def call(t):
        try:
            out[t] = b.search({"fulltext": t})
        except Exception as e:  # noqa: BLE001 — asserted below
            out[t] = e

    try:
        th = [threading.Thread(target=call, args=(t,)) for t in texts]
        for t in th:
            t.start()
        for t in th:
            t.join()
    finally:
        b.stop()
    assert max(batch_sizes) > 1, "requests were never batched"
    assert isinstance(out["poison"], RuntimeError)
    assert "poison" in str(out["poison"])
    for t in ("alpha", "beta", "gamma"):
        assert out[t].items == [t]


def test_batching_disabled_still_serves(http_env):
    """batch_window_ms=0 keeps the legacy per-request dispatch path."""
    http, *_ = http_env
    legacy = SearchHTTPServer(http.server, port=0, poll_seconds=0,
                              batch_window_ms=0).start()
    try:
        code, body = _post(legacy.url, {"fulltext": "def", "num_items": 3})
        assert code == 200 and len(body["items"]) == 3
    finally:
        legacy.stop()


def test_one_request_records_one_span_per_layer(http_env):
    """A request through the HTTP batcher enters each layer once: exactly
    one api.* span and one wand.* span, neither nested in a span of its
    own layer (perfbench's probe wraps both public entry points of each
    layer, so a public method calling its sibling would show twice)."""
    from perfbench.probe import Tracer

    http, *_ = http_env
    tracer = Tracer()
    tracer.install()
    try:
        code, body = _post(http.url, {"fulltext": "def", "num_items": 3})
    finally:
        tracer.uninstall()
    assert code == 200 and body["items"]
    names = {sid: name for sid, _, _, name, _, _ in tracer.spans}
    for layer in ("api.", "wand."):
        spans = [s for s in tracer.spans if s[3].startswith(layer)]
        assert len(spans) == 1, (layer, sorted(names.values()))
        parent = spans[0][1]
        assert parent is None or not names[parent].startswith(layer)


def test_same_port_sees_new_generation(http_env):
    """The r5 'done' criterion: HTTP query → generation lands → the SAME
    port serves the new docs (the poll thread refreshes mid-traffic)."""
    http, indexer, halves, src, ckpt = http_env
    _, before = _get(http.url, "/info")
    halves[1].coalesce(1).write.mode("append").parquet(src)
    assert indexer.ingest_available(src, ckpt) == 1
    deadline = time.time() + 120
    n_docs = before["n_docs"]
    while time.time() < deadline and n_docs < N:
        time.sleep(0.5)
        _, info = _get(http.url, "/info")
        n_docs = info["n_docs"]
    assert n_docs == N
    code, body = _post(http.url, {"fulltext": "def", "num_items": 5})
    assert code == 200 and body["total_found"] > 0


def test_malformed_and_stale_cursor_never_wedge_the_batch(http_env):
    """r5 ADVICE (high+medium): a query whose JSON types are wrong (str
    num_items) or whose cursor is stale must fail ONLY its own request —
    previously the TypeError escaped _run_batch and left every coalesced
    batch-mate blocked forever on event.wait(), and a cursor BadRequest
    400'd the whole batch. All requests here share one window."""
    import threading

    http, *_ = http_env
    http._batcher.window_ms = 300
    try:
        oks, bad_codes, errors = [], [], []

        def good():
            try:
                code, body = _post(http.url, {"fulltext": "def",
                                              "num_items": 3})
                oks.append((code, body["total_found"]))
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))

        def bad(payload):
            def run():
                try:
                    _post(http.url, payload)
                    errors.append(f"bad request did not fail: {payload}")
                except urllib.error.HTTPError as e:
                    bad_codes.append(e.code)
                except Exception as e:  # noqa: BLE001
                    errors.append(repr(e))
            return run

        threads = ([threading.Thread(target=good) for _ in range(4)]
                   + [threading.Thread(target=bad(
                       {"fulltext": "def", "num_items": "10"}))]
                   + [threading.Thread(target=bad(
                       {"fulltext": "def", "filter": [1, 2]}))]
                   + [threading.Thread(target=bad(
                       {"fulltext": "def", "after": "stale!!cursor"}))])
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
        assert not any(t.is_alive() for t in threads), "a request hung"
        assert not errors
        assert sorted(bad_codes) == [400, 400, 400]
        assert len(oks) == 4 and all(c == 200 for c, _ in oks)
        assert len({t for _, t in oks}) == 1
    finally:
        http._batcher.window_ms = 5
