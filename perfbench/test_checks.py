"""Planted-fault self-tests: every output check must turn a run red.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
No Spark is started: the log checks drive the benchmark's real HTTP
clients against a small in-process stand-in that serves the program's
JSON routes and can drop an offset or alter a payload; the query check
compares DuckDB oracle output with itself, then with one row perturbed.
"""

from __future__ import annotations

import base64
import json
import threading
import types
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np
import pytest

from perfbench import checks, layers, run as bench
from perfbench.payloads import Payloads


class FakeLog:
    """The HTTP routes of ``proglog_spark.server`` over a dict, with one
    planted fault: ``skip_at`` leaves a one-offset gap before the k-th
    append,
    ``alter`` serves a changed payload for those offsets."""

    def __init__(self, preload: list[str] = (), skip_at=None, alter=()):
        self.values = dict(enumerate(preload))
        self.next = len(self.values)
        self.skip_at, self.alter = skip_at, set(alter)
        self.appends = 0
        self.lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _reply(self, code, obj):
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                req = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                recs = req.get("records") or [req["record"]]
                with outer.lock:
                    outer.appends += 1
                    if outer.appends == outer.skip_at:
                        outer.next += 1
                    first = outer.next
                    for r in recs:
                        outer.values[outer.next] = base64.b64decode(r["value"]).decode()
                        outer.next += 1
                if "records" in req:
                    self._reply(200, {"first_offset": first, "last_offset": outer.next - 1})
                else:
                    self._reply(200, {"offset": first})

            def do_GET(self):
                url = urlparse(self.path)
                with outer.lock:
                    if url.path == "/bounds":
                        hi = max(outer.values)
                        self._reply(200, {"lowest_offset": 0, "highest_offset": hi, "count": hi + 1})
                        return
                    off = int(parse_qs(url.query)["offset"][0])
                    v = outer.values[off] + ("!" if off in outer.alter else "")
                self._reply(200, {"record": {"value": base64.b64encode(v.encode()).decode(),
                                             "offset": off, "term": 0, "type": 0}})

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=5)
        assert not self.thread.is_alive()


@pytest.fixture(autouse=True)
def small_episodes(monkeypatch):
    monkeypatch.setattr(bench, "INGEST_SINGLES", 20)
    monkeypatch.setattr(bench, "INGEST_BATCHES", 5)
    # buckets small enough that the small fake logs have history buckets
    monkeypatch.setattr(bench, "BUCKET", 16)


def ingest(fake: FakeLog) -> tuple[bench.Episode, list[str]]:
    ep = bench.Episode(fake.port, Payloads(1))
    ep.run()
    problems = checks.check_acks_dense(ep.acks, 0) + ep.errors
    delivered = sorted(fake.values.items())
    return ep, problems + checks.check_deliveries(delivered, ep.sent)


def read_mix(fake: FakeLog, preload: int) -> list[str]:
    mix = bench.Mix(3, fake.port, Payloads(3), preload, [30, 30])
    mix.run(0, 30, rate=bench.READ_RATE)
    mix.run(30, 60)
    return mix.errors + checks.check_acks_dense(mix.acks, preload)


def test_clean_runs_pass():
    with FakeLog() as fake:
        _, problems = ingest(fake)
    assert problems == []
    p = Payloads(3)
    with FakeLog([p.at(o) for o in range(2000)]) as fake:
        assert read_mix(fake, 2000) == []


def test_dropped_offset_fails_the_run():
    with FakeLog(skip_at=7) as fake:
        ep, problems = ingest(fake)
    assert any("never acknowledged" in x for x in problems)
    # the consumer losing an acknowledged record fails too
    delivered = [(o, v) for o, v in sorted(ep.sent.items()) if o != 3]
    assert any("never delivered" in x for x in checks.check_deliveries(delivered, ep.sent))


def test_duplicated_delivery_fails_the_run():
    with FakeLog() as fake:
        ep, problems = ingest(fake)
    assert problems == []
    delivered = sorted(ep.sent.items())
    delivered.insert(5, delivered[4])
    found = checks.check_deliveries(delivered, ep.sent)
    assert any("more than once" in x for x in found)
    assert any("out of order or repeated" in x for x in found)


def test_altered_payload_fails_the_run():
    p = Payloads(3)
    preload = [p.at(o) for o in range(50)]
    with FakeLog(preload, alter=range(50)) as fake:
        problems = read_mix(fake, 50)
    assert any("payload differs" in x for x in problems)
    # and a delivered record whose bytes changed
    with FakeLog() as fake:
        ep, _ = ingest(fake)
    delivered = [(o, v + ("x" if o == 2 else "")) for o, v in sorted(ep.sent.items())]
    assert any("payloads differ" in x for x in checks.check_deliveries(delivered, ep.sent))


def test_mix_work_does_not_depend_on_the_seed():
    for seed in (1, 2):
        mix = bench.Mix(seed, 0, Payloads(seed), 2000, [100] * 10)
        for lo in range(0, mix.n, 100):
            kind, recent = mix.kind[lo:lo + 100], mix.recent[lo:lo + 100]
            assert list(np.bincount(kind)) == [90, 5, 5]
            assert ((kind == 0) & ~recent).sum() == 28
        # history reads visit the old buckets in turn: none comes back
        # while it could still be in the 8-bucket cache
        b = mix.bucket[(mix.kind == 0) & ~mix.recent]
        assert all(len(set(b[i:i + 9])) == len(b[i:i + 9]) for i in range(len(b)))


def test_bounds_must_match_acknowledged_range():
    ok = {"lowest_offset": 0, "highest_offset": 9, "count": 10}
    assert checks.check_bounds(ok, 0, 9, 9) == []
    assert checks.check_bounds(ok, 0, 10, 12)  # misses an acknowledged write
    assert checks.check_bounds(dict(ok, count=9), 0, 9, 9)


def test_perturbed_query_row_fails_the_run():
    (cols, types_, rows), = bench.oracle_results(["tpch_q1_pricing"]).values()
    spark_dtypes = {c: checks.duck_dtype(t) for c, t in types_.items()}
    # the program sends Spark's rows with every value normalised
    sent = [[checks.norm_value(v) for v in r] for r in rows]
    assert rows and checks.check_query("q", cols, spark_dtypes, sent, cols, types_, rows) == []
    bad = [list(r) for r in sent]
    bad[0][0] = "999"
    assert checks.check_query("q", cols, spark_dtypes, bad, cols, types_, rows)
    assert checks.check_query("q", cols, spark_dtypes, sent[1:], cols, types_, rows)
    drift = dict(spark_dtypes, count_order="int")
    assert checks.check_query("q", cols, drift, sent, cols, types_, rows)


def test_any_problem_makes_the_result_incorrect():
    spec = {"end_to_end": [{"name": "setup_s", "unit": "s"}]}
    run = types.SimpleNamespace(
        trace=False, problems=[], attempted=10, setup_s=1.5, peak_rss_mb=1.0,
        headline={}, layer={}, overhead=0.0,
    )
    assert bench.result(run, spec)["correct"] is True
    run.problems.append("offsets 3..3 never acknowledged")
    res = bench.result(run, spec)
    assert res["correct"] is False and res["failed"] == 1
    assert res["metrics"] == {"setup_s": {"value": 1.5, "unit": "s"}}


def test_pipeline_tables_are_the_fixtures():
    bench.check_fixtures()


def test_self_time_subtracts_direct_children():
    spans = [
        (1, 0, "server.request", 0.0, 10.0, None),
        (2, 1, "engine.produce", 1.0, 9.0, None),
        (3, 2, "acl.authorize", 1.0, 1.5, None),
        (4, 2, "log.append", 2.0, 8.0, 5),
        (5, 4, "log.highest_offset", 2.0, 6.0, None),
    ]
    got = layers.log_layers(spans)
    assert got["server.self_s"] == pytest.approx(2.0)
    assert got["engine.self_s"] == pytest.approx(1.5)
    assert got["log.append_offset_lookup_s"] == pytest.approx(4.0)
    assert got["log.append_self_s"] == pytest.approx(2.0)
    assert got["log.append.records"] == 5


def test_repeat_check_names_the_counter():
    a = [{"name": "q", "jobs": 3, "batches": 4}]
    b = [{"name": "q", "jobs": 3, "batches": 6}]
    assert layers.repeat_mismatches(a, b) == ["q.batches 4!=6"]
