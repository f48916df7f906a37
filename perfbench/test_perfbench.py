"""The benchmark's own tests (no Spark): seeded inputs are deterministic,
read answers agree with DuckDB, every metric has a name and a unit, and
the tracer's spans nest and add up.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import sys

import duckdb
import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import layers  # noqa: E402
import run  # noqa: E402
import workload as wl  # noqa: E402


def _appends(seed: int, n: int = 200) -> list:
    return [list(itertools.islice(wl.append_requests(seed, c), n)) for c in range(run.APPEND_CLIENTS)]


def _reads(seed: int, model, n: int = 60) -> list:
    return [list(itertools.islice(wl.read_requests(seed, c, model), n)) for c in range(run.READ_CLIENTS)]


def test_same_seed_same_bytes():
    assert wl.make_events(5, 3000).equals(wl.make_events(5, 3000))
    assert not wl.make_events(5, 3000).equals(wl.make_events(6, 3000))
    assert _appends(5) == _appends(5)
    assert _appends(5) != _appends(6)
    model = wl.ReadModel(wl.make_events(5))
    assert _reads(5, model) == _reads(5, model)
    assert _reads(5, model) != _reads(6, model)


def test_append_mix():
    for reqs in _appends(9):
        fresh = set()
        for block in range(0, len(reqs), wl.APPEND_BLOCK):
            kinds = [r.kind for r in reqs[block:block + wl.APPEND_BLOCK]]
            assert sorted(kinds) == ["conflict"] + ["fresh"] * 18 + ["retry"]
        for r in reqs:
            body = json.loads(r.body)
            if r.kind == "retry":
                assert r.body in fresh  # an earlier key, replayed byte for byte
            elif r.kind == "fresh":
                fresh.add(r.body)
                assert body["condition"]["failIfEventsMatch"]["queryItems"][0]["tags"] == {
                    "order": body["facts"][0]["tags"]["order"]
                }
            else:
                assert set(body["condition"]["failIfEventsMatch"]["queryItems"][0]["tags"]) == {"user"}
        keys = [json.loads(r.body)["idempotencyKey"] for r in reqs if r.kind != "retry"]
        assert len(set(keys)) == len(keys)


def test_read_round_weighs_every_kind_the_same():
    assert sorted(wl.READ_ROUND) == sorted(wl.POINT_KINDS + wl.SCAN_KINDS)
    model = wl.ReadModel(wl.make_events(5))
    for reqs in _reads(5, model, 3 * len(wl.READ_ROUND) + 2):
        # any round's worth of consecutive reads holds each kind once
        for i in range(len(reqs) - len(wl.READ_ROUND)):
            assert sorted(r.kind for r in reqs[i:i + len(wl.READ_ROUND)]) == sorted(wl.READ_ROUND)


def test_window_takes_latencies_in_whole_rounds():
    from loadgen import ClientLog, Sample

    logs = [ClientLog(samples=[Sample("k", 0.1 * i, 10.0 * (i + 1), True) for i in range(n)]) for n in (7, 5)]
    w = run._window([(logs, 0.0, 1.0)], round_len=3)
    # 6 of the first client's samples, 3 of the second's; rates from all
    assert w["p50_ms"] == pytest.approx(float(np.median([10, 20, 30, 40, 50, 60, 10, 20, 30])))
    assert len(w["samples"]) == 12
    assert run._window([(logs, 0.0, 1.0)])["p50_ms"] == pytest.approx(35.0)


def test_read_answers_match_duckdb():
    events = wl.make_events(3)
    model = wl.ReadModel(events)
    con = duckdb.connect()
    con.register("events", events)

    def ids(sql: str) -> tuple:
        return tuple(f"event:{k}" for (k,) in con.sql(sql).fetchall())

    for req in itertools.chain.from_iterable(_reads(3, model, 30)):
        if req.kind == "by_tags":
            u = req.path.split("user=")[1].split("&")[0]
            want = ids(f"select event_id from events where user_id = {u} order by event_id limit 10")
        elif req.kind == "by_subject":
            u = req.path.split("user:")[1].split("/")[0]
            want = ids(f"select event_id from events where user_id = {u} order by event_id desc limit 10")
        elif req.kind == "tag_query":
            a, b = (item["tags"] for item in json.loads(req.body)["queryItems"])
            want = ids(
                "select event_id from events where (user_id = {} and event_type = '{}') or user_id = {} "
                "order by event_id".format(a["user"], a["event_type"], b["user"])
            )
        elif req.kind == "time_range":
            lo = req.path.split("from=")[1].split("&")[0]
            hi = req.path.split("to=")[1].split("&")[0]
            want = ids(
                f"select event_id from events where ts >= '{lo}'::timestamptz and ts < '{hi}'::timestamptz "
                "order by event_id limit 100"
            )
        elif req.kind == "replay":
            after = int(req.path.split("event:")[1])
            want = ids(f"select event_id from events where event_id > {after} order by event_id")
        else:
            k = int(req.expect[0].split(":")[1])
            row = con.sql(f"select user_id, event_type from events where event_id = {k}").fetchone()
            fact = model.fact(k)
            assert (fact["subject"], fact["type"]) == (f"user:{row[0]}", row[1])
            continue
        assert req.expect == want, req.path


def test_every_metric_has_name_and_unit():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
    # a traced summary fills every per-layer name that spans give
    filled = layers.summarize([], {})
    assert set(filled) <= {name for name, _ in layers.PER_LAYER}


@pytest.fixture
def traced_server(tmp_path):
    from factstore_spark.server import FactStoreServer
    from factstore_spark.store import FactStore
    from tracer import Tracer

    tracer = Tracer().install()
    fs = FactStore(None, str(tmp_path))  # the append path needs no Spark
    fs.create(wl.STORE)
    srv = FactStoreServer(fs).start()
    try:
        yield tracer, srv.port
    finally:
        srv.stop()
        tracer.uninstall()


def test_append_spans_nest_and_add_up(traced_server):
    from factstore_spark.server import FactStoreHandler

    tracer, port = traced_server
    assert FactStoreHandler.do_POST.__wrapped__  # installed
    tracer.enabled = True
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    # fresh appends only: the empty store has no seeded facts to conflict with
    reqs = [r for r in itertools.islice(wl.append_requests(1, 0), 20) if r.kind == "fresh"][:4]
    for req in reqs:
        conn.request(req.method, req.path, body=req.body, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
        assert resp.status == 200
    conn.close()
    tracer.enabled = False

    spans = tracer.spans
    roots = [s for s in spans if s[3] == "server.handle"]
    assert len(roots) == len(reqs)
    req = roots[0][2]
    tree = layers.request_tree(spans, req)
    assert [r["name"] for r in tree if r["depth"] < 2] == ["server.handle", "store.append"]
    assert {r["name"].split(".")[0] for r in tree if r["depth"] == 2} <= {"layout", "tag_index"}
    assert any(r["name"] == "layout.append_commit" for r in tree)
    total = tree[0]["ms"]
    assert sum(r["self_ms"] for r in tree) == pytest.approx(total, rel=1e-6)

    m = layers.summarize(spans, {})
    assert m["server.requests"] == len(reqs)
    assert m["store.append.calls"] == len(reqs)
    assert m["layout.group_size"] == pytest.approx(1.0)
    assert m["server.errors"] == 0


def test_uninstall_restores_the_program(traced_server):
    from factstore_spark.storage.layout import StoreLayout

    tracer, _ = traced_server
    wrapped = StoreLayout.read_commits
    tracer.uninstall()
    assert StoreLayout.read_commits is wrapped.__wrapped__
