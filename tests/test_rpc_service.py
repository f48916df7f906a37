"""Wire tests for the gRPC-parity RPC layer, mirroring the reference's
gRPC test matrix (GrpcFactServiceTest 25 cases, GrpcStoreServiceTest 9,
GrpcInfoServiceTest 1) over the local length-prefixed-JSON channel —
the stand-in for a real gRPC channel while grpcio is unavailable in
this environment (docs/PARITY.md)."""

import base64
import threading
import time

import pytest

from factstore_spark.rpc import RpcChannel, RpcError, RpcServer

STORE = "rpc-store"


@pytest.fixture()
def channel(fs):
    server = RpcServer(fs).start()
    yield RpcChannel(server.host, server.port)
    server.stop()


def _create(ch, name=STORE):
    return ch.unary("StoreService", "CreateStore", {"name": name})


def _append(ch, facts, store=STORE, **kw):
    req = {"storeName": store, "facts": facts, **kw}
    return ch.unary("FactService", "AppendFacts", req)


def _fact(type_="USER_CREATED", subject="USER:1", tags=None, data=b"{}"):
    return {
        "type": type_,
        "subject": subject,
        "payload": {"data": base64.b64encode(data).decode(), "format": "json"},
        "tags": tags or {},
    }


# ── StoreService (GrpcStoreServiceTest) ────────────────────────────────────


def test_create_store(channel):
    res = _create(channel)
    assert "created" in res and res["created"]["id"]


def test_create_store_duplicate(channel):
    _create(channel)
    assert _create(channel) == {"nameAlreadyExists": {}}


def test_create_store_invalid_name_is_status_error(channel):
    with pytest.raises(RpcError) as e:
        _create(channel, name="9bad!")
    assert e.value.code == "INVALID_ARGUMENT"


def test_get_store(channel):
    sid = _create(channel)["created"]["id"]
    res = channel.unary("StoreService", "GetStore", {"name": STORE})
    assert res["found"]["store"]["id"] == sid
    assert res["found"]["store"]["name"] == STORE
    assert "createdAt" in res["found"]["store"]


def test_get_store_not_found(channel):
    res = channel.unary("StoreService", "GetStore", {"name": "nope"})
    assert res == {"notFound": {"storeName": "nope"}}


def test_store_exists(channel):
    _create(channel)
    assert channel.unary("StoreService", "StoreExists", {"name": STORE}) == {"present": {}}


def test_store_does_not_exist(channel):
    assert channel.unary("StoreService", "StoreExists", {"name": "nope"}) == {"absent": {}}


def test_list_stores(channel):
    _create(channel, "alpha")
    _create(channel, "beta")
    res = channel.unary("StoreService", "ListStores", {})
    assert sorted(s["name"] for s in res["stores"]) == ["alpha", "beta"]


def test_delete_store(channel):
    _create(channel)
    assert channel.unary("StoreService", "DeleteStore", {"name": STORE}) == {"deleted": {}}
    assert channel.unary("StoreService", "StoreExists", {"name": STORE}) == {"absent": {}}


def test_delete_store_not_found(channel):
    res = channel.unary("StoreService", "DeleteStore", {"name": "nope"})
    assert res == {"notFound": {"storeName": "nope"}}


# ── FactService: AppendFacts (GrpcFactServiceTest) ─────────────────────────


def test_append_facts(channel):
    _create(channel)
    res = _append(channel, [_fact(), _fact(type_="USER_RENAMED")])
    out = res["appended"]
    assert len(out["factIds"]) == 2 and "appendedAt" in out


def test_append_facts_already_applied(channel):
    _create(channel)
    key = "11111111-2222-3333-4444-555555555555"
    _append(channel, [_fact()], idempotencyKey=key)
    assert _append(channel, [_fact()], idempotencyKey=key) == {"alreadyApplied": {}}


def test_append_facts_condition_violated(channel):
    _create(channel)
    fid = _append(channel, [_fact()])["appended"]["factIds"][0]
    res = _append(
        channel,
        [_fact()],
        condition={"expectedLastFact": {"subject": "USER:1"}},  # expects no facts
    )
    assert res == {"conditionViolated": {}}
    ok = _append(
        channel,
        [_fact()],
        condition={"expectedLastFact": {"subject": "USER:1", "expectedLastFactId": fid}},
    )
    assert "appended" in ok


def test_append_facts_all_condition_and_dcb(channel):
    _create(channel)
    _append(channel, [_fact(tags={"state": "open"})])
    res = _append(
        channel,
        [_fact(subject="USER:2")],
        condition={
            "all": {
                "conditions": [
                    {"expectedLastFact": {"subject": "USER:2"}},
                    {
                        "tagQueryBased": {
                            "failIfEventsMatch": {
                                "items": [{"tagOnly": {"tags": {"state": "open"}}}]
                            }
                        }
                    },
                ]
            }
        },
    )
    assert res == {"conditionViolated": {}}


def test_append_facts_store_not_found(channel):
    res = _append(channel, [_fact()], store="nope")
    assert res == {"storeNotFound": {"storeName": "nope"}}


# ── GetFact / FactExists ───────────────────────────────────────────────────


def test_get_fact(channel):
    _create(channel)
    fid = _append(channel, [_fact(data=b'{"v":1}')])["appended"]["factIds"][0]
    res = channel.unary("FactService", "GetFact", {"storeName": STORE, "factId": fid})
    fact = res["found"]["fact"]
    assert fact["id"] == fid and fact["type"] == "USER_CREATED"
    assert base64.b64decode(fact["payload"]["data"]) == b'{"v":1}'
    assert "position" not in fact  # wire Fact has no position, like the proto


def test_get_fact_not_found(channel):
    _create(channel)
    res = channel.unary("FactService", "GetFact", {"storeName": STORE, "factId": "x"})
    assert res == {"notFound": {}}


def test_get_fact_store_not_found(channel):
    res = channel.unary("FactService", "GetFact", {"storeName": "nope", "factId": "x"})
    assert res == {"storeNotFound": {"storeName": "nope"}}


def test_fact_exists(channel):
    _create(channel)
    fid = _append(channel, [_fact()])["appended"]["factIds"][0]
    res = channel.unary("FactService", "FactExists", {"storeName": STORE, "factId": fid})
    assert res == {"present": {}}


def test_fact_does_not_exist(channel):
    _create(channel)
    res = channel.unary("FactService", "FactExists", {"storeName": STORE, "factId": "x"})
    assert res == {"absent": {}}


def test_fact_exists_store_not_found(channel):
    res = channel.unary("FactService", "FactExists", {"storeName": "nope", "factId": "x"})
    assert res == {"storeNotFound": {"storeName": "nope"}}


# ── Finders ────────────────────────────────────────────────────────────────


def _seed_finders(channel):
    _create(channel)
    ids = []
    for i in range(6):
        ids += _append(
            channel,
            [_fact(type_=f"T{i % 2}", subject=f"S{i % 2}", tags={"i": str(i % 3)})],
        )["appended"]["factIds"]
    return ids


def test_find_facts_by_subject(channel):
    ids = _seed_finders(channel)
    res = channel.unary(
        "FactService", "FindFactsBySubject", {"storeName": STORE, "subject": "S0"}
    )
    facts = res["found"]["facts"]
    assert [f["id"] for f in facts] == [ids[0], ids[2], ids[4]]
    back = channel.unary(
        "FactService",
        "FindFactsBySubject",
        {"storeName": STORE, "subject": "S0", "limit": 2, "direction": "BACKWARD"},
    )["found"]["facts"]
    assert [f["id"] for f in back] == [ids[4], ids[2]]


def test_find_facts_by_subject_store_not_found(channel):
    res = channel.unary(
        "FactService", "FindFactsBySubject", {"storeName": "nope", "subject": "S"}
    )
    assert res == {"storeNotFound": {"storeName": "nope"}}


def test_find_facts_by_tags(channel):
    ids = _seed_finders(channel)
    res = channel.unary(
        "FactService", "FindFactsByTags", {"storeName": STORE, "tags": {"i": "0"}}
    )
    assert [f["id"] for f in res["found"]["facts"]] == [ids[0], ids[3]]


def test_find_facts_by_tags_store_not_found(channel):
    res = channel.unary(
        "FactService", "FindFactsByTags", {"storeName": "nope", "tags": {"k": "v"}}
    )
    assert res == {"storeNotFound": {"storeName": "nope"}}


def test_query_facts(channel):
    ids = _seed_finders(channel)
    res = channel.unary(
        "FactService",
        "QueryFacts",
        {
            "storeName": STORE,
            "query": {"items": [{"tagOnly": {"tags": {"i": "1"}}}]},
        },
    )
    assert [f["id"] for f in res["found"]["facts"]] == [ids[1], ids[4]]


def test_query_facts_with_tag_type_item(channel):
    ids = _seed_finders(channel)
    res = channel.unary(
        "FactService",
        "QueryFacts",
        {
            "storeName": STORE,
            "query": {
                "items": [{"tagType": {"types": ["T0"], "tags": {"i": "0"}}}]
            },
        },
    )
    assert [f["id"] for f in res["found"]["facts"]] == [ids[0]]


def test_query_facts_with_tag_type_item_no_match(channel):
    _seed_finders(channel)
    res = channel.unary(
        "FactService",
        "QueryFacts",
        {
            "storeName": STORE,
            "query": {"items": [{"tagType": {"types": ["NOPE"], "tags": {"i": "0"}}}]},
        },
    )
    assert res == {"found": {"facts": []}}


def test_query_facts_store_not_found(channel):
    res = channel.unary(
        "FactService",
        "QueryFacts",
        {"storeName": "nope", "query": {"items": [{"tagOnly": {"tags": {"k": "v"}}}]}},
    )
    assert res == {"storeNotFound": {"storeName": "nope"}}


def test_find_facts_in_time_range(channel):
    _create(channel)
    a = _append(channel, [_fact()])["appended"]["appendedAt"]
    time.sleep(0.01)
    b = _append(channel, [_fact()])["appended"]["appendedAt"]
    res = channel.unary(
        "FactService",
        "FindFactsInTimeRange",
        {"storeName": STORE, "from": a, "to": b},  # half-open: excludes b
    )
    assert len(res["found"]["facts"]) == 1
    all_res = channel.unary(
        "FactService", "FindFactsInTimeRange", {"storeName": STORE}
    )
    assert len(all_res["found"]["facts"]) == 2


def test_find_facts_in_time_range_store_not_found(channel):
    res = channel.unary("FactService", "FindFactsInTimeRange", {"storeName": "nope"})
    assert res == {"storeNotFound": {"storeName": "nope"}}


def test_degenerate_time_range_is_status_error(channel):
    _create(channel)
    t = "2026-01-01T00:00:00Z"
    with pytest.raises(RpcError) as e:
        channel.unary(
            "FactService",
            "FindFactsInTimeRange",
            {"storeName": STORE, "from": t, "to": t},
        )
    assert e.value.code == "INVALID_ARGUMENT"


# ── Streaming: ReplayFacts / SubscribeFacts ────────────────────────────────


def test_replay_facts(channel):
    _create(channel)
    ids = []
    for _ in range(3):
        ids += _append(channel, [_fact()])["appended"]["factIds"]
    frames = list(channel.stream("FactService", "ReplayFacts", {"storeName": STORE}))
    got = [f["id"] for fr in frames for f in fr["batch"]["facts"]]
    assert got == ids
    after = list(
        channel.stream(
            "FactService", "ReplayFacts", {"storeName": STORE, "afterFactId": ids[0]}
        )
    )
    got_after = [f["id"] for fr in after for f in fr["batch"]["facts"]]
    assert got_after == ids[1:]


def test_replay_facts_store_not_found(channel):
    frames = list(channel.stream("FactService", "ReplayFacts", {"storeName": "nope"}))
    assert frames == [{"storeNotFound": {"storeName": "nope"}}]


def test_replay_facts_cursor_not_found(channel):
    _create(channel)
    _append(channel, [_fact()])
    frames = list(
        channel.stream(
            "FactService", "ReplayFacts", {"storeName": STORE, "afterFactId": "ghost"}
        )
    )
    assert frames == [{"afterFactNotFound": {}}]


def test_subscribe_facts_live_tail(channel):
    _create(channel)
    pre = _append(channel, [_fact()])["appended"]["factIds"]

    got, done = [], threading.Event()

    def consume():
        for fr in channel.stream(
            "FactService", "SubscribeFacts", {"storeName": STORE}
        ):
            got.extend(f["id"] for f in fr["batch"]["facts"])
            if len(got) >= 2:
                done.set()
                return  # closing the iterator hangs up the connection

    t = threading.Thread(target=consume, daemon=True)
    t.start()
    time.sleep(0.3)
    live = _append(channel, [_fact(subject="USER:LIVE")])["appended"]["factIds"]
    assert done.wait(15), f"live tail never delivered: {got}"
    assert got == pre + live


def test_subscribe_facts_store_not_found(channel):
    frames = list(channel.stream("FactService", "SubscribeFacts", {"storeName": "nope"}))
    assert frames == [{"storeNotFound": {"storeName": "nope"}}]


def test_subscribe_facts_cursor_not_found(channel):
    _create(channel)
    frames = list(
        channel.stream(
            "FactService", "SubscribeFacts", {"storeName": STORE, "afterFactId": "ghost"}
        )
    )
    assert frames == [{"afterFactNotFound": {}}]


# ── InfoService ────────────────────────────────────────────────────────────


def test_get_server_info(channel):
    res = channel.unary("InfoService", "GetServerInfo", {})
    assert res["app"] == "factstore-spark"
    assert res["version"]
    # proto3 canonical JSON: `string storage_backend = 3` -> lowerCamelCase.
    assert "spark-parquet" in res["storageBackend"]
    assert "storage_backend" not in res


def test_malformed_condition_is_invalid_argument(channel):
    """Request-shape errors surface as INVALID_ARGUMENT, not INTERNAL."""
    import base64

    from factstore_spark.rpc import RpcError

    _create(channel, "rpc-shape")
    with pytest.raises(RpcError) as e:
        channel.unary(
            "FactService", "AppendFacts",
            {
                "storeName": "rpc-shape",
                "facts": [{
                    "type": "T", "subject": "s",
                    "payload": {"data": base64.b64encode(b"x").decode()},
                }],
                "condition": {"expectedLastFact": {}},
            },
        )
    assert e.value.code == "INVALID_ARGUMENT"


def test_rpc_naive_timestamp_and_zero_limit(fs):
    """Bare timestamps are normalized to UTC (parity with the HTTP
    layer) and proto3's unset-int default limit=0 means unbounded."""
    from factstore_spark import FactInput
    from factstore_spark.rpc import FactStoreRpcService, RpcError

    svc = FactStoreRpcService(fs)
    fs.create("tz-store")
    fs.append("tz-store", FactInput(type="T", subject="a"))
    out = svc.call("FactService", "FindFactsInTimeRange", {
        "storeName": "tz-store",
        "from": "2020-01-01T00:00:00",  # naive: interpreted as UTC
        "to": "2099-01-01T00:00:00Z",
    })
    assert len(out["found"]["facts"]) == 1
    out2 = svc.call("FactService", "FindFactsBySubject",
                    {"storeName": "tz-store", "subject": "a", "limit": 0})
    assert len(out2["found"]["facts"]) == 1
    with pytest.raises(RpcError):
        svc.call("FactService", "FindFactsBySubject",
                 {"storeName": "tz-store", "subject": "a", "limit": -1})


def test_wire_sockets_set_tcp_nodelay(monkeypatch):
    """Both ends of a wire call turn Nagle off, so a stream's next frame
    never waits for the peer's delayed ACK. No engine call is made."""
    import socket

    from factstore_spark import rpc

    seen = []
    handle = rpc._Handler.handle

    def recording_handle(self):
        seen.append(self.request.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))
        handle(self)

    monkeypatch.setattr(rpc._Handler, "handle", recording_handle)
    server = RpcServer(None).start()
    try:
        ch = RpcChannel(server.host, server.port)
        with ch._connect() as s:
            assert s.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) != 0
        with pytest.raises(RpcError) as e:
            ch.unary("NoService", "Nothing", {})
        assert e.value.code == "UNIMPLEMENTED"
    finally:
        server.stop()
    assert seen and all(v != 0 for v in seen)
