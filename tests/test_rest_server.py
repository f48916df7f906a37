"""REST adapter tests — the server-adapter suite analog
(factstore-server/src/test/.../http/), driven over real HTTP."""

import base64
import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from factstore_spark.server import FactStoreServer


@pytest.fixture()
def server(fs):
    s = FactStoreServer(fs).start()
    yield f"http://127.0.0.1:{s.port}"
    s.stop()


def req(method, url, body=None):
    data = json.dumps(body).encode() if body is not None else None
    r = urllib.request.Request(url, data=data, method=method)
    r.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(r, timeout=30) as resp:
            raw = resp.read()
            return resp.status, json.loads(raw) if raw else None
    except urllib.error.HTTPError as e:
        raw = e.read()
        return e.code, json.loads(raw) if raw else None


def b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def test_store_lifecycle_over_http(server):
    code, body = req("POST", f"{server}/v1/stores", {"name": "http-store"})
    assert code == 201 and body["name"] == "http-store"
    code, _ = req("POST", f"{server}/v1/stores", {"name": "http-store"})
    assert code == 409
    code, stores = req("GET", f"{server}/v1/stores")
    assert code == 200 and [s["name"] for s in stores] == ["http-store"]
    code, meta = req("GET", f"{server}/v1/stores/http-store")
    assert code == 200 and meta["id"]
    code, _ = req("DELETE", f"{server}/v1/stores/http-store")
    assert code == 204
    code, _ = req("GET", f"{server}/v1/stores/http-store")
    assert code == 404


def test_append_and_find_over_http(server):
    req("POST", f"{server}/v1/stores", {"name": "s"})
    code, res = req(
        "POST",
        f"{server}/v1/stores/s/facts",
        {
            "facts": [
                {
                    "type": "USER_CREATED",
                    "subject": "USER:ALICE",
                    "payload": {"data": b64('{"username": "Alice"}')},
                    "tags": {"role": "admin", "region": "eu"},
                }
            ]
        },
    )
    assert code == 200 and len(res["factIds"]) == 1
    fid = res["factIds"][0]

    code, fact = req("GET", f"{server}/v1/stores/s/facts/{fid}")
    assert code == 200
    assert fact["subject"] == "USER:ALICE"
    assert base64.b64decode(fact["payload"]["data"]) == b'{"username": "Alice"}'

    code, facts = req("GET", f"{server}/v1/stores/s/subjects/USER:ALICE/facts")
    assert code == 200 and [f["id"] for f in facts] == [fid]

    code, facts = req("GET", f"{server}/v1/stores/s/facts?tag=role=admin&tag=region=eu")
    assert code == 200 and len(facts) == 1
    code, facts = req("GET", f"{server}/v1/stores/s/facts?tag=role=user")
    assert code == 200 and facts == []


def test_conditional_append_and_idempotency_over_http(server):
    req("POST", f"{server}/v1/stores", {"name": "c"})
    base = {
        "facts": [{"type": "T", "subject": "S", "payload": {"data": b64("x")}}],
    }
    code, res = req(
        "POST",
        f"{server}/v1/stores/c/facts",
        {**base, "condition": {"type": "expectedLastFact", "subject": "S", "expectedLastFactId": None}},
    )
    assert code == 200
    # Same condition again: S now has a fact -> 409.
    code, err = req(
        "POST",
        f"{server}/v1/stores/c/facts",
        {**base, "condition": {"type": "expectedLastFact", "subject": "S", "expectedLastFactId": None}},
    )
    assert code == 409 and "violated" in err["error"]
    # Idempotent retry: 200 with empty body the second time.
    key = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
    code, res = req("POST", f"{server}/v1/stores/c/facts", {**base, "idempotencyKey": key})
    assert code == 200 and res["factIds"]
    code, res = req("POST", f"{server}/v1/stores/c/facts", {**base, "idempotencyKey": key})
    assert code == 200 and res is None


def test_tag_query_and_replay_over_http(server):
    req("POST", f"{server}/v1/stores", {"name": "q"})
    for t, tags in [("A", {"k": "1"}), ("B", {"k": "2"}), ("A", {"k": "2"})]:
        req(
            "POST",
            f"{server}/v1/stores/q/facts",
            {"facts": [{"type": t, "subject": "S", "payload": {"data": b64("p")}, "tags": tags}]},
        )
    code, facts = req(
        "POST",
        f"{server}/v1/stores/q/facts/query",
        {"queryItems": [{"type": "tagType", "types": ["A"], "tags": {"k": "2"}}]},
    )
    assert code == 200 and [f["type"] for f in facts] == ["A"]
    assert facts[0]["tags"] == {"k": "2"}

    code, replayed = req("GET", f"{server}/v1/stores/q/facts/replay")
    assert code == 200 and len(replayed) == 3
    code, tail = req("GET", f"{server}/v1/stores/q/facts/replay?after={replayed[0]['id']}")
    assert code == 200 and len(tail) == 2
    code, _ = req("GET", f"{server}/v1/stores/q/facts/replay?after=zzz")
    assert code == 404


def test_error_paths_over_http(server):
    code, _ = req("GET", f"{server}/v1/stores/nope/facts/some-id")
    assert code == 404
    code, _ = req("POST", f"{server}/v1/stores/nope/facts", {"facts": [{"type": "T", "subject": "S", "payload": {"data": b64("x")}}]})
    assert code == 404
    code, _ = req("POST", f"{server}/v1/stores", {"name": "-bad-"})
    assert code == 400
    code, _ = req("GET", f"{server}/v1/bogus")
    assert code == 404


def test_sse_subscribe_over_http(server, fs):
    req("POST", f"{server}/v1/stores", {"name": "sse"})
    req(
        "POST",
        f"{server}/v1/stores/sse/facts",
        {"facts": [{"type": "EARLY", "subject": "S", "payload": {"data": b64("e")}}]},
    )
    r = urllib.request.Request(f"{server}/v1/stores/sse/facts/subscribe")
    with urllib.request.urlopen(r, timeout=30) as resp:
        assert resp.headers["Content-Type"].startswith("text/event-stream")
        line = resp.readline().decode()
        assert line.startswith("data: ")
        fact = json.loads(line[len("data: "):])
        assert fact["type"] == "EARLY"


def test_empty_payload_rejected_at_http_layer(server):
    """api.kt FactPayloadHttp.data is @NotEmpty — HTTP-layer validation
    parity (the engine itself allows empty payloads)."""
    req("POST", f"{server}/v1/stores", {"name": "vp"})
    code, err = req(
        "POST",
        f"{server}/v1/stores/vp/facts",
        {"facts": [{"type": "T", "subject": "S", "payload": {"data": ""}}]},
    )
    assert code == 400 and "empty" in err["error"]


def test_limit_zero_and_negative_mean_unbounded(server):
    """QueryResource.kt:108 parity: limit <= 0 -> Limit.None."""
    req("POST", f"{server}/v1/stores", {"name": "lim"})
    for t in ("A", "B", "C"):
        req(
            "POST",
            f"{server}/v1/stores/lim/facts",
            {"facts": [{"type": t, "subject": "S", "payload": {"data": b64("p")}}]},
        )
    for q in ("limit=0", "limit=-5", ""):
        code, facts = req("GET", f"{server}/v1/stores/lim/subjects/S/facts?{q}")
        assert code == 200 and len(facts) == 3, q
    code, facts = req("GET", f"{server}/v1/stores/lim/subjects/S/facts?limit=2")
    assert code == 200 and len(facts) == 2


def test_subject_with_a_slash_or_non_ascii_over_http(server):
    """A subject is one percent-encoded path segment: ``order/0-1`` (the
    DCB append subject shape) as ``order%2F0-1``, and a non-ASCII one as
    its UTF-8 escapes."""
    req("POST", f"{server}/v1/stores", {"name": "subj"})
    ids = {}
    for subject in ("order/0-1", "order/0-10", "kunde:Jürgen/東京"):
        code, res = req(
            "POST",
            f"{server}/v1/stores/subj/facts",
            {"facts": [{"type": f"T{i}", "subject": subject, "payload": {"data": b64("p")}} for i in range(3)]},
        )
        assert code == 200
        ids[subject] = res["factIds"]
    code, facts = req("GET", f"{server}/v1/stores/subj/subjects/order%2F0-1/facts?limit=2&direction=backward")
    assert code == 200 and [f["id"] for f in facts] == ids["order/0-1"][::-1][:2]
    assert {f["subject"] for f in facts} == {"order/0-1"}
    quoted = urllib.parse.quote("kunde:Jürgen/東京", safe="")
    code, facts = req("GET", f"{server}/v1/stores/subj/subjects/{quoted}/facts")
    assert code == 200 and [f["id"] for f in facts] == ids["kunde:Jürgen/東京"]
    assert {f["subject"] for f in facts} == {"kunde:Jürgen/東京"}


def test_tag_and_time_filters_cannot_combine(server):
    req("POST", f"{server}/v1/stores", {"name": "combo"})
    code, err = req(
        "GET",
        f"{server}/v1/stores/combo/facts?tag=k=v&from=2026-01-01T00:00:00",
    )
    assert code == 400 and "combined" in err["error"]


def test_repeated_tag_key_is_a_400_not_a_dropped_condition(server):
    """``tag=user=1&tag=user=2`` names one key twice: answering with
    either value's facts would drop the other condition."""
    req("POST", f"{server}/v1/stores", {"name": "rep"})
    for user in ("1", "2"):
        code, _ = req(
            "POST",
            f"{server}/v1/stores/rep/facts",
            {"facts": [{"type": "T", "subject": "S", "payload": {"data": b64("p")}, "tags": {"user": user}}]},
        )
        assert code == 200
    code, err = req("GET", f"{server}/v1/stores/rep/facts?tag=user=1&tag=user=2")
    assert code == 400 and "'user'" in err["error"]
    code, facts = req("GET", f"{server}/v1/stores/rep/facts?tag=user=2")
    assert code == 200 and [f["tags"] for f in facts] == [{"user": "2"}]


def test_naive_from_to_read_as_utc(server):
    """A bare from/to stamp is UTC: the same facts as its Z form (the
    RPC transport parses instants with the same helper)."""
    req("POST", f"{server}/v1/stores", {"name": "tz"})
    req(
        "POST",
        f"{server}/v1/stores/tz/facts",
        {"facts": [{"type": "T", "subject": "S", "payload": {"data": b64("p")}}]},
    )
    url = f"{server}/v1/stores/tz/facts?from=2020-01-01T00:00:00{{z}}&to=2099-01-01T00:00:00{{z}}"
    code, naive = req("GET", url.format(z=""))
    assert code == 200 and len(naive) == 1
    assert req("GET", url.format(z="Z")) == (200, naive)


def test_info_endpoint(server):
    code, info = req("GET", f"{server}/v1/info")
    assert code == 200 and info["name"] == "factstore-spark" and info["version"]


def test_explorer_page_served(server):
    """The explorer single-page UI is served at / and /explorer, and
    carries every feature of the reference UI (factstore-explorer
    README: browse AND manage stores, query by time range / tags /
    subject, SSE streaming, dark mode)."""
    for path in ("/", "/explorer"):
        with urllib.request.urlopen(f"{server}{path}") as r:
            assert r.status == 200
            assert "text/html" in r.headers["Content-Type"]
            body = r.read().decode()
            assert "factstore explorer" in body and "/api/v1/stores" in body
    # feature inventory of the single-file UI
    for feature in (
        "createStore",            # create store form -> POST /v1/stores
        "method:'DELETE'",        # per-store delete button
        "by time range",          # from/to finder mode
        "direction=",             # forward/backward toggle
        "EventSource",            # SSE tail
        "prefers-color-scheme",   # dark mode
        "showDetail",             # fact payload inspector
    ):
        assert feature in body, feature


def test_explorer_backing_endpoints_roundtrip(server):
    """The exact request shapes the explorer JS issues all resolve:
    create -> query by time range with direction+limit -> delete."""
    code, _ = req("POST", f"{server}/api/v1/stores", {"name": "ui"})
    assert code == 201
    code, _ = req(
        "POST",
        f"{server}/api/v1/stores/ui/facts",
        {"facts": [{"type": "T", "subject": "s", "payload": {"data": b64("x")}}]},
    )
    assert code == 200
    code, facts = req(
        "GET",
        f"{server}/api/v1/stores/ui/facts"
        "?from=2020-01-01T00:00:00Z&limit=5&direction=backward",
    )
    assert code == 200 and len(facts) == 1
    code, _ = req("DELETE", f"{server}/api/v1/stores/ui")
    assert code == 204


def test_malformed_requests_get_clean_400s(server):
    """Shape errors (wrong JSON types, bad instants) must map to 400 —
    never a dropped connection from an uncaught TypeError/AttributeError."""
    req("POST", f"{server}/v1/stores", {"name": "m"})
    code, body = req("POST", f"{server}/v1/stores/m/facts", {"facts": ["a"]})
    assert code == 400 and "error" in body
    code, body = req("POST", f"{server}/v1/stores/m/facts", {"facts": "x"})
    assert code == 400
    code, body = req("GET", f"{server}/v1/stores/m/facts?from=not-a-time")
    assert code == 400
    # Z-suffix and bare stamps both parse (normalized to UTC)
    code, _ = req(
        "GET",
        f"{server}/v1/stores/m/facts"
        "?from=2020-01-01T00:00:00Z&to=2030-01-02T00:00:00",
    )
    assert code == 200


def test_sse_subscribe_watch_param(server, fs):
    """?watch=1 opts the SSE tail into the change-token wakeup; the
    delivered facts are identical to the poll path."""
    req("POST", f"{server}/v1/stores", {"name": "ssew"})
    req(
        "POST",
        f"{server}/v1/stores/ssew/facts",
        {"facts": [{"type": "W0", "subject": "S", "payload": {"data": b64("w")}}]},
    )
    r = urllib.request.Request(
        f"{server}/v1/stores/ssew/facts/subscribe?watch=1"
    )
    with urllib.request.urlopen(r, timeout=30) as resp:
        assert resp.headers["Content-Type"].startswith("text/event-stream")
        line = resp.readline().decode()
        fact = json.loads(line[len("data: "):])
        assert fact["type"] == "W0"


def test_direction_is_case_insensitive_and_bad_values_are_400(server):
    """``direction`` accepts forward/backward in any case; any other
    value is a 400, not a silent forward read."""
    req("POST", f"{server}/v1/stores", {"name": "dir"})
    for t in ("A", "B"):
        req(
            "POST",
            f"{server}/v1/stores/dir/facts",
            {"facts": [{"type": t, "subject": "S", "payload": {"data": b64("p")}}]},
        )
    for q, want in (("BACKWARD", "BA"), ("Backward", "BA"), ("FORWARD", "AB"), ("forward", "AB")):
        code, facts = req("GET", f"{server}/v1/stores/dir/subjects/S/facts?direction={q}")
        assert code == 200 and "".join(f["type"] for f in facts) == want, q
    for query in ("subjects/S/facts?", "facts?tag=k=v&", "facts?"):
        code, body = req("GET", f"{server}/v1/stores/dir/{query}direction=sideways")
        assert code == 400 and "direction" in body["error"], query


def test_sse_start_is_case_insensitive_and_bad_values_are_400(server):
    """``start=END`` pins the end like ``start=end`` (it used to stream
    the whole store); a start that is neither beginning nor end is a
    400 before any event is sent."""
    req("POST", f"{server}/v1/stores", {"name": "sst"})

    def append(t):
        req(
            "POST",
            f"{server}/v1/stores/sst/facts",
            {"facts": [{"type": t, "subject": "S", "payload": {"data": b64("p")}}]},
        )

    append("OLD")
    r = urllib.request.Request(f"{server}/v1/stores/sst/facts/subscribe?start=END")
    with urllib.request.urlopen(r, timeout=30) as resp:
        assert resp.status == 200
        append("NEW")
        line = resp.readline().decode()
        assert json.loads(line[len("data: "):])["type"] == "NEW"
    r = urllib.request.Request(f"{server}/v1/stores/sst/facts/subscribe?start=Beginning")
    with urllib.request.urlopen(r, timeout=30) as resp:
        assert json.loads(resp.readline().decode()[len("data: "):])["type"] == "OLD"
    code, body = req("GET", f"{server}/v1/stores/sst/facts/subscribe?start=latest")
    assert code == 400 and "start" in body["error"]
