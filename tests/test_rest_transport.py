"""REST transport tests: response framing on kept-alive connections,
socket writes per response, TCP_NODELAY, and the 500 and logging paths.
The engine is a scripted stub, so no SparkSession is started."""

import http.client
import json
import queue
import socket
import threading
from datetime import datetime, timezone
from socketserver import StreamRequestHandler

import pytest

from factstore_spark.model import Fact, FactPayload, StoreMetadata
from factstore_spark.results import (
    AlreadyApplied,
    Appended,
    AppendConditionViolated,
    FactFound,
    FactIdNotFound,
    StoreCreated,
    StoreNameAlreadyExists,
    StoreNotFound,
    StoreRemoved,
)
from factstore_spark.server import FactStoreHandler, FactStoreServer

T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)


def fact(i: int) -> Fact:
    return Fact(f"f{i}", "T", "S", T0, i, FactPayload(b"p%d" % i, format="json"))


class StubStore:
    """The slice of FactStore the REST handler calls, scripted: a fact
    subject of "conflict" violates the condition, a repeated idempotency
    key is AlreadyApplied, ``replay_batches``/``subscribe_batches`` are
    what the streams yield and ``fail`` is raised by ``find_by_id``."""

    def __init__(self):
        self.stores = {}
        self.keys = set()
        self.replay_batches = []
        self.subscribe_batches = []
        self.fail = None
        self.feed = queue.Queue()  # later subscription batches; None ends it

    def create(self, name):
        if name in self.stores:
            return StoreNameAlreadyExists(name)
        self.stores[name] = StoreMetadata(f"id-{name}", name, T0)
        return StoreCreated(self.stores[name])

    def list_all(self):
        return list(self.stores.values())

    def remove(self, name):
        return StoreRemoved(name) if self.stores.pop(name, None) else StoreNotFound(name)

    def append(self, store, facts, condition=None, idempotency_key=None):
        if store not in self.stores:
            return StoreNotFound(store)
        if idempotency_key in self.keys:
            return AlreadyApplied(idempotency_key)
        if any(f.subject == "conflict" for f in facts):
            return AppendConditionViolated("scripted")
        self.keys.add(idempotency_key)
        return Appended(tuple(f"new-{i}" for i in range(len(facts))), T0)

    def find_by_id(self, store, fact_id):
        if self.fail is not None:
            raise self.fail
        return FactFound(fact(0))

    def replay(self, store, start):
        yield from self.replay_batches

    def subscribe(self, store, start, **_kw):
        yield from self.subscribe_batches
        while (batch := self.feed.get(timeout=30)) is not None:
            yield batch


@pytest.fixture()
def stub():
    return StubStore()


@pytest.fixture()
def writes(monkeypatch):
    """Every socket write the server makes, per connection: the raw
    stream under ``wfile`` is wrapped so each call (one ``send``) is
    recorded before the bytes leave."""
    conns = []

    def counting_setup(handler):
        StreamRequestHandler.setup(handler)
        handler.server.nodelay = handler.connection.getsockopt(
            socket.IPPROTO_TCP, socket.TCP_NODELAY
        )
        sent = []
        conns.append(sent)
        raw = getattr(handler.wfile, "raw", handler.wfile)
        write = raw.write

        def counted(data):
            sent.append(bytes(data))
            return write(data)

        raw.write = counted

    monkeypatch.setattr(FactStoreHandler, "setup", counting_setup)
    return conns


@pytest.fixture()
def server(stub, writes):
    s = FactStoreServer(stub).start()
    yield s
    stub.feed.put(None)
    s.stop()


def _conn(server) -> http.client.HTTPConnection:
    return http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)


def _call(conn, method, path, body=None):
    data = None if body is None else (body if isinstance(body, bytes) else json.dumps(body).encode())
    conn.request(method, path, body=data, headers={"Content-Type": "application/json"})
    resp = conn.getresponse()
    return resp.status, resp.read()


def _append(subject="S", key=None, data="cA=="):
    return {
        "facts": [{"type": "T", "subject": subject, "payload": {"data": data}}],
        "idempotencyKey": key,
    }


def test_keep_alive_connection_carries_every_status(server, writes):
    conn = _conn(server)
    script = [
        ("POST", "/v1/stores", {"name": "s"}, 201),
        ("POST", "/v1/stores/s/facts", _append(key="k1"), 200),
        ("POST", "/v1/stores/s/facts", _append(subject="conflict"), 409),
        ("POST", "/v1/stores/s/facts", _append(key="k1"), 200),  # AlreadyApplied
        # a route that never reads its body: the body must not be
        # parsed as the next request line
        ("POST", "/v1/no/such/route", {"x": 1}, 404),
        ("POST", "/v1/stores/s/facts", _append(data=""), 400),
        ("POST", "/v1/stores/s/facts", b"{not json", 400),
        ("DELETE", "/v1/stores/s", None, 204),
        ("GET", "/v1/stores", None, 200),
    ]
    got = []
    for method, path, body, _ in script:
        got.append(_call(conn, method, path, body))
        if len(got) == 1:
            sock = conn.sock
        assert conn.sock is sock, f"{method} {path} closed the connection"
    conn.close()

    assert [code for code, _ in got] == [code for *_, code in script]
    assert json.loads(got[0][1])["name"] == "s"
    assert json.loads(got[1][1])["factIds"] == ["new-0"]
    assert "violated" in json.loads(got[2][1])["error"]
    assert got[3][1] == b""
    assert json.loads(got[4][1]) == {"error": "no such route"}
    assert "empty" in json.loads(got[5][1])["error"]
    assert got[7][1] == b""
    assert json.loads(got[8][1]) == []
    # one connection, and one socket write per response
    assert len(writes) == 1 and len(writes[0]) == len(script)


def test_tcp_nodelay_is_set_on_accepted_sockets(server):
    conn = _conn(server)
    assert _call(conn, "GET", "/v1/info")[0] == 200
    conn.close()
    assert server.httpd.nodelay != 0


def test_replay_sends_one_write_per_batch(server, stub, writes):
    stub.create("r")
    stub.replay_batches = [[fact(1), fact(2)], [], [fact(3)], [fact(4), fact(5), fact(6)]]
    code, body = _call(_conn(server), "GET", "/v1/stores/r/facts/replay")
    assert code == 200
    assert [f["id"] for f in json.loads(body)] == ["f1", "f2", "f3", "f4", "f5", "f6"]
    # headers ride with the first batch; the empty batch writes nothing;
    # the closing bracket is the final flush
    sent = writes[-1]
    assert len(sent) == 3 + 1
    assert sent[0].startswith(b"HTTP/1.1 200") and b'"id": "f2"' in sent[0]
    assert sent[1].startswith(b',{"id": "f3"') and sent[-1] == b"]"


@pytest.mark.parametrize("batches", [[], [[], []]])
def test_replay_of_zero_facts_is_an_empty_array(server, stub, writes, batches):
    stub.create("r")
    stub.replay_batches = batches
    code, body = _call(_conn(server), "GET", "/v1/stores/r/facts/replay")
    assert (code, body) == (200, b"[]")
    assert len(writes[-1]) == 1


def test_sse_delivers_a_batch_in_order_in_one_write(server, stub, writes):
    stub.create("e")
    stub.subscribe_batches = [[fact(1), fact(2), fact(3)], [], [fact(4)]]
    conn = _conn(server)
    conn.request("GET", "/v1/stores/e/facts/subscribe")
    resp = conn.getresponse()
    assert resp.status == 200
    assert resp.headers["Content-Type"] == "text/event-stream"
    events = []
    while len(events) < 5:
        line = resp.readline()
        if line.startswith((b"data: ", b": ")):
            events.append(line.strip())
    conn.close()
    ids = [json.loads(e[len(b"data: "):])["id"] for e in events if e.startswith(b"data: ")]
    assert ids == ["f1", "f2", "f3", "f4"]
    assert events[3] == b": ping"
    # headers at once, then one write per batch (the ping included)
    sent = writes[-1]
    assert len(sent) == 1 + 3
    assert sent[0].startswith(b"HTTP/1.1 200") and sent[0].endswith(b"\r\n\r\n")
    assert sent[1].count(b"data: ") == 3


def test_unknown_cursor_404_names_the_fact_on_replay_and_sse(server, stub, monkeypatch):
    """Replay and subscribe answer an unknown ``after`` cursor with one
    body: the error and the factId it names."""
    stub.create("c")
    monkeypatch.setattr(stub, "replay", lambda store, start: FactIdNotFound(start.fact_id))
    monkeypatch.setattr(
        stub, "subscribe", lambda store, start, **_kw: FactIdNotFound(start.fact_id)
    )
    conn = _conn(server)
    replay = _call(conn, "GET", "/v1/stores/c/facts/replay?after=nope")
    sse = _call(conn, "GET", "/v1/stores/c/facts/subscribe?after=nope")
    assert replay == sse
    assert replay[0] == 404
    assert json.loads(replay[1]) == {"error": "fact id not found", "factId": "nope"}


def test_sse_client_hang_up_ends_the_handler_quietly(server, stub, capsys):
    stub.create("e")
    stub.subscribe_batches = [[fact(1)]]
    done = threading.Event()
    shutdown_request = server.httpd.shutdown_request

    def finished(request):
        shutdown_request(request)
        done.set()

    server.httpd.shutdown_request = finished
    conn = _conn(server)
    conn.request("GET", "/v1/stores/e/facts/subscribe")
    resp = conn.getresponse()
    assert resp.readline().startswith(b"data: ")
    resp.close()  # the response, not the connection, owns the socket now
    # the server learns of the hang-up only by writing: the first write
    # after it draws a reset, a later one fails
    for i in range(200):
        stub.feed.put([fact(2 + i)])
        if done.wait(0.05):
            break
    assert done.is_set()
    err = capsys.readouterr().err
    assert "Traceback" not in err and "Exception occurred" not in err


def test_unexpected_engine_error_is_a_500(server, stub, capsys):
    stub.create("x")
    stub.fail = RuntimeError("engine blew up")
    conn = _conn(server)
    code, body = _call(conn, "GET", "/v1/stores/x/facts/f0")
    assert code == 500
    assert json.loads(body) == {"error": "internal server error", "exception": "RuntimeError"}
    # the connection survives, and the error reached the log
    stub.fail = None
    assert _call(conn, "GET", "/v1/stores/x/facts/f0")[0] == 200
    conn.close()
    err = capsys.readouterr().err
    assert "GET /v1/stores/x/facts/f0 failed: RuntimeError('engine blew up')" in err
    assert "/v1/stores/x/facts/f0 HTTP/1.1\" 200" not in err  # no access log


def test_replay_error_mid_stream_is_logged_and_truncates(server, stub, capsys):
    stub.create("r")

    def broken(store, start):
        yield [fact(1)]
        raise RuntimeError("lost a file")

    stub.replay = broken
    code, body = _call(_conn(server), "GET", "/v1/stores/r/facts/replay")
    assert code == 200 and body.startswith(b"[") and not body.endswith(b"]")
    assert "replay stream aborted mid-body: RuntimeError('lost a file')" in capsys.readouterr().err


def _raw_request(server, head: bytes) -> socket.socket:
    s = socket.create_connection(("127.0.0.1", server.port), timeout=30)
    s.sendall(head)
    return s


def test_expect_100_continue_is_answered_before_the_body(server):
    body = json.dumps({"name": "c"}).encode()
    s = _raw_request(
        server,
        b"POST /v1/stores HTTP/1.1\r\nHost: x\r\nExpect: 100-continue\r\n"
        b"Content-Length: %d\r\n\r\n" % len(body),
    )
    assert s.recv(64).startswith(b"HTTP/1.1 100 Continue\r\n\r\n")
    s.sendall(body)
    assert s.recv(4096).startswith(b"HTTP/1.1 201")
    s.close()


def test_bad_content_length_is_a_400_and_closes(server):
    s = _raw_request(server, b"POST /v1/stores HTTP/1.1\r\nHost: x\r\nContent-Length: -3\r\n\r\n")
    data = b""
    while chunk := s.recv(4096):
        data += chunk
    s.close()
    assert data.startswith(b"HTTP/1.1 400") and b"Connection: close" in data
