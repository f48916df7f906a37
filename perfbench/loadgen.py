"""Load generator: closed-loop REST clients, the SSE tail subscriber, and
the checks on every response.

Each client owns one keep-alive connection, as k6 does, and sends its
next request only after the previous response is fully read. Latency
runs from the send until the last byte of the response.
"""

from __future__ import annotations

import base64
import http.client
import json
import socket
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from workload import STORE, AppendRequest, ReadModel, ReadRequest


@dataclass
class Sample:
    kind: str
    sent: float  # perf_counter at send
    ms: float
    ok: bool


@dataclass
class ClientLog:
    samples: list[Sample] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    sent: int = 0


def _request(conn: http.client.HTTPConnection, method: str, path: str, body: bytes | None):
    headers = {"Content-Type": "application/json"} if body is not None else {}
    conn.request(method, path, body=body, headers=headers)
    resp = conn.getresponse()
    return resp.status, resp.read()


class AppendChecker:
    """Checks each append against its mix slot and keeps what the tail
    subscriber must later deliver."""

    def __init__(self):
        self.lock = threading.Lock()
        self.appended: dict[str, str] = {}  # fact id -> subject
        self.sent_at: dict[str, float] = {}  # subject -> perf_counter at send

    def check(self, req: AppendRequest, status: int, body: bytes, sent: float) -> str | None:
        if req.kind == "conflict":
            return None if status == 409 else f"conflict append got {status}"
        if req.kind == "retry":
            return None if status == 200 and body == b"" else f"retry got {status} {body[:80]!r}"
        if status != 200:
            return f"fresh append got {status} {body[:80]!r}"
        ids = json.loads(body).get("factIds") or []
        if len(ids) != 1:
            return f"fresh append returned {len(ids)} fact ids"
        with self.lock:
            self.appended[ids[0]] = req.subject
            self.sent_at[req.subject] = sent
        return None


def check_read(req: ReadRequest, status: int, body: bytes, model: ReadModel) -> str | None:
    if status != 200:
        return f"{req.kind} got {status} {body[:80]!r}"
    got = json.loads(body)
    if req.kind == "by_id":
        k = int(req.expect[0].split(":", 1)[1])
        want = model.fact(k)
        payload = json.loads(base64.b64decode(got["payload"]["data"]))
        at = datetime.fromisoformat(got["appendedAt"])
        if at.tzinfo is None:
            at = at.replace(tzinfo=timezone.utc)
        seen = {
            "id": got["id"], "type": got["type"], "subject": got["subject"],
            "tags": got["tags"], "payload": payload, "appendedAt": at,
        }
        return None if seen == want else f"by_id {k}: {seen} != {want}"
    ids = tuple(f["id"] for f in got)
    if ids != req.expect:
        return f"{req.kind} {req.path}: {len(ids)} ids, want {len(req.expect)} (first {ids[:3]} vs {req.expect[:3]})"
    return None


def run_clients(port: int, streams: list, check, until: float, log_from: float) -> list[ClientLog]:
    """Run one closed-loop client per request stream until ``until``
    (perf_counter). Samples sent before ``log_from`` are checked but not
    kept as samples."""
    logs = [ClientLog() for _ in streams]

    def client(stream, log: ClientLog) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            # the deadline is tested before a request is taken, so a
            # stream shared by two calls loses no request between them
            while time.perf_counter() < until:
                req = next(stream, None)
                if req is None:
                    return
                t0 = time.perf_counter()
                log.sent += 1
                try:
                    status, body = _request(conn, req.method, req.path, req.body)
                    err = check(req, status, body, t0)
                except Exception as exc:  # noqa: BLE001 — any failure, a malformed body too, is a failed operation
                    conn.close()
                    err = f"{req.kind}: {exc!r}"
                ms = (time.perf_counter() - t0) * 1e3
                if err is not None:
                    log.errors.append(err)
                if t0 >= log_from:
                    log.samples.append(Sample(req.kind, t0, ms, err is None))
        finally:
            conn.close()

    threads = [threading.Thread(target=client, args=(s, log)) for s, log in zip(streams, logs)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return logs


class TailSubscriber:
    """Holds ``subscribe?start=end&watch=1`` and records every delivered
    fact with its receipt time."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.conn.request("GET", f"/v1/stores/{STORE}/facts/subscribe?start=end&watch=1")
        # the connection hands its socket to the close-delimited response
        self.sock = self.conn.sock
        resp = self.conn.getresponse()  # headers arrive once the start is pinned
        if resp.status != 200:
            raise RuntimeError(f"subscribe got {resp.status}")
        self.resp = resp
        self.received: list[tuple[float, str, int, str]] = []  # (t, id, position, subject)
        self.error: str | None = None
        self._stop = False
        self.thread = threading.Thread(target=self._read, daemon=True)
        self.thread.start()

    def _read(self) -> None:
        try:
            while True:
                line = self.resp.readline()
                if not line:
                    return
                if line.startswith(b"data: "):
                    f = json.loads(line[6:])
                    self.received.append((time.perf_counter(), f["id"], f["position"], f["subject"]))
        except (OSError, ValueError, http.client.HTTPException) as exc:
            if not self._stop:
                self.error = repr(exc)

    def wait_for(self, n: int, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        while len(self.received) < n and time.monotonic() < deadline and self.thread.is_alive():
            time.sleep(0.01)

    def close(self) -> None:
        self._stop = True
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        self.thread.join(timeout=10)
        self.resp.close()
        self.sock.close()

    def check(self, appended: dict[str, str]) -> list[str]:
        """Every appended fact exactly once, in position order."""
        errs = []
        if self.error:
            errs.append(f"subscriber failed: {self.error}")
        ids = [r[1] for r in self.received]
        if len(set(ids)) != len(ids):
            errs.append(f"subscriber got {len(ids) - len(set(ids))} duplicate facts")
        if set(ids) != set(appended):
            errs.append(
                f"subscriber got {len(set(ids) - set(appended))} unexpected and missed "
                f"{len(set(appended) - set(ids))} facts"
            )
        pos = [r[2] for r in self.received]
        if any(b <= a for a, b in zip(pos, pos[1:])):
            errs.append("subscriber delivered facts out of position order")
        return errs
