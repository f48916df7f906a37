"""gRPC-parity RPC adapter: the full ``factstore-v1.proto`` service
surface (StoreService + FactService + InfoService,
factstore-proto/factstore-v1.proto:118-238 and the message catalog
above it) as transport-agnostic handlers plus a local wire channel.

ENVIRONMENT NOTE: ``grpcio``/``protobuf`` are not importable in this
container and package installs are prohibited (docs/PARITY.md records
the block). This module therefore implements the layer a gRPC binding
would sit on top of:

- **Messages** are dicts in the proto3 *canonical JSON mapping* of the
  exact proto schema (lowerCamelCase fields, oneof as exactly-one-key,
  base64 ``bytes``, RFC3339 timestamps, enums by name). A real
  ``grpc`` binding is then mechanical: ``json_format.ParseDict`` /
  ``MessageToDict`` round-trips these dicts through the generated
  classes unchanged.
- **Service handlers** (``FactStoreRpcService``) mirror each RPC's
  outcome oneofs 1:1, including the streaming envelope semantics:
  pre-stream errors are delivered as the first and only
  ``StreamFactsResponse`` message, after which the stream completes
  (proto comment on ``SubscribeFacts``).
- **Wire channel** (``RpcServer``/``RpcChannel``): length-prefixed JSON
  frames over localhost TCP — one connection per call, unary = one
  response frame, server-streaming = N frames + an end frame, errors as
  a status frame (the gRPC status analog). The wire tests in
  tests/test_rpc_service.py mirror the reference's
  GrpcFactServiceTest/GrpcStoreServiceTest/GrpcInfoServiceTest matrix.

If ``grpcio`` becomes available, bind by generating stubs from the
reference proto and delegating each method to
``FactStoreRpcService.call`` — no engine-facing code changes.
"""

from __future__ import annotations

import base64
import json
import socket
import socketserver
import struct
import threading
from datetime import datetime
from typing import Iterator, Optional

from .model import (
    AllConditions,
    ExpectedLastFact,
    NoCondition,
    ReadDirection,
    ReplayStart,
    StartPosition,
    TagOnlyQueryItem,
    TagQuery,
    TagQueryBased,
    TagTypeItem,
    TimeRange,
    parse_instant,
)
from .results import (
    AlreadyApplied,
    Appended,
    AppendConditionViolated,
    DoesNotExist,
    Exists,
    FactFound,
    FactNotFound,
    FactsFound,
    StoreCreated,
    StoreNameAlreadyExists,
    StoreNotFound,
    StoreRemoved,
)


class RpcError(Exception):
    """gRPC status analog for request-shape errors (INVALID_ARGUMENT …).
    Business outcomes are NEVER errors — they are typed oneof data,
    matching the proto's outcome pattern."""

    def __init__(self, code: str, message: str):
        super().__init__(message)
        self.code = code
        self.message = message


# -- proto3-JSON encoding helpers -------------------------------------------


def _ts(dt: datetime) -> str:
    return dt.isoformat().replace("+00:00", "Z")


def _fact_msg(f) -> dict:
    """proto ``Fact`` (factstore-v1.proto:12-20) — note: no position
    field on the wire, exactly like the reference."""
    payload: dict = {"data": base64.b64encode(f.payload.data).decode()}
    if f.payload.format is not None:
        payload["format"] = f.payload.format
    if f.payload.schema_ref is not None:
        payload["schemaRef"] = f.payload.schema_ref
    return {
        "id": f.id,
        "type": f.type,
        "subject": f.subject,
        "appendedAt": _ts(f.appended_at),
        "payload": payload,
        "metadata": dict(f.metadata),
        "tags": dict(f.tags),
    }


def _store_info(m) -> dict:
    return {"id": m.id, "name": m.name, "createdAt": _ts(m.created_at)}


def _parse_payload(d: Optional[dict]):
    from .model import FactPayload

    d = d or {}
    return FactPayload(
        data=base64.b64decode(d.get("data", "")),
        format=d.get("format"),
        schema_ref=d.get("schemaRef"),
    )


def _parse_fact_input(d: dict):
    from .model import FactInput

    try:
        return FactInput(
            type=d["type"],
            subject=d["subject"],
            payload=_parse_payload(d.get("payload")),
            metadata=dict(d.get("metadata") or {}),
            tags=dict(d.get("tags") or {}),
        )
    except (KeyError, ValueError) as e:
        raise RpcError("INVALID_ARGUMENT", f"bad FactInput: {e}")


def _parse_tag_query(d: dict) -> TagQuery:
    """proto TagQuery: items[], each a oneof {tagOnly, tagType}."""
    items = []
    for item in d.get("items") or []:
        if "tagOnly" in item:
            items.append(TagOnlyQueryItem(dict(item["tagOnly"].get("tags") or {})))
        elif "tagType" in item:
            tt = item["tagType"]
            items.append(
                TagTypeItem(set(tt.get("types") or []), dict(tt.get("tags") or {}))
            )
        else:
            raise RpcError("INVALID_ARGUMENT", f"TagQueryItem needs tagOnly|tagType: {item}")
    return TagQuery(items)


def _parse_condition(d: Optional[dict]):
    if not d:
        return NoCondition()
    if "expectedLastFact" in d:
        e = d["expectedLastFact"]
        try:
            subject = e["subject"]
        except (KeyError, TypeError):
            # request-shape error, not a server fault: without the wrap
            # the KeyError escapes to the generic handler and the
            # client sees INTERNAL for a malformed condition
            raise RpcError(
                "INVALID_ARGUMENT", "expectedLastFact requires subject"
            )
        return ExpectedLastFact(subject, e.get("expectedLastFactId"))
    if "tagQueryBased" in d:
        t = d["tagQueryBased"]
        return TagQueryBased(
            _parse_tag_query(t.get("failIfEventsMatch") or {}),
            t.get("afterFactId"),
        )
    if "all" in d:
        return AllConditions(
            [_parse_condition(c) for c in d["all"].get("conditions") or []]
        )
    raise RpcError("INVALID_ARGUMENT", f"AppendCondition needs a kind: {d}")


def _parse_direction(raw) -> ReadDirection:
    """proto3 JSON enums arrive by name ("BACKWARD") or number (1)."""
    if raw in (None, "FORWARD", 0):
        return ReadDirection.FORWARD
    if raw in ("BACKWARD", 1):
        return ReadDirection.BACKWARD
    raise RpcError("INVALID_ARGUMENT", f"bad ReadDirection: {raw!r}")


def _parse_limit(raw) -> Optional[int]:
    if raw is None:
        return None
    n = int(raw)
    if n == 0:
        # proto3 cannot distinguish an unset int32 from 0: a generated
        # stub (or MessageToDict with default printing) delivers 0 for
        # "no limit", so 0 means unbounded — same as the HTTP layer.
        # The spec's Limit must be > 0 (Limit.kt:12-34); explicit
        # negatives are still a caller error.
        return None
    if n < 0:
        raise RpcError("INVALID_ARGUMENT", "limit must be > 0")
    return n


# -- the service layer -------------------------------------------------------


class FactStoreRpcService:
    """All three proto services over one engine instance. ``call`` for
    unary methods, ``call_stream`` for the two server-streaming ones."""

    UNARY = {
        ("StoreService", "CreateStore"),
        ("StoreService", "GetStore"),
        ("StoreService", "ListStores"),
        ("StoreService", "DeleteStore"),
        ("StoreService", "StoreExists"),
        ("FactService", "AppendFacts"),
        ("FactService", "GetFact"),
        ("FactService", "FactExists"),
        ("FactService", "FindFactsBySubject"),
        ("FactService", "FindFactsByTags"),
        ("FactService", "QueryFacts"),
        ("FactService", "FindFactsInTimeRange"),
        ("InfoService", "GetServerInfo"),
    }
    STREAMING = {("FactService", "SubscribeFacts"), ("FactService", "ReplayFacts")}

    def __init__(self, fact_store, app: str = "factstore-spark", version: str = "1.0"):
        self.fs = fact_store
        self.app = app
        self.version = version

    def call(self, service: str, method: str, request: dict) -> dict:
        if (service, method) in self.STREAMING:
            raise RpcError("INVALID_ARGUMENT", f"{method} is server-streaming")
        if (service, method) not in self.UNARY:
            raise RpcError("UNIMPLEMENTED", f"{service}/{method}")
        try:
            return getattr(self, f"_{method}")(request)
        except RpcError:
            raise
        except ValueError as e:
            # engine value-object validation (empty tag sets, bad names,
            # degenerate ranges) = INVALID_ARGUMENT, like the reference's
            # grpc interceptor mapping
            raise RpcError("INVALID_ARGUMENT", str(e))

    def call_stream(self, service: str, method: str, request: dict) -> Iterator[dict]:
        if (service, method) not in self.STREAMING:
            raise RpcError("UNIMPLEMENTED", f"{service}/{method} is not streaming")
        return getattr(self, f"_{method}")(request)

    # -- StoreService ------------------------------------------------------

    def _CreateStore(self, req: dict) -> dict:
        try:
            res = self.fs.create(req["name"])
        except ValueError as e:
            raise RpcError("INVALID_ARGUMENT", str(e))
        except KeyError:
            raise RpcError("INVALID_ARGUMENT", "name is required")
        if isinstance(res, StoreCreated):
            return {"created": {"id": res.metadata.id}}
        assert isinstance(res, StoreNameAlreadyExists)
        return {"nameAlreadyExists": {}}

    def _GetStore(self, req: dict) -> dict:
        m = self.fs.find_by_name(req.get("name", ""))
        if m is None:
            return {"notFound": {"storeName": req.get("name", "")}}
        return {"found": {"store": _store_info(m)}}

    def _ListStores(self, req: dict) -> dict:
        return {"stores": [_store_info(m) for m in self.fs.list_all()]}

    def _DeleteStore(self, req: dict) -> dict:
        res = self.fs.remove(req.get("name", ""))
        if isinstance(res, StoreRemoved):
            return {"deleted": {}}
        return {"notFound": {"storeName": req.get("name", "")}}

    def _StoreExists(self, req: dict) -> dict:
        return (
            {"present": {}}
            if self.fs.exists_by_name(req.get("name", ""))
            else {"absent": {}}
        )

    # -- FactService -------------------------------------------------------

    def _AppendFacts(self, req: dict) -> dict:
        facts = [_parse_fact_input(d) for d in req.get("facts") or []]
        if not facts:
            raise RpcError("INVALID_ARGUMENT", "facts must be non-empty")
        res = self.fs.append(
            req.get("storeName", ""),
            facts,
            condition=_parse_condition(req.get("condition")),
            idempotency_key=req.get("idempotencyKey"),
        )
        if isinstance(res, Appended):
            return {
                "appended": {
                    "factIds": list(res.fact_ids),
                    "appendedAt": _ts(res.appended_at),
                }
            }
        if isinstance(res, AlreadyApplied):
            return {"alreadyApplied": {}}
        if isinstance(res, AppendConditionViolated):
            return {"conditionViolated": {}}
        assert isinstance(res, StoreNotFound)
        return {"storeNotFound": {"storeName": res.name}}

    def _GetFact(self, req: dict) -> dict:
        res = self.fs.find_by_id(req.get("storeName", ""), req.get("factId", ""))
        if isinstance(res, FactFound):
            return {"found": {"fact": _fact_msg(res.fact)}}
        if isinstance(res, FactNotFound):
            return {"notFound": {}}
        assert isinstance(res, StoreNotFound)
        return {"storeNotFound": {"storeName": res.name}}

    def _FactExists(self, req: dict) -> dict:
        res = self.fs.exists_by_id(req.get("storeName", ""), req.get("factId", ""))
        if isinstance(res, Exists):
            return {"present": {}}
        if isinstance(res, DoesNotExist):
            return {"absent": {}}
        assert isinstance(res, StoreNotFound)
        return {"storeNotFound": {"storeName": res.name}}

    def _facts_outcome(self, res) -> dict:
        if isinstance(res, FactsFound):
            return {"found": {"facts": [_fact_msg(f) for f in res.facts]}}
        assert isinstance(res, StoreNotFound)
        return {"storeNotFound": {"storeName": res.name}}

    def _FindFactsBySubject(self, req: dict) -> dict:
        return self._facts_outcome(
            self.fs.find_by_subject(
                req.get("storeName", ""),
                req.get("subject", ""),
                limit=_parse_limit(req.get("limit")),
                direction=_parse_direction(req.get("direction")),
            )
        )

    def _FindFactsByTags(self, req: dict) -> dict:
        return self._facts_outcome(
            self.fs.find_by_tags(
                req.get("storeName", ""),
                dict(req.get("tags") or {}),
                limit=_parse_limit(req.get("limit")),
                direction=_parse_direction(req.get("direction")),
            )
        )

    def _QueryFacts(self, req: dict) -> dict:
        return self._facts_outcome(
            self.fs.find_by_tag_query(
                req.get("storeName", ""), _parse_tag_query(req.get("query") or {})
            )
        )

    def _FindFactsInTimeRange(self, req: dict) -> dict:
        try:
            rng = TimeRange(
                start=parse_instant(req.get("from")),
                end=parse_instant(req.get("to")),
            )
        except (ValueError, TypeError) as e:
            # TypeError: mixed aware/naive from/to bounds — a malformed
            # request, same INVALID_ARGUMENT class as a bad format
            raise RpcError("INVALID_ARGUMENT", str(e))
        return self._facts_outcome(
            self.fs.find_in_time_range(
                req.get("storeName", ""),
                rng,
                limit=_parse_limit(req.get("limit")),
                direction=_parse_direction(req.get("direction")),
            )
        )

    def _GetServerInfo(self, req: dict) -> dict:
        return {
            "app": self.app,
            "version": self.version,
            # proto3 canonical JSON renders `string storage_backend = 3`
            # as lowerCamelCase — json_format.ParseDict on the generated
            # message would drop a snake_case key.
            "storageBackend": "spark-parquet-" + self.fs.commit_backend,
        }

    # -- streaming ---------------------------------------------------------

    def _SubscribeFacts(self, req: dict) -> Iterator[dict]:
        if req.get("fromEnd"):
            start = StartPosition.End()
        elif "afterFactId" in req:
            start = StartPosition.After(req["afterFactId"])
        else:
            start = StartPosition.Beginning()
        # keepalive_every: a quiet store yields an EMPTY batch that the
        # wire layer writes as an empty frame — the only way a dead
        # client socket ever surfaces on a quiet stream (same leak
        # fix as the SSE ping in server.py). "watch": true opts into
        # the change-token tail wakeup (single-digit-ms idle latency).
        res = self.fs.subscribe(
            req.get("storeName", ""), start, keepalive_every=10.0,
            watch=bool(req.get("watch", False)),
        )
        yield from self._stream_outcomes(res)

    def _ReplayFacts(self, req: dict) -> Iterator[dict]:
        if "afterFactId" in req:
            start = ReplayStart.After(req["afterFactId"])
        else:
            start = ReplayStart.Beginning()
        res = self.fs.replay(req.get("storeName", ""), start)
        yield from self._stream_outcomes(res)

    def _stream_outcomes(self, res) -> Iterator[dict]:
        from .results import FactIdNotFound

        # Pre-stream errors: first and only message, then complete
        # (proto comment on SubscribeFacts).
        if isinstance(res, StoreNotFound):
            yield {"storeNotFound": {"storeName": res.name}}
            return
        if isinstance(res, FactIdNotFound):
            yield {"afterFactNotFound": {}}
            return
        for batch in res:
            yield {"batch": {"facts": [_fact_msg(f) for f in batch]}}


# -- local wire channel (length-prefixed JSON frames over TCP) ---------------


def _send_frame(sock: socket.socket, obj: dict) -> None:
    data = json.dumps(obj).encode()
    sock.sendall(struct.pack(">I", len(data)) + data)


def _recv_frame(sock: socket.socket) -> Optional[dict]:
    header = _recv_exact(sock, 4)
    if header is None:
        return None
    (n,) = struct.unpack(">I", header)
    body = _recv_exact(sock, n)
    if body is None:
        return None
    return json.loads(body)


def _recv_exact(sock: socket.socket, n: int) -> Optional[bytes]:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


def _nodelay(sock: socket.socket) -> socket.socket:
    # Each frame is one sendall; with Nagle on, a frame that follows
    # another (a stream's next batch, its end frame) would wait for the
    # peer's delayed ACK of the first.
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, True)
    return sock


class _Handler(socketserver.BaseRequestHandler):
    def setup(self) -> None:
        _nodelay(self.request)

    def handle(self) -> None:
        svc: FactStoreRpcService = self.server.rpc_service  # type: ignore[attr-defined]
        try:
            frame = _recv_frame(self.request)
            if frame is None:
                return
            service, method = frame["service"], frame["method"]
            request = frame.get("request") or {}
            if (service, method) in svc.STREAMING:
                for item in svc.call_stream(service, method, request):
                    _send_frame(self.request, {"response": item})
                _send_frame(self.request, {"end": True})
            else:
                _send_frame(self.request, {"response": svc.call(service, method, request)})
        except RpcError as e:
            try:
                _send_frame(self.request, {"error": {"code": e.code, "message": e.message}})
            except OSError:
                pass
        except (BrokenPipeError, ConnectionResetError):
            pass  # client hung up mid-stream (normal for subscriptions)
        except Exception as e:  # INTERNAL analog
            try:
                _send_frame(self.request, {"error": {"code": "INTERNAL", "message": str(e)}})
            except OSError:
                pass


class RpcServer:
    """Localhost wire server for the RPC service. One connection per
    call; server-streaming writes frames as the generator produces
    them, so a live subscription flows until the client disconnects."""

    def __init__(self, fact_store, host: str = "127.0.0.1", port: int = 0):
        self.service = FactStoreRpcService(fact_store)

        class _Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = _Server((host, port), _Handler)
        self._server.rpc_service = self.service  # type: ignore[attr-defined]
        self.host, self.port = self._server.server_address
        self._thread: Optional[threading.Thread] = None

    def start(self) -> "RpcServer":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


class RpcChannel:
    """Minimal client for the wire protocol (the test double for a
    generated gRPC stub)."""

    def __init__(self, host: str, port: int):
        self.host, self.port = host, port

    def _connect(self) -> socket.socket:
        return _nodelay(socket.create_connection((self.host, self.port)))

    def unary(self, service: str, method: str, request: dict) -> dict:
        with self._connect() as s:
            _send_frame(s, {"service": service, "method": method, "request": request})
            frame = _recv_frame(s)
        if frame is None:
            raise RpcError("UNAVAILABLE", "connection closed")
        if "error" in frame:
            raise RpcError(frame["error"]["code"], frame["error"]["message"])
        return frame["response"]

    def stream(self, service: str, method: str, request: dict) -> Iterator[dict]:
        s = self._connect()
        try:
            _send_frame(s, {"service": service, "method": method, "request": request})
            while True:
                frame = _recv_frame(s)
                if frame is None or frame.get("end"):
                    return
                if "error" in frame:
                    raise RpcError(frame["error"]["code"], frame["error"]["message"])
                yield frame["response"]
        finally:
            s.close()
