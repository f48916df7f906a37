"""Embedded REST adapter — the reference's HTTP surface
(factstore-server/.../http/) over the Spark engine, stdlib-only.

Wire contract mirrors api.kt / the resource paths:

    POST   /v1/stores                          {"name": ...}
    GET    /v1/stores
    GET    /v1/stores/{name}
    DELETE /v1/stores/{name}
    POST   /v1/stores/{s}/facts                AppendHttpRequest (api.kt:12-17;
                                               polymorphic conditions api.kt:35-75,
                                               payload.data base64)
    GET    /v1/stores/{s}/facts/{factId}
    POST   /v1/stores/{s}/facts/query          {"queryItems": [...]} (tagOnly/tagType)
    GET    /v1/stores/{s}/subjects/{subj}/facts?limit=&direction=
    GET    /v1/stores/{s}/facts?from=&to=&tag=k=v&limit=&direction=
    GET    /v1/stores/{s}/facts/replay?after=
    GET    /v1/stores/{s}/facts/subscribe?start=beginning|end&after=&watch=1 (SSE)

Result mapping keeps the zero-exception policy observable: expected
outcomes are status codes + JSON bodies (409 for NameAlreadyExists and
AppendConditionViolated; 200 empty body for AlreadyApplied, matching
extensions.kt:24-29; 404 for StoreNotFound/FactNotFound). A malformed
request is a 400; any other error before the response starts is a 500
with a JSON body, and its traceback goes to stderr through ``log_error``
(there is no access log).

Transport: every accepted socket has TCP_NODELAY set, and a response's
status line, headers and body (up to the 64 KiB write buffer) leave in
one socket write; the replay and SSE streams write once per engine
batch. Sent as two small segments with Nagle's algorithm on, a response
body on a kept-alive connection waits for the client's delayed ACK
(~40 ms on Linux) whatever the server's own work. On the benchmark's
``dcb_append`` workload (3 keep-alive appenders and an SSE tail, 20 s
runs, 4-core shared host, medians of eleven seeds) the one-write,
no-Nagle transport took append p50 from 47.9 to 21.3 ms, p90 from 51.9
to 28.9 ms and throughput from 64 to 137 appends/s."""

from __future__ import annotations

import base64
import json
import threading
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from .model import (
    AllConditions,
    ExpectedLastFact,
    FactInput,
    FactPayload,
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
    FactFound,
    FactIdNotFound,
    FactsFound,
    StoreCreated,
    StoreNameAlreadyExists,
    StoreNotFound,
    StoreRemoved,
)


EXPLORER_HTML = """<!doctype html>
<html><head><meta charset="utf-8"><title>factstore explorer</title>
<style>
:root{--bg:#fff;--fg:#111;--line:#ddd;--panel:#f5f5f5;--sel:#eef}
@media (prefers-color-scheme: dark){
 :root{--bg:#16181d;--fg:#e8e8e8;--line:#3a3d44;--panel:#22252b;--sel:#2b3040}}
body{font:14px/1.45 system-ui,sans-serif;margin:0;display:flex;height:100vh;
 background:var(--bg);color:var(--fg)}
#side{width:230px;border-right:1px solid var(--line);padding:12px;overflow:auto}
#main{flex:1;padding:12px;overflow:auto}
h1{font-size:16px;margin:0 0 10px}
li{cursor:pointer;padding:3px 6px;border-radius:4px;list-style:none;display:flex;
 justify-content:space-between;align-items:center}
li:hover,li.sel{background:var(--sel)}
li .del{visibility:hidden;color:#c33;border:none;background:none;cursor:pointer}
li:hover .del{visibility:visible}
ul{padding:0;margin:0}
table{border-collapse:collapse;width:100%;margin-top:10px;font-size:12px}
td,th{border:1px solid var(--line);padding:4px 6px;text-align:left;vertical-align:top}
th{background:var(--panel)}
input,select,button{font:inherit;padding:3px 6px;margin-right:6px;
 background:var(--bg);color:var(--fg);border:1px solid var(--line);border-radius:4px}
#live{color:#0a0}
#detail{white-space:pre-wrap;background:var(--panel);padding:8px;border-radius:4px;
 margin-top:10px;display:none;font:12px/1.4 ui-monospace,monospace}
tr{cursor:pointer}
code{background:var(--panel);padding:1px 4px;border-radius:3px}
#range{display:none}
</style></head><body>
<div id="side"><h1>Stores</h1><ul id="stores"></ul>
 <p><input id="newname" placeholder="new store" size="12">
 <button onclick="createStore()">Create</button></p></div>
<div id="main">
  <h1 id="title">factstore explorer</h1>
  <div>
    <select id="mode" onchange="modeChanged()">
      <option value="subject">by subject</option>
      <option value="tags">by tags (k=v,k2=v2)</option>
      <option value="time">by time range</option>
      <option value="replay">replay</option>
    </select>
    <input id="q" placeholder="subject or tags">
    <span id="range"><input id="from" placeholder="from ISO" size="17">
      <input id="to" placeholder="to ISO" size="17"></span>
    <input id="limit" placeholder="limit" size="4">
    <select id="dir"><option value="">forward</option>
      <option value="backward">backward</option></select>
    <button onclick="run()">Find</button>
    <button onclick="tail()">Tail (SSE)</button> <span id="live"></span>
  </div>
  <table id="out"><thead><tr><th>position</th><th>type</th><th>subject</th>
  <th>appendedAt</th><th>tags</th><th>id</th></tr></thead><tbody></tbody></table>
  <div id="detail"></div>
</div>
<script>
let store=null,es=null;
async function loadStores(){
  const r=await fetch('/api/v1/stores');const stores=await r.json();
  const ul=document.getElementById('stores');ul.innerHTML='';
  for(const s of stores){const li=document.createElement('li');
    const span=document.createElement('span');span.textContent=s.name;
    const del=document.createElement('button');del.textContent='\u2715';del.className='del';
    del.title='delete store';
    del.onclick=async e=>{e.stopPropagation();
      if(!confirm('Delete store \''+s.name+'\' and every fact in it?'))return;
      await fetch('/api/v1/stores/'+encodeURIComponent(s.name),{method:'DELETE'});
      if(store===s.name){store=null;document.getElementById('title').textContent='factstore explorer';}
      loadStores();};
    li.appendChild(span);li.appendChild(del);
    li.onclick=()=>{store=s.name;document.getElementById('title').textContent=s.name;
      [...ul.children].forEach(c=>c.classList.remove('sel'));li.classList.add('sel');run();};
    ul.appendChild(li);}
}
async function createStore(){
  const name=document.getElementById('newname').value.trim();if(!name)return;
  const r=await fetch('/api/v1/stores',{method:'POST',
    headers:{'Content-Type':'application/json'},body:JSON.stringify({name})});
  if(!r.ok){const b=await r.json().catch(()=>({}));alert(b.error||('HTTP '+r.status));return;}
  document.getElementById('newname').value='';loadStores();
}
function modeChanged(){
  const m=document.getElementById('mode').value;
  document.getElementById('range').style.display=m==='time'?'inline':'none';
  document.getElementById('q').style.display=(m==='time'||m==='replay')?'none':'inline';
}
function render(facts){
  const tb=document.querySelector('#out tbody');tb.innerHTML='';
  for(const f of facts)addRow(f);
}
function addRow(f){
  const tb=document.querySelector('#out tbody');const tr=document.createElement('tr');
  const tags=Object.entries(f.tags||{}).map(([k,v])=>k+'='+v).join(', ');
  for(const v of [f.position,f.type,f.subject,f.appendedAt,tags,f.id]){
    const td=document.createElement('td');td.textContent=v??'';tr.appendChild(td);}
  tr.onclick=()=>showDetail(f);
  tb.appendChild(tr);
}
function showDetail(f){
  const d=document.getElementById('detail');
  let payload='';
  try{payload=atob((f.payload&&f.payload.data)||'');}catch(_){payload='<binary>';}
  d.textContent=JSON.stringify({...f,payloadDecoded:payload},null,2);
  d.style.display='block';
}
async function run(){
  if(!store)return;stopTail();
  document.getElementById('detail').style.display='none';
  const mode=document.getElementById('mode').value;
  const q=document.getElementById('q').value.trim();
  const lim=document.getElementById('limit').value.trim();
  const dir=document.getElementById('dir').value;
  let url;
  if(mode==='subject')url=`/api/v1/stores/${store}/subjects/${encodeURIComponent(q)}/facts`;
  else if(mode==='tags')url=`/api/v1/stores/${store}/facts?`+
    q.split(',').filter(Boolean).map(t=>'tag='+encodeURIComponent(t.trim())).join('&');
  else if(mode==='time'){
    const from=document.getElementById('from').value.trim();
    const to=document.getElementById('to').value.trim();
    const ps=[];if(from)ps.push('from='+encodeURIComponent(from));
    if(to)ps.push('to='+encodeURIComponent(to));
    url=`/api/v1/stores/${store}/facts`+(ps.length?'?'+ps.join('&'):'');
  }
  else url=`/api/v1/stores/${store}/facts/replay`;
  if(lim&&mode!=='replay')url+=(url.includes('?')?'&':'?')+'limit='+lim;
  if(dir&&mode!=='replay')url+=(url.includes('?')?'&':'?')+'direction='+dir;
  const r=await fetch(url);const body=await r.json().catch(()=>({}));
  if(!r.ok){alert(body.error||('HTTP '+r.status));render([]);return;}
  render(Array.isArray(body)?body:[]);
}
function stopTail(){if(es){es.close();es=null;document.getElementById('live').textContent='';}}
function tail(){
  if(!store)return;stopTail();
  document.querySelector('#out tbody').innerHTML='';
  es=new EventSource(`/api/v1/stores/${store}/facts/subscribe`);
  document.getElementById('live').textContent='live';
  es.onmessage=e=>{try{addRow(JSON.parse(e.data));}catch(_){}};
}
modeChanged();loadStores();
</script></body></html>
"""


def _fact_dict(f) -> dict:
    return {
        "id": f.id,
        "type": f.type,
        "subject": f.subject,
        "appendedAt": f.appended_at.isoformat(),
        "position": f.position,
        "payload": {
            "data": base64.b64encode(f.payload.data).decode(),
            "format": f.payload.format,
            "schemaRef": f.payload.schema_ref,
        },
        "metadata": f.metadata,
        "tags": f.tags,
    }


def _parse_condition(d) -> object:
    if d is None:
        return NoCondition()
    kind = d.get("type", "none")
    if kind == "none":
        return NoCondition()
    if kind == "expectedLastFact":
        return ExpectedLastFact(d["subject"], d.get("expectedLastFactId"))
    if kind == "all":
        return AllConditions([_parse_condition(c) for c in d["conditions"]])
    if kind == "tagQueryBased":
        return TagQueryBased(
            _parse_tag_query(d["failIfEventsMatch"]), d.get("after")
        )
    raise ValueError(f"unknown condition type: {kind}")


def _parse_tag_query(d) -> TagQuery:
    items = []
    for item in d["queryItems"]:
        if item.get("type") == "tagType":
            items.append(TagTypeItem(set(item["types"]), item["tags"]))
        else:
            items.append(TagOnlyQueryItem(item["tags"]))
    return TagQuery(items)


def _parse_choice(qs, name: str, choices: tuple[str, ...]) -> str:
    """A query parameter that must be one of ``choices`` (matched
    case-insensitively; absent = the first). Anything else is a 400,
    never a silent default."""
    raw = qs.get(name, [choices[0]])[0]
    if raw.lower() not in choices:
        raise ValueError(f"{name} must be one of {', '.join(choices)}, got {raw!r}")
    return raw.lower()


def _parse_direction(qs) -> ReadDirection:
    if _parse_choice(qs, "direction", ("forward", "backward")) == "backward":
        return ReadDirection.BACKWARD
    return ReadDirection.FORWARD


def _parse_limit(qs):
    """limit <= 0 means unbounded at the HTTP layer — QueryResource.kt:108
    (`if (this != null && this > 0) Limit.of(this) else Limit.None`)."""
    raw = qs.get("limit", [None])[0]
    if raw in (None, ""):
        return None
    n = int(raw)
    return n if n > 0 else None


def _fact_json(f) -> bytes:
    return json.dumps(_fact_dict(f)).encode()


class FactStoreHandler(BaseHTTPRequestHandler):
    fs = None  # injected by serve()
    protocol_version = "HTTP/1.1"
    # Transport (see the module docstring): TCP_NODELAY on every
    # accepted socket, and a buffered wfile, so that the status line,
    # headers and body of a response leave in the one flush
    # handle_one_request does after the route returns. Larger bodies
    # go out as the headers, then the body.
    disable_nagle_algorithm = True
    wbufsize = 64 * 1024

    def log_request(self, code="-", size="-"):
        # No access log. log_error still reaches stderr: the stdlib
        # routes it through log_message, which is left alone.
        pass

    def handle_one_request(self):
        try:
            super().handle_one_request()
        except ConnectionError:
            # The client hung up mid-response (a closed SSE tail, most
            # often). Drop what is still buffered for it along with the
            # stream, instead of failing again on every later flush.
            self.close_connection = True
            self.wfile.raw.close()

    def handle_expect_100(self) -> bool:
        # the interim "100 Continue" must not wait in the buffer for the
        # final response: the client holds the body back until it sees it
        ok = super().handle_expect_100()
        self.wfile.flush()
        return ok

    def parse_request(self) -> bool:
        """Read the whole request body before routing, so every reply —
        a 404 for a POST to an unknown route included — leaves a
        kept-alive connection at the start of the next request."""
        if not super().parse_request():
            return False
        try:
            n = int(self.headers.get("Content-Length") or 0)
        except ValueError:
            n = -1
        if n < 0:
            self.send_error(400, "Bad Content-Length")
            return False
        self.body = self.rfile.read(n)
        return True

    # -- helpers ---------------------------------------------------------

    def _send(self, code: int, content_type: str, data: bytes) -> None:
        self.send_response(code)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _json(self, code: int, body=None) -> None:
        self._send(code, "application/json", b"" if body is None else json.dumps(body).encode())

    def _read_body(self) -> dict:
        return json.loads(self.body or b"{}")

    def _segments(self):
        parsed = urlparse(self.path)
        parts = [unquote(p) for p in parsed.path.split("/") if p]
        if parts and parts[0] == "api":
            parts = parts[1:]
        return parts, parse_qs(parsed.query)

    def _facts_response(self, res) -> None:
        if isinstance(res, StoreNotFound):
            self._json(404, {"error": "store not found", "name": res.name})
        elif isinstance(res, FactsFound):
            self._json(200, [_fact_dict(f) for f in res.facts])
        else:
            self._json(500, {"error": str(res)})

    def _dispatch(self, route) -> None:
        """Shape errors become a 400; any other error (a RuntimeError or
        Py4JJavaError from the engine, an OSError from the disk) a 500,
        never a dropped connection. Nothing is sent before a route
        returns except by the replay and SSE streams, which handle their
        own errors once their headers are out."""
        try:
            route(*self._segments())
        except ConnectionError:
            raise  # the client is gone; there is no one to answer
        except (KeyError, ValueError, TypeError, AttributeError) as e:  # request shape
            self._json(400, {"error": str(e)})
        except Exception as e:  # noqa: BLE001
            self.log_error("%s %s failed: %r\n%s", self.command, self.path, e, traceback.format_exc())
            self._json(500, {"error": "internal server error", "exception": type(e).__name__})

    # -- routing ---------------------------------------------------------

    def do_POST(self):
        self._dispatch(self._post)

    def do_GET(self):
        self._dispatch(self._get)

    def do_DELETE(self):
        self._dispatch(self._delete)

    def _post(self, parts, _qs):
        if parts == ["v1", "stores"]:
            body = self._read_body()
            res = self.fs.create(body["name"])
            if isinstance(res, StoreCreated):
                m = res.metadata
                self._json(201, {"id": m.id, "name": m.name, "createdAt": m.created_at.isoformat()})
            elif isinstance(res, StoreNameAlreadyExists):
                self._json(409, {"error": "store name already exists"})
            return
        if len(parts) == 4 and parts[:2] == ["v1", "stores"] and parts[3] == "facts":
            body = self._read_body()
            facts = []
            for f in body["facts"]:
                data = base64.b64decode(f.get("payload", {}).get("data", "") or "")
                if not data:
                    # HTTP-layer parity: FactPayloadHttp.data is
                    # @NotEmpty (api.kt:120-123). The engine itself
                    # allows empty payloads (spec-level opacity).
                    self._json(400, {"error": "payload data must not be empty"})
                    return
                facts.append(
                    FactInput(
                        type=f["type"],
                        subject=f["subject"],
                        payload=FactPayload(
                            data,
                            format=f.get("payload", {}).get("format"),
                            schema_ref=f.get("payload", {}).get("schemaRef"),
                        ),
                        metadata=f.get("metadata") or {},
                        tags=f.get("tags") or {},
                    )
                )
            res = self.fs.append(
                parts[2],
                facts,
                condition=_parse_condition(body.get("condition")),
                idempotency_key=body.get("idempotencyKey"),
            )
            if isinstance(res, Appended):
                self._json(200, {"factIds": list(res.fact_ids), "appendedAt": res.appended_at.isoformat()})
            elif isinstance(res, AlreadyApplied):
                self._json(200)  # empty body, extensions.kt:24-29
            elif isinstance(res, AppendConditionViolated):
                self._json(409, {"error": "append condition violated", "reason": res.reason})
            elif isinstance(res, StoreNotFound):
                self._json(404, {"error": "store not found"})
            return
        if len(parts) == 5 and parts[:2] == ["v1", "stores"] and parts[3] == "facts" and parts[4] == "query":
            query = _parse_tag_query(self._read_body())
            self._facts_response(self.fs.find_by_tag_query(parts[2], query))
            return
        self._json(404, {"error": "no such route"})

    def _get(self, parts, qs):
        if parts in ([], ["explorer"]):
            # factstore-explorer analog: a single self-contained
            # page over the REST surface (list stores, run finders,
            # tail the SSE subscription) — no build step, no deps.
            self._send(200, "text/html; charset=utf-8", EXPLORER_HTML.encode())
            return
        if parts == ["v1", "info"]:
            # InfoResource analog (factstore-server/.../http/InfoResource.kt)
            from . import __version__

            self._json(200, {"name": "factstore-spark", "version": __version__})
            return
        if parts == ["v1", "stores"]:
            self._json(200, [
                {"id": m.id, "name": m.name, "createdAt": m.created_at.isoformat()}
                for m in self.fs.list_all()
            ])
            return
        if len(parts) == 3 and parts[:2] == ["v1", "stores"]:
            m = self.fs.find_by_name(parts[2])
            if m is None:
                self._json(404, {"error": "store not found"})
            else:
                self._json(200, {"id": m.id, "name": m.name, "createdAt": m.created_at.isoformat()})
            return
        if len(parts) == 5 and parts[:2] == ["v1", "stores"] and parts[3] == "facts" and parts[4] == "subscribe":
            self._subscribe(parts[2], qs)
            return
        if len(parts) == 5 and parts[:2] == ["v1", "stores"] and parts[3] == "facts" and parts[4] == "replay":
            self._replay(parts[2], qs)
            return
        if len(parts) == 5 and parts[:2] == ["v1", "stores"] and parts[3] == "facts":
            res = self.fs.find_by_id(parts[2], parts[4])
            if isinstance(res, FactFound):
                self._json(200, _fact_dict(res.fact))
            else:
                self._json(404, {"error": type(res).__name__})
            return
        if len(parts) == 6 and parts[:2] == ["v1", "stores"] and parts[3] == "subjects" and parts[5] == "facts":
            res = self.fs.find_by_subject(
                parts[2], parts[4], limit=_parse_limit(qs), direction=_parse_direction(qs)
            )
            self._facts_response(res)
            return
        if len(parts) == 4 and parts[:2] == ["v1", "stores"] and parts[3] == "facts":
            tags = dict(t.split("=", 1) if "=" in t else (t, "") for t in qs.get("tag", []))
            if tags:
                if qs.get("from") or qs.get("to"):
                    # The finder surface has no combined tags+time
                    # operator (SURVEY §2.3) — refuse loudly rather
                    # than silently dropping the time bounds.
                    self._json(400, {"error": "tag and from/to filters cannot be combined"})
                    return
                res = self.fs.find_by_tags(
                    parts[2], tags, limit=_parse_limit(qs), direction=_parse_direction(qs)
                )
            else:
                tr = TimeRange(
                    start=parse_instant(qs.get("from", [None])[0]),
                    end=parse_instant(qs.get("to", [None])[0]),
                )
                res = self.fs.find_in_time_range(
                    parts[2], tr, limit=_parse_limit(qs), direction=_parse_direction(qs)
                )
            self._facts_response(res)
            return
        self._json(404, {"error": "no such route"})

    def _delete(self, parts, _qs):
        if len(parts) == 3 and parts[:2] == ["v1", "stores"]:
            res = self.fs.remove(parts[2])
            if isinstance(res, StoreRemoved):
                self._json(204)
            else:
                self._json(404, {"error": "store not found"})
            return
        self._json(404, {"error": "no such route"})

    # -- streams ---------------------------------------------------------
    #
    # Both streams write each engine batch as one encoded chunk and flush
    # it: one socket write per batch. Once the headers are out, an error
    # must NOT reach _dispatch — its 400/500 would write a second status
    # line into the open body. The stream logs it and drops the
    # connection instead; the truncated body is the client's signal.

    def _replay(self, store: str, qs) -> None:
        after = qs.get("after", [None])[0]
        start = ReplayStart.After(after) if after else ReplayStart.Beginning()
        res = self.fs.replay(store, start)
        if isinstance(res, StoreNotFound):
            self._json(404, {"error": "store not found"})
            return
        if isinstance(res, FactIdNotFound):
            self._json(404, {"error": "fact id not found", "factId": res.fact_id})
            return
        # STREAM the batched replay instead of flattening it into one
        # list + one json.dumps: the engine's replay is deliberately a
        # bounded-batch generator, and a multi-million-fact store would
        # otherwise sit in server memory twice (dicts + serialized body).
        # Close-delimited JSON array (no Content-Length); the headers
        # leave with the first batch, "]" with the final flush.
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Connection", "close")
        self.end_headers()
        sep = b"["
        try:
            for batch in res:
                if batch:
                    self.wfile.write(sep + b",".join(_fact_json(f) for f in batch))
                    self.wfile.flush()
                    sep = b","
            self.wfile.write(b"[]" if sep == b"[" else b"]")
        except Exception as exc:  # noqa: BLE001
            self.log_error("replay stream aborted mid-body: %r", exc)

    # -- SSE subscription (StreamResource.kt:23-39 analog) ---------------

    def _subscribe(self, store: str, qs) -> None:
        after = qs.get("after", [None])[0]
        start_kind = _parse_choice(qs, "start", ("beginning", "end"))
        if after:
            start = StartPosition.After(after)
        elif start_kind == "end":
            start = StartPosition.End()
        else:
            start = StartPosition.Beginning()
        # keepalive: on a quiet store the generator yields an empty
        # batch every 10 s, which becomes an SSE comment write — the
        # only way a dead socket ever surfaces (BrokenPipeError) so an
        # abandoned subscription doesn't leak its thread + poll loop
        # until process exit.
        # watch=1|true: commit-log change-token wakeup — single-digit-ms
        # idle-tail delivery at the same 100 ms poll fallback (the FDB
        # head-key watch analog; see FactStore.subscribe).
        watch = qs.get("watch", ["0"])[0].lower() in ("1", "true")
        gen = self.fs.subscribe(
            store, start, poll_interval=0.1, keepalive_every=10.0,
            watch=watch,
        )
        if isinstance(gen, StoreNotFound):
            self._json(404, {"error": "store not found"})
            return
        if isinstance(gen, FactIdNotFound):
            self._json(404, {"error": "fact id not found", "factId": gen.fact_id})
            return
        self.send_response(200)
        self.send_header("Content-Type", "text/event-stream")
        self.send_header("Cache-Control", "no-cache")
        self.end_headers()
        # the subscriber is attached now, not at the first batch, which
        # on a tail from the end may be a keepalive period away
        self.wfile.flush()
        try:
            for batch in gen:
                self.wfile.write(
                    b"".join(b"data: %s\n\n" % _fact_json(f) for f in batch)
                    if batch else b": ping\n\n"
                )
                self.wfile.flush()
        except ConnectionError:
            return  # client went away — the flow is infinite by contract
        except Exception as exc:  # noqa: BLE001
            self.log_error("subscribe stream aborted mid-body: %r", exc)
            self.close_connection = True


class FactStoreServer:
    """In-process server: ``serve(fs, port=0)`` returns (server, port).
    Threaded so SSE subscriptions don't block other requests."""

    def __init__(self, fact_store, host: str = "127.0.0.1", port: int = 0):
        handler = type("BoundHandler", (FactStoreHandler,), {"fs": fact_store})
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self.port = self.httpd.server_address[1]
        self._thread = None

    def start(self) -> "FactStoreServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
