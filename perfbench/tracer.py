"""Outside-in span tracer for the server process.

The tracer replaces layer entry points (the HTTP handler methods, the
``FactStore`` append/finder/subscribe methods, the public commit-log
and tag-index methods, the Bloom probe and py4j's
``send_command``) with wrappers that record one span per call: name,
start, end, parent span and request id. Spans stay in memory and are
written out on request. Nothing under ``factstore_spark/`` is edited.

A wrapper costs one attribute test while tracing is off, so the
server can run an untraced phase and a traced phase with the same
wrappers installed.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
import types

# name -> (module path, owner attribute, method); owner None = module function
WRAPPED = [
    ("server.handle", "factstore_spark.server", "FactStoreHandler", "do_GET"),
    ("server.handle", "factstore_spark.server", "FactStoreHandler", "do_POST"),
    ("store.append", "factstore_spark.store", "FactStore", "append"),
    ("store.find_by_id", "factstore_spark.store", "FactStore", "find_by_id"),
    ("store.find_by_tags", "factstore_spark.store", "FactStore", "find_by_tags"),
    ("store.find_by_subject", "factstore_spark.store", "FactStore", "find_by_subject"),
    ("store.find_by_tag_query", "factstore_spark.store", "FactStore", "find_by_tag_query"),
    ("store.find_in_time_range", "factstore_spark.store", "FactStore", "find_in_time_range"),
    ("store.replay", "factstore_spark.store", "FactStore", "replay"),
    ("store.subscribe", "factstore_spark.store", "FactStore", "subscribe"),
    ("layout.read_commits", "factstore_spark.storage.layout", "StoreLayout", "read_commits"),
    ("layout.append_commit", "factstore_spark.storage.layout", "StoreLayout", "append_commit"),
    ("layout.sync_commit_log", "factstore_spark.storage.layout", "StoreLayout", "sync_commit_log"),
    ("layout.dcb_candidate_files", "factstore_spark.storage.layout", "StoreLayout", "dcb_candidate_files"),
    ("layout.scan_batches", "factstore_spark.storage.layout", "StoreLayout", "scan_batches"),
    ("layout.read_arrow", "factstore_spark.storage.layout", "StoreLayout", "read_arrow"),
    ("layout.published_head_position", "factstore_spark.storage.layout", "StoreLayout",
     "published_head_position"),
    ("tag_index.exists_after", "factstore_spark.storage.tag_index", "TagIndex", "exists_after"),
    ("tag_index.positions_for_tags", "factstore_spark.storage.tag_index", "TagIndex",
     "positions_for_tags"),
    ("tag_index.positions_for_query", "factstore_spark.storage.tag_index", "TagIndex",
     "positions_for_query"),
    ("bloomindex.probe", "factstore_spark.storage.bloomindex", None, "bloom_candidate_files"),
    ("py4j.send_command", "py4j.java_gateway", "GatewayClient", "send_command"),
]


def _note(name: str, result):
    """What a span keeps of its call's result, for the per-layer counts."""
    if name == "tag_index.exists_after":
        return result  # True = the index found a match
    if name == "layout.dcb_candidate_files":
        return len(result)
    if name == "bloomindex.probe":
        return [len(result.candidate_files), result.total_files, result.stale]
    return None


def request_class(method: str, path: str) -> str:
    """Op class of a REST request: append, point, scan or subscribe."""
    p = path.split("?", 1)[0].rstrip("/").split("/")
    if method == "POST":
        return "scan" if p[-1] == "query" else "append"
    if p[-1] == "subscribe":
        return "subscribe"
    if p[-1] == "replay" or "from=" in path or "to=" in path:
        return "scan"
    return "point"


class Tracer:
    """Span recorder. A span is ``[id, parent, request, name, start_ns,
    end_ns, note]``; the handler span's note is ``[class, status]``."""

    def __init__(self, spark=None):
        self.enabled = False
        self.spark = spark
        self.spans: list[list] = []
        self._ids = itertools.count(1)
        self._reqs = itertools.count(1)
        self._tls = threading.local()
        self._undo: list = []

    # -- recording -----------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _begin(self, name: str) -> list:
        st = self._stack()
        parent = st[-1] if st else None
        rec = [next(self._ids), parent[0] if parent else None,
               parent[2] if parent else None, name, time.perf_counter_ns(), 0, None]
        st.append(rec)
        return rec

    def _end(self, rec: list) -> None:
        rec[5] = time.perf_counter_ns()
        self._stack().pop()
        self.spans.append(rec)

    def _traced(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                out = fn(*args, **kwargs)
                # a generator opened while tracing is off (the tail
                # subscription) is still traced once tracing turns on
                if isinstance(out, types.GeneratorType):
                    return tracer._traced_iter(name + ".next", out)
                return out
            rec = tracer._begin(name)
            try:
                out = fn(*args, **kwargs)
                rec[6] = _note(name, out)
            finally:
                tracer._end(rec)
            if isinstance(out, types.GeneratorType):
                return tracer._traced_iter(name + ".next", out)
            return out

        return wrapper

    def _traced_iter(self, name: str, gen):
        """Each resumption of a returned generator is a span of its own,
        a child of whatever span the consumer is in."""
        while True:
            rec = self._begin(name) if self.enabled else None
            try:
                item = next(gen)
                if rec is not None:
                    rec[6] = len(item) if isinstance(item, list) else None
            except StopIteration:
                return
            finally:
                if rec is not None:
                    self._end(rec)
            yield item

    def _handler(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(handler):
            if not tracer.enabled:
                return fn(handler)
            cls = request_class(handler.command, handler.path)
            if tracer.spark is not None and cls in ("point", "scan"):
                # Spark jobs of this request carry its class; the status
                # store is split by job group at dump time
                tracer.spark.sparkContext.setJobGroup(cls, cls)
            tracer._tls.status = 0
            rec = tracer._begin("server.handle")
            rec[2] = next(tracer._reqs)
            try:
                return fn(handler)
            except BaseException:
                tracer._tls.status = 599
                raise
            finally:
                rec[6] = [cls, tracer._tls.status]
                tracer._end(rec)

        return wrapper

    # -- installation ----------------------------------------------------

    def install(self) -> "Tracer":
        import importlib

        for name, modname, owner_name, attr in WRAPPED:
            mod = importlib.import_module(modname)
            owner = getattr(mod, owner_name) if owner_name else mod
            fn = inspect.getattr_static(owner, attr)
            wrapped = self._handler(fn) if name == "server.handle" else self._traced(name, fn)
            self._undo.append((owner, attr, owner.__dict__.get(attr)))
            setattr(owner, attr, wrapped)
        from factstore_spark.server import FactStoreHandler

        send_response = FactStoreHandler.send_response
        tracer = self

        def recording_send_response(handler, code, message=None):
            tracer._tls.status = code
            return send_response(handler, code, message)

        self._undo.append((FactStoreHandler, "send_response", None))
        FactStoreHandler.send_response = recording_send_response
        return self

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._undo.clear()

    # -- output ------------------------------------------------------------

    def dump(self, path: str) -> int:
        """Write the spans recorded so far, one JSON list per line."""
        spans = list(self.spans)
        with open(path, "w") as f:
            for rec in spans:
                f.write(json.dumps(rec) + "\n")
        return len(spans)


def spark_job_stats(spark) -> dict:
    """Jobs, stages, tasks and stage metrics per job group, read from
    Spark's status store (it is kept with the UI off)."""
    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    jobs = status.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if not group.isDefined():
            continue
        g = out.setdefault(group.get(), dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_ms", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "gc_ms"), 0))
        g["jobs"] += 1
        ids = job.stageIds()
        for k in range(ids.size()):
            stage_group[ids.apply(k)] = group.get()
    stages = status.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    for i in range(stages.size()):
        s = stages.apply(i)
        g = out.get(stage_group.get(s.stageId()))
        if g is None or s.status().toString() == "SKIPPED":
            continue
        g["stages"] += 1
        g["tasks"] += s.numCompleteTasks()
        g["executor_run_ms"] += s.executorRunTime()
        g["shuffle_read_bytes"] += s.shuffleReadBytes()
        g["shuffle_write_bytes"] += s.shuffleWriteBytes()
        g["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        g["gc_ms"] += s.jvmGcTime()
    return out
