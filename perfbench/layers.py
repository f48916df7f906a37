"""Per-layer metrics of a traced run, computed from its spans.

A span's self time is its duration minus the durations of its child
spans (children run on the span's own thread, inside its interval, so
the self times of one request sum to its handler span). ``.ms`` metrics
are means per call; a generator's resumptions count toward the call
that returned it. Names that a workload does not exercise read 0.
"""

from __future__ import annotations

import json
from collections import defaultdict

import numpy as np

CLASSES = ("point", "scan")
SPARK_FIELDS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("executor_run_ms", "ms"),
    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"), ("gc_ms", "ms"),
)

PER_LAYER: list[tuple[str, str]] = [
    ("server.requests", "count"), ("server.errors", "count"), ("server.self_ms", "ms"),
    ("store.append.calls", "count"), ("store.append.ms", "ms"), ("store.append.wait_ms", "ms"),
    ("store.find_by_id.ms", "ms"), ("store.find_by_tags.ms", "ms"), ("store.find_by_subject.ms", "ms"),
    ("store.find_by_tag_query.ms", "ms"), ("store.find_in_time_range.ms", "ms"), ("store.replay.ms", "ms"),
    ("store.subscribe.batches", "count"), ("store.subscribe.useful_poll_ratio", "ratio"),
    ("layout.read_commits.calls", "count"), ("layout.read_commits.ms", "ms"),
    ("layout.append_commit.ms", "ms"),
    ("layout.sync_commit_log.calls", "count"), ("layout.sync_commit_log.ms", "ms"),
    ("layout.group_size", "count"), ("layout.dcb_candidate_files.files", "count"),
    ("layout.scan_batches.ms", "ms"), ("layout.read_arrow.ms", "ms"),
    ("tag_index.exists_after.calls", "count"), ("tag_index.exists_after.hits", "count"),
    ("tag_index.exists_after.ms", "ms"), ("tag_index.positions_for_tags.ms", "ms"),
    ("tag_index.positions_for_query.ms", "ms"),
    ("bloomindex.probe.calls", "count"), ("bloomindex.probe.ms", "ms"), ("bloomindex.probe.stale", "count"),
    ("bloomindex.candidate_ratio", "ratio"),
    *[(f"spark.{c}.{f}", u) for c in CLASSES for f, u in SPARK_FIELDS],
    *[(f"py4j.{c}.calls", "count") for c in CLASSES],
    ("client.deliver_p50_ms", "ms"), ("client.deliver_p90_ms", "ms"),
    ("client.point_p50_ms", "ms"), ("client.scan_p50_ms", "ms"), ("client.failed_ratio", "ratio"),
    ("trace.spans", "count"), ("trace.overhead_p50_ms", "ms"), ("trace.overhead_ops_per_s", "1/s"),
]

# store.* span names whose per-call time is reported as store.<name>.ms
_STORE_MS = ("find_by_id", "find_by_tags", "find_by_subject", "find_by_tag_query",
             "find_in_time_range", "replay")


def load_spans(path: str) -> list[list]:
    with open(path) as f:
        return [json.loads(line) for line in f]


def self_times(spans: list[list]) -> dict[int, float]:
    """Span id -> self time in ms."""
    child_ns: dict[int, int] = defaultdict(int)
    for s in spans:
        if s[1] is not None:
            child_ns[s[1]] += s[5] - s[4]
    return {s[0]: (s[5] - s[4] - child_ns[s[0]]) / 1e6 for s in spans}


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def per_call_ms(spans: list[list], name: str) -> float:
    """Mean time per call of ``name``, its generator resumptions
    included (grouped by the request and the consuming parent span)."""
    total: dict[int, float] = {}
    latest: dict = {}  # parent span -> its latest call of ``name``
    # span ids grow in begin order, so sorting by id replays the calls
    # and resumptions in the order they started
    for s in sorted((s for s in spans if s[3] in (name, name + ".next")), key=lambda s: s[0]):
        if s[3] == name:
            total[s[0]] = (s[5] - s[4]) / 1e6
            latest[s[1]] = s[0]
        elif s[1] in latest:
            # resumptions run under the consumer's span: charge them to
            # the latest call made under that same parent
            total[latest[s[1]]] += (s[5] - s[4]) / 1e6
    return _mean(list(total.values()))


def summarize(spans: list[list], spark_stats: dict) -> dict[str, float]:
    """Every per-layer metric that spans and Spark counters give."""
    by_name: dict[str, list[list]] = defaultdict(list)
    for s in spans:
        by_name[s[3]].append(s)
    selfs = self_times(spans)

    def ms(name: str) -> float:
        return _mean([(s[5] - s[4]) / 1e6 for s in by_name[name]])

    def n(name: str) -> int:
        return len(by_name[name])

    handled = [s for s in by_name["server.handle"] if s[6][0] != "subscribe"]
    req_class = {s[2]: s[6][0] for s in by_name["server.handle"]}
    out: dict[str, float] = {
        "server.requests": len(handled),
        "server.errors": sum(1 for s in handled if s[6][1] >= 500),
        "server.self_ms": _mean([selfs[s[0]] for s in handled]),
        "store.append.calls": n("store.append"),
        "store.append.ms": ms("store.append"),
        "store.append.wait_ms": _mean([selfs[s[0]] for s in by_name["store.append"]]),
    }
    for name in _STORE_MS:
        out[f"store.{name}.ms"] = per_call_ms(spans, f"store.{name}")

    subscribe_next = {s[0] for s in by_name["store.subscribe.next"]}
    batches = sum(1 for s in by_name["store.subscribe.next"] if s[6])
    polls = sum(1 for s in by_name["layout.published_head_position"] if s[1] in subscribe_next)
    out["store.subscribe.batches"] = batches
    out["store.subscribe.useful_poll_ratio"] = batches / polls if polls else 0.0

    out["layout.read_commits.calls"] = n("layout.read_commits")
    out["layout.read_commits.ms"] = ms("layout.read_commits")
    out["layout.append_commit.ms"] = ms("layout.append_commit")
    out["layout.sync_commit_log.calls"] = n("layout.sync_commit_log")
    out["layout.sync_commit_log.ms"] = ms("layout.sync_commit_log")
    out["layout.group_size"] = (
        n("layout.append_commit") / n("layout.sync_commit_log") if n("layout.sync_commit_log") else 0.0
    )
    out["layout.dcb_candidate_files.files"] = _mean([s[6] for s in by_name["layout.dcb_candidate_files"]])
    out["layout.scan_batches.ms"] = per_call_ms(spans, "layout.scan_batches")
    out["layout.read_arrow.ms"] = ms("layout.read_arrow")

    out["tag_index.exists_after.calls"] = n("tag_index.exists_after")
    out["tag_index.exists_after.hits"] = sum(1 for s in by_name["tag_index.exists_after"] if s[6])
    out["tag_index.exists_after.ms"] = ms("tag_index.exists_after")
    out["tag_index.positions_for_tags.ms"] = ms("tag_index.positions_for_tags")
    out["tag_index.positions_for_query.ms"] = ms("tag_index.positions_for_query")

    probes = by_name["bloomindex.probe"]
    out["bloomindex.probe.calls"] = len(probes)
    out["bloomindex.probe.ms"] = ms("bloomindex.probe")
    out["bloomindex.probe.stale"] = sum(1 for s in probes if s[6][2])
    out["bloomindex.candidate_ratio"] = _mean([s[6][0] / s[6][1] for s in probes if s[6][1]])

    for c in CLASSES:
        stats = spark_stats.get(c, {})
        for f, _ in SPARK_FIELDS:
            out[f"spark.{c}.{f}"] = stats.get(f, 0)
        out[f"py4j.{c}.calls"] = sum(1 for s in by_name["py4j.send_command"] if req_class.get(s[2]) == c)
    out["trace.spans"] = len(spans)
    return out


def request_tree(spans: list[list], req: int) -> list[dict]:
    """One request's spans, depth-first, with self times: the readable
    form of a trace."""
    mine = [s for s in spans if s[2] == req]
    selfs = self_times(mine)
    kids: dict = defaultdict(list)
    for s in mine:
        kids[s[1]].append(s)
    rows: list[dict] = []

    def walk(parent, depth):
        for s in sorted(kids[parent], key=lambda s: s[4]):
            rows.append({"depth": depth, "name": s[3], "ms": (s[5] - s[4]) / 1e6, "self_ms": selfs[s[0]]})
            walk(s[0], depth + 1)

    walk(None, 0)
    return rows
