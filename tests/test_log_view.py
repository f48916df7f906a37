"""LogView: the one fold over commit records that answers every question
about log state. Its answers must equal the record scans it replaced
(kept here as the oracle), an incremental fold must equal a full
re-fold, and a view must not change once handed out. Spark-free (the
commit protocol is pyarrow + the log)."""

import datetime as dt
import os
import random
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from factstore_spark.model import FactInput
from factstore_spark.results import Appended
from factstore_spark.schema import FACT_ARROW_SCHEMA, POSITION_STRIDE
from factstore_spark.storage.layout import (
    COMMITS_FILE,
    CommitRecord,
    _resolve_checkpoints,
    fold_log,
    tag_fingerprint,
    utcnow_us,
)
from factstore_spark.store import FactStore

TAGS = [("k", "a"), ("k", "b"), ("u", "1"), ("u", "2")]


# -- the oracle: the record scans the view replaced -------------------------


def _oracle_compaction(commits):
    comp = None
    for c in commits:
        if c.rows > 0 and c.compacted_through is not None:
            if comp is None or c.compacted_through > comp.compacted_through:
                comp = c
    return comp


def _oracle_eligible(commits, after_pos, after_seq=-1):
    comp = _oracle_compaction(commits)
    ct = -1 if comp is None else comp.compacted_through
    if comp is not None and (comp.max_position <= after_pos or ct <= after_seq):
        comp = None
    live = [
        c
        for c in commits
        if c.rows > 0
        and c.compacted_through is None
        and c.seq > ct
        and c.max_position > after_pos
        and c.seq > after_seq
    ]
    return comp, live


def _oracle_dcb(commits, item_fps, after_pos, after_seq):
    comp, live = _oracle_eligible(commits, after_pos, after_seq)
    if not item_fps or any(not fps for fps in item_fps):
        return comp, live
    keep = []
    for c in live:
        if c.tag_fps is not None:
            fpset = set(c.tag_fps)
            if not any(all(fp in fpset for fp in fps) for fps in item_fps):
                continue
        keep.append(c)
    return comp, keep


def _oracle_published_head(commits, now):
    head = max((c.max_position for c in commits), default=-1)
    published = {c.file for c in commits if c.file}
    for c in commits:
        if not c.reserved or f"commit-{c.seq:010d}-bulk" in published:
            continue
        if now - dt.datetime.fromisoformat(c.appended_at).timestamp() > 3600:
            continue
        head = min(head, c.seq * POSITION_STRIDE - 1)
    return head


def oracle(commits, probes):
    last_seq = max((c.seq for c in commits), default=-1)
    head = max((c.max_position for c in commits), default=-1)
    comp, live = _oracle_eligible(commits, -1)
    return {
        "last_seq": last_seq,
        "head": head,
        "next_seq": 0
        if not commits
        else max(last_seq + 1, head // POSITION_STRIDE + 1),
        "compaction": comp,
        "ckpt_seq": max((c.seq for c in commits if c.checkpoint), default=-1),
        "n_records": len(commits),
        "live": live,
        "published_head": _oracle_published_head(commits, probes["now"]),
        "keys": [
            any(c.idempotency_key == k or (c.keys is not None and k in c.keys) for c in commits)
            for k in probes["keys"]
        ],
        "after": [_oracle_eligible(commits, p) for p in probes["positions"]],
        "dcb": [
            _oracle_dcb(commits, fps, p, s)
            for fps in probes["items"]
            for p in probes["positions"]
            for s in probes["seqs"]
        ],
    }


def answers(view, probes):
    return {
        "last_seq": view.last_seq,
        "head": view.head,
        "next_seq": view.next_seq(),
        "compaction": view.compaction,
        "ckpt_seq": view.ckpt_seq,
        "n_records": view.n_records,
        "live": view.live,
        "published_head": view.published_head(),
        "keys": [view.key_seen(k) for k in probes["keys"]],
        "after": [(view.compaction_after(p), view.live_after(p)) for p in probes["positions"]],
        "dcb": [
            (view.compaction_after(p, s), view.dcb_candidates(fps, p, s))
            for fps in probes["items"]
            for p in probes["positions"]
            for s in probes["seqs"]
        ],
    }


def probes_for(commits, rng):
    keys = {c.idempotency_key for c in commits if c.idempotency_key}
    for c in commits:
        keys |= set(c.keys or ())
    head = max((c.max_position for c in commits), default=-1)
    last = max((c.seq for c in commits), default=-1)
    fp = [tag_fingerprint(k, v) for k, v in TAGS]
    return {
        "now": dt.datetime.now(dt.timezone.utc).timestamp(),
        "keys": sorted(keys) + ["never-used"],
        "positions": sorted({-1, head, head - 1, rng.randint(-1, max(head, 0))}),
        "seqs": sorted({-1, last - 1, rng.randint(-1, max(last, 0))}),
        "items": [[], [[]], [[fp[0]]], [[fp[0], fp[2]]], [[fp[1]], [fp[3]]], [[12345]]],
    }


# -- log builders (both backends, no Spark) ---------------------------------


def _row(position, tags):
    return {
        "id": f"f{position}",
        "type": "T",
        "subject": "s",
        "appended_at": utcnow_us(),
        "position": position,
        "payload": {"data": b"", "format": None, "schema_ref": None},
        "metadata": {},
        "tags": dict(tags),
    }


def _write_rows(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=FACT_ARROW_SCHEMA), path)


class LogBuilder:
    """Drives one store through random commit kinds."""

    def __init__(self, root, backend, rng):
        self.fs = FactStore(None, root, commit_backend=backend)
        self.fs.create("s")
        self.layout = self.fs._layout(self.fs.find_by_name("s").id)
        self.backend = backend
        self.rng = rng
        self.n = 0
        self.reserved = []  # optimistic: (seq, base) reserved, not yet published

    def key(self):
        self.n += 1
        return f"key-{self.n}" if self.rng.random() < 0.8 else None

    def row_commit(self):
        n_tags = self.rng.choice([1, 2, 70])  # 70: over the tag-fp cap
        if n_tags > 2:
            tags = {f"t{i}": "x" for i in range(n_tags)}
        else:
            tags = dict(self.rng.sample(TAGS, n_tags))
        facts = [FactInput(type="T", subject="s", tags=tags)] * self.rng.randint(1, 3)
        assert isinstance(self.fs.append("s", facts, idempotency_key=self.key()), Appended)

    def empty_commit(self):
        lay, key = self.layout, self.key()

        def attempt():
            out = lay.append_commit([], utcnow_us(), key, lay.log_snapshot(), defer_sync=True)
            return None if out is None else (out[0], out[2])

        lay.run_append(attempt)

    def bulk(self):
        lay, key, n = self.layout, self.key() or f"bulk-{self.n}", self.rng.randint(1, 4)

        def write(seq, appended_at, ceiling):
            name = f"commit-{seq:010d}-bulk"
            base = seq * POSITION_STRIDE
            _write_rows(os.path.join(lay.data_dir, name, "part-0.parquet"),
                        [_row(base + i, [TAGS[0]]) for i in range(n)])
            return lay.publish_bulk(name, n, base + n - 1, appended_at, key)

        lay.run_bulk(key, lambda appended_at: n - 1, write)

    def reserve(self):
        lay = self.layout
        if self.backend == "optimistic":
            self.reserved.append(lay.reserve_position_range(2, utcnow_us()))
            return
        with lay.commit_lock(upkeep="cadence"):  # a reservation line, as a claim would carry
            seq = lay.next_seq()
            lay._append_log_line({
                "seq": seq, "rows": 0, "appended_at": utcnow_us().isoformat(),
                "idempotency_key": None, "max_position": seq * POSITION_STRIDE + 2,
                "reserved": True,
            })

    def publish_reserved(self):
        if not self.reserved:
            return self.reserve()
        seq, base = self.reserved.pop(0)
        name = f"commit-{seq:010d}-bulk"
        _write_rows(os.path.join(self.layout.data_dir, name, "part-0.parquet"),
                    [_row(base + i, [TAGS[1]]) for i in range(3)])
        self.layout.publish_bulk(name, 3, base + 2, utcnow_us(), f"pub-{seq}")

    def compact(self):
        """A compaction line reusing its snapshot's seq (compact.py's
        record, over a one-file snapshot)."""
        lay = self.layout
        with lay.commit_lock():
            commits = lay.read_commits()
            max_seq = max((c.seq for c in commits), default=-1)
            comp = _oracle_compaction(commits)
            if comp is not None and comp.compacted_through == max_seq:
                return
            _, live = _oracle_eligible(commits, -1)
            rows = (comp.rows if comp else 0) + sum(c.rows for c in live)
            if rows == 0:
                return
            _write_rows(
                os.path.join(lay.data_dir, f"compacted-{max_seq:010d}",
                             "fact_date=2026-01-01", "part-0.parquet"),
                [_row(0, [])],
            )
            lay.write_compaction_record({
                "seq": max_seq, "rows": rows, "appended_at": utcnow_us().isoformat(),
                "idempotency_key": None,
                "max_position": max(c.max_position for c in commits),
                "compacted_through": max_seq,
            })

    def checkpoint(self):
        self.layout.checkpoint_log()

    def torn_line(self):
        with open(os.path.join(self.layout.store_dir, COMMITS_FILE), "ab") as f:
            f.write(b'{"seq": 99999, "rows"')

    KINDS = {
        "row_commit": 10, "empty_commit": 2, "bulk": 2, "reserve": 1,
        "publish_reserved": 1, "compact": 1, "checkpoint": 1, "torn_line": 1,
    }

    def schedule(self, n):
        """``n`` random kinds, every kind at least once."""
        kinds = list(self.KINDS) + self.rng.choices(
            list(self.KINDS), weights=list(self.KINDS.values()), k=n - len(self.KINDS)
        )
        self.rng.shuffle(kinds)
        return kinds


def _frozen(view):
    return (view.head, view.last_seq, view.compaction, view.live, view.n_records)


@pytest.mark.parametrize("backend", ["flock", "optimistic"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_view_matches_record_scans_and_full_refold(tmp_path, backend, seed):
    rng = random.Random(seed)
    b = LogBuilder(str(tmp_path), backend, rng)
    lay = b.layout
    ops = []
    for kind in b.schedule(40):
        before = lay.log_view()
        frozen = _frozen(before)
        getattr(b, kind)()
        ops.append(kind)
        # a view handed out before the step does not see it
        assert _frozen(before) == frozen, ops

        commits = lay.read_commits()
        probes = probes_for(commits, rng)
        want = oracle(commits, probes)
        # the view the layout keeps (incremental on flock) ...
        assert answers(lay.log_view(), probes) == want, ops
        # ... a full re-fold of the same records, and of a fresh handle
        assert answers(fold_log(commits), probes) == want, ops
        fresh = type(lay)(lay.store_dir) if backend == "flock" else lay
        assert answers(fresh.log_view(), probes) == want, ops
        # the layout lookups read the same view
        assert lay.next_seq(commits) == want["next_seq"]
        assert lay.head_position() == want["head"]
        assert lay.published_head_position() == want["published_head"]
        comp, live = want["after"][0]
        assert lay.data_files_after_position(probes["positions"][0]) == lay._resolve_files(comp, live)
        assert lay.dcb_candidate_files([[]], -1) == lay._resolve_files(*_oracle_eligible(commits, -1))


def _rec(seq, **kw):
    kw.setdefault("rows", 1)
    kw.setdefault("max_position", seq * POSITION_STRIDE + kw["rows"] - 1)
    return CommitRecord(seq=seq, appended_at=utcnow_us().isoformat(),
                        idempotency_key=kw.pop("key", None), **kw)


def test_a_late_checkpoint_supersedes_what_was_folded_before_it():
    """Fold order is not trusted: a checkpoint folded after records it
    supersedes gives the view of the resolved log."""
    raw = [
        _rec(0, key="a", tag_fps=[1]),
        _rec(1, key="b"),
        _rec(1, rows=5, max_position=POSITION_STRIDE, compacted_through=1),
        _rec(2, rows=0, max_position=2 * POSITION_STRIDE + 9, reserved=True),
        _rec(3, key="c", tag_fps=[1]),
        _rec(2, rows=5, max_position=2 * POSITION_STRIDE + 9, compacted_through=2,
             checkpoint=True, keys=frozenset({"a", "b"})),
        _rec(1, key="late"),  # at or below the checkpoint: ignored
    ]
    probes = probes_for(raw, random.Random(0))
    probes["items"] = [[], [[1]], [[2]]]
    resolved = _resolve_checkpoints(raw)
    assert answers(fold_log(raw), probes) == answers(fold_log(resolved), probes)
    assert answers(fold_log(resolved), probes) == oracle(resolved, probes)


def test_threads_share_one_consistent_log(tmp_path):
    """Readers poll the layout's view (as subscriptions do) while
    appenders fold new commits into successors of it. No view a reader
    holds may change, and no commit may be lost or folded twice."""
    fs = FactStore(None, str(tmp_path))
    fs.create("s")
    lay = fs._layout(fs.find_by_name("s").id)
    writers, per_writer, readers = 4, 25, 6
    stop = threading.Event()
    errors = []

    def write(w):
        for i in range(per_writer):
            fs.append("s", FactInput(type="T", subject=f"w{w}"), idempotency_key=f"{w}-{i}")

    def read():
        while not stop.is_set():
            view = lay.log_view()
            frozen = _frozen(view)
            seqs = [c.seq for c in view.live]
            if seqs != sorted(set(seqs)) or len(seqs) != view.n_records:
                errors.append(("inconsistent view", seqs, view.n_records))
            if view.live_after(view.head - 1) != view.live[-1:]:
                errors.append(("tail lookup", view.head))
            if _frozen(view) != frozen:
                errors.append(("view changed", frozen))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        rs = [threading.Thread(target=read) for _ in range(readers)]
        ws = [threading.Thread(target=write, args=(w,)) for w in range(writers)]
        for t in rs + ws:
            t.start()
        for t in ws:
            t.join(timeout=120)
        stop.set()
        for t in rs:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in rs + ws)
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors[:3]
    view = lay.log_view()
    assert view.n_records == len(view.live) == writers * per_writer
    assert all(view.key_seen(f"{w}-{i}") for w in range(writers) for i in range(per_writer))
    commits = lay.read_commits()
    probes = probes_for(commits, random.Random(0))
    assert answers(view, probes) == oracle(commits, probes)

