"""Per-store physical layout: parquet data files + a commit log.

Layout (one directory tree per engine root):

    <root>/
      catalog.json                 # {name: {"id": uuid, "created_at": iso}}
      _catalog.lock
      stores/<store_id>/
        _commit.lock               # fcntl flock — serializes appends per store
        commits.jsonl              # one line per commit:
                                   #   {"seq", "rows", "appended_at",
                                   #    "idempotency_key", "max_position",
                                   #    "tag_fps", "subj_fps"}
        heads_snap/                # derived sharded subject-head snapshot
                                   #   (storage/heads.py; folded by maintain,
                                   #    never touched by the append path)
        data/commit-<seq>.parquet  # fact rows (schema.FACT_ARROW_SCHEMA)

One append protocol serves both commit backends. A row append is an
attempt — take a log snapshot, check the idempotency key, evaluate the
condition, build the rows, ``append_commit`` — and ``append_commit``
(written once, here) places the rows at the next seq, writes the data
file, builds the record and hands it to the backend's one publish
primitive, ``_publish``:

- this flock backend appends the record as a commit-log line under the
  per-store lock, so a publish always wins; attempts are driven through
  group commit (``_CommitGroup``), one lock acquisition and one fsync
  per batch of racing appends;
- the optimistic backend (storage/optimistic.py,
  ``FactStore(..., commit_backend="optimistic")``) claims the seq's CAS
  slot, the Delta/Iceberg shape; a lost claim returns None and the
  attempt is retried against a fresh snapshot.

This is the single-node stand-in for the reference's FoundationDB
transaction (FdbFactAppender.kt:33-65), with ``commit seq`` as the
versionstamp analog and ``position = commit_seq * POSITION_STRIDE +
row_index``; both backends pass the cross-process exactly-one-winner
race tests (tests/test_multiprocess_race.py). Bulk ingests publish
through the same primitive (``publish_bulk``); only their concurrency
differs (``run_bulk``).

Every reader of log STATE — the latest seq, the head, the compaction
and checkpoint horizons, the idempotency keys, the live data files —
asks one ``LogView``, built by ``fold_log`` over raw commit records;
the log's supersession rules live there and nowhere else. This flock
backend folds each newly parsed jsonl suffix into a successor view
(``_refresh``), so a lookup costs O(new commits), never O(log). The
optimistic backend folds its merged claim + jsonl snapshot into a
fresh view. Code that needs the records themselves (checkpoint folds,
orphan sweeps) reads ``read_commits``.

Crash safety: data files are written to a temp name and atomically
renamed into ``data/`` BEFORE the commit line is appended; readers only
trust files whose seq appears in ``commits.jsonl``, and stale orphan
files are swept on the next lock acquisition.
"""

from __future__ import annotations

import bisect
import copy
import fcntl
import json
import os
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterable, Iterator, Optional

import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq

from ..schema import FACT_ARROW_SCHEMA, POSITION_STRIDE

COMMITS_FILE = "commits.jsonl"
DATA_DIR = "data"
STREAM_DIR = "stream"
ID_INDEX_DIR = "ididx"  # Bloom sidecar over the compacted snapshot's ids
LOCK_FILE = "_commit.lock"


MAX_TAG_FPS = 64
MAX_SUBJ_FPS = 64


def tag_fingerprint(k: str, v: str) -> int:
    """Engine-neutral 60-bit fingerprint of one tag pair — the unit of
    commit-level data skipping (see CommitRecord.tag_fps). md5-based so
    any process (no Spark, no JVM) computes the same value."""
    import hashlib

    return int(hashlib.md5(f"{k}\x00{v}".encode()).hexdigest()[:15], 16)


def subject_fingerprint(subject: str) -> int:
    """60-bit md5 fingerprint of one subject — the unit of commit-level
    subject skipping (CommitRecord.subj_fps) and the head-snapshot shard
    function (storage/heads.py). Must match the Spark-side expression
    ``conv(substring(md5(subject), 1, 15), 16, 10)`` used by the
    distributed snapshot rebuild."""
    import hashlib

    return int(hashlib.md5(subject.encode()).hexdigest()[:15], 16)


def commit_subj_fps(rows: list[dict]) -> Optional[list[int]]:
    """Distinct subject fingerprints of a row batch, or None when over
    the cap (a too-diverse commit records 'unknown' rather than a huge
    summary — the lookup then scans it until the snapshot folds it)."""
    fps: set[int] = set()
    for row in rows:
        fps.add(subject_fingerprint(row["subject"]))
        if len(fps) > MAX_SUBJ_FPS:
            return None
    return sorted(fps)


def files_subject_fps(
    files: list[str], row_budget: int = 4_000_000
) -> Optional[list[int]]:
    """Distinct subject fingerprints of already-written parquet files,
    streamed with an early bail to None past the cap AND past a fixed
    row budget (ADVICE r13: a huge single-subject backfill never
    crosses the cap, and an unbounded driver-side column read inside a
    commit path is exactly the cost this summary exists to avoid).
    Sparkless fallback — the bulk ingest paths compute the same summary
    as a Spark job riding their validation aggregate (store.py
    ``_written_subject_fps``)."""
    import pyarrow.compute as pc

    fps: set[int] = set()
    seen = 0
    for f in files:
        pf = pq.ParquetFile(f)
        for batch in pf.iter_batches(columns=["subject"], batch_size=65536):
            seen += batch.num_rows
            for s in pc.unique(batch.column("subject")).to_pylist():
                fps.add(subject_fingerprint(s))
            if len(fps) > MAX_SUBJ_FPS:
                return None
            if seen > row_budget:
                return None
    return sorted(fps)


def commit_tag_fps(rows: list[dict]) -> Optional[list[int]]:
    """Distinct tag fingerprints of a row batch, or None when over the
    cap (a too-diverse commit records 'unknown' rather than a huge
    summary)."""
    fps: set[int] = set()
    for row in rows:
        for k, v in (row.get("tags") or {}).items():
            fps.add(tag_fingerprint(k, v))
            if len(fps) > MAX_TAG_FPS:
                return None
    return sorted(fps)


@dataclass(frozen=True)
class CommitRecord:
    seq: int
    rows: int
    appended_at: str
    idempotency_key: Optional[str]
    max_position: int
    bulk: bool = False
    compacted_through: Optional[int] = None
    # Explicit data file/dir name (relative to data/) when it cannot be
    # derived from seq — used by the optimistic backend, whose data
    # files are uuid-suffixed and whose bulk dirs are named by their
    # RESERVE seq, not their publish seq.
    file: Optional[str] = None
    # Commit-level data skipping: fingerprints of every distinct tag
    # pair in this commit (capped at MAX_TAG_FPS; None = unknown, must
    # scan). The DCB append condition prunes whole commits without
    # opening their files — the commit-log analog of parquet row-group
    # min/max stats, standing in for the reference's tag indexes on the
    # write path (FdbFactAppender.kt:124-274 walks its tag subspaces;
    # we walk the fingerprint summaries).
    tag_fps: Optional[list[int]] = None
    # Subject-level data skipping for the head lookup (storage/heads.py,
    # the ExpectedLastFact fast path, FdbFactAppender.kt:91-113):
    # fingerprints of every distinct subject in this commit (capped at
    # MAX_SUBJ_FPS; None = unknown, must scan). Lets a head lookup walk
    # the post-snapshot commit tail with ZERO file opens for subjects a
    # commit provably does not touch.
    subj_fps: Optional[list[int]] = None
    # Checkpoint summary record (Delta-checkpoint analog): True when
    # this record FOLDS every commit with seq <= its own seq — it
    # carries their merged idempotency keys (``keys``), the max
    # position, and the compaction pointer, so the folded records can
    # be dropped from the log and a fresh process parses O(recent)
    # records instead of O(lifetime).
    checkpoint: bool = False
    # Idempotency keys of all folded commits (checkpoint records only).
    keys: Optional[frozenset] = None
    # Optimistic-backend bulk RESERVATION (zero-row claim that raises
    # the head to make a position range unstealable before the data is
    # published). Reservations never update the heads cache, and a
    # pending one bounds published_head_position so subscription
    # cursors cannot advance past data that has not landed yet.
    reserved: bool = False


def commit_record_from_dict(d: dict) -> CommitRecord:
    keys = d.get("keys")
    return CommitRecord(
        seq=d["seq"],
        rows=d["rows"],
        appended_at=d["appended_at"],
        idempotency_key=d.get("idempotency_key"),
        max_position=d["max_position"],
        bulk=d.get("bulk", False),
        compacted_through=d.get("compacted_through"),
        file=d.get("file"),
        tag_fps=d.get("tag_fps"),
        subj_fps=d.get("subj_fps"),
        checkpoint=d.get("checkpoint", False),
        keys=frozenset(keys) if keys is not None else None,
        reserved=d.get("reserved", False),
    )


def commit_record_to_dict(c: CommitRecord) -> dict:
    d = {
        "seq": c.seq,
        "rows": c.rows,
        "appended_at": c.appended_at,
        "idempotency_key": c.idempotency_key,
        "max_position": c.max_position,
    }
    if c.bulk:
        d["bulk"] = True
    if c.compacted_through is not None:
        d["compacted_through"] = c.compacted_through
    if c.file is not None:
        d["file"] = c.file
    if c.tag_fps is not None:
        d["tag_fps"] = c.tag_fps
    if c.subj_fps is not None:
        d["subj_fps"] = c.subj_fps
    if c.checkpoint:
        d["checkpoint"] = True
    if c.keys is not None:
        d["keys"] = sorted(c.keys)
    if c.reserved:
        d["reserved"] = True
    return d


def _resolve_checkpoints(records: list[CommitRecord]) -> list[CommitRecord]:
    """Apply checkpoint supersession: the latest checkpoint record
    replaces every record with seq <= its seq. Needed beyond the
    rewrite itself because the optimistic backend retains folded claim
    slots for a retention window (concurrent readers may list both the
    checkpoint and the slots it folded)."""
    ckpt = None
    for c in records:
        if c.checkpoint and (ckpt is None or c.seq > ckpt.seq):
            ckpt = c
    if ckpt is None:
        return records
    return [c for c in records if c.seq > ckpt.seq or c is ckpt]


def _seq(c: CommitRecord) -> int:
    return c.seq


def _max_position(c: CommitRecord) -> int:
    return c.max_position


# A pending bulk reservation older than this stops holding subscription
# cursors back (a crashed ingest; the orphan sweep reaps its dir then).
RESERVATION_GRACE_S = 3600


class LogView:
    """One state of the commit log: the answer to every question about
    log state (latest seq, head, horizons, idempotency keys, live
    files), built by :func:`fold_log` over raw commit records. The
    log's supersession rules live here and nowhere else:

    - the logically-latest record is the one with the highest seq (a
      compaction line reuses its snapshot's old seq, so the
      physically-last line is not necessarily the latest commit);
    - a checkpoint record replaces every record with seq <= its seq
      (``_resolve_checkpoints``). It carries the keys and maxima of
      what it folds, so keys and maxima are never lowered;
    - the compaction with the highest ``compacted_through`` supersedes
      every data commit at or below it: ``live`` holds the data commits
      (rows > 0) past that horizon, in seq order;
    - an optimistic bulk reservation is pending until some record
      publishes its ``commit-<seq>-bulk`` directory.

    Scalars and the live list never change once a view is handed out,
    so a lock-free reader takes one view and reads everything from it.
    Successive flock views share the grow-only indexes (``keys``,
    ``fp_seqs``, ``nofps_seqs``, ``seq_rec``) and the live list's
    storage, each view reading only its own prefix of the list. The
    indexes may already hold later records; they are read only under
    the commit lock, where the view in hand is the newest."""

    def __init__(self) -> None:
        self.last: Optional[CommitRecord] = None
        self.last_seq = -1
        self.head = -1
        self.compaction: Optional[CommitRecord] = None
        self.compacted_through = -1
        self.ckpt: Optional[CommitRecord] = None
        self.ckpt_seq = -1
        self.n_records = 0  # records left after checkpoint supersession
        self.pending: dict[str, CommitRecord] = {}  # bulk dir -> reservation
        self._live: list[CommitRecord] = []
        self._n_live = 0
        self._pos_sorted = True  # live max_positions ascend with seq
        self.keys: set[str] = set()
        self.fp_seqs: dict[int, set[int]] = {}  # tag fp -> data commit seqs
        self.nofps_seqs: set[int] = set()  # data commits with no tag summary
        self.seq_rec: dict[int, CommitRecord] = {}  # seq -> latest record
        self._seq_n: dict[int, int] = {}  # seq -> records folded at it
        self._published: set[str] = set()  # bulk dirs some record names

    @property
    def live(self) -> list[CommitRecord]:
        return self._live[: self._n_live]

    def _successor(self) -> "LogView":
        nxt = copy.copy(self)
        nxt.pending = dict(self.pending)
        return nxt

    def _set_live(self, live: list[CommitRecord]) -> None:
        self._live, self._n_live = live, len(live)
        self._pos_sorted = all(
            a.max_position <= b.max_position for a, b in zip(live, live[1:])
        )

    def _set_compaction(self, c: Optional[CommitRecord]) -> None:
        self.compaction = c
        self.compacted_through = -1 if c is None else c.compacted_through

    def _fold(self, records: Iterable[CommitRecord]) -> None:
        """Fold ``records`` into this view, in log order."""
        keys, seq_rec, seq_n, fp_seqs = self.keys, self.seq_rec, self._seq_n, self.fp_seqs
        last, last_seq, head, n_records = self.last, self.last_seq, self.head, self.n_records
        for c in records:
            seq = c.seq
            if seq <= self.ckpt_seq:
                continue  # superseded by the checkpoint
            if c.checkpoint:
                n_records = sum(n for s, n in seq_n.items() if s > seq)
                self.pending = {k: r for k, r in self.pending.items() if r.seq > seq}
                if self.compaction is not None and self.compaction.seq <= seq:
                    self._set_compaction(None)  # the checkpoint takes its place
                self.ckpt, self.ckpt_seq = c, seq
            n_records += 1
            seq_n[seq] = seq_n.get(seq, 0) + 1
            if c.idempotency_key is not None:
                keys.add(c.idempotency_key)
            if c.keys is not None:
                keys.update(c.keys)
            if seq >= last_seq:
                last, last_seq = c, seq
            if c.max_position > head:
                head = c.max_position
            seq_rec[seq] = c
            if c.compacted_through is not None:
                if c.compacted_through > self.compacted_through:
                    self._set_compaction(c)
                    self._set_live(
                        [x for x in self.live if x.seq > c.compacted_through]
                    )
            elif c.rows > 0:
                if c.tag_fps is None:
                    self.nofps_seqs.add(seq)
                else:
                    for fp in c.tag_fps:
                        if fp in fp_seqs:
                            fp_seqs[fp].add(seq)
                        else:
                            fp_seqs[fp] = {seq}
                if seq > self.compacted_through:
                    self._add_live(c)
            elif c.reserved:
                name = f"commit-{seq:010d}-bulk"
                if name not in self._published:
                    self.pending[name] = c
            if c.file is not None and c.file.endswith("-bulk"):
                self._published.add(c.file)
                self.pending.pop(c.file, None)
        self.last, self.last_seq, self.head, self.n_records = last, last_seq, head, n_records

    def _add_live(self, c: CommitRecord) -> None:
        live, n = self._live, self._n_live
        if n and c.seq < live[n - 1].seq:
            self._set_live(sorted(self.live + [c], key=_seq))
            return
        if len(live) != n:
            live = self._live = live[:n]  # never write past another view's prefix
        if n and c.max_position < live[n - 1].max_position:
            self._pos_sorted = False
        live.append(c)
        self._n_live = n + 1

    # -- lookups ------------------------------------------------------------

    def key_seen(self, key: str) -> bool:
        return key in self.keys

    def next_seq(self) -> int:
        """Next commit seq: past both the last seq AND the head position
        — a bulk commit may carry caller-assigned positions larger than
        one stride (e.g. source offsets), and the next commit's position
        range must still start above the head or total order breaks."""
        if self.last_seq < 0:
            return 0
        return max(self.last_seq + 1, self.head // POSITION_STRIDE + 1)

    def published_head(self) -> int:
        """The head, bounded below every pending reservation younger
        than RESERVATION_GRACE_S (see
        StoreLayout.published_head_position)."""
        import time as _time

        head = self.head
        for c in self.pending.values():
            try:
                ts = datetime.fromisoformat(c.appended_at)
                if ts.tzinfo is None:
                    ts = ts.replace(tzinfo=timezone.utc)
                if _time.time() - ts.timestamp() > RESERVATION_GRACE_S:
                    continue  # crashed ingest: a permanent hole
            except ValueError:
                pass
            head = min(head, c.seq * POSITION_STRIDE - 1)
        return head

    def compaction_after(
        self, after_pos: int, after_seq: int = -1
    ) -> Optional[CommitRecord]:
        """The compaction record when its data can hold positions past
        ``after_pos`` and it is not covered through ``after_seq``."""
        c = self.compaction
        if c is None or c.max_position <= after_pos or c.compacted_through <= after_seq:
            return None
        return c

    def live_after(self, after_pos: int = -1, after_seq: int = -1) -> list[CommitRecord]:
        """Live data commits with max_position > ``after_pos`` and seq >
        ``after_seq``, in seq order. Bisects to the first match, so the
        cost is the size of the answer while positions ascend with seq
        (always on flock)."""
        live, n = self._live, self._n_live
        lo = bisect.bisect_right(live, after_seq, 0, n, key=_seq)
        if self._pos_sorted:
            lo = max(lo, bisect.bisect_right(live, after_pos, 0, n, key=_max_position))
        return [c for c in live[lo:n] if c.max_position > after_pos]

    def row_runs(
        self, after_pos: int, head: int, max_rows: int
    ) -> Optional[list[list[CommitRecord]]]:
        """The live row commits holding positions in (``after_pos``,
        ``head``], in position order, cut into runs of consecutive
        commits of at most ``max_rows`` rows (a bigger commit is a run
        of its own) — or None when the range reaches into the compacted
        snapshot or a bulk commit, whose data is not laid out in
        position order. A row commit owns ``[seq * stride,
        max_position]``, so the ranges are disjoint and max_position
        order is position order, also on optimistic, where seq order
        is not."""
        if self.compaction_after(after_pos) is not None:
            return None
        runs: list[list[CommitRecord]] = []
        n = 0
        for c in sorted(self.live_after(after_pos), key=_max_position):
            if c.bulk:
                return None
            if c.seq * POSITION_STRIDE > head:
                break  # this commit and every later one lie past the head
            if not runs or n + c.rows > max_rows:
                runs.append([])
                n = 0
            runs[-1].append(c)
            n += c.rows
        return runs

    def dcb_candidates(
        self, item_fps: list[list[int]], after_pos: int, after_seq: int = -1
    ) -> list[CommitRecord]:
        """Live data commits that could hold a fact matching ANY item
        (see StoreLayout.dcb_candidate_files), from the fp -> seqs index
        in O(matching commits)."""
        if not item_fps or any(not fps for fps in item_fps):
            return self.live_after(after_pos, after_seq)
        cand = set(self.nofps_seqs)
        for fps in item_fps:
            sets = [self.fp_seqs.get(fp) for fp in fps]
            if any(s is None for s in sets):
                continue  # some required pair never committed
            cand |= set.intersection(*sets)
        floor = max(after_seq, self.compacted_through)
        out = []
        for seq in sorted(cand):
            c = self.seq_rec[seq]
            if (
                floor < seq <= self.last_seq
                and c.rows > 0
                and c.compacted_through is None
                and c.max_position > after_pos
            ):
                out.append(c)
        return out


def fold_log(
    records: Iterable[CommitRecord], base: Optional[LogView] = None
) -> LogView:
    """The one fold over raw commit records: a fresh view of
    ``records``, or ``base``'s successor with ``records`` folded on top
    (``base`` itself is left unchanged)."""
    view = LogView() if base is None else base._successor()
    view._fold(records)
    return view


class _CommitGroup:
    """Group-commit queue of one flock-backend store (round 15, guide
    §2.6/§5 applied to the commit protocol).

    Racing appends enqueue; whichever waiter finds the leader slot free
    drains the queue and executes every queued append attempt
    sequentially under ONE flock acquisition — each attempt sees exactly
    the state the old per-append locking showed it (its log refresh
    already contains the batch's earlier lines) — then ONE fsync
    (``StoreLayout.sync_commit_log``) makes the whole batch durable
    before any caller is acked. Amortizes both the flock round trip and
    the fsync (the durability floor, ~70% of an uncontended append)
    across the queue depth; an uncontended append is a batch of one and
    costs what it always did.

    Exception containment: an attempt that raises (including the fault
    suite's BaseException kill) fails only ITS caller; later batch
    members proceed, exactly like a writer dying and the next lock
    holder continuing (the orphan sweep covers its debris). If taking
    the lock (or its upkeep) raises, every member without a result gets
    that exception. If the group fsync fails, every member that wrote a
    line gets the failure — none of their commits is known durable."""

    def __init__(self) -> None:
        import threading

        self._mu = threading.Lock()
        self._cv = threading.Condition(self._mu)
        self._pending: list[list] = []
        self._leader_busy = False

    def run(self, layout: "StoreLayout", work):
        """Execute ``work`` (no args; returns (result, sync_ticket))
        under the store's commit lock as part of a batch; returns
        work's result after the batch's group fsync covers it."""
        item = [work, None, None, False, 0]  # fn, result, exc, done, ticket
        with self._mu:
            self._pending.append(item)
            while not item[3] and self._leader_busy:
                self._cv.wait()
            if item[3]:
                if item[2] is not None:
                    raise item[2]
                return item[1]
            self._leader_busy = True
            batch = self._pending
            self._pending = []
        try:
            try:
                with layout.commit_lock(upkeep="cadence"):
                    for it in batch:
                        try:
                            it[1], it[4] = it[0]()
                        except BaseException as exc:  # noqa: BLE001 — kill-fault analog
                            it[2] = exc
            except BaseException as exc:  # noqa: BLE001 — lock, upkeep or unlock
                for it in batch:
                    if it[1] is None and it[2] is None:
                        it[2] = exc
            max_ticket = max(it[4] for it in batch)
            if max_ticket > 0:
                try:
                    layout.sync_commit_log(max_ticket)
                except BaseException as exc:  # noqa: BLE001
                    for it in batch:
                        if it[2] is None and it[4] > 0:
                            it[2] = exc
        finally:
            with self._mu:
                self._leader_busy = False
                for it in batch:
                    it[3] = True
                self._cv.notify_all()
        if item[2] is not None:
            raise item[2]
        return item[1]


class StoreLayout:
    """Filesystem handle for one store's data + commit log."""

    def __init__(self, store_dir: str):
        import threading as _threading

        self.store_dir = store_dir
        self.data_dir = os.path.join(store_dir, DATA_DIR)
        self.id_index_dir = os.path.join(store_dir, ID_INDEX_DIR)
        self.stream_dir = os.path.join(store_dir, STREAM_DIR)
        # Parsed log: (inode, bytes parsed through, records, n, view).
        # The log is append-only between checkpoints, so growth since
        # the parsed offset is parsed and folded incrementally (see
        # _refresh). Correct across processes because any append grows
        # the file; a checkpoint REPLACES the file (tmp + rename = new
        # inode), so the inode detects the swap and forces a full
        # reparse — an offset into the old file would be garbage in the
        # new one. ``records`` is a grow-only list shared by successive
        # states; each state reads its first ``n``.
        self._log: Optional[tuple] = None
        self._log_mu = _threading.Lock()
        # Group-commit state (round 15, guide §2.6 applied to the
        # commit protocol): the commit-log fsync is ~70% of an
        # uncontended append (measured 11.6 ms of a 16.9 ms p50) and
        # under concurrency every queued writer used to pay it INSIDE
        # the flock — the k6 probe's p50 was pure fsync queueing. The
        # hot append path now writes its log line under the flock but
        # fsyncs AFTER releasing it, through sync_commit_log(), where
        # one fsync covers every line written so far (fsync flushes
        # the whole file, and the log is append-only between
        # checkpoint swaps — later fsyncs always cover earlier lines,
        # so no commit can be durable while an earlier one is lost).
        # Tickets are a process-local monotone write counter, assigned
        # under the flock so ticket order == line order. An append is
        # acked only after its ticket is covered — the durability
        # contract (no acked-then-lost commit) is unchanged; the only
        # new window is a commit being VISIBLE to readers slightly
        # before it is durable, which the pre-group-commit code
        # already allowed (readers never took the flock and lines were
        # readable between write() and the in-lock fsync).
        self._gc_cv = _threading.Condition()
        self._gc_ticket = 0  # last ticket handed out (line written)
        self._gc_synced = 0  # last ticket covered by a completed fsync
        self._gc_sync_in_flight = False
        self._group = _CommitGroup()

    def initialize(self) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.stream_dir, exist_ok=True)
        commits = os.path.join(self.store_dir, COMMITS_FILE)
        if not os.path.exists(commits):
            with open(commits, "w"):
                pass

    def exists(self) -> bool:
        return os.path.isdir(self.data_dir)

    def change_token(self):
        """Cheap append-visibility token — changes whenever a commit
        may have landed. One stat(2) of the commit log file (size +
        mtime_ns: every flock-backend append grows the file, and a
        checkpoint swap moves both fields), so a subscriber can watch
        the tail at millisecond granularity for the cost of a syscall
        instead of a full head recompute — the lake analog of the
        reference's FDB head-key watch (FdbFactStreamer.kt:186-190).
        Purely advisory: equal tokens mean "probably nothing new",
        never "definitely nothing" — callers must keep a poll-interval
        fallback (which also covers substrates where the token cannot
        see appends at all, e.g. object-store commit slots)."""
        try:
            st = os.stat(os.path.join(self.store_dir, COMMITS_FILE))
            return (st.st_size, st.st_mtime_ns)
        except OSError:
            return None

    # -- commit log ---------------------------------------------------------

    def _refresh(self) -> tuple:
        """Parse and fold the commit log's growth since the last call:
        the log is append-only (every writer appends whole fsynced
        lines under a lock or via O_APPEND), so when the file has only
        GROWN, just the new suffix is read and folded into a successor
        of the last view — per-call cost is O(new commits), never
        O(all commits). Serialized per instance: reader threads
        (subscription polls) share this layout with the appender."""
        path = os.path.join(self.store_dir, COMMITS_FILE)
        log = self._log
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return (None, 0, [], 0, LogView())
        if log is not None and (log[0], log[1]) == (st.st_ino, st.st_size):
            return log  # unchanged since the last parse
        with self._log_mu:
            try:
                f = open(path, "rb")
            except FileNotFoundError:
                return (None, 0, [], 0, LogView())
            with f:
                # fstat the OPEN fd so inode and size describe the same
                # file even if a checkpoint swaps the log concurrently.
                st = os.fstat(f.fileno())
                log = self._log
                if log is not None and log[0] == st.st_ino and log[1] <= st.st_size:
                    if log[1] == st.st_size:
                        return log
                    _ino, start, records, _n, base = log
                    f.seek(start)
                else:  # first read, checkpoint swap or shrink: full reparse
                    start, records, base = 0, [], None
                data = f.read(st.st_size - start)
            # Only complete lines are ever durable, but guard anyway: stop
            # at the last newline and leave the remainder for the next read.
            end = data.rfind(b"\n")
            new: list[CommitRecord] = []
            for raw in data[: end + 1].splitlines():
                raw = raw.strip()
                if not raw:
                    continue
                try:
                    d = json.loads(raw)
                except json.JSONDecodeError:
                    # torn-write artifact: a writer died mid-line and a
                    # later append isolated the fragment with a healing
                    # newline (append_commit). Only fsynced COMPLETE lines
                    # are commits, so the fragment is a non-commit by
                    # construction — same stance as the optimistic
                    # backend's unparseable-slot skip (_read_claim).
                    continue
                new.append(commit_record_from_dict(d))
            records.extend(new)
            view = fold_log(new, base) if new or base is None else base
            self._log = (st.st_ino, start + end + 1, records, len(records), view)
            return self._log

    def read_commits(self) -> list[CommitRecord]:
        """The commit records, checkpoint supersession applied. For code
        that needs the records themselves (checkpoint folds, orphan
        sweeps, maintenance gap folds); log STATE comes from
        :meth:`log_view`."""
        _ino, _through, records, n, _view = self._refresh()
        return _resolve_checkpoints(records[:n])

    def log_view(self) -> LogView:
        """The current log state (see LogView), refreshed through the
        incremental parse."""
        return self._refresh()[4]

    def _view(self, snapshot=None) -> LogView:
        """Lookups take an optional snapshot: a LogView, or an explicit
        record list (folded into a fresh view); None reads the current
        state."""
        if snapshot is None:
            return self.log_view()
        if isinstance(snapshot, LogView):
            return snapshot
        return fold_log(snapshot)

    def last_commit(self) -> Optional[CommitRecord]:
        """The logically-latest record (highest seq; see LogView)."""
        return self.log_view().last

    def head_position(self) -> int:
        """Current max position, or -1 for an empty store."""
        return self.log_view().head

    def published_head_position(self, snapshot=None) -> int:
        """Highest position SAFE for a forward-moving subscription
        cursor: the head, bounded below any PENDING bulk reservation
        (range claimed, data not yet published). A cursor advanced past
        an unpublished range would exclude those facts forever once
        they publish — both the no-loss and the position-ordered
        delivery contracts require holding the cursor at the lowest
        pending base. Reservations older than the in-flight grace (1h,
        the orphan sweep's gate — after which a crashed ingest's data
        dir is reaped anyway) stop holding the cursor back. Equals
        head_position() on the flock backend (no reservations)."""
        return self._view(snapshot).published_head()

    def next_seq(self, snapshot=None) -> int:
        """Next commit seq of ``snapshot`` (see LogView.next_seq)."""
        return self._view(snapshot).next_seq()

    # -- stream mirror ------------------------------------------------------

    def sync_stream_links(self) -> None:
        """Mirror every COMMITTED data file into ``stream/`` as a
        hardlink (flat names). The streaming subscription source reads
        this directory instead of ``data/``, which keeps it decoupled
        from compaction: compaction rewrites/purges ``data/`` layouts,
        while the stream mirror retains the original per-commit files
        (hardlinks share inodes — no copy) so an open subscription never
        sees duplicate or vanishing paths. Crash-safe by reconciliation:
        called under the commit lock and before building a stream."""
        os.makedirs(self.stream_dir, exist_ok=True)
        existing = set(os.listdir(self.stream_dir))
        for fp in self.data_files():
            rel = os.path.relpath(fp, self.data_dir)
            flat = rel.replace(os.sep, "__")
            if flat in existing or rel.split(os.sep)[0].startswith("compacted-"):
                continue
            try:
                os.link(fp, os.path.join(self.stream_dir, flat))
            except FileExistsError:
                pass

    def idempotency_key_seen(self, key: str, snapshot=None) -> bool:
        """Idempotency keys live in the commit log itself, so the check
        and the record are part of the same append protocol
        (FdbFactAppender.kt:52-64, FdbFactStoreContext.kt:377-393).
        Checkpoint records carry the merged keys of every commit they
        folded, so the guarantee survives log checkpointing."""
        return self._view(snapshot).key_seen(key)

    # -- locking ------------------------------------------------------------

    # Reconciliation cadence for the in-lock upkeep (orphan sweep +
    # stream-mirror sync) on the APPEND path. Both are pure
    # reconciliation — appends link their own file into the mirror and
    # subscription builds re-sync explicitly — but each pass lists
    # O(data files + lifetime stream entries), so running them on EVERY
    # append made every single-row append pay the store's lifetime
    # listing cost (the exact quadratic-lifetime tax this module's log
    # parsing avoids). Maintenance acquisitions keep sweeping
    # unconditionally (upkeep="always", the default).
    UPKEEP_INTERVAL = 60.0

    @contextmanager
    def commit_lock(self, upkeep: str = "always") -> Iterator[None]:
        """Per-store critical section. Serializes the check-and-append,
        giving the exactly-one-winner contract for racing conditional
        appends (AbstractFactStoreTest.kt:385-420). ``upkeep``:
        "always" (maintenance) runs the reconciliation sweep on entry;
        "cadence" (hot append path) at most once per UPKEEP_INTERVAL."""
        import time as _time

        os.makedirs(self.store_dir, exist_ok=True)
        fd = os.open(os.path.join(self.store_dir, LOCK_FILE), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            now = _time.time()
            if upkeep == "always" or (
                now - getattr(self, "_last_upkeep", 0.0) > self.UPKEEP_INTERVAL
            ):
                self._sweep_orphans()
                self.sync_stream_links()
                self._last_upkeep = now
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _sweep_tmp_files(self) -> None:
        """Drop aged tmp files from crashed writers (heads/checkpoint
        tmps are uniquely named, so a crash strands them)."""
        import time

        now = time.time()
        for name in os.listdir(self.store_dir):
            if not name.endswith(".tmp"):
                continue
            p = os.path.join(self.store_dir, name)
            try:
                if os.path.isfile(p) and now - os.path.getmtime(p) > 3600:
                    os.unlink(p)
            except OSError:
                pass

    def _sweep_orphans(self) -> None:
        """Drop data files/dirs whose seq never made it into the commit
        log (crash between rename/write and commit-line append) —
        covers both row-commit files and bulk-commit directories."""
        import shutil

        self._sweep_tmp_files()
        committed = {c.seq for c in self.read_commits()}
        for name in os.listdir(self.data_dir):
            path = os.path.join(self.data_dir, name)
            if name.startswith("commit-") and name.endswith(".parquet"):
                try:
                    seq = int(name[len("commit-") : -len(".parquet")].split("-")[0])
                except ValueError:
                    continue
                if seq not in committed:
                    os.unlink(path)
            elif name.startswith("commit-") and name.endswith("-bulk") and os.path.isdir(path):
                try:
                    seq = int(name.split("-")[1])
                except (ValueError, IndexError):
                    continue
                if seq not in committed:
                    shutil.rmtree(path, ignore_errors=True)

    # -- commit-log writes (flock: call only while holding commit_lock) ----

    def _append_log_line(self, record: dict, defer_sync: bool = False) -> int:
        """Append one record line to the commit log, healing a torn
        tail first: a writer killed mid-write can leave a partial
        line with no newline, and appending straight after it would
        garble BOTH records into one unparseable line. A leading
        newline isolates the dead fragment (the parser skips non-JSON
        lines; only fsynced full lines are commits). Every caller runs
        under the flock, so the tail probe is race-free.

        ``defer_sync=False`` (default, maintenance/checkpoint/bulk
        callers): the line is fsynced before returning, exactly the
        pre-round-15 behaviour. ``defer_sync=True`` (hot append path):
        the line is written+flushed but NOT fsynced; the returned
        ticket must be passed to :meth:`sync_commit_log` AFTER the
        flock is released, where one group fsync covers every queued
        writer's line (see the group-commit note in ``__init__``)."""
        path = os.path.join(self.store_dir, COMMITS_FILE)
        with open(path, "a+b") as f:
            f.seek(0, os.SEEK_END)
            size = f.tell()
            heal = b""
            if size:
                f.seek(size - 1)
                if f.read(1) != b"\n":
                    heal = b"\n"
            f.write(heal + json.dumps(record).encode() + b"\n")
            f.flush()
            if not defer_sync:
                os.fsync(f.fileno())
                return 0
        with self._gc_cv:
            self._gc_ticket += 1
            return self._gc_ticket

    def sync_commit_log(self, ticket: int) -> None:
        """Block until the log line identified by ``ticket`` is
        durable. The first waiter becomes the leader and performs ONE
        fsync of the current log file, covering every line written up
        to that point (the log is append-only; a checkpoint swap
        replaces it with a file the checkpointer already fsynced, so
        fsyncing the current path always covers every folded line).
        Writers queued behind an in-flight fsync wait for it; if it
        already covers their ticket they return without another
        syscall — that sharing is the whole point. On fsync failure
        the leader re-raises and does NOT mark the range synced, so a
        waiter retries as the new leader."""
        if ticket <= 0:
            return  # line was fsynced inline
        while True:
            with self._gc_cv:
                if self._gc_synced >= ticket:
                    return
                if self._gc_sync_in_flight:
                    self._gc_cv.wait(timeout=5.0)
                    continue
                self._gc_sync_in_flight = True
                target = self._gc_ticket
            ok = False
            try:
                fd = os.open(os.path.join(self.store_dir, COMMITS_FILE), os.O_RDONLY)
                try:
                    os.fsync(fd)
                finally:
                    os.close(fd)
                ok = True
            finally:
                with self._gc_cv:
                    self._gc_sync_in_flight = False
                    if ok:
                        self._gc_synced = max(self._gc_synced, target)
                    self._gc_cv.notify_all()

    # -- the append protocol (attempt runners + the one row commit) ---------

    def log_snapshot(self) -> LogView:
        """The one view an append attempt evaluates against: its
        idempotency check and its commit's next_seq both read THIS
        view. On flock the held commit lock keeps it current for the
        whole attempt. On optimistic a rival commit landing after it
        takes that seq first, so the claim loses and the retry re-checks
        the key; letting next_seq re-read the log instead would claim
        past the rival and apply an idempotent retry twice."""
        return self.log_view()

    def run_append(self, attempt):
        """Drive one row append to its result. ``attempt()`` evaluates
        the append against :meth:`log_snapshot` and returns
        ``(result, sync_ticket)``, or None when its publish lost the seq
        to a rival commit. Here attempts run through group commit: under
        the commit lock a publish never loses, and one fsync covers a
        whole batch of attempts before any of them is acked."""
        return self._group.run(self, attempt)

    def run_bulk(self, key: str, span, write):
        """Drive one bulk ingest. ``write(seq, appended_at, ceiling)``
        writes, validates and publishes the commit whose position range
        starts at ``seq * POSITION_STRIDE`` (``seq`` None: no rows to
        write; ``ceiling``: the highest position the range owns, None
        when unbounded) and returns its result; None from here means
        ``key`` was applied already. The flock backend holds the commit
        lock across the Spark write: the lock alone owns the next range,
        whatever its size, so ``span`` is never measured."""
        with self.commit_lock(upkeep="cadence"):
            view = self.log_view()
            if view.key_seen(key):
                return None
            return write(view.next_seq(), utcnow_us(), None)

    def _data_file_name(self, seq: int) -> str:
        """Name of a row commit's data file — seq-derived here: under
        the lock no other writer can hold the seq."""
        return f"commit-{seq:010d}.parquet"

    def _publish(
        self, record: dict, data_name: Optional[str], defer_sync: bool = False
    ) -> Optional[int]:
        """The backend's publish primitive: make ``record`` a commit.
        Here, append it as a log line (the caller holds the commit
        lock, so the publish always wins; ``data_name`` is not recorded
        — flock data names derive from the seq). Returns the sync
        ticket (0 = fsynced inline); the optimistic backend returns
        None for a lost claim."""
        return self._append_log_line(record, defer_sync=defer_sync)

    def append_commit(
        self,
        rows: list[dict],
        appended_at: datetime,
        idempotency_key: Optional[str],
        snapshot=None,
        defer_sync: bool = False,
    ) -> Optional[tuple[int, list[int]] | tuple[int, list[int], int]]:
        """Write one row commit: parquet file, then its record through
        :meth:`_publish`. Returns (seq, positions) — or (seq, positions,
        sync_ticket) when ``defer_sync=True``, in which case the caller
        MUST pass the ticket to :meth:`sync_commit_log` after releasing
        the flock and before acking the append (group commit, see
        ``__init__``) — or None when the publish lost the seq (the data
        file is removed; re-evaluate against a fresh snapshot).

        Seq and head come from ``snapshot`` (see :meth:`_view`; the
        attempt passes its :meth:`log_snapshot`), so any commit landing
        after it takes that seq first and this publish loses.
        Subject-head state is DERIVED from the log (storage/heads.py) —
        the append path writes nothing per-subject, so per-append cost
        is flat in lifetime subject cardinality."""
        view = self._view(snapshot)
        seq = view.next_seq()
        base = seq * POSITION_STRIDE
        positions = [base + i for i in range(len(rows))]
        for row, pos in zip(rows, positions):
            row["position"] = pos

        name = final = None
        if rows:
            name = self._data_file_name(seq)
            final = os.path.join(self.data_dir, name)
            table = pa.Table.from_pylist(rows, schema=FACT_ARROW_SCHEMA)
            tmp = os.path.join(self.store_dir, f".tmp-{uuid.uuid4().hex}.parquet")
            pq.write_table(table, tmp)
            os.rename(tmp, final)

        # empty commits derive the head from the snapshot in hand — the
        # record should describe the snapshot its seq came from
        record = {
            "seq": seq,
            "rows": len(rows),
            "appended_at": appended_at.isoformat(),
            "idempotency_key": idempotency_key,
            "max_position": positions[-1] if positions else view.head,
            "tag_fps": commit_tag_fps(rows),
            "subj_fps": commit_subj_fps(rows),
        }
        ticket = self._publish(record, name, defer_sync)
        if ticket is None:
            if final is not None:
                try:
                    os.unlink(final)
                except OSError:
                    pass
            return None
        if final is not None:
            self._link_into_stream(final)
        if defer_sync:
            return seq, positions, ticket
        return seq, positions

    def _link_into_stream(self, data_file: str) -> None:
        """Hardlink one committed data file into the stream mirror
        (called right after the commit line lands, so live subscriptions
        see the new facts on their next micro-batch)."""
        os.makedirs(self.stream_dir, exist_ok=True)
        rel = os.path.relpath(data_file, self.data_dir)
        flat = rel.replace(os.sep, "__")
        try:
            os.link(data_file, os.path.join(self.stream_dir, flat))
        except FileExistsError:
            pass

    # -- subject heads (ExpectedLastFact fast path) -------------------------

    def last_fact_of_subject(self, subject: str) -> Optional[tuple[str, int]]:
        """Last-fact lookup for ExpectedLastFact conditions — the
        stand-in for the reverse limit-1 subject-index scan
        (FdbFactAppender.kt:91-113). Fully log-derived: a subj_fps-
        pruned newest-first scan of the post-snapshot commit tail, then
        one head-snapshot shard (storage/heads.py) — exact at any
        snapshot staleness, O(1) file opens for a hot subject, O(shard)
        for a cold one, never O(all subjects)."""
        from .heads import HeadsIndex

        return HeadsIndex(self).lookup(subject)

    # -- local reads (pyarrow, no Spark) ------------------------------------

    def data_layout(self, snapshot=None) -> tuple[Optional[str], list[str]]:
        """(compacted_dir, tail_files): the latest compacted snapshot
        directory (a hive layout partitioned by ``fact_date`` — read it
        as a DIRECTORY so Spark discovers the partition column and can
        prune dates) plus the per-commit parquet files of the live
        commits past it."""
        view = self._view(snapshot)
        return self.snapshot_dir(view), self._resolve_files(None, view.live)

    def snapshot_dir(self, view: LogView) -> Optional[str]:
        """``view``'s compacted snapshot directory, or None."""
        ct = view.compacted_through
        return self._compacted_dir(ct) if ct >= 0 else None

    def data_files(self, snapshot=None) -> list[str]:
        view = self._view(snapshot)
        return self._resolve_files(view.compaction, view.live)

    def _compacted_dir(self, ct: int) -> str:
        return os.path.join(self.data_dir, f"compacted-{ct:010d}")

    def _compacted_files(self, ct: int) -> list[str]:
        """Parquet files of the compacted snapshot through ``ct``."""
        files: list[str] = []
        for root, _dirs, names in os.walk(self._compacted_dir(ct)):
            files.extend(
                os.path.join(root, n) for n in sorted(names) if n.endswith(".parquet")
            )
        return files

    def _resolve_files(
        self, compaction: Optional[CommitRecord], commits: list[CommitRecord]
    ) -> list[str]:
        """Physical files of a compaction (None: none) plus commits."""
        files = [] if compaction is None else self._compacted_files(
            compaction.compacted_through
        )
        for c in commits:
            files.extend(self._files_of(c))
        return files

    def _files_of(self, c: CommitRecord) -> list[str]:
        """Physical parquet paths of one commit record."""
        if c.file is not None:
            p = os.path.join(self.data_dir, c.file)
            if os.path.isdir(p):
                return [
                    os.path.join(p, f)
                    for f in sorted(os.listdir(p))
                    if f.endswith(".parquet")
                ]
            return [p]
        if c.bulk:
            d = os.path.join(self.data_dir, f"commit-{c.seq:010d}-bulk")
            return [
                os.path.join(d, f)
                for f in sorted(os.listdir(d))
                if f.endswith(".parquet")
            ]
        return [os.path.join(self.data_dir, f"commit-{c.seq:010d}.parquet")]

    def commit_files(self, commits: list[CommitRecord]) -> list[str]:
        """Physical parquet paths of ``commits``, in their order."""
        return self._resolve_files(None, commits)

    def data_files_between(self, lo_seq: int, hi_seq: int) -> list[str]:
        """Per-commit data files for commits with ``lo_seq < seq <=
        hi_seq`` — the incremental-maintenance window (tag-index
        refresh). Callers must ensure no compaction has superseded
        commits in the window (their original files may be purged)."""
        files: list[str] = []
        for c in self.read_commits():
            if c.compacted_through is not None or c.rows == 0:
                continue
            if not (lo_seq < c.seq <= hi_seq):
                continue
            files.extend(self._files_of(c))
        return files

    def write_compaction_record(self, record: dict) -> bool:
        """Append a compaction record to the log (called under the
        maintenance lock). Returns False if another compaction claimed
        the same snapshot first (only possible on the optimistic
        backend; the flock backend's in-lock guard already resolved it)."""
        self._append_log_line(record)
        return True

    # -- commit-log checkpointing (Delta-checkpoint analog) -----------------

    def checkpoint_log(self) -> dict:
        """Fold the compaction-superseded prefix of the commit log into
        ONE summary record, bounding fresh-process open cost at
        O(recent commits) instead of O(lifetime) — the Delta checkpoint
        analog, riding on compaction's supersede mechanics: a record
        can only be dropped once its data files are owned by a
        compacted snapshot, so checkpointing folds exactly the commits
        a compaction has already superseded (run ``compact`` first).

        The summary preserves every invariant the folded records
        served: ``max_position`` (head / next_seq), merged idempotency
        ``keys`` (AlreadyApplied detection), the ``compacted_through``
        pointer (data-file resolution), and merged ``tag_fps`` when
        under the cap (DCB commit skipping)."""
        with self.commit_lock():
            commits = self.read_commits()
            comp = fold_log(commits).compaction
            if comp is None:
                return {"checkpointed": False, "reason": "no compaction"}
            ct = comp.compacted_through
            folded = [c for c in commits if c.seq <= ct]
            if len(folded) <= 1 and all(c.checkpoint for c in folded):
                return {"checkpointed": False, "reason": "up to date"}
            keys: set = set()
            fps: Optional[set] = set()
            max_pos = -1
            for c in folded:
                if c.idempotency_key is not None:
                    keys.add(c.idempotency_key)
                if c.keys is not None:
                    keys.update(c.keys)
                max_pos = max(max_pos, c.max_position)
                if fps is not None:
                    if c.tag_fps is None and c.rows > 0 and c.compacted_through is None:
                        fps = None  # a folded commit with unknown tags
                    elif c.tag_fps is not None:
                        fps.update(c.tag_fps)
                        if len(fps) > MAX_TAG_FPS:
                            fps = None
            summary = CommitRecord(
                seq=ct,
                rows=comp.rows,
                appended_at=utcnow_us().isoformat(),
                idempotency_key=None,
                max_position=max_pos,
                compacted_through=ct,
                tag_fps=sorted(fps) if fps is not None else None,
                checkpoint=True,
                keys=frozenset(keys),
            )
            tail = self._checkpoint_tail(ct)
            self._rewrite_commits_file([summary] + tail)
            return {
                "checkpointed": True,
                "through_seq": ct,
                "folded": len(folded),
                "tail": len(tail),
                "keys": len(keys),
            }

    def _checkpoint_tail(self, ct: int) -> list[CommitRecord]:
        """Records that survive the rewrite: everything after the fold
        horizon. (The optimistic backend overrides this to return only
        jsonl-sourced records — claim slots keep living in the claim
        dir until the retention sweep.)"""
        return [c for c in self.read_commits() if c.seq > ct]

    def _rewrite_commits_file(self, records: list[CommitRecord]) -> None:
        """Atomically replace commits.jsonl (tmp + fsync + rename; the
        new inode invalidates every process's incremental-parse memo)."""
        path = os.path.join(self.store_dir, COMMITS_FILE)
        tmp = path + f".ckpt-{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            for c in records:
                f.write(json.dumps(commit_record_to_dict(c)) + "\n")
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)
        dfd = os.open(self.store_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        self._log = None

    def publish_bulk(
        self,
        data_dir_name: Optional[str],
        rows: int,
        max_position: int,
        appended_at: datetime,
        idempotency_key: Optional[str],
        subj_fps: Optional[list[int]] = None,
    ) -> Optional[int]:
        """Publish an already-written bulk directory (``None`` for an
        empty ingest) as one commit through :meth:`_publish`, then
        mirror its files into the stream. Returns the commit's seq, or
        None when ``idempotency_key`` appeared meanwhile (the caller
        answers AlreadyApplied). On flock the caller holds the commit
        lock across the write, so the first publish wins at the very
        seq the directory is named for; the optimistic backend re-reads
        and re-claims until a slot is its own."""
        while True:
            view = self.log_snapshot()
            if idempotency_key is not None and view.key_seen(idempotency_key):
                return None
            seq = view.next_seq()
            record = {
                "seq": seq,
                "rows": rows,
                "appended_at": appended_at.isoformat(),
                "idempotency_key": idempotency_key,
                "max_position": max_position,
                "bulk": True,
            }
            if subj_fps is not None:
                record["subj_fps"] = subj_fps
            if self._publish(record, data_dir_name) is not None:
                break
        if data_dir_name is not None:
            bulk_dir = os.path.join(self.data_dir, data_dir_name)
            for name in sorted(os.listdir(bulk_dir)):
                if name.endswith(".parquet"):
                    self._link_into_stream(os.path.join(bulk_dir, name))
        return seq

    def read_arrow(
        self,
        columns: Optional[list[str]] = None,
        filter: Optional[pa_ds.Expression] = None,
        files: Optional[list[str]] = None,
    ) -> pa.Table:
        """Small, latency-sensitive reads that would waste a Spark job:
        condition evaluation, cursor resolution, the ordered reader's
        runs of row commits and the finders' index-bounded driver
        reads. ``files`` restricts the read to a pre-pruned subset
        (e.g. the ``commit_files`` of one run)."""
        files = self.data_files() if files is None else files
        if not files:
            return FACT_ARROW_SCHEMA.empty_table().select(columns) if columns else FACT_ARROW_SCHEMA.empty_table()
        ds = pa_ds.dataset(files, schema=FACT_ARROW_SCHEMA)
        return ds.to_table(columns=columns, filter=filter)

    def scan_batches(
        self,
        columns: Optional[list[str]] = None,
        filter: Optional[pa_ds.Expression] = None,
        batch_size: int = 8192,
        files: Optional[list[str]] = None,
    ):
        """Streaming batch scan over committed data (early-exit-friendly
        — condition evaluation must not pull the whole projection into
        memory under the commit lock). ``files`` restricts the scan to
        a pre-pruned subset (e.g. ``dcb_candidate_files``)."""
        files = self.data_files() if files is None else files
        if not files:
            return
        ds = pa_ds.dataset(files, schema=FACT_ARROW_SCHEMA)
        yield from ds.to_batches(
            columns=columns, filter=filter, batch_size=batch_size
        )

    def dcb_candidate_files(
        self, item_fps: list[list[int]], after_pos: int, after_seq: int = -1
    ) -> list[str]:
        """Files that could contain a fact matching ANY tag-query item
        past ``after_pos`` — the commit-level data-skipping pass for the
        DCB append condition. ``item_fps``: per item, the fingerprints
        of its required tag pairs (AND semantics — a commit can match
        the item only if it contains ALL of them); an empty list means
        the item is not prunable by tags (scan everything eligible).
        Commits with ``tag_fps=None`` (bulk, pre-feature, over-cap) and
        compacted data (no per-commit summary survives the rewrite) are
        always eligible. With fresh/unmatched tags this returns [] and
        the condition check opens NO files — the O(matching-commits)
        behavior the reference gets from its tag subspaces.

        ``after_seq``: commits with ``seq <= after_seq`` are already
        answered by the derived tag index (its NO covers everything
        through built_through), so only the unindexed tail is
        eligible — including skipping the compacted prefix when the
        compaction horizon is itself indexed.

        Candidates come from the view's fp -> seqs index in
        O(matching commits) (LogView.dcb_candidates)."""
        view = self.log_view()
        return self._resolve_files(
            view.compaction_after(after_pos, after_seq),
            view.dcb_candidates(item_fps, after_pos, after_seq),
        )

    def data_files_after_position(self, after_pos: int, snapshot=None) -> list[str]:
        """Parquet files that can contain positions > ``after_pos``:
        the compacted snapshot when it reaches past it, plus the live
        commits past it — the commit-log prune. A subscriber's tail
        poll reads exactly these files when they are row commits (the
        ordered reader cuts them into runs, LogView.row_runs), never
        every store file's footer."""
        view = self._view(snapshot)
        return self._resolve_files(
            view.compaction_after(after_pos), view.live_after(after_pos)
        )

    def id_candidates(self, fact_id: str, view: LogView) -> Optional[list[str]]:
        """The files of ``view``'s compacted snapshot (relative to it)
        that the id index admits for ``fact_id`` — the Bloom probe, in
        Python, with no Spark session — or [] when there is no
        snapshot. None when the snapshot's id index is absent or
        stale. A live commit is never pruned by the index."""
        snapshot = self.snapshot_dir(view)
        if snapshot is None:
            return []
        if not os.path.isdir(self.id_index_dir):
            return None
        from . import bloomindex

        probe = bloomindex.bloom_candidate_files(
            None, self.id_index_dir, snapshot, "id", [fact_id]
        )
        return None if probe.stale else probe.candidate_files

    def position_of_fact(self, fact_id: str) -> Optional[int]:
        """id -> position (FdbFactStore.kt:108-133's id index
        equivalent): reads the id index's candidate snapshot files plus
        the live commits, or every data file when the index is absent
        or stale."""
        view = self.log_view()
        cands = self.id_candidates(fact_id, view)
        files = None
        if cands is not None:
            snapshot = self.snapshot_dir(view)
            files = [os.path.join(snapshot, f) for f in cands]
            files += self.commit_files(view.live)
        table = self.read_arrow(
            columns=["position"], filter=pa_ds.field("id") == fact_id, files=files
        )
        if table.num_rows == 0:
            return None
        return table.column("position")[0].as_py()


def utcnow_us() -> datetime:
    """Server-assigned append instant. Python datetimes are microsecond
    precision — the parquet/Spark timestamp unit — so read-back equality
    is exact (TCK half-open boundary tests AbstractFactStoreTest.kt:203-229)."""
    return datetime.now(timezone.utc)
