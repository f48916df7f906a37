"""Optimistic (lock-free) commit backend — the cluster-grade protocol.

Both backends run ONE append protocol (layout.py module docstring): an
attempt snapshots the log, checks the idempotency key, evaluates the
condition and calls ``StoreLayout.append_commit``, which hands the
finished record to the backend's publish primitive. The flock backend's
primitive appends a log line under a per-store lock, which is
single-node by construction. This backend's primitive CLAIMS the seq by
atomically creating ``commit_log/<seq>.json``; a loser's
``append_commit`` returns None, and its ``run_append`` loop
re-reads the log, re-evaluates the append conditions against the new
state and retries — exactly the optimistic-transaction shape of the
reference's FDB backend (FdbFactAppender.kt:33-65, conflict ranges ->
retry) and of a Delta ``_delta_log`` commit.

Log state comes from the same ``LogView`` as on flock (layout.py): here
each ``log_view`` call folds the merged claim + jsonl snapshot into a
fresh view, and ``log_snapshot`` returns it, so an attempt's key check
and its claim's seq read one snapshot.

The atomic primitive — create a named immutable slot, failing if the
name is taken — is PLUGGABLE (storage/cas.py): hardlink-as-O_EXCL on a
shared POSIX FS (default), O_CREAT|O_EXCL create-no-overwrite (the
HDFS shape), or a conditional PUT (If-None-Match) against an object
store — all three proven under the same multiprocess race tests. The
protocol below never touches the substrate except through that one
``SlotStore`` operation.

Data files are written (uuid-suffixed, recorded in the claim via the
``file`` field) BEFORE the claim, so readers resolving files through
the log never see missing data; a lost claim unlinks its own file.
The data plane needs NO atomic primitive of its own on any substrate:
every data write here is a create-new-uniquely-named-object (uuid
suffix) followed by log-claim publication — on S3/GCS that is a plain
PUT (whole objects appear atomically), on HDFS a create+close; the
local os.rename is just the POSIX spelling of "make the finished file
visible under its final name". Visibility, ordering and cleanup all
flow from the commit log, which is exactly the part the pluggable CAS
substrate (storage/cas.py) proves portable.

Bulk ingest uses reserve-then-publish: positions are baked into the
parquet data, so the position RANGE is reserved first with a zero-row
claim (its ``max_position`` raises the head, making the range
unstealable — crash leaves a harmless hole in the sparse position
space), the data is then written at leisure, and ``publish_bulk`` — the
same record code the flock backend runs — publishes the files with a
second claim (``run_bulk``). Subject heads are DERIVED from the commit log
(storage/heads.py): the append path writes no per-subject state at all,
so lock-free writers cannot interleave on it — ``last_fact_of_subject``
resolves through the log's subj_fps summaries plus the maintenance-
folded snapshot, exact at any staleness.

Maintenance (compaction, orphan sweep) still takes a lock — a TTL lease
claimed through the same CAS primitive (``commit_lock``): those are
rare, coarse operations where mutual exclusion is the simpler contract;
appends never touch it.
"""

from __future__ import annotations

import json
import os
import random
import time
import uuid
from typing import Optional

from ..schema import POSITION_STRIDE
from .layout import (
    CommitRecord,
    LogView,
    StoreLayout,
    _resolve_checkpoints,
    commit_record_from_dict,
    fold_log,
    utcnow_us,
)

COMMIT_LOG_DIR = "commit_log"


class OptimisticStoreLayout(StoreLayout):
    """StoreLayout whose publish primitive is a CAS slot claim, driven
    by claim-retry instead of the flock. Read paths are inherited
    unchanged: they ask ``log_view``, which here folds ``read_commits``
    — the claim directory merged with any ``commits.jsonl`` lines, e.g.
    those written by checkpoints under the maintenance lease."""

    def __init__(self, store_dir: str, slot_spec: str = ""):
        super().__init__(store_dir)
        self.log_dir = os.path.join(store_dir, COMMIT_LOG_DIR)
        from .cas import make_slot_store

        self.slots = make_slot_store(slot_spec, self.log_dir)
        # Claim files are immutable once linked (content is fsynced to a
        # temp file before the atomic link), so their parse is memoized
        # per filename: each read_commits only opens names not yet seen.
        # Without this an append — which calls read_commits several
        # times per attempt — re-parses every claim on every call,
        # O(all commits) per append (the quadratic-lifetime cost the
        # incremental jsonl parse in layout.py eliminates for the flock
        # backend).
        self._claim_memo: dict[str, CommitRecord] = {}
        # Seqs proven permanently vacant (see _seal_horizon): skipped by
        # the hole-probe loop forever. Per-process only — a fresh open
        # re-probes once, and a late-filled hole (arbitrarily-paused
        # writer) still surfaces through LISTINGS, which memoization
        # never suppresses.
        self._vacant_memo: set[int] = set()
        self._view_memo: Optional[tuple[list[CommitRecord], LogView]] = None

    def initialize(self) -> None:
        super().initialize()
        os.makedirs(self.log_dir, exist_ok=True)

    def change_token(self):
        """Append-visibility token (see StoreLayout.change_token): here
        appends land as claim slots, so the claim DIRECTORY's mtime_ns
        joins the jsonl stat (a new slot file bumps the dir). For the
        object-store substrate the dir may not exist locally — the
        token then degrades to the jsonl component and watchers fall
        back to their poll interval (advisory contract)."""
        base = super().change_token()
        try:
            return (base, os.stat(self.log_dir).st_mtime_ns)
        except OSError:
            return (base, None)

    # -- commit log (merged: claim dir + legacy jsonl) ----------------------

    def _read_claim(self, name: str) -> Optional[CommitRecord]:
        """Read+parse+memoize ONE claim slot; None for an absent slot,
        a raced delete, or an in-flight excl-create whose content has
        not landed yet (transient — the next read re-attempts; claims
        are immutable once complete, so a parsed record memoizes)."""
        rec = self._claim_memo.get(name)
        if rec is not None:
            return rec
        raw = self.slots.read(name)
        try:
            d = json.loads(raw) if raw else None
        except json.JSONDecodeError:
            d = None
        if d is None:
            return None
        rec = commit_record_from_dict(d)
        self._claim_memo[name] = rec
        return rec

    def read_commits(self) -> list[CommitRecord]:
        jsonl = list(super().read_commits())  # maintenance-written lines
        out = list(jsonl)
        live: set[str] = set()
        claim_seqs: set[int] = set()
        for name in self.slots.list_names():
            if not name.endswith(".json"):
                continue
            rec = self._read_claim(name)
            if rec is None:
                continue
            live.add(name)
            if "-" not in name:
                claim_seqs.add(rec.seq)
            out.append(rec)
        # Eventual-consistency tolerance: listings on some object
        # stores (GCS, several S3-compatibles) can omit FRESH slots —
        # newest-first or with holes — while point reads are already
        # consistent. A gappy snapshot is unsafe for conditional
        # appends (a condition could validate against a log missing a
        # committed middle slot), so (a) fill interior holes and
        # (b) probe PAST the newest listed seq with direct reads until
        # one misses. On strongly-consistent substrates (a) finds
        # nothing and (b) costs one read that returns None.
        jsonl_seqs = {c.seq for c in jsonl}
        # Probe from the checkpoint horizon, not from min(claim_seqs):
        # a listing hole BELOW the lowest listed claim (slot 5 missing
        # while 6 lists, with jsonl folded through 4) is just as real
        # as an interior hole, and skipping it would hand conditional
        # appends a gappy snapshot to evaluate against.
        lo = max(jsonl_seqs, default=-1) + 1
        probe = sorted(
            s
            for s in range(lo, max(claim_seqs, default=-1))
            if s not in claim_seqs
            and s not in jsonl_seqs
            and s not in self._vacant_memo
        )
        # Vacancy sealing: bulk commits with caller-assigned positions
        # jump next_seq past thousands of seqs, and re-probing every
        # vacant interior seq on EVERY read (one RPC each on the
        # objstore substrate) makes steady-state append cost
        # O(position_span/stride). A hole can only fill late through a
        # writer whose snapshot missed every younger commit — bounded
        # by the substrate's listing/read lag — so once some committed
        # claim is older than SEAL_TTL (>> any real lag), every vacant
        # seq below it is memoized as permanently vacant. Residual: an
        # arbitrarily-paused writer filling a sealed hole is still
        # observed via listings (never memo-suppressed); only the
        # direct-read re-probe stops.
        seal = self._seal_horizon(claim_seqs) if probe else -1
        nxt = max(claim_seqs | jsonl_seqs, default=-1) + 1
        while True:
            for s in probe + [nxt]:
                rec = self._read_claim(f"{s:020d}.json")
                if rec is None:
                    if s == nxt:
                        probe = None  # stop: head reached
                    elif s < seal:
                        self._vacant_memo.add(s)
                    continue
                live.add(f"{s:020d}.json")
                out.append(rec)
            if probe is None:
                break
            probe, nxt = [], nxt + 1
        if len(self._claim_memo) > len(live):
            # Prune names removed by maintenance (superseded claims).
            for gone in set(self._claim_memo) - live:
                del self._claim_memo[gone]
        # Deterministic log order: by seq, compaction records after the
        # data commit whose seq they reuse. Checkpoint supersession is
        # applied on the MERGED view: during the retention window both
        # the jsonl checkpoint and the claim slots it folded exist.
        out.sort(key=lambda c: (c.seq, c.compacted_through is not None))
        return _resolve_checkpoints(out)

    def log_view(self) -> LogView:
        """A fresh view of the merged log (claims are not folded
        incrementally: every call lists the claim dir anyway). Views
        share nothing, so one view is one merged snapshot; an unchanged
        snapshot (list equality, by identity first) returns its view
        again instead of re-folding."""
        records = self.read_commits()
        memo = self._view_memo
        if memo is not None and memo[0] == records:
            return memo[1]
        view = fold_log(records)
        self._view_memo = (records, view)
        return view

    SEAL_TTL = 3600.0  # see the vacancy-sealing comment in read_commits

    def _seal_horizon(self, claim_seqs: set[int]) -> int:
        """Largest committed claim seq whose slot is older than
        SEAL_TTL — every vacant seq below it is permanently vacant
        (newest-first scan: steady-state cost is one mtime per
        younger-than-gate claim, and checkpointing bounds the claim
        count)."""
        for s in sorted(claim_seqs, reverse=True):
            mt = self.slots.mtime(f"{s:020d}.json")
            if mt is not None and time.time() - mt > self.SEAL_TTL:
                return s
        return -1

    # -- maintenance lease (CAS-based commit_lock replacement) --------------

    LEASE_SLOT = "maintenance.lease"
    LEASE_TTL = 600.0  # seconds; see docstring for the safety argument
    RECLAIM_TTL = 30.0  # age-out for a crashed reclaimer's token

    def commit_lock(self, upkeep: str = "always"):
        """Maintenance critical section WITHOUT filesystem locking: a
        TTL lease claimed through the same pluggable CAS primitive as
        commits, so compaction/checkpoint mutual exclusion works on
        every substrate — including an object store, where the
        flock-based lock of the base class has no meaning across
        hosts.

        Exclusion is best-effort with a TTL (a holder that outlives
        ``LEASE_TTL`` can be preempted); SAFETY never rests on it —
        the final swap of every maintenance operation is itself a CAS
        claim (``write_compaction_record``; checkpoint rewrites are
        guarded by the claim-dir supersession rules), so a lost lease
        costs duplicated work, not correctness. The lease slot name
        carries no ``.json`` suffix, so log readers never parse it.

        Appends never touch this — only maintenance does (module
        docstring), same as the flock in the base class."""
        from contextlib import contextmanager

        @contextmanager
        def lease():
            import hashlib
            import time

            me = uuid.uuid4().hex
            while True:
                if self.slots.put_if_absent(self.LEASE_SLOT, me.encode()):
                    break
                holder = self.slots.read(self.LEASE_SLOT)
                mt = self.slots.mtime(self.LEASE_SLOT)
                if (
                    holder is not None
                    and mt is not None
                    and time.time() - mt > self.LEASE_TTL
                ):
                    # Expired holder. A bare delete-then-put would race:
                    # reclaimer A deletes and acquires, then reclaimer
                    # B's pending delete removes A's FRESH lease and B
                    # acquires too — two holders. So the delete is
                    # gated on a per-generation reclaim token (CAS on
                    # the expired holder's identity): only the token
                    # winner may delete, and it re-reads the generation
                    # immediately before deleting so a stale delete
                    # misses. Exclusion remains best-effort (SAFETY is
                    # the maintenance CAS swaps themselves, per the
                    # docstring) — this closes the known two-holder
                    # window among concurrent reclaimers.
                    gen = hashlib.sha256(holder).hexdigest()[:16]
                    token = f"{self.LEASE_SLOT}.reclaim-{gen}"
                    if self.slots.put_if_absent(token, me.encode()):
                        try:
                            if self.slots.read(self.LEASE_SLOT) == holder:
                                self.slots.delete(self.LEASE_SLOT)
                        finally:
                            self.slots.delete(token)
                    else:
                        # A reclaimer that crashed between token and
                        # delete would wedge this generation forever;
                        # age the token out.
                        tmt = self.slots.mtime(token)
                        if tmt is not None and time.time() - tmt > self.RECLAIM_TTL:
                            self.slots.delete(token)
                    continue
                time.sleep(0.05)
            acquired_at = time.time()
            try:
                self._sweep_orphans()
                self.sync_stream_links()
                yield
            finally:
                # Release: an UNEXPIRED lease cannot have been taken
                # over (reclaim deletes are gated on TTL expiry + a
                # generation check), so while we're inside the TTL the
                # slot is provably still ours — delete unconditionally.
                # This also fixes the read-lag hang: under injected
                # read_lag a fresh slot isn't read-visible yet, so the
                # read-back verification below would see None and leak
                # the lease (next caller spins until LEASE_TTL). Only
                # a holder that overran the TTL (and may have been
                # preempted) must verify ownership before deleting.
                if time.time() - acquired_at < self.LEASE_TTL * 0.9:
                    self.slots.delete(self.LEASE_SLOT)
                elif self.slots.read(self.LEASE_SLOT) == me.encode():
                    self.slots.delete(self.LEASE_SLOT)

        return lease()

    # -- the atomic claim ---------------------------------------------------

    # A writer killed between ExclCreateSlotStore's O_CREAT|O_EXCL name
    # reservation and the content write leaves an EMPTY slot no record
    # ever lands in: next_seq keeps deriving that seq and every claim
    # fails forever — the append path is wedged. The gate is ~5 orders
    # of magnitude above the create->write syscall gap; a live writer
    # paused longer than this inside those two syscalls loses its claim
    # (the same trade HDFS lease recovery makes).
    EMPTY_SLOT_TTL = 60.0

    def _claim(self, name: str, record: dict) -> bool:
        """Atomically publish ``record`` as commit-log slot ``name``
        through the pluggable CAS primitive (storage/cas.py). Returns
        False if the slot is already taken (conflict)."""
        if self.slots.put_if_absent(name, json.dumps(record).encode()):
            return True
        self._maybe_reclaim_empty_slot(name)
        return False

    def _maybe_reclaim_empty_slot(self, name: str) -> None:
        """Reclaim an aged EMPTY slot (crashed excl-create writer, see
        EMPTY_SLOT_TTL) so the caller's retry loop can take the seq.
        The delete is gated on a per-generation token — the same
        two-reclaimer-safe pattern as the maintenance lease: only the
        token winner deletes, re-checking the slot right before, so a
        concurrent reclaimer's stale delete can never remove a freshly
        re-claimed complete slot."""
        raw = self.slots.read(name)
        if raw:
            return  # complete slot: a real conflicting commit
        mt = self.slots.mtime(name)
        if mt is None or time.time() - mt <= self.EMPTY_SLOT_TTL:
            return
        token = f"{name}.reclaim-{int(mt)}"
        if self.slots.put_if_absent(token, b"reclaim"):
            try:
                if not self.slots.read(name) and self.slots.mtime(name) == mt:
                    self.slots.delete(name)
            finally:
                self.slots.delete(token)
        else:
            tmt = self.slots.mtime(token)
            if tmt is not None and time.time() - tmt > self.RECLAIM_TTL:
                self.slots.delete(token)

    # -- the append protocol: claim-retry runners + the CAS publish ----------

    def run_append(self, attempt):
        """Drive one row append by claim-retry (the FDB-transaction
        shape itself, FdbFactAppender.kt:33-65): a lost claim means
        another commit serialized ahead of us, so the attempt re-reads
        the log and RE-EVALUATES its condition against the new state.
        Under SUSTAINED contention (the r12 soak: 8 writers hammering
        one store) a bare loop keeps every loser re-colliding with the
        same rivals each round — measured 5.7-6.0 conflicts/commit at 8
        writers. Jittered exponential backoff desynchronizes the losers
        (1.1-2.8 measured, sub-linear in writers) while adding nothing
        to the uncontended path (first retry is sub-millisecond).
        Numbers: docs/SCALE.md round-13 soak."""
        for attempt_no in range(256):
            out = attempt()
            if out is not None:
                return out[0]
            time.sleep(
                random.uniform(0.0, min(0.05, 0.0005 * (1 << min(attempt_no, 7))))
            )
        raise RuntimeError("append contention: 256 optimistic retries exhausted")

    def run_bulk(self, key: str, span, write):
        """Drive one bulk ingest by reserve-then-publish (module
        docstring): ``span(appended_at)`` stages the frame and measures
        its highest relative position (-1: no rows, nothing to reserve)
        before the range is claimed by size, then ``write`` runs against
        the reserved range with its ceiling (see StoreLayout.run_bulk)."""
        if self.log_view().key_seen(key):
            return None
        appended_at = utcnow_us()
        rel_hi = span(appended_at)
        if rel_hi < 0:
            return write(None, appended_at, None)
        seq, base = self.reserve_position_range(rel_hi, appended_at)
        return write(seq, appended_at, base + rel_hi)

    def _data_file_name(self, seq: int) -> str:
        """Row data files are written BEFORE the seq is claimed, so
        racing writers of one seq need distinct names (uuid suffix; the
        claim records it in ``file``)."""
        return f"commit-{seq:010d}-{uuid.uuid4().hex[:8]}.parquet"

    def _publish(
        self, record: dict, data_name: Optional[str], defer_sync: bool = False
    ) -> Optional[int]:
        """CAS-claim the record's seq slot (``file`` names its data).
        A claim is durable once made, so the sync ticket is 0; None
        means the slot was taken — the caller's attempt lost."""
        record["file"] = data_name
        return 0 if self._claim(f"{record['seq']:020d}.json", record) else None

    def reserve_position_range(self, rel_hi: int, appended_at) -> tuple[int, int]:
        """Claim a zero-row commit whose ``max_position`` covers
        ``base + rel_hi``, reserving the position range for a bulk
        write. Returns (seq, base). Retries internally (reservation has
        no preconditions to re-evaluate)."""
        while True:
            seq = self.log_view().next_seq()
            base = seq * POSITION_STRIDE
            record = {
                "seq": seq,
                "rows": 0,
                "appended_at": appended_at.isoformat(),
                "idempotency_key": None,
                "max_position": base + max(rel_hi, 0),
                "reserved": True,
            }
            if self._claim(f"{seq:020d}.json", record):
                return seq, base

    # -- maintenance integration --------------------------------------------

    def _checkpoint_tail(self, ct: int) -> list[CommitRecord]:
        """Only jsonl-sourced records go back into the rewritten jsonl —
        claim slots with seq > ct keep living in the claim dir (writing
        them into the jsonl too would double-count them), and folded
        claim slots are retention-deleted by the sweep once the
        checkpoint has aged past the gate (concurrent readers that
        listed the claim dir before the checkpoint landed must still
        find every record; _resolve_checkpoints dedupes the overlap)."""
        return [c for c in StoreLayout.read_commits(self) if c.seq > ct]

    def write_compaction_record(self, record: dict) -> bool:
        """Compaction record (same seq as the snapshot head it
        supersedes, so it gets a distinct slot name). Called under the
        maintenance flock; a False return means another compaction won."""
        return self._claim(f"{record['seq']:020d}-compact.json", record)

    def _sweep_orphans(self) -> None:
        """Age-gated (1 h): with lock-free appenders, a data file whose
        claim has not landed YET is in-flight, not orphaned — only
        stale leftovers from crashed claims are swept."""
        import shutil
        import time

        now = time.time()
        self._sweep_tmp_files()
        # Crashed put_if_absent calls strand ``.tmp-<hex>`` files in the
        # commit_log dir (created before the atomic link, unlinked in a
        # finally a kill skips). The store-dir sweep matches names
        # ENDING in .tmp, so these would leak unboundedly on a
        # long-lived store without their own age-gated pass.
        try:
            for name in os.listdir(self.log_dir):
                if not name.startswith(".tmp-"):
                    continue
                p = os.path.join(self.log_dir, name)
                try:
                    if os.path.isfile(p) and now - os.path.getmtime(p) > 3600:
                        os.unlink(p)
                except OSError:
                    pass
        except OSError:
            pass
        committed_files = set()
        # Claim-backed commits name their data via CommitRecord.file.
        # LEGACY jsonl records (flock-era data, or claims folded by a
        # checkpoint) may carry file=None with seq-derived paths —
        # protect those by the same derivation _files_of uses, or a
        # backend switch would sweep committed flock-era parquet as
        # "orphans" after the age gate: permanent data loss. Only
        # jsonl-sourced records get the derived-name shield; a
        # claim-side reservation with file=None must NOT shield its
        # bulk dir (the documented crashed-ingest leak).
        for c in StoreLayout.read_commits(self):
            if c.file:
                committed_files.add(c.file)
            elif c.bulk:
                committed_files.add(f"commit-{c.seq:010d}-bulk")
            else:
                committed_files.add(f"commit-{c.seq:010d}.parquet")
        for c in self.read_commits():
            if c.file:
                committed_files.add(c.file)
        for name in os.listdir(self.data_dir):
            path = os.path.join(self.data_dir, name)
            if not name.startswith("commit-"):
                continue
            if name in committed_files:
                continue
            if name.endswith("-bulk") and os.path.isdir(path):
                # Bulk dirs are named by their RESERVE seq, and the
                # zero-row reservation claim puts that seq in
                # committed_seqs even when the publish never happened
                # (crash between reserve and publish) — so membership in
                # committed_seqs must NOT shield the dir, or every
                # crashed bulk ingest leaks its data dir forever. A dir
                # is live only if some commit's ``file`` field references
                # it (checked above) or its reservation claim is younger
                # than the age gate (in-flight write).
                try:
                    seq = int(name.split("-")[1])
                except (ValueError, IndexError):
                    continue
                claim_mt = self.slots.mtime(f"{seq:020d}.json")
                if claim_mt is not None and now - claim_mt <= 3600:
                    continue  # reservation fresh: publish may still land
                # no claim (flock-era dir or swept) — dir age gates below
            try:
                age = now - os.path.getmtime(path)
            except OSError:
                continue
            if age <= 3600:
                continue
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.unlink(path)
                except OSError:
                    pass
        self._sweep_folded_claims(now)

    def _sweep_folded_claims(self, now: float) -> None:
        """Retention-delete claim slots folded by a commit-log
        checkpoint. The jsonl checkpoint supersedes every claim with
        seq <= its seq the moment it lands (_resolve_checkpoints);
        the physical slots are kept for an age-gated retention window
        so a reader that listed the claim dir just before the
        checkpoint landed still finds every record, then dropped —
        fresh-process open cost becomes O(tail claims), not
        O(lifetime)."""
        from datetime import datetime

        ckpt = StoreLayout.log_view(self).ckpt  # checkpoints live in the jsonl
        if ckpt is None:
            return
        try:
            created = datetime.fromisoformat(ckpt.appended_at).timestamp()
        except ValueError:
            return
        if now - created <= 3600:
            return
        for name in self.slots.list_names():
            if not name.endswith(".json"):
                continue
            try:
                seq = int(name.split("-")[0].split(".")[0])
            except ValueError:
                continue
            if seq <= ckpt.seq:
                self.slots.delete(name)
