"""Fault-schedule sweep over the APPEND commit path (VERDICT r11 #5).

tests/test_fault_schedule.py proves the staged-publish protocol of the
index/materialization writers; this file applies the same
kill-at-every-step discipline to the heart of the system — the row
append commit (reference: FdbFactAppender.kt:33-65; SURVEY §7.4 hard
part 1) — on the flock backend and all three optimistic CAS substrates.

Protocol steps under fault (writer "dies" via a BaseException the
append path has no handler for — its cleanup never runs, exactly a
kill -9 as far as on-disk state goes):

  flock      : tmp parquet -> rename into data/ -> fsynced commit-log
               line -> stream-mirror hardlink
  optimistic : tmp parquet -> rename into data/ -> CAS slot claim ->
               stream-mirror hardlink

(Since round 13 the append path writes NO per-subject head state —
heads are derived from the commit log, storage/heads.py — so the old
"died before the heads cache write" point no longer exists. The
head-SNAPSHOT fold, which runs under maintenance instead, gets its own
kill-at-every-step schedule at the bottom of this file: shards ->
pointer rename -> old-dir sweep, asserted exact in both rebuild and
incremental modes.)

plus two torn-write schedules injected directly as on-disk state:
a partial commit-log line with no newline (flock), and a
reserved-but-empty claim slot (excl-create substrate).

Invariant trio asserted after every fault, from a FRESH handle (new
process analog):

  1. **All-or-nothing**: the dying batch is either fully visible or
     fully invisible — never partial; positions stay unique; the
     readable rows equal the committed records' row counts exactly.
  2. **Idempotency atomic**: retrying the dead writer's key yields
     AlreadyApplied when its facts landed and a fresh Appended when
     they did not — exactly one application either way (the key lives
     IN the commit record, so key-without-facts / facts-without-key is
     structurally impossible; this sweep proves the recovery behavior).
  3. **Recovery completes**: subsequent appends succeed, the
     ExpectedLastFact condition sees the post-crash truth with exactly
     one winner, and the generator subscription delivers every
     committed position exactly once.
"""

import json
import os

import pytest

from factstore_spark.model import (
    ExpectedLastFact,
    FactInput,
    FactPayload,
    StartPosition,
)
from factstore_spark.results import AlreadyApplied, Appended, AppendConditionViolated
from factstore_spark.storage import layout as layout_mod
from factstore_spark.storage import optimistic as opt_mod
from factstore_spark.store import FactStore


class Killed(BaseException):
    """Simulated writer death — BaseException so no except-Exception
    cleanup in the append path can run (kill -9 semantics)."""


def _fact(subject: str, n: int) -> FactInput:
    return FactInput(
        type="Probe",
        subject=subject,
        payload=FactPayload(json.dumps({"n": n}).encode(), format="json"),
        tags={"k": f"v{n % 3}"},
    )


def _fresh(root: str, backend: str) -> FactStore:
    """A brand-new handle = a new process: no warm caches."""
    return FactStore(None, str(root), commit_backend=backend)


def _layout(fs: FactStore, store: str):
    meta = fs.catalog.find_by_name(store)
    return fs._layout(meta.id)


def _visible(fs: FactStore, store: str) -> list[tuple[int, str]]:
    """(position, id) of every readable fact, resolved THROUGH the
    commit log (the only read path) — pyarrow, no Spark."""
    lay = _layout(fs, store)
    commits = lay.read_commits()
    rows: list[tuple[int, str]] = []
    for c in commits:
        if c.rows <= 0 or c.compacted_through is not None or c.checkpoint:
            continue
        for f in lay._files_of(c):
            import pyarrow.parquet as pq

            t = pq.read_table(f, columns=["position", "id"])
            rows.extend(zip(t["position"].to_pylist(), t["id"].to_pylist()))
    return sorted(rows)


def _assert_invariants(root, backend, store, pre_rows, batch, key, visible_expected):
    fs2 = _fresh(root, backend)
    got = _visible(fs2, store)
    n_pre = len(pre_rows)
    # 1. all-or-nothing + position uniqueness + log/row agreement
    assert len(got) in (n_pre, n_pre + len(batch)), got
    landed = len(got) == n_pre + len(batch)
    assert landed == visible_expected, (
        f"expected visible={visible_expected}, got {len(got)} rows "
        f"(pre {n_pre})"
    )
    positions = [p for p, _ in got]
    assert len(set(positions)) == len(positions), "duplicate positions"
    lay = _layout(fs2, store)
    log_rows = sum(
        c.rows
        for c in lay.read_commits()
        if c.compacted_through is None and not c.checkpoint
    )
    assert log_rows == len(got), "commit-log row counts drift from data"
    # 2. idempotent retry: exactly one application
    res = fs2.append(store, batch, idempotency_key=key)
    if visible_expected:
        assert isinstance(res, AlreadyApplied), res
    else:
        assert isinstance(res, Appended), res
    after = _visible(fs2, store)
    assert len(after) == n_pre + len(batch), "retry over/under-applied"
    assert len({p for p, _ in after}) == len(after)
    # retrying AGAIN is a no-op on every schedule
    res2 = fs2.append(store, batch, idempotency_key=key)
    assert isinstance(res2, AlreadyApplied), res2
    assert len(_visible(fs2, store)) == n_pre + len(batch)
    # 3a. conditional exactly-one-winner against post-crash truth
    lay2 = _layout(fs2, store)
    head = lay2.last_fact_of_subject("cond-subject")
    expected = ExpectedLastFact("cond-subject", head[0] if head else None)
    w1 = fs2.append(store, [_fact("cond-subject", 100)], condition=expected)
    assert isinstance(w1, Appended), w1
    w2 = fs2.append(store, [_fact("cond-subject", 101)], condition=expected)
    assert isinstance(w2, AppendConditionViolated), w2
    # 3b. plain appends keep working and the subscription delivers every
    # committed position exactly once
    r3 = fs2.append(store, [_fact("tail", 7), _fact("tail", 8)])
    assert isinstance(r3, Appended)
    final = _visible(fs2, store)
    seen: list[int] = []
    gen = fs2.subscribe(store, StartPosition.Beginning(), poll_interval=0.01)
    for b in gen:
        seen.extend(f.position for f in b)
        if len(seen) >= len(final):
            break
    assert seen == [p for p, _ in final], "subscription missed/duped positions"


def _seed(root, backend, store="s"):
    fs = _fresh(root, backend)
    fs.create(store)
    pre = []
    for i in range(3):
        r = fs.append(store, _fact("seed", i))
        assert isinstance(r, Appended)
        pre.append(r)
    # seed the conditional subject so ExpectedLastFact has real history
    fs.append(store, _fact("cond-subject", 0))
    return fs, _visible(fs, store)


# (fault point, patch target attr, visible after crash?)
_FLOCK_POINTS = [
    # before rename: only a tmp file exists
    ("before_rename", "rename", False),
    # after rename, before the log line: data file present, no record
    ("data_unreferenced", "tag_fps", False),
    # after the fsynced log line, before the stream hardlink: COMMITTED
    ("committed_stream_unlinked", "stream", True),
]


def _arm(monkeypatch, backend_mod, layout_cls, point_kind):
    """Install the one-shot Killed trap for a fault point."""
    if point_kind == "rename":
        real = os.rename
        state = {"armed": True}

        def dying_rename(src, dst):
            if state["armed"] and ".tmp-" in os.path.basename(src):
                state["armed"] = False
                raise Killed("died before rename")
            return real(src, dst)

        monkeypatch.setattr(backend_mod.os, "rename", dying_rename)
    elif point_kind == "tag_fps":
        real = backend_mod.commit_tag_fps
        state = {"armed": True}

        def dying_fps(rows):
            if state["armed"] and rows:
                state["armed"] = False
                raise Killed("died after rename, before commit record")
            return real(rows)

        monkeypatch.setattr(backend_mod, "commit_tag_fps", dying_fps)
    elif point_kind == "stream":
        state = {"armed": True}

        def dying_link(self, data_file):
            if state["armed"]:
                state["armed"] = False
                raise Killed("died after commit, before stream link")
            return layout_mod.StoreLayout._link_into_stream(self, data_file)

        monkeypatch.setattr(layout_cls, "_link_into_stream", dying_link)
    else:
        raise AssertionError(point_kind)


@pytest.mark.parametrize("point,kind,visible", _FLOCK_POINTS)
def test_flock_append_crash_schedule(tmp_path, monkeypatch, point, kind, visible):
    root = tmp_path / "store"
    fs, pre = _seed(root, "flock")
    batch = [_fact("victim", 1), _fact("victim", 2)]
    key = "idem-crash-flock"
    _arm(monkeypatch, layout_mod, layout_mod.StoreLayout, kind)
    with pytest.raises(Killed):
        fs.append("s", batch, idempotency_key=key)
    monkeypatch.undo()
    _assert_invariants(root, "flock", "s", pre, batch, key, visible)


@pytest.mark.parametrize("substrate", ["hardlink", "excl", "objstore"])
@pytest.mark.parametrize("point,kind,visible", [
    ("before_rename", "rename", False),
    ("data_unreferenced", "tag_fps", False),
    ("committed_stream_unlinked", "stream", True),
])
def test_optimistic_append_crash_schedule(
    tmp_path, monkeypatch, objstore_spec, substrate, point, kind, visible
):
    backend = {
        "hardlink": "optimistic",
        "excl": "optimistic+excl",
        "objstore": objstore_spec,
    }[substrate]
    root = tmp_path / "store"
    fs, pre = _seed(root, backend)
    batch = [_fact("victim", 1), _fact("victim", 2)]
    key = f"idem-crash-{substrate}"
    # the row record is built once, in layout.append_commit, for both
    # backends — so the tag_fps trap patches the layout module
    _arm(monkeypatch, layout_mod, opt_mod.OptimisticStoreLayout, kind)
    with pytest.raises(Killed):
        fs.append("s", batch, idempotency_key=key)
    monkeypatch.undo()
    _assert_invariants(root, backend, "s", pre, batch, key, visible)


@pytest.fixture(scope="module")
def objstore_spec():
    from factstore_spark.storage.cas import ObjectStoreServer

    srv = ObjectStoreServer()
    spec = srv.start()
    yield spec  # already the full 'optimistic+objstore://host:port/key' 
    srv.stop()


def test_flock_torn_log_tail_healed(tmp_path):
    """A writer killed MID-LINE leaves a partial record with no
    newline. The next appender must isolate the fragment (healing
    newline) and the parser must treat it as the non-commit it is —
    before round 12 the next append concatenated onto the fragment and
    garbled BOTH records into one unparseable line."""
    root = tmp_path / "store"
    fs, pre = _seed(root, "flock")
    lay = _layout(fs, "s")
    log = os.path.join(lay.store_dir, layout_mod.COMMITS_FILE)
    with open(log, "ab") as f:
        f.write(b'{"seq": 99, "rows": 2, "appended_at')  # torn, no \n
    fs2 = _fresh(root, "flock")
    # reads skip the fragment
    assert len(_visible(fs2, "s")) == len(pre)
    # the next append heals the tail and commits cleanly
    r = fs2.append("s", [_fact("post-torn", 1)])
    assert isinstance(r, Appended)
    fs3 = _fresh(root, "flock")
    got = _visible(fs3, "s")
    assert len(got) == len(pre) + 1
    assert len({p for p, _ in got}) == len(got)
    # on disk: the fragment sits isolated on its own line (healed),
    # not fused onto the new record
    with open(log, "rb") as f:
        lines = f.read().split(b"\n")
    assert any(
        ln.startswith(b'{"seq": 99') and not ln.endswith(b"}") for ln in lines
    ), "torn fragment should survive as an isolated line"
    assert all(
        b'"appended_at' not in ln or ln.endswith(b"}") or not ln.endswith(b"}")
        for ln in lines
    )


def test_excl_torn_claim_slot_recovers(tmp_path, monkeypatch):
    """A dead excl-create writer leaves a reserved-but-EMPTY commit
    slot. Readers must skip it; once the slot ages past EMPTY_SLOT_TTL
    the next writer reclaims the seq and commits — no wedge."""
    root = tmp_path / "store"
    fs, pre = _seed(root, "optimistic+excl")
    lay = _layout(fs, "s")
    next_seq = lay.next_seq(lay.read_commits())
    slot_dir = os.path.join(lay.store_dir, opt_mod.COMMIT_LOG_DIR)
    torn = os.path.join(slot_dir, f"{next_seq:020d}.json")
    open(torn, "wb").close()
    # young torn slot: readers serve around it
    fs2 = _fresh(root, "optimistic+excl")
    assert len(_visible(fs2, "s")) == len(pre)
    # age it past the TTL; the next append reclaims and lands
    monkeypatch.setattr(opt_mod.OptimisticStoreLayout, "EMPTY_SLOT_TTL", 0.0)
    r = fs2.append("s", [_fact("post-torn", 1)])
    assert isinstance(r, Appended)
    got = _visible(_fresh(root, "optimistic+excl"), "s")
    assert len(got) == len(pre) + 1
    assert len({p for p, _ in got}) == len(got)


# ---------------------------------------------------------------------------
# Head-SNAPSHOT fold under fault (VERDICT r12 tasks #1 + #7): the fold
# runs outside the append path, so a crash can never lose an append —
# but it must also never corrupt lookups. Kill the fold at every step
# (mid shard writes / before the pointer rename / before the old-dir
# sweep), in BOTH modes (full rebuild, incremental gap fold), and
# assert: every subject's lookup stays exact from a fresh handle, a
# retried fold completes, and lookups stay exact after it.
# ---------------------------------------------------------------------------

_FOLD_POINTS = ["mid_shards", "before_pointer", "before_sweep"]


def _arm_fold(monkeypatch, point):
    from factstore_spark.storage import heads as heads_mod

    state = {"armed": True}
    if point == "mid_shards":
        real = heads_mod.HeadsIndex._write_shard

        def dying(self, snap_dir, shard, heads):
            if state["armed"]:
                state["armed"] = False
                raise Killed("died mid shard writes")
            return real(self, snap_dir, shard, heads)

        monkeypatch.setattr(heads_mod.HeadsIndex, "_write_shard", dying)
    elif point == "before_pointer":
        real = heads_mod.HeadsIndex._publish

        def dying(self, through_seq, dir_name, shards, max_position):
            if state["armed"]:
                state["armed"] = False
                raise Killed("died after shards, before pointer rename")
            return real(self, through_seq, dir_name, shards, max_position)

        monkeypatch.setattr(heads_mod.HeadsIndex, "_publish", dying)
    elif point == "before_sweep":
        real = heads_mod.HeadsIndex._sweep_old

        def dying(self):
            if state["armed"]:
                state["armed"] = False
                raise Killed("died after pointer, before sweep")
            return real(self)

        monkeypatch.setattr(heads_mod.HeadsIndex, "_sweep_old", dying)
    else:
        raise AssertionError(point)


def _heads_truth(fs, store):
    """subject -> (id, position) ground truth straight from the data."""
    truth = {}
    for pos, fid, subj in sorted(
        (p, i, s)
        for p, i, s in _visible_with_subject(fs, store)
    ):
        truth[subj] = (fid, pos)
    return truth


def _visible_with_subject(fs, store):
    lay = _layout(fs, store)
    rows = []
    for c in lay.read_commits():
        if c.rows <= 0 or c.compacted_through is not None or c.checkpoint:
            continue
        for f in lay._files_of(c):
            import pyarrow.parquet as pq

            t = pq.read_table(f, columns=["position", "id", "subject"])
            rows.extend(
                zip(
                    t["position"].to_pylist(),
                    t["id"].to_pylist(),
                    t["subject"].to_pylist(),
                )
            )
    return rows


@pytest.mark.parametrize("mode", ["rebuild", "incremental"])
@pytest.mark.parametrize("point", _FOLD_POINTS)
def test_heads_fold_crash_schedule(tmp_path, monkeypatch, mode, point):
    from factstore_spark.storage.heads import HeadsIndex

    root = tmp_path / "store"
    fs, _pre = _seed(root, "flock")
    for i in range(4):
        fs.append("s", _fact(f"subj-{i}", i))
    lay = _layout(fs, "s")
    if mode == "incremental":
        # an initial snapshot, then a gap the dying fold must cover
        assert HeadsIndex(lay).refresh()["built"]
        for i in range(4):
            fs.append("s", _fact(f"subj-{i}", 100 + i))
        fs.append("s", _fact("subj-new", 0))
    truth = _heads_truth(fs, "s")
    assert len(truth) >= 4

    _arm_fold(monkeypatch, point)
    with pytest.raises(Killed):
        HeadsIndex(lay).refresh()
    monkeypatch.undo()

    # fresh handle: every lookup exact despite the dead fold
    fs2 = _fresh(root, "flock")
    lay2 = _layout(fs2, "s")
    for subj, head in truth.items():
        assert lay2.last_fact_of_subject(subj) == head, (point, mode, subj)
    assert lay2.last_fact_of_subject("never-seen") is None

    # the retried fold completes and lookups stay exact (at the
    # before_sweep point the pointer already published, so the retry is
    # correctly a fresh no-op)
    out = HeadsIndex(lay2).refresh()
    assert out["built"] or out.get("reason") == "fresh", out
    snap = HeadsIndex(lay2).snap_meta()
    assert snap["through_seq"] == lay2.last_commit().seq
    for subj, head in truth.items():
        assert lay2.last_fact_of_subject(subj) == head, (point, mode, subj)

    # appends after the recovered fold keep resolving exactly
    r = fs2.append("s", _fact("subj-0", 999))
    assert isinstance(r, Appended)
    assert lay2.last_fact_of_subject("subj-0") == (
        r.fact_ids[0],
        lay2.head_position(),
    )
