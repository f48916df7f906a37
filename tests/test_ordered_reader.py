"""The one position-ordered reader behind replay and subscribe
(``FactStore._read_ordered``): which branch a range takes, how many
pyarrow reads it makes and over which files, what it costs in Spark
jobs, and its ordering on the optimistic backend, where seq order is
not position order."""

import os
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from factstore_spark import FactInput, ReplayStart, StartPosition
from factstore_spark.schema import FACT_ARROW_SCHEMA, POSITION_STRIDE, row_to_fact
from factstore_spark.storage import bloomindex
from factstore_spark.storage.layout import CommitRecord, StoreLayout, fold_log, utcnow_us
from factstore_spark.store import FactStore

STORE = "reader-store"


def fi(t, subject="S"):
    return FactInput(type=t, subject=subject)


def _layout(fs):
    return fs._layout(fs.find_by_name(STORE).id)


def _record_reads(monkeypatch):
    """Every ``StoreLayout.read_arrow`` call's ``files`` argument."""
    calls = []
    real = StoreLayout.read_arrow

    def recording(self, *args, **kwargs):
        calls.append(kwargs.get("files"))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(StoreLayout, "read_arrow", recording)
    return calls


def _drain(gen, n, timeout=30.0):
    """The first batches of a live subscription holding ``n`` facts."""
    out, done = [], threading.Event()

    def worker():
        for batch in gen:
            out.append(batch)
            if sum(len(b) for b in out) >= n:
                done.set()
                return

    threading.Thread(target=worker, daemon=True).start()
    assert done.wait(timeout), f"got {sum(len(b) for b in out)} of {n} facts"
    return out


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), over a job group of its own."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# -- branch rule (Spark-free) ------------------------------------------------


def _rec(seq, rows, **kw):
    return CommitRecord(
        seq=seq, rows=rows, appended_at=utcnow_us().isoformat(), idempotency_key=None,
        max_position=kw.pop("max_position", seq * POSITION_STRIDE + rows - 1), **kw,
    )


def test_row_runs_follow_positions_and_refuse_snapshot_and_bulk_ranges():
    r0, r1, r2, r3 = _rec(0, 1), _rec(1, 2), _rec(2, 1), _rec(3, 1)
    view = fold_log([r0, r1, r2, r3])
    assert view.row_runs(-1, view.head, 2) == [[r0], [r1], [r2, r3]]
    assert view.row_runs(-1, view.head, 10) == [[r0, r1, r2, r3]]
    # a commit bigger than the run size is a run of its own
    assert view.row_runs(-1, view.head, 1) == [[r0], [r1], [r2], [r3]]
    # commits past the head are left out; the cursor skips whole commits
    assert view.row_runs(-1, r1.max_position, 10) == [[r0, r1]]
    assert view.row_runs(r1.max_position, view.head, 10) == [[r2, r3]]
    assert view.row_runs(view.head, view.head, 10) == []

    bulk, r5 = _rec(4, 5, bulk=True), _rec(5, 1)
    view = fold_log([r0, r1, bulk, r5])
    assert view.row_runs(-1, view.head, 10) is None
    assert view.row_runs(bulk.max_position, view.head, 10) == [[r5]]

    comp = _rec(1, 0, compacted_through=1, max_position=r1.max_position)
    view = fold_log([r0, r1, comp, r2])
    assert view.row_runs(-1, view.head, 10) is None
    assert view.row_runs(r0.max_position, view.head, 10) is None
    assert view.row_runs(r1.max_position, view.head, 10) == [[r2]]


def test_row_runs_order_by_position_when_seq_order_is_not():
    """Optimistic: a bulk reserved at seq 1 publishes under seq 4, after
    row commits 2 and 3. The row commits alone still run in position
    order, and a range that holds the bulk is not a row range."""
    r0 = _rec(0, 1)
    reservation = _rec(1, 0, reserved=True, max_position=POSITION_STRIDE + 2)
    r2, r3 = _rec(2, 1), _rec(3, 1)
    bulk = _rec(4, 3, bulk=True, file="commit-0000000001-bulk",
                max_position=POSITION_STRIDE + 2)
    pending = fold_log([r0, reservation, r3, r2])  # r3's claim listed first
    assert pending.published_head() == POSITION_STRIDE - 1
    assert pending.row_runs(-1, pending.head, 10) == [[r0, r2, r3]]
    assert pending.row_runs(-1, pending.published_head(), 10) == [[r0]]
    published = fold_log([bulk], pending)
    assert published.row_runs(r0.max_position, published.head, 10) is None
    assert published.row_runs(bulk.max_position, published.head, 10) == [[r2, r3]]


# -- row commits: pyarrow reads, no Spark -------------------------------------


def test_tail_poll_is_one_read_over_the_new_commits_files(fs, monkeypatch):
    fs.create(STORE)
    fs.append(STORE, [fi("OLD0"), fi("OLD1")])
    layout = _layout(fs)
    cursor = layout.published_head_position()
    gen = fs.subscribe(STORE, StartPosition.End(), poll_interval=0.01)
    for t in ("N0", "N1", "N2"):
        fs.append(STORE, fi(t))
    want_files = layout.data_files_after_position(cursor, layout.log_view())
    calls = _record_reads(monkeypatch)
    batch = next(gen)
    gen.close()
    assert [f.type for f in batch] == ["N0", "N1", "N2"]
    assert len(want_files) == 3
    assert calls == [want_files]


def test_row_catchup_reads_at_most_one_batch_of_rows_per_read(store_root, monkeypatch):
    """A catch-up from the beginning over row commits never holds more
    than one batch of rows plus one commit: each read covers at most
    ``batch_size`` rows, or one commit bigger than that."""
    fs = FactStore(None, store_root)
    fs.create(STORE)
    for i in range(9):
        fs.append(STORE, fi(f"A{i}"))
    fs.append(STORE, [fi(f"B{i}") for i in range(10)])
    for i in range(3):
        fs.append(STORE, fi(f"C{i}"))
    calls = _record_reads(monkeypatch)
    batches = _drain(fs.subscribe(STORE, StartPosition.Beginning(), batch_size=4,
                                  poll_interval=0.01), 22)
    assert [len(b) for b in batches] == [4, 4, 4, 4, 4, 2]
    assert [len(files) for files in calls] == [4, 4, 1, 1, 3]
    facts = [f for b in batches for f in b]
    want = [f"A{i}" for i in range(9)] + [f"B{i}" for i in range(10)] + ["C0", "C1", "C2"]
    assert [f.type for f in facts] == want
    assert [f.position for f in facts] == sorted({f.position for f in facts})
    # replay walks the same runs
    calls.clear()
    replayed = list(fs.replay(STORE, batch_size=4))
    assert replayed == batches
    assert [len(files) for files in calls] == [4, 4, 1, 1, 3]


def test_row_commit_replay_runs_no_spark_job_and_matches_the_ordered_scan(fs, spark):
    fs.create(STORE)
    first = fs.append(STORE, [fi(f"T{i}", subject=f"S{i % 3}") for i in range(5)])
    for i in range(6):
        fs.append(STORE, [fi(f"U{i}"), fi(f"V{i}")])
    cursor = first.positions[1]
    batches, jobs = _spark_jobs(
        spark, lambda: list(fs.replay(STORE, ReplayStart.After(first.fact_ids[1]), batch_size=4))
    )
    assert jobs == 0
    want = [
        row_to_fact(r)
        for r in fs.facts_df(STORE).filter(F.col("position") > cursor).orderBy("position").collect()
    ]
    assert len(want) == 15
    assert [f for b in batches for f in b] == want
    assert [len(b) for b in batches] == [4, 4, 4, 3]


# -- compacted snapshot: one read of its footer-bounded files -----------------


def test_compacted_catchup_is_ordered_and_one_arrow_read_of_bounded_files(fs, monkeypatch):
    fs.create(STORE)
    for i in range(10):
        fs.append(STORE, [fi(f"P{i}.{j}", subject=f"S{(i * 7 + j) % 4}") for j in range(3)])
    assert fs.compact(STORE)["compacted"] is True
    fs.append(STORE, fi("Q0"))
    fs.append(STORE, fi("Q1"))
    calls = _record_reads(monkeypatch)
    gen = fs.subscribe(STORE, StartPosition.Beginning(), batch_size=4, poll_interval=0.01)
    batches = _drain(gen, 32)
    catchup = list(calls)
    assert [len(b) for b in batches] == [4] * 8
    facts = [f for b in batches for f in b]
    positions = [f.position for f in facts]
    assert positions == sorted(set(positions))
    assert set(positions) == {f.position for b in fs.replay(STORE) for f in b}
    # the whole catch-up was one read: the snapshot files whose footer
    # position range meets it, plus the tail commits
    layout = _layout(fs)
    view = layout.log_view()
    snapshot = layout.snapshot_dir(view)
    bounded = [
        os.path.join(snapshot, rel)
        for rel, _rows, lo, hi in bloomindex.snapshot_file_stats(snapshot)
        if hi > -1 and lo <= view.head
    ]
    assert len(bounded) >= 1 and len(view.live) == 2
    assert catchup == [bounded + layout.commit_files(view.live)]
    calls.clear()
    # past the snapshot, the tail is back on pyarrow reads of row commits
    fs.append(STORE, [fi("R0"), fi("R1")])
    more = _drain(gen, 2)
    assert [f.type for b in more for f in b] == ["R0", "R1"]
    assert len(calls) == 1 and len(calls[0]) == 1
    assert all("compacted-" not in p for files in calls for p in files)


# -- optimistic: a bulk published after later row commits ----------------------


def _write_bulk(layout, seq, base, types):
    """The data of a reserved bulk range, written straight to its dir;
    returns the dir name for publish_bulk."""
    name = f"commit-{seq:010d}-bulk"
    out = os.path.join(layout.data_dir, name)
    os.makedirs(out)
    now = utcnow_us()
    rows = [
        {"id": f"bulk-{i}", "type": t, "subject": "bulk", "appended_at": now,
         "position": base + i, "payload": {"data": b"", "format": None, "schema_ref": None},
         "metadata": {}, "tags": {}}
        for i, t in enumerate(types)
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=FACT_ARROW_SCHEMA),
                   os.path.join(out, "part-00000.parquet"))
    return name


@pytest.fixture()
def fso(spark, store_root):
    return FactStore(spark, store_root, commit_backend="optimistic")


def test_optimistic_bulk_after_later_rows_is_delivered_in_position_order(fso):
    fso.create(STORE)
    fso.append(STORE, fi("A"))
    layout = _layout(fso)
    gen = fso.subscribe(STORE, StartPosition.Beginning(), poll_interval=0.01)
    assert [f.type for b in _drain(gen, 1) for f in b] == ["A"]
    seq, base = layout.reserve_position_range(2, utcnow_us())
    fso.append(STORE, fi("B"))
    fso.append(STORE, fi("C"))
    # while the bulk is pending, neither replay nor subscribe passes it
    assert [f.type for b in fso.replay(STORE) for f in b] == ["A", "B", "C"]
    name = _write_bulk(layout, seq, base, ["X0", "X1", "X2"])
    assert layout.publish_bulk(name, 3, base + 2, utcnow_us(), "bulk-key") is not None
    view = layout.log_view()
    seq_order = [c.max_position for c in view.live]
    assert seq_order != sorted(seq_order), "the bulk must publish under a later seq"

    want = ["A", "X0", "X1", "X2", "B", "C"]
    replayed = [f for b in fso.replay(STORE, batch_size=2) for f in b]
    assert [f.type for f in replayed] == want
    assert [f.position for f in replayed] == sorted(f.position for f in replayed)
    tail = [f for b in _drain(gen, 5) for f in b]
    assert [f.type for f in tail] == want[1:]
    gen.close()


def test_subscribe_stream_end_on_optimistic_delivers_a_pending_bulk(fso, spark, tmp_path):
    """``subscribe_stream(End)`` pins the PUBLISHED head: a bulk whose
    range was reserved before the subscription publishes after it, so
    its facts are new to the subscriber. Pinning the raw head (the
    reservation's top) filtered them out forever."""
    fso.create(STORE)
    fso.append(STORE, fi("OLD"))
    layout = _layout(fso)
    seq, base = layout.reserve_position_range(2, utcnow_us())
    stream = fso.subscribe_stream(STORE, StartPosition.End())
    name = _write_bulk(layout, seq, base, ["X0", "X1", "X2"])
    assert layout.publish_bulk(name, 3, base + 2, utcnow_us(), "bulk-key") is not None
    fso.append(STORE, fi("NEW"))
    q = (
        stream.writeStream.format("memory")
        .queryName("end_pending_bulk")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select type from end_pending_bulk order by position").collect()
    assert [r.type for r in rows] == ["X0", "X1", "X2", "NEW"]
