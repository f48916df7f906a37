"""The one append protocol shared by both commit backends: group-commit
failure containment, one layout instance per store, and the snapshot
order an optimistic retry depends on. Spark-free (the append path is
pyarrow + the commit protocol)."""

import threading
import time

import pytest

from factstore_spark.model import FactInput
from factstore_spark.results import AlreadyApplied, Appended, AppendResult
from factstore_spark.storage import layout as layout_mod
from factstore_spark.store import FactStore


def _rows(layout) -> int:
    return sum(
        c.rows
        for c in layout.read_commits()
        if c.compacted_through is None and not c.checkpoint
    )


def test_group_commit_lock_failure_reaches_every_queued_appender(
    tmp_path, monkeypatch
):
    """A batch whose commit-lock acquisition raises must hand that
    exception to every member — a follower left with no result used to
    return None, which no transport maps to a response."""
    fs = FactStore(None, str(tmp_path))
    fs.create("s")
    layout = fs._layout(fs.find_by_name("s").id)
    real_lock = layout_mod.StoreLayout.commit_lock
    calls = []

    def flaky_lock(self, upkeep="always"):
        calls.append(upkeep)
        if len(calls) == 1:
            # hold the first batch until three appenders queue behind it
            deadline = time.monotonic() + 10
            while len(layout._group._pending) < 3 and time.monotonic() < deadline:
                time.sleep(0.005)
        elif len(calls) == 2:
            raise OSError("flock failed")
        return real_lock(self, upkeep)

    monkeypatch.setattr(layout_mod.StoreLayout, "commit_lock", flaky_lock)
    outcomes = [None] * 4

    def appender(i):
        try:
            outcomes[i] = fs.append("s", FactInput(type="T", subject=f"s{i}"))
        except BaseException as exc:  # noqa: BLE001 — recorded for the assert
            outcomes[i] = exc

    first = threading.Thread(target=appender, args=(0,))
    first.start()
    while not calls:
        time.sleep(0.001)
    rest = [threading.Thread(target=appender, args=(i,)) for i in (1, 2, 3)]
    for t in rest:
        t.start()
    for t in [first] + rest:
        t.join(timeout=30)
        assert not t.is_alive()
    assert isinstance(outcomes[0], Appended)
    for out in outcomes:
        assert isinstance(out, (AppendResult, BaseException)), outcomes
    assert [type(o) for o in outcomes[1:]] == [OSError] * 3, outcomes
    monkeypatch.undo()
    # the store keeps working, and only the first append landed
    assert isinstance(fs.append("s", FactInput(type="T", subject="after")), Appended)
    assert _rows(layout) == 2


def test_racing_first_callers_share_one_layout_instance(tmp_path, monkeypatch):
    """Group commit and sync tickets live on the layout instance, so a
    store must never have two: a leader whose instance handed out fewer
    tickets would wait forever on a group fsync."""
    fs = FactStore(None, str(tmp_path))
    fs.create("s")
    store_id = fs.find_by_name("s").id
    fs._layouts.clear()
    real_init = layout_mod.StoreLayout.__init__

    def slow_init(self, store_dir):
        time.sleep(0.05)
        real_init(self, store_dir)

    monkeypatch.setattr(layout_mod.StoreLayout, "__init__", slow_init)
    barrier = threading.Barrier(4)
    got = []

    def reach():
        barrier.wait()
        got.append(fs._layout(store_id))

    threads = [threading.Thread(target=reach) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert len(got) == 4
    assert len({id(x) for x in got}) == 1
    assert fs._layout(store_id) is got[0]


@pytest.mark.parametrize("backend", ["optimistic", "optimistic+excl"])
def test_optimistic_retry_rechecks_key_against_one_snapshot(
    tmp_path, monkeypatch, backend
):
    """A rival commit carrying the same idempotency key lands between
    this attempt's key check and its claim. The claim must lose (its
    seq came from the snapshot the key check read), and the retry must
    see the key: AlreadyApplied, one application, one conflict."""
    fs = FactStore(None, str(tmp_path), commit_backend=backend)
    fs.create("s")
    assert isinstance(fs.append("s", FactInput(type="T", subject="seed")), Appended)
    rival = FactStore(None, str(tmp_path), commit_backend=backend)
    real_eval = FactStore._evaluate_condition
    fired = []

    def racing_eval(self, layout, condition):
        if not fired:
            fired.append(True)
            won = rival.append(
                "s", FactInput(type="T", subject="rival"), idempotency_key="k"
            )
            assert isinstance(won, Appended)
        return real_eval(self, layout, condition)

    monkeypatch.setattr(FactStore, "_evaluate_condition", racing_eval)
    res = fs.append("s", FactInput(type="T", subject="me"), idempotency_key="k")
    assert isinstance(res, AlreadyApplied), res
    assert fs.append_conflict_retries == 1
    assert _rows(fs._layout(fs.find_by_name("s").id)) == 2
