"""Flatness of the flock hot path, in counts rather than seconds: one
DCB append plus one subscriber poll (published_head_position and
data_files_after_position) must fold or scan the same number of commit
records at 100 and at 3,000 commits, and a subscriber poll that sees
one new commit must read that commit's one file, with one
``read_arrow`` call, at either length. Spark-free."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from factstore_spark.model import FactInput, TagOnlyQueryItem, TagQuery, TagQueryBased
from factstore_spark.results import Appended
from factstore_spark.schema import FACT_ARROW_SCHEMA, POSITION_STRIDE
from factstore_spark.storage import layout as layout_mod
from factstore_spark.storage.layout import (
    COMMITS_FILE,
    CommitRecord,
    commit_record_to_dict,
    utcnow_us,
)
from factstore_spark.store import FactStore


def _record(seq):
    return CommitRecord(
        seq=seq, rows=1, appended_at=utcnow_us().isoformat(), idempotency_key=None,
        max_position=seq * POSITION_STRIDE, tag_fps=[seq + 1],
    )


def _synthesize_log(layout, n):
    """``n`` single-row commits written straight to the log, their data
    files hardlinks of one file (the calls measured never open them)."""
    one = os.path.join(layout.store_dir, "one.parquet")
    row = {"id": "f0", "type": "T", "subject": "s", "appended_at": utcnow_us(),
           "position": 0, "payload": {"data": b"", "format": None, "schema_ref": None},
           "metadata": {}, "tags": {}}
    pq.write_table(pa.Table.from_pylist([row], schema=FACT_ARROW_SCHEMA), one)
    lines = []
    for seq in range(n):
        os.link(one, os.path.join(layout.data_dir, f"commit-{seq:010d}.parquet"))
        lines.append(json.dumps(commit_record_to_dict(_record(seq))))
    with open(os.path.join(layout.store_dir, COMMITS_FILE), "w") as f:
        f.write("\n".join(lines) + "\n")


def _hot_path_visits(root, n, monkeypatch):
    fs = FactStore(None, root)
    fs.create("s")
    layout = fs._layout(fs.find_by_name("s").id)
    _synthesize_log(layout, n)

    def dcb_append(i):
        cond = TagQueryBased(TagQuery([TagOnlyQueryItem({"order": f"o{i}"})]))
        fact = FactInput(type="T", subject="s", tags={"order": f"o{i}"})
        assert isinstance(fs.append("s", fact, condition=cond), Appended)

    dcb_append(0)  # warm-up: the first lock acquisition runs its upkeep sweep
    layout.published_head_position()

    visits = [0]
    real_resolve = layout_mod._resolve_checkpoints

    def counting_resolve(records):  # every whole-log pass goes through here
        visits[0] += len(records)
        return real_resolve(records)

    monkeypatch.setattr(layout_mod, "_resolve_checkpoints", counting_resolve)
    if hasattr(layout_mod, "LogView"):
        real_fold = layout_mod.LogView._fold

        def counting_fold(self, records):
            records = list(records)
            visits[0] += len(records)
            return real_fold(self, records)

        monkeypatch.setattr(layout_mod.LogView, "_fold", counting_fold)
    dcb_append(1)
    head = layout.published_head_position()
    assert layout.data_files_after_position(head - 1)
    monkeypatch.undo()
    return visits[0]


def test_flock_hot_path_folds_the_same_records_at_any_log_length(tmp_path, monkeypatch):
    short = _hot_path_visits(str(tmp_path / "short"), 100, monkeypatch)
    long = _hot_path_visits(str(tmp_path / "long"), 3000, monkeypatch)
    assert short == long, (short, long)


def _tail_poll_reads(root, n):
    """The ``read_arrow`` calls of one subscriber poll that sees one new
    commit, on a log of ``n`` commits."""
    from factstore_spark.model import StartPosition

    fs = FactStore(None, root)
    fs.create("s")
    layout = fs._layout(fs.find_by_name("s").id)
    _synthesize_log(layout, n)
    gen = fs.subscribe("s", StartPosition.End(), poll_interval=0.01)
    fs.append("s", FactInput(type="NEW", subject="s"))
    calls = []
    real_read = layout.read_arrow

    def counting_read(*args, **kwargs):
        calls.append(kwargs.get("files"))
        return real_read(*args, **kwargs)

    layout.read_arrow = counting_read
    batch = next(gen)
    gen.close()
    assert [f.type for f in batch] == ["NEW"]
    return calls


def test_subscriber_tail_poll_reads_one_file_at_any_log_length(tmp_path):
    for n in (100, 3000):
        calls = _tail_poll_reads(str(tmp_path / f"n{n}"), n)
        assert len(calls) == 1 and len(calls[0]) == 1, (n, calls)
        assert calls[0][0].endswith(f"commit-{n:010d}.parquet"), (n, calls)
