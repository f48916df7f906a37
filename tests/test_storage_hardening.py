"""Crash/race hardening of the storage internals (round-8 review):
first-compaction log consistency, backend-switch sweep safety,
empty-slot reclaim, NFS link retransmit, swap-window fallbacks."""

import json
import os
import time

import pytest

from factstore_spark import FactInput, FactStore


def _mk(spark, tmp_path, backend="flock"):
    fs = FactStore(spark, str(tmp_path / "root"), commit_backend=backend)
    fs.create("s")
    meta = fs.catalog.find_by_name("s")
    return fs, fs._layout(meta.id)


def test_first_compaction_uses_log_consistent_file_list(spark, tmp_path, monkeypatch):
    """The initial snapshot must come from the same commit-log state as
    compacted_through — a directory listing captured earlier (missing a
    just-landed commit) must NOT define the snapshot contents."""
    from factstore_spark.storage.compact import compact_store

    fs, layout = _mk(spark, tmp_path)
    fs.append("s", FactInput(type="A", subject="s1"))
    fs.append("s", FactInput(type="B", subject="s2"))

    real = layout.data_files
    calls = {"n": 0}

    truncated = {"hit": False}

    def stale_listing(max_seq=None):
        calls["n"] += 1
        files = real(max_seq)
        if calls["n"] == 1 and max_seq is None:
            truncated["hit"] = True
            return files[:1]  # entry listing predates the second commit
        return files

    monkeypatch.setattr(layout, "data_files", stale_listing)
    out = compact_store(spark, layout)
    # The fault must actually have fired — a compact_store refactor that
    # stops listing without max_seq would turn this into a no-fault
    # happy-path test without this guard.
    assert truncated["hit"], "stale-listing fault was never injected"
    assert out["compacted"] and out["rows"] == 2  # BOTH commits present
    facts = fs.find_by_subject("s", "s2")
    assert len(facts.facts) == 1


def test_optimistic_sweep_spares_flock_era_files(spark, tmp_path):
    """Reopening a flock-written store with the optimistic backend must
    never sweep committed flock-era data files as orphans (their commit
    records carry file=None with seq-derived paths)."""
    root = str(tmp_path / "root")
    fs1 = FactStore(spark, root)
    fs1.create("s")
    fs1.append("s", FactInput(type="A", subject="s1"))
    meta = fs1.catalog.find_by_name("s")
    lay1 = fs1._layout(meta.id)
    data_files = lay1.data_files()
    assert data_files
    old = time.time() - 7200
    for f in data_files:
        os.utime(f, (old, old))

    fs2 = FactStore(spark, root, commit_backend="optimistic")
    lay2 = fs2._layout(meta.id)
    lay2._sweep_orphans()
    for f in data_files:
        assert os.path.exists(f), f
    got = fs2.find_by_subject("s", "s1")
    assert len(got.facts) == 1


def test_empty_excl_slot_reclaimed_after_ttl(spark, tmp_path):
    """A writer killed between O_CREAT|O_EXCL and the content write
    leaves an empty slot; appends must reclaim it after EMPTY_SLOT_TTL
    instead of wedging forever."""
    fs, layout = _mk(spark, tmp_path, backend="optimistic+excl")
    fs.append("s", FactInput(type="A", subject="s1"))
    nxt = layout.next_seq(layout.read_commits())
    slot = os.path.join(layout.log_dir, f"{nxt:020d}.json")
    fd = os.open(slot, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    os.close(fd)  # empty: the simulated crash window
    old = time.time() - 120  # > EMPTY_SLOT_TTL
    os.utime(slot, (old, old))
    res = fs.append("s", FactInput(type="B", subject="s2"))
    assert res.__class__.__name__ == "Appended", res
    assert len(fs.find_by_subject("s", "s2").facts) == 1


def test_hardlink_put_if_absent_survives_eexist_retransmit(tmp_path, monkeypatch):
    """NFS lost-reply: a retransmitted SUCCESSFUL link(2) raises
    FileExistsError — the claim must still count as WON (nlink tells
    the truth), or the caller would delete data its published claim
    references."""
    from factstore_spark.storage.cas import HardlinkSlotStore

    store = HardlinkSlotStore(str(tmp_path / "slots"))
    real_link = os.link

    raised = {"hit": False}

    def flaky_link(src, dst, **kw):
        real_link(src, dst, **kw)
        raised["hit"] = True
        raise FileExistsError(dst)  # the retransmit's EEXIST

    monkeypatch.setattr(os, "link", flaky_link)
    assert store.put_if_absent("a.json", b"{}") is True
    # Guard: if HardlinkSlotStore stops using os.link the fault never
    # fires and the EEXIST-retransmit path goes untested.
    assert raised["hit"], "flaky-link fault was never injected"
    monkeypatch.undo()
    assert store.read("a.json") == b"{}"
    assert store.put_if_absent("a.json", b"other") is False  # real conflict


def test_compaction_rename_collision_backs_out_cleanly(spark, tmp_path):
    """If another compaction's snapshot already occupies out_dir, the
    rename loses cleanly (reason='lost race'), never crashes, and
    leaves no .tmp staging dir behind."""
    from factstore_spark.storage.compact import compact_store

    fs, layout = _mk(spark, tmp_path)
    fs.append("s", FactInput(type="A", subject="s1"))
    max_seq = max(c.seq for c in layout.read_commits())
    winner = os.path.join(layout.data_dir, f"compacted-{max_seq:010d}")
    os.makedirs(os.path.join(winner, "fact_date=2024-01-01"))
    with open(os.path.join(winner, "fact_date=2024-01-01", "x.parquet"), "wb") as f:
        f.write(b"w")
    out = compact_store(spark, layout)
    assert out["compacted"] is False and out["reason"] == "lost race"
    assert not [n for n in os.listdir(layout.data_dir) if n.endswith(".tmp")]


def test_indexed_query_falls_back_when_index_tree_vanishes(spark, tmp_path):
    """Fresh meta + missing index tree (the rebuild swap window): the
    indexed finders must fall back to the scan path, not raise."""
    import shutil

    from factstore_spark.model import TagOnlyQueryItem, TagQuery
    from factstore_spark.storage.tag_index import TagIndex

    fs, layout = _mk(spark, tmp_path)
    fs.append("s", FactInput(type="A", subject="s1", tags={"k": "v"}))
    fs.build_tag_index("s")
    tidx = TagIndex(layout)
    shutil.rmtree(tidx.index_dir)  # meta still says fresh
    got = fs.find_by_tags("s", {"k": "v"})
    assert len(got.facts) == 1
    got2 = fs.find_by_tag_query("s", TagQuery([TagOnlyQueryItem({"k": "v"})]))
    assert len(got2.facts) == 1


def test_vacant_seq_sealing_bounds_hole_probes(spark, tmp_path):
    """Aged holes below a sealed claim stop being re-probed (memoized
    vacant), while a later slot landing in a hole still surfaces via
    the LISTING path."""
    fs, layout = _mk(spark, tmp_path, backend="optimistic")
    fs.append("s", FactInput(type="A", subject="s1"))
    # fabricate a committed claim far ahead, leaving holes 1..9
    rec = {
        "seq": 10, "rows": 0, "appended_at": "2024-01-01T00:00:00",
        "idempotency_key": None, "max_position": 10 * (1 << 20),
    }
    assert layout.slots.put_if_absent("%020d.json" % 10, json.dumps(rec).encode())
    slot10 = os.path.join(layout.log_dir, "%020d.json" % 10)
    old = time.time() - 7200  # > SEAL_TTL
    os.utime(slot10, (old, old))
    layout.read_commits()
    assert {2, 3, 4}.issubset(layout._vacant_memo)
    # a (pathological) late fill in a sealed hole still appears: the
    # listing path never consults the vacancy memo
    rec3 = dict(rec, seq=3, max_position=3 * (1 << 20))
    assert layout.slots.put_if_absent("%020d.json" % 3, json.dumps(rec3).encode())
    assert any(c.seq == 3 for c in layout.read_commits())


def test_indexed_finders_see_commits_landed_during_compaction(spark, tmp_path):
    """A compaction record is appended LAST but carries the OLD
    snapshot seq: with commits landing during the rewrite, the indexed
    finders must resolve freshness against the logically-latest commit
    (max seq), not the physically-last log line — or committed facts
    silently vanish until the next append."""
    from factstore_spark.storage.compact import compact_store
    from factstore_spark.storage.layout import utcnow_us

    fs, layout = _mk(spark, tmp_path)
    fs.append("s", FactInput(type="T", subject="a", tags={"k": "v"}))
    compact_store(spark, layout)
    fs.build_tag_index("s")
    fs.append("s", FactInput(type="T", subject="b", tags={"k": "v"}))
    # replay the race's end state: a compaction record for the OLD
    # snapshot becomes the physically-last log line
    snap = [c for c in layout.read_commits() if c.compacted_through is not None][-1]
    with layout.commit_lock():
        layout.write_compaction_record({
            "seq": snap.seq, "rows": snap.rows,
            "appended_at": utcnow_us().isoformat(), "idempotency_key": None,
            "max_position": snap.max_position,
            "compacted_through": snap.compacted_through,
        })
    got = fs.find_by_tags("s", {"k": "v"})
    assert {f.subject for f in got.facts} == {"a", "b"}

    from factstore_spark.model import TagOnlyQueryItem, TagQuery

    got2 = fs.find_by_tag_query("s", TagQuery([TagOnlyQueryItem({"k": "v"})]))
    assert {f.subject for f in got2.facts} == {"a", "b"}


def test_published_head_holds_below_pending_reservation(spark, tmp_path):
    """A pending bulk reservation (range claimed, data unpublished)
    must bound published_head_position so a subscription cursor can
    never advance past facts that have not landed yet."""
    fs, layout = _mk(spark, tmp_path, backend="optimistic")
    fs.append("s", FactInput(type="T", subject="a"))
    seq, base = layout.reserve_position_range(99, layout_now())
    assert layout.head_position() >= base + 99
    assert layout.published_head_position() == base - 1
    # a row commit AFTER the reservation publishes at higher positions;
    # the safe head still holds below the pending range
    fs.append("s", FactInput(type="T", subject="b"))
    assert layout.published_head_position() == base - 1
    # once the reservation's bulk dir publishes, the bound lifts
    import pyarrow as pa
    import pyarrow.parquet as pq

    from factstore_spark.schema import FACT_ARROW_SCHEMA

    d = os.path.join(layout.data_dir, f"commit-{seq:010d}-bulk")
    os.makedirs(d)
    rows = [{
        "id": "x", "type": "T", "subject": "c",
        "appended_at": layout_now(), "position": base,
        "payload": {"data": b"", "format": None, "schema_ref": None},
        "metadata": {}, "tags": {},
    }]
    pq.write_table(pa.Table.from_pylist(rows, schema=FACT_ARROW_SCHEMA),
                   os.path.join(d, "part-0.parquet"))
    layout.publish_bulk(f"commit-{seq:010d}-bulk", 1, base, layout_now(), None)
    assert layout.published_head_position() == layout.head_position()


def layout_now():
    from factstore_spark.storage.layout import utcnow_us

    return utcnow_us()


def test_register_views_default_prefix_sanitizes_hyphens(spark, tmp_path):
    fs = FactStore(spark, str(tmp_path / "root"))
    fs.create("my-store")
    fs.append("my-store", FactInput(type="T", subject="a"))
    views = fs.register_views("my-store")
    assert views == ["my_store_facts", "my_store_tags"]
    assert spark.sql("SELECT count(*) n FROM my_store_facts").collect()[0].n == 1


def test_blank_idempotency_key_rejected(spark, tmp_path):
    import pytest as _pytest

    fs = FactStore(spark, str(tmp_path / "root"))
    fs.create("s")
    with _pytest.raises(ValueError, match="non-blank"):
        fs.append("s", [FactInput(type="T", subject="a")], idempotency_key="")
