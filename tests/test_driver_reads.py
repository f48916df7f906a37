"""Index-bounded finders read on the driver: ``find_by_id``,
``exists_by_id``, ``find_by_tags``, ``find_by_tag_query``,
``find_in_time_range`` and ``find_by_subject`` answer with one pyarrow
read — no Spark job and no py4j call — and equal their ``*_df`` Spark
results, on both commit backends, over a compacted snapshot plus a
post-compaction tail. A read the indexes cannot bound takes the Spark
path, and each such fallback is counted by reason."""

import shutil
import tempfile
import threading
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from py4j.java_gateway import GatewayClient

from factstore_spark import FactInput, TagOnlyQueryItem, TagQuery, TagTypeItem
from factstore_spark.model import ReadDirection, TimeRange
from factstore_spark.results import DoesNotExist, Exists, FactFound, FactNotFound
from factstore_spark.schema import row_to_fact
from factstore_spark.storage.layout import StoreLayout
from factstore_spark.store import FactStore

STORE = "driver-reads"
DAY0 = datetime(2024, 3, 1, tzinfo=timezone.utc)
N_SEED = 120
BACK = ReadDirection.BACKWARD
# per-tag cap of this module's stores: the "all" tag (every fact) is
# over it, each "user" tag (a fifth of the facts) under it
CAP = 40


def _seed_frame(spark):
    rows = [
        (
            f"seed-{i}",
            ("click", "view", "buy")[i % 3],
            f"user:{i % 5}",
            DAY0 + timedelta(hours=7 * i),
            (f'{{"n": {i}}}'.encode(), "json", None),
            {"m": str(i)},
            {"user": str(i % 5), "all": "x", "kind": ("a", "b")[i % 2]},
        )
        for i in range(N_SEED)
    ]
    schema = (
        "id string, type string, subject string, appended_at timestamp, "
        "payload struct<data:binary,format:string,schema_ref:string>, "
        "metadata map<string,string>, tags map<string,string>"
    )
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module", params=["flock", "optimistic"])
def bench(request, spark):
    """(FactStore, tail fact ids): seeded over six days, maintained
    (compacted, tag index), id-indexed, then two tail commits and a tag
    index refresh, so every index is fresh and a tail exists."""
    root = tempfile.mkdtemp(prefix="driver-reads-")
    fs = FactStore(spark, root, commit_backend=request.param)
    fs.TAG_INDEX_PUSHDOWN_CAP = CAP
    fs.create(STORE)
    fs.append_dataframe(STORE, _seed_frame(spark))
    fs.maintain(STORE)
    assert fs.build_id_index(STORE)["built"]
    tail = []
    for j in range(2):
        res = fs.append(
            STORE,
            [
                FactInput(type="click", subject=f"user:{k}", tags={"user": str(k), "all": "x", "kind": "a"})
                for k in range(3)
            ],
        )
        tail += list(res.fact_ids)
    assert fs.refresh_tag_index(STORE)["built"]
    layout = fs._layout(fs.find_by_name(STORE).id)
    assert layout.data_layout()[0] is not None and len(layout.data_layout()[1]) == 2
    yield fs, tail
    shutil.rmtree(root, ignore_errors=True)


def _costs(spark, fn):
    """(fn(), Spark jobs it ran, py4j calls this thread made in it)."""
    sc = spark.sparkContext
    group = f"driverreads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    calls = []
    me = threading.get_ident()
    real = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            calls.append(args[:1])
        return real(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        out = fn()
    finally:
        GatewayClient.send_command = real
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), len(calls)


def _on_driver(spark, fn):
    out, jobs, py4j = _costs(spark, fn)
    assert (jobs, py4j) == (0, 0)
    return out


def test_the_cost_counters_see_a_spark_read(spark, bench):
    """A ``*_df`` plan collected in Spark: its job and its py4j calls
    register, so the zeros below are not vacuous."""
    fs, _ = bench
    got, jobs, py4j = _costs(spark, lambda: fs.find_by_subject_df(STORE, "user:1", 3).collect())
    assert len(got) == 3 and jobs >= 1 and py4j > 0


def _facts(fs, df):
    return tuple(row_to_fact(r) for r in df.collect())


def test_by_id_present_absent_and_in_the_tail(spark, bench):
    fs, tail = bench
    for fid in ("seed-7", "seed-118", tail[4]):
        got = _on_driver(spark, lambda: fs.find_by_id(STORE, fid))
        want = _facts(fs, fs.find_by_id_df(STORE, fid))
        assert isinstance(got, FactFound) and (got.fact,) == want
        assert isinstance(_on_driver(spark, lambda: fs.exists_by_id(STORE, fid)), Exists)
    assert fs.find_by_id_df(STORE, "no-such-id").count() == 0
    assert isinstance(_on_driver(spark, lambda: fs.find_by_id(STORE, "no-such-id")), FactNotFound)
    assert isinstance(_on_driver(spark, lambda: fs.exists_by_id(STORE, "no-such-id")), DoesNotExist)


@pytest.mark.parametrize("limit", [None, 3, 30])
@pytest.mark.parametrize("direction", [ReadDirection.FORWARD, BACK])
def test_by_tags_both_directions_with_and_without_limit(spark, bench, limit, direction):
    fs, _ = bench
    for tags in ({"user": "1"}, {"user": "2", "kind": "a"}, {"user": "2", "all": "x"}, {"user": "9"}):
        got = _on_driver(spark, lambda: fs.find_by_tags(STORE, tags, limit, direction))
        want = _facts(fs, fs.find_by_tags_df(STORE, tags, limit, direction))
        assert got.facts == want, tags
    got = fs.find_by_tags(STORE, {"user": "1"}, limit, direction).facts
    assert len(got) == min(limit or 26, 26) and any(f.id.startswith("seed-") for f in got)


def test_tag_query_with_an_over_cap_tag_in_an_and_item(spark, bench):
    """``all`` matches every fact, over the per-tag cap: its item
    intersects the item's other tags and filters the facts read."""
    fs, _ = bench
    queries = [
        TagQuery([TagOnlyQueryItem({"user": "1", "all": "x"}), TagOnlyQueryItem({"user": "3"})]),
        TagQuery([TagTypeItem({"click", "buy"}, {"all": "x", "kind": "b", "user": "4"})]),
        TagQuery([TagOnlyQueryItem({"user": "0"}), TagTypeItem({"view"}, {"user": "2"})]),
    ]
    nonempty = 0
    for q in queries:
        got = _on_driver(spark, lambda: fs.find_by_tag_query(STORE, q))
        assert got.facts == _facts(fs, fs.find_by_tag_query_df(STORE, q)), q
        assert fs.find_by_tag_query_indexed(STORE, q).facts == got.facts
        nonempty += bool(got.facts)
    assert nonempty == len(queries)


def test_time_range_directions_boundaries_and_the_tail(spark, bench):
    fs, tail = bench
    seeded = sorted(fs.find_by_tags(STORE, {"all": "x"}).facts, key=lambda f: f.position)
    t10, t40 = seeded[10].appended_at, seeded[40].appended_at
    tail_at = fs.find_by_id(STORE, tail[0]).fact.appended_at
    ranges = [
        TimeRange(t10, t40),  # start inclusive, end exclusive
        TimeRange(t10 + timedelta(microseconds=1), t40 + timedelta(microseconds=1)),
        TimeRange(seeded[100].appended_at, None),  # straddles into the tail
        TimeRange(None, t10),
        TimeRange(tail_at, tail_at + timedelta(microseconds=1)),
        TimeRange(),
    ]
    for tr in ranges:
        for limit in (None, 5):
            for direction in (ReadDirection.FORWARD, BACK):
                got = _on_driver(spark, lambda: fs.find_in_time_range(STORE, tr, limit, direction))
                want = _facts(fs, fs.find_in_time_range_df(STORE, tr, limit, direction))
                assert got.facts == want, (tr, limit, direction)
    exact = fs.find_in_time_range(STORE, TimeRange(t10, t40)).facts
    assert [f.id for f in exact] == [f.id for f in seeded[10:40]]
    straddle = fs.find_in_time_range(STORE, TimeRange(seeded[100].appended_at, None)).facts
    assert {f.id for f in straddle} >= set(tail)


SUBJECTS = "driver-subjects"


@pytest.fixture(scope="module")
def subjects(spark, bench):
    """A second store of the ``bench`` FactStore: the seed compacted,
    then two tail commits, so ``user:1`` is in the snapshot and the
    tail and ``order/0-1`` (the DCB append subject shape) only in the
    tail."""
    fs, _ = bench
    fs.create(SUBJECTS)
    fs.append_dataframe(SUBJECTS, _seed_frame(spark))
    fs.compact(SUBJECTS)
    for subs in (("user:1", "order/0-1", "user:3"), ("order/0-1", "user:1")):
        fs.append(SUBJECTS, [FactInput(type="click", subject=s) for s in subs])
    layout = fs._layout(fs.find_by_name(SUBJECTS).id)
    assert layout.data_layout()[0] is not None and len(layout.data_layout()[1]) == 2
    return fs


@pytest.mark.parametrize("limit", [None, 2, 30])
@pytest.mark.parametrize("direction", [ReadDirection.FORWARD, BACK])
def test_by_subject_both_directions_with_and_without_limit(spark, subjects, limit, direction):
    fs = subjects
    sizes = {"user:1": 26, "order/0-1": 2, "user:404": 0}
    for subject, n in sizes.items():
        got = _on_driver(spark, lambda: fs.find_by_subject(SUBJECTS, subject, limit, direction))
        want = _facts(fs, fs.find_by_subject_df(SUBJECTS, subject, limit, direction))
        assert got.facts == want, subject
        assert len(got.facts) == min(limit or n, n), subject


@pytest.mark.parametrize("backend", ["flock", "optimistic"])
def test_subject_read_opens_only_commits_that_can_hold_it(spark, store_root, monkeypatch, backend):
    """The subject bound prunes live commits by ``subj_fps``: a row
    commit without the subject is not opened, one with no summary (over
    MAX_SUBJ_FPS subjects) is. On the optimistic backend a bulk publishes
    after a row commit that claimed its seq while the bulk's range was
    reserved, so seq order and position order differ: the read still
    answers in position order."""
    from factstore_spark.storage.layout import subject_fingerprint

    fs = FactStore(spark, store_root, commit_backend=backend)
    fs.create(STORE)
    fs.append(STORE, [FactInput(type="t", subject=s) for s in ("a", "b")])
    fs.append(STORE, [FactInput(type="t", subject=f"n{i}") for i in range(70)])
    layout = fs._layout(fs.find_by_name(STORE).id)
    if backend == "optimistic":
        real = type(layout).reserve_position_range

        def reserve_then_append(self, rel_hi, appended_at):
            monkeypatch.setattr(type(layout), "reserve_position_range", real)
            out = real(self, rel_hi, appended_at)
            fs.append(STORE, FactInput(type="t", subject="user:1"))  # claims the next seq
            return out

        monkeypatch.setattr(type(layout), "reserve_position_range", reserve_then_append)
    fs.append_dataframe(STORE, _seed_frame(spark))
    fs.append(STORE, FactInput(type="t", subject="user:1"))
    live = layout.log_view().live
    fp = subject_fingerprint("user:1")
    skipped, summaryless = live[0], live[1]
    assert fp not in skipped.subj_fps and summaryless.subj_fps is None
    reads = []
    real_read = StoreLayout.read_arrow

    def recording(self, *args, **kwargs):
        reads.append(kwargs.get("files"))
        return real_read(self, *args, **kwargs)

    monkeypatch.setattr(StoreLayout, "read_arrow", recording)
    got = _on_driver(spark, lambda: fs.find_by_subject(STORE, "user:1"))
    assert len(reads) == 1
    opened = set(reads[0])
    assert not opened & set(layout.commit_files([skipped]))
    assert set(layout.commit_files([summaryless])) <= opened
    assert got.facts == _facts(fs, fs.find_by_subject_df(STORE, "user:1"))
    assert len(got.facts) == 24 + (2 if backend == "optimistic" else 1)
    assert [f.position for f in got.facts] == sorted(f.position for f in got.facts)
    if backend == "optimistic":
        bulk = next(c for c in live if c.bulk)
        raced = next(c for c in live if not c.bulk and c.seq < bulk.seq and c.rows == 1)
        assert raced.max_position > bulk.max_position  # position order != seq order


def test_every_fallback_reason_is_counted_and_answers_right(spark, fs):
    fs.create(STORE)
    fs.append_dataframe(STORE, _seed_frame(spark))
    fs.compact(STORE)
    tags = {"user": "1"}
    want_tags = fs.find_by_tags(STORE, tags).facts  # no tag index yet
    want_fact = fs.find_by_id(STORE, "seed-3").fact  # no id index yet
    assert fs.spark_fallbacks.counts() == {
        "stale": 0, "absent": 2, "swap": 0, "cap": 0, "no_tag_under_cap": 0
    }
    fs.build_tag_index(STORE)
    fs.build_id_index(STORE)
    assert fs.find_by_tags(STORE, tags).facts == want_tags
    assert fs.find_by_id(STORE, "seed-3").fact == want_fact
    assert fs.spark_fallbacks.counts()["absent"] == 2

    fs.TAG_INDEX_PUSHDOWN_CAP = 3
    assert fs.find_by_tags(STORE, tags).facts == want_tags
    assert fs.spark_fallbacks.counts()["no_tag_under_cap"] == 1
    del fs.TAG_INDEX_PUSHDOWN_CAP

    fs.DRIVER_READ_MAX_ROWS = 2  # a date partition holds 3 or 4 facts
    assert fs.find_by_tags(STORE, tags).facts == want_tags
    assert fs.find_by_id(STORE, "seed-3").fact == want_fact
    assert fs.find_in_time_range(STORE, TimeRange()).facts == _facts(
        fs, fs.find_in_time_range_df(STORE, TimeRange())
    )
    assert fs.spark_fallbacks.counts()["cap"] == 3
    del fs.DRIVER_READ_MAX_ROWS

    layout = fs._layout(fs.find_by_name(STORE).id)
    from factstore_spark.storage.tag_index import TagIndex

    index_dir = TagIndex(layout).index_dir
    shutil.move(index_dir, index_dir + ".aside")  # the rebuild's swap window
    assert fs.find_by_tags(STORE, tags).facts == want_tags
    shutil.move(index_dir + ".aside", index_dir)
    assert fs.spark_fallbacks.counts()["swap"] == 1

    new = fs.append(STORE, FactInput(type="click", subject="user:1", tags=tags)).fact_ids[0]
    assert [f.id for f in fs.find_by_tags(STORE, tags).facts] == [f.id for f in want_tags] + [new]
    fs.compact(STORE)  # the id index's snapshot is superseded
    assert fs.find_by_id(STORE, new).fact.id == new
    assert fs.spark_fallbacks.counts() == {
        "stale": 2, "absent": 2, "swap": 1, "cap": 3, "no_tag_under_cap": 1
    }


def test_position_of_fact_reads_the_id_index_candidates(spark, fs, monkeypatch):
    """The ``After(id)`` cursor resolves through the id index: only the
    Bloom candidate snapshot files and the tail reach ``read_arrow``;
    an absent id still resolves to None, and a stale index reads every
    file."""
    fs.create(STORE)
    fs.append_dataframe(STORE, _seed_frame(spark))
    fs.maintain(STORE)
    fs.build_id_index(STORE)
    tail_id = fs.append(STORE, FactInput(type="t", subject="s")).fact_ids[0]
    layout = fs._layout(fs.find_by_name(STORE).id)
    n_files = len(layout.data_files())
    assert n_files >= 7  # six date partitions plus the tail commit
    reads = []
    real = StoreLayout.read_arrow

    def recording(self, *args, **kwargs):
        reads.append(kwargs.get("files"))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(StoreLayout, "read_arrow", recording)
    want = {f.id: f.position for f in fs.find_in_time_range(STORE, TimeRange()).facts}
    reads.clear()
    for fid in ("seed-0", "seed-77", tail_id):
        assert layout.position_of_fact(fid) == want[fid]
    assert layout.position_of_fact("no-such-id") is None
    assert all(files is not None and len(files) <= 3 for files in reads), reads
    reads.clear()
    shutil.rmtree(layout.id_index_dir)
    assert layout.position_of_fact("seed-77") == want["seed-77"]
    assert reads == [None]  # no index: every data file


def test_snapshot_replay_runs_no_spark_job_in_position_order(spark, bench):
    """A replay whose range reaches into the compacted snapshot reads
    the footer-bounded files on the driver, with no Spark job, and
    delivers the ordered scan's facts in position order."""
    from factstore_spark.model import ReplayStart

    fs, tail = bench
    want = _facts(fs, fs.facts_df(STORE).orderBy("position"))
    after = next(f for f in want if f.id == "seed-90")
    batches, jobs, _ = _costs(
        spark, lambda: list(fs.replay(STORE, ReplayStart.After("seed-90"), batch_size=7))
    )
    assert jobs == 0
    assert [len(b) for b in batches][:-1] == [7] * (len(batches) - 1)
    assert tuple(f for b in batches for f in b) == tuple(f for f in want if f.position > after.position)


def test_snapshot_replay_over_the_row_cap_is_a_counted_spark_read(bench):
    """Over DRIVER_READ_MAX_ROWS, a replay into the compacted snapshot
    reads the same bounded files in Spark: the ordered scan's facts, in
    position order, and one more ``cap`` fallback."""
    from factstore_spark.model import ReplayStart

    fs, _ = bench
    want = _facts(fs, fs.facts_df(STORE).orderBy("position"))
    after = next(f for f in want if f.id == "seed-60")
    before = fs.spark_fallbacks.counts()["cap"]
    fs.DRIVER_READ_MAX_ROWS = 5
    try:
        got = [f for b in fs.replay(STORE, ReplayStart.After("seed-60"), batch_size=7) for f in b]
    finally:
        del fs.DRIVER_READ_MAX_ROWS
    assert tuple(got) == tuple(f for f in want if f.position > after.position)
    assert [f.position for f in got] == sorted({f.position for f in got})
    assert fs.spark_fallbacks.counts()["cap"] == before + 1


def test_each_finder_call_resolves_its_bound_once(bench, monkeypatch):
    """A finder call takes one log view, makes at most one id-index
    probe and at most one tag-index resolution, whether it ends on the
    driver or in a forced Spark fallback (``cap`` for every finder,
    ``no_tag_under_cap`` for the tag finders) — and the fallback
    answers as the driver read did."""
    from factstore_spark.storage.tag_index import TagIndex

    fs, _ = bench
    layout = fs._layout(fs.find_by_name(STORE).id)
    calls = {}
    # the layout's own class: the optimistic layout overrides log_view
    for owner, name in ((type(layout), "log_view"), (type(layout), "id_candidates"),
                        (TagIndex, "resolve_positions")):
        def counting(*args, _real=getattr(owner, name), _name=name, **kwargs):
            calls[_name] = calls.get(_name, 0) + 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(owner, name, counting)

    def once(fn, reason=None):
        before = fs.spark_fallbacks.counts()
        calls.clear()
        out = fn()
        assert calls.get("log_view") == 1 and max(calls.values()) == 1, calls
        if reason is not None:
            assert fs.spark_fallbacks.counts()[reason] == before[reason] + 1
        return out

    query = TagQuery([TagOnlyQueryItem({"user": "1", "all": "x"}), TagOnlyQueryItem({"user": "3"})])
    reads = {
        "id": lambda: fs.find_by_id(STORE, "seed-7"),
        "exists": lambda: fs.exists_by_id(STORE, "seed-7"),
        "tags": lambda: fs.find_by_tags(STORE, {"user": "1"}, 5, BACK),
        "query": lambda: fs.find_by_tag_query(STORE, query),
        "time": lambda: fs.find_in_time_range(STORE, TimeRange(), 9, BACK),
        "subject": lambda: fs.find_by_subject(STORE, "user:1", 5, BACK),
    }
    on_driver = {k: once(fn) for k, fn in reads.items()}
    for fn in (
        lambda: fs.find_by_id_df(STORE, "seed-7"),
        lambda: fs.find_by_tags_df(STORE, {"user": "1"}, 5, BACK),
        lambda: fs.find_by_tag_query_indexed_df(STORE, query),
        lambda: fs.find_in_time_range_df(STORE, TimeRange(), 9, BACK),
        lambda: fs.find_by_subject_df(STORE, "user:1", 5, BACK),
    ):
        once(fn)
    fs.DRIVER_READ_MAX_ROWS = 2
    try:
        for k, fn in reads.items():
            assert once(fn, "cap") == on_driver[k], k
    finally:
        del fs.DRIVER_READ_MAX_ROWS
    over = {"all": "x"}  # every fact: over the module's per-tag cap
    want = fs.find_in_time_range(STORE, TimeRange()).facts
    assert once(lambda: fs.find_by_tags(STORE, over), "no_tag_under_cap").facts == want
    got = once(lambda: fs.find_by_tag_query(STORE, TagQuery([TagOnlyQueryItem(over)])), "no_tag_under_cap")
    assert got.facts == want


def test_arrow_to_facts_equals_row_to_fact_per_row():
    import pyarrow as pa

    from factstore_spark.schema import FACT_ARROW_SCHEMA, arrow_to_facts

    at = datetime(2024, 5, 1, 12, 30, 0, 123456, tzinfo=timezone.utc)
    rows = [
        {"id": "a", "type": "t", "subject": "s", "appended_at": at, "position": 1,
         "payload": None, "metadata": None, "tags": None},
        {"id": "b", "type": "t", "subject": "s", "appended_at": at, "position": 2,
         "payload": {"data": None, "format": "json", "schema_ref": "r"},
         "metadata": {"x": "1"}, "tags": {"k": "v", "k2": ""}},
        {"id": "c", "type": "u", "subject": "s2", "appended_at": at, "position": 3,
         "payload": {"data": b"\x00{}", "format": None, "schema_ref": None},
         "metadata": {}, "tags": {"k": "w"}},
    ]
    table = pa.Table.from_pylist(rows, schema=FACT_ARROW_SCHEMA)
    for t in (table, table.slice(1, 2), pa.concat_tables([table.slice(2), table.slice(0, 1)]), table.slice(0, 0)):
        assert arrow_to_facts(t) == [row_to_fact(r) for r in t.to_pylist()]


def test_a_key_the_python_hash_does_not_encode_is_hashed_in_the_jvm(spark, store_root):
    """A date key part, and an int probed against a string part (Spark
    casts it), are hashed by the driver JVM: the probe prunes files and
    still admits the one holding the key."""
    import datetime as dt
    import os

    from factstore_spark.storage.bloomindex import (
        bloom_candidate_files,
        build_bloom_index,
        pruned_lookup,
    )

    data_dir, idx = os.path.join(store_root, "d"), os.path.join(store_root, "i")
    rows = [(dt.date(2024, 1, 1) + timedelta(days=i), str(i)) for i in range(40)]
    spark.createDataFrame(rows, "d date, s string").repartition(4).write.parquet(data_dir)
    st = build_bloom_index(spark, data_dir, ["d", "s"], idx)
    for probe in [(dt.date(2024, 1, 8), "7"), (dt.date(2024, 1, 8), 7)]:
        got = bloom_candidate_files(spark, idx, data_dir, ["d", "s"], [probe])
        assert not got.stale and len(got.candidate_files) < st["n_files"], probe
        assert pruned_lookup(spark, data_dir, ["d", "s"], [probe], idx, probe=got).count() == 1
