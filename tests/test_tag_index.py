"""Derived tag index: indexed tag queries must agree with the scan-path
finder on randomized corpora, go stale safely, and refresh."""

import os
import random

from factstore_spark import FactInput, TagOnlyQueryItem, TagQuery, TagTypeItem

STORE = "default-test-store"


def seed_random(fs, rnd, n=120):
    fs.create(STORE)
    keys, vals, types = ["k1", "k2", "k3"], ["", "a", "b"], ["T1", "T2", "T3"]
    batch = [
        FactInput(
            type=rnd.choice(types),
            subject=f"S{i % 7}",
            tags={k: rnd.choice(vals) for k in rnd.sample(keys, rnd.randint(0, 3))},
        )
        for i in range(n)
    ]
    fs.append(STORE, batch)


def queries_under_test():
    return [
        TagQuery([TagOnlyQueryItem({"k1": "a"})]),
        TagQuery([TagOnlyQueryItem({"k1": "a", "k2": "b"})]),
        TagQuery([TagTypeItem({"T1", "T3"}, {"k3": ""})]),
        TagQuery(
            [
                TagOnlyQueryItem({"k2": "a"}),
                TagTypeItem({"T2"}, {"k1": "b", "k3": "a"}),
            ]
        ),
    ]


def test_indexed_tag_query_matches_scan_path(fs):
    rnd = random.Random(42)
    seed_random(fs, rnd)
    stats = fs.build_tag_index(STORE)
    assert stats["built"]
    nonempty = 0
    for q in queries_under_test():
        scan = fs.find_by_tag_query(STORE, q)
        indexed = fs.find_by_tag_query_indexed(STORE, q)
        assert [f.id for f in indexed.facts] == [f.id for f in scan.facts], q
        nonempty += bool(scan.facts)
    # [] == [] across all four queries proves nothing — the fixed seed
    # must actually produce matches for the comparison to bite.
    assert nonempty >= 2, f"only {nonempty} queries matched anything"


def test_stale_index_falls_back_to_scan(fs):
    rnd = random.Random(7)
    seed_random(fs, rnd, n=30)
    fs.build_tag_index(STORE)
    # New append makes the index stale; finder must still be correct.
    res = fs.append(STORE, FactInput(type="T1", subject="SX", tags={"k1": "a"}))
    new_id = res.fact_ids[0]
    q = TagQuery([TagOnlyQueryItem({"k1": "a"})])
    scan = fs.find_by_tag_query(STORE, q)
    indexed = fs.find_by_tag_query_indexed(STORE, q)
    # The staleness-inducing fact must be VISIBLE in both paths — a
    # shared stale snapshot would otherwise make indexed == scan hold
    # with both wrong.
    assert new_id in [f.id for f in scan.facts]
    assert [f.id for f in indexed.facts] == [f.id for f in scan.facts]
    # Rebuild restores the indexed path.
    fs.build_tag_index(STORE)
    indexed2 = fs.find_by_tag_query_indexed(STORE, q)
    assert [f.id for f in indexed2.facts] == [f.id for f in scan.facts]


def test_incremental_refresh_covers_new_commits(fs):
    """refresh() after appends must (a) run incrementally (not a full
    rebuild), (b) make the index fresh, (c) keep indexed == scan."""
    rnd = random.Random(7)
    seed_random(fs, rnd, n=60)
    assert fs.build_tag_index(STORE)["built"]

    fs.append(
        STORE,
        [
            FactInput(type="T9", subject="S-new", tags={"k1": "a", "k9": "z"})
            for _ in range(5)
        ],
    )
    res = fs.refresh_tag_index(STORE)
    assert res["built"] and res.get("mode") == "incremental"
    # fresh again: second refresh is a no-op
    res2 = fs.refresh_tag_index(STORE)
    assert res2.get("reason") == "fresh"

    for q in queries_under_test() + [TagQuery([TagOnlyQueryItem({"k9": "z"})])]:
        scan = [f.id for f in fs.find_by_tag_query(STORE, q).facts]
        idx = [f.id for f in fs.find_by_tag_query_indexed(STORE, q).facts]
        assert idx == scan
    # The k9 probe targets the refreshed increment specifically — it
    # must have found the 5 new facts, not compared empty to empty.
    assert len(scan) == 5, scan


def test_refresh_without_existing_index_builds(fs):
    rnd = random.Random(9)
    seed_random(fs, rnd, n=20)
    res = fs.refresh_tag_index(STORE)
    assert res["built"] and res.get("mode") != "incremental"


def test_empty_store_index(fs):
    fs.create(STORE)
    assert fs.build_tag_index(STORE) == {"built": False, "rows": 0}


TAG_LOOKUPS = [
    {"k1": "a"},
    {"k1": "a", "k2": "b"},
    {"k3": ""},
    {"k1": "a", "k2": "b", "k3": "a"},  # likely empty at n=120
    {"k9": "zzz"},  # key not in the corpus at all
]


def test_find_by_tags_routes_through_index(fs):
    """find_by_tags through the fresh index must equal the scan path
    exactly — including limit/direction modifiers and empty results —
    and fall back (still correct) the moment the index goes stale."""
    from factstore_spark.model import ReadDirection

    rnd = random.Random(1234)
    seed_random(fs, rnd)
    # scan-path expectations captured BEFORE any index exists
    expect = {}
    for tags in TAG_LOOKUPS:
        key = tuple(sorted(tags.items()))
        expect[key] = [f.id for f in fs.find_by_tags(STORE, tags).facts]
        expect[key + ("limit",)] = [
            f.id
            for f in fs.find_by_tags(
                STORE, tags, limit=3, direction=ReadDirection.BACKWARD
            ).facts
        ]
    assert fs.build_tag_index(STORE)["built"]
    for tags in TAG_LOOKUPS:
        key = tuple(sorted(tags.items()))
        assert [f.id for f in fs.find_by_tags(STORE, tags).facts] == expect[key], tags
        assert [
            f.id
            for f in fs.find_by_tags(
                STORE, tags, limit=3, direction=ReadDirection.BACKWARD
            ).facts
        ] == expect[key + ("limit",)], tags

    # staleness fallback: a new matching fact must appear immediately
    r = fs.append(STORE, FactInput(type="T1", subject="S-new", tags={"k1": "a"}))
    got = [f.id for f in fs.find_by_tags(STORE, {"k1": "a"}).facts]
    assert got == expect[(("k1", "a"),)] + [r.fact_ids[0]]


def test_dcb_condition_through_index(fs):
    """The TagQueryBased append condition consults the fresh tag index
    (zero fact-file opens) and must decide identically to the scan
    path: matching facts -> violation, none -> append; the `after`
    cursor bounds the check; staleness falls back safely."""
    from factstore_spark import TagQueryBased
    from factstore_spark.results import Appended, AppendConditionViolated

    fs.create(STORE)
    r1 = fs.append(STORE, FactInput(type="T1", subject="s1", tags={"k": "v"}))
    r2 = fs.append(STORE, FactInput(type="T2", subject="s2", tags={"k": "w"}))
    assert fs.build_tag_index(STORE)["built"]
    meta = fs.catalog.find_by_name(STORE)
    from factstore_spark.storage.tag_index import TagIndex

    tidx = TagIndex(fs._layout(meta.id))
    assert tidx.is_fresh()

    # fresh index, matching tag -> violation (decided via exists_after)
    q = TagQuery([TagOnlyQueryItem({"k": "v"})])
    res = fs.append(
        STORE, FactInput(type="X", subject="sx"), condition=TagQueryBased(q)
    )
    assert isinstance(res, AppendConditionViolated)

    # fresh index, no matching tag -> append succeeds (index now stale)
    q2 = TagQuery([TagOnlyQueryItem({"k": "nope"})])
    ok = fs.append(
        STORE, FactInput(type="X", subject="sx", tags={"k": "x"}),
        condition=TagQueryBased(q2),
    )
    assert isinstance(ok, Appended)

    # stale index: the scan fallback must see the fact appended above
    q3 = TagQuery([TagOnlyQueryItem({"k": "x"})])
    res3 = fs.append(
        STORE, FactInput(type="Y", subject="sy"), condition=TagQueryBased(q3)
    )
    assert isinstance(res3, AppendConditionViolated)

    # refresh, then `after` cursor: only facts AFTER the cursor count
    r_ = fs.refresh_tag_index(STORE)
    assert r_["built"] or r_.get("reason") == "fresh", r_
    assert tidx.is_fresh()
    q4 = TagQuery([TagOnlyQueryItem({"k": "v"})])
    after_ok = fs.append(
        STORE,
        FactInput(type="Z", subject="sz"),
        condition=TagQueryBased(q4, after=r1.fact_ids[0]),
    )
    assert isinstance(after_ok, Appended)  # k=v only exists AT the cursor
    r_ = fs.refresh_tag_index(STORE)
    assert r_["built"] or r_.get("reason") == "fresh", r_
    assert tidx.is_fresh()
    after_hit = fs.append(
        STORE,
        FactInput(type="Z", subject="sz"),
        condition=TagQueryBased(TagQuery([TagOnlyQueryItem({"k": "w"})]),
                                after=r1.fact_ids[0]),
    )
    assert isinstance(after_hit, AppendConditionViolated)  # k=w is after r1

    # typed item through the index: type must gate the match
    r_ = fs.refresh_tag_index(STORE)
    assert r_["built"] or r_.get("reason") == "fresh", r_
    assert tidx.is_fresh()
    typed_miss = fs.append(
        STORE,
        FactInput(type="Q", subject="sq"),
        condition=TagQueryBased(TagQuery([TagTypeItem({"T9"}, {"k": "v"})])),
    )
    assert isinstance(typed_miss, Appended)
    r_ = fs.refresh_tag_index(STORE)
    assert r_["built"] or r_.get("reason") == "fresh", r_
    assert tidx.is_fresh()
    typed_hit = fs.append(
        STORE,
        FactInput(type="Q", subject="sq"),
        condition=TagQueryBased(TagQuery([TagTypeItem({"T1"}, {"k": "v"})])),
    )
    assert isinstance(typed_hit, AppendConditionViolated)


def test_find_by_tags_mid_band_uses_range_plus_semi_join(fs):
    """Between TAG_INDEX_ISIN_CAP and TAG_INDEX_PUSHDOWN_CAP matches,
    the indexed finder must not compile a thousands-literal isin:
    the plan carries a position RANGE filter (row-group pruning) and a
    LeftSemi join for exactness — and still equals the scan path."""
    fs.create(STORE)
    n = 1_300  # > ISIN_CAP (1000), < PUSHDOWN_CAP (10000)
    batch = [
        FactInput(type="T", subject=f"S{i}", tags={"hot": "y"}) for i in range(n)
    ] + [FactInput(type="T", subject="cold", tags={"hot": "n"})]
    fs.append(STORE, batch)
    scan_ids = [f.id for f in fs.find_by_tags(STORE, {"hot": "y"}).facts]
    assert fs.build_tag_index(STORE)["built"]
    df = fs.find_by_tags_df(STORE, {"hot": "y"})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "isin" not in plan.lower()
    got = [f.id for f in fs.find_by_tags(STORE, {"hot": "y"}).facts]
    assert got == scan_ids and len(got) == n

    # small band still point-loads through a bounded isin literal list
    fs.create("small-band")
    fs.append(
        "small-band",
        [FactInput(type="T", subject=f"P{i}", tags={"k": "v" if i % 2 else ""}) for i in range(40)],
    )
    fs.build_tag_index("small-band")
    plan_small = (
        fs.find_by_tags_df("small-band", {"k": "v"})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" not in plan_small


def test_numeric_looking_tag_keys_resolve_on_the_driver(fs):
    """A tag key that looks like an integer is still a string in the
    index's hive layout (``tag_key=42``): the driver reader must not
    infer an int partition type, or the DCB check and the indexed
    find_by_tags would compare an int column with a string."""
    from factstore_spark import TagQueryBased
    from factstore_spark.results import AppendConditionViolated

    fs.create(STORE)
    fs.append(
        STORE,
        [
            FactInput(type="T", subject=f"s{i}", tags={"42": "v" if i % 2 else "w"})
            for i in range(6)
        ],
    )
    scan = [f.id for f in fs.find_by_tags(STORE, {"42": "v"}).facts]
    assert fs.build_tag_index(STORE)["built"]
    got = [f.id for f in fs.find_by_tags(STORE, {"42": "v"}).facts]
    assert got == scan and len(got) == 3
    res = fs.append(
        STORE,
        FactInput(type="X", subject="x"),
        condition=TagQueryBased(TagQuery([TagOnlyQueryItem({"42": "v"})])),
    )
    assert isinstance(res, AppendConditionViolated)


def test_find_by_tags_past_the_driver_cap_semi_joins_in_spark(fs):
    """A tag matching more index rows than TAG_INDEX_PUSHDOWN_CAP is
    not read onto the driver past the cap: the finder semi-joins the
    index's Spark position set instead, and still equals the scan path
    with a limit and a direction."""
    from factstore_spark.model import ReadDirection

    fs.create(STORE)
    fs.append(
        STORE,
        [
            FactInput(type="T", subject=f"S{i}", tags={"hot": "y", "odd": str(i % 2)})
            for i in range(30)
        ],
    )
    tags = {"hot": "y", "odd": "1"}
    back = ReadDirection.BACKWARD
    want = [f.id for f in fs.find_by_tags(STORE, tags, limit=4, direction=back).facts]
    assert len(want) == 4
    assert fs.build_tag_index(STORE)["built"]
    fs.TAG_INDEX_PUSHDOWN_CAP = 10  # 30 "hot" and 15 "odd" rows: both past it
    df = fs.find_by_tags_df(STORE, tags, limit=4, direction=back)
    assert "LeftSemi" in df._jdf.queryExecution().executedPlan().toString()
    assert [f.id for f in fs.find_by_tags(STORE, tags, limit=4, direction=back).facts] == want


def test_meta_rewrite_that_dies_mid_write_keeps_the_previous_value(fs, monkeypatch):
    """``tag_index_meta.json`` is replaced atomically: a refresh whose
    meta dump dies half-written leaves the previous ``built_through``
    readable. An in-place rewrite would leave a torn file, read as -1
    ("no index"), which sends the DCB condition to a full scan."""
    import json
    import types

    import pytest

    from factstore_spark.storage import tag_index as tag_index_mod
    from factstore_spark.storage.tag_index import TagIndex

    seed_random(fs, random.Random(3), n=20)
    assert fs.build_tag_index(STORE)["built"]
    tidx = TagIndex(fs._layout(fs.find_by_name(STORE).id))
    before = tidx.built_through()
    assert before >= 0
    fs.append(STORE, FactInput(type="T1", subject="S0", tags={"k1": "a"}))

    def torn_dump(obj, f):
        f.write(json.dumps(obj)[:5])
        raise OSError("disk full")

    # only this module's json: the index write itself must still work
    monkeypatch.setattr(
        tag_index_mod, "json", types.SimpleNamespace(dump=torn_dump, load=json.load)
    )
    with pytest.raises(OSError):
        fs.refresh_tag_index(STORE)
    monkeypatch.undo()
    assert tidx.built_through() == before
    assert not [n for n in os.listdir(tidx.layout.store_dir) if n.endswith(".tmp")]
