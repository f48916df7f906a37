"""Bloom sidecar index (storage/bloomindex.py): the lake-native analog
of the reference's id->position point index (FdbFactFinder.kt:19-32).

Contract under test: pruned_lookup is ALWAYS exact (no false negatives
by construction, false positives removed by the IN filter), the
sidecar actually prunes files for point probes, staleness degrades to
the full scan (never a wrong answer), and concurrent rebuilds resolve
through the shared versioned-manifest CAS with exactly one winner.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from factstore_spark.storage.bloomindex import (
    BloomIndexStaleError,
    bloom_candidate_files,
    build_bloom_index,
    describe_bloom_index,
    pruned_lookup,
)
from factstore_spark.storage.cas import ConcurrentManifestSwapError


@pytest.fixture()
def bloom_table(spark, store_root):
    """16 hash-partitioned files over 4000 rows keyed by a LONG id —
    each key lives in exactly one file, the layout where point pruning
    matters most (and footer min/max stats prune nothing: every file
    spans nearly the full id range)."""
    data_dir = os.path.join(store_root, "data")
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
    )
    df.repartition(16, "k").write.parquet(data_dir)
    index_dir = os.path.join(store_root, "bloomidx")
    stats = build_bloom_index(spark, data_dir, "k", index_dir)
    return data_dir, index_dir, stats


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def test_lookup_exact_for_present_and_absent_keys(spark, bloom_table):
    data_dir, index_dir, stats = bloom_table
    assert stats["n_files"] == 16
    keys = [0, 1, 17, 999, 3999, 4000, 5555, -3]  # mixed present/absent
    got = pruned_lookup(spark, data_dir, "k", keys, index_dir)
    want = spark.read.parquet(data_dir).filter(F.col("k").isin(keys))
    assert rows_of(got) == rows_of(want)
    assert got.count() == 5  # the absent keys contribute nothing


def test_no_false_negatives_across_many_keys(spark, bloom_table):
    data_dir, index_dir, _ = bloom_table
    # Every 13th key: each must be found (a single miss = false negative).
    keys = list(range(0, 4000, 13))
    got = pruned_lookup(spark, data_dir, "k", keys, index_dir)
    assert got.count() == len(keys)


def test_pruning_actually_skips_files(spark, bloom_table):
    data_dir, index_dir, _ = bloom_table
    probe = bloom_candidate_files(spark, index_dir, data_dir, "k", [42])
    assert not probe.stale
    assert probe.total_files == 16
    # One present key lives in exactly one file; fpp ~1% makes extra
    # candidates rare — allow at most one false-positive file.
    assert 1 <= len(probe.candidate_files) <= 2


def test_absent_keys_prune_to_almost_nothing(spark, bloom_table):
    data_dir, index_dir, _ = bloom_table
    absent = list(range(100_000, 100_024))
    probe = bloom_candidate_files(spark, index_dir, data_dir, "k", absent)
    # 24 absent keys x 16 files x ~1% fpp ~= 4 expected candidate hits;
    # a generous bound still proves the filter bites.
    assert len(probe.candidate_files) <= 8
    got = pruned_lookup(spark, data_dir, "k", absent, index_dir)
    assert got.count() == 0


def test_empty_and_null_keys(spark, bloom_table):
    data_dir, index_dir, _ = bloom_table
    assert pruned_lookup(spark, data_dir, "k", [], index_dir).count() == 0
    assert pruned_lookup(spark, data_dir, "k", [None], index_dir).count() == 0
    got = pruned_lookup(spark, data_dir, "k", [None, 7], index_dir)
    assert [r.k for r in got.collect()] == [7]


def test_stale_index_degrades_to_scan_or_raises(spark, bloom_table):
    data_dir, index_dir, _ = bloom_table
    # Mutate the table: one more file => the pinned inventory mismatches.
    extra = spark.createDataFrame([(99_991, 1, "row-x")], "k long, v long, s string")
    extra.coalesce(1).write.mode("append").parquet(data_dir)
    assert describe_bloom_index(index_dir, data_dir)["stale"] is True
    # Default: degrade to the full scan — the NEW row is visible.
    got = pruned_lookup(spark, data_dir, "k", [99_991, 5], index_dir)
    assert got.count() == 2
    with pytest.raises(BloomIndexStaleError):
        pruned_lookup(
            spark, data_dir, "k", [5], index_dir, on_stale="error"
        )
    # Rebuild covers the new file and serves pruned lookups again.
    build_bloom_index(spark, data_dir, "k", index_dir)
    probe = bloom_candidate_files(spark, index_dir, data_dir, "k", [99_991])
    assert not probe.stale
    assert 1 <= len(probe.candidate_files) <= 2


def test_fingerprint_format_upgrade_reported_not_silent(spark, bloom_table):
    """ADVICE r11: a pre-v2 manifest (bare int sizes, no mtime_ns)
    must describe as stale with an explicit 'fingerprint format
    upgraded' reason — a named rebuild signal, not a silent perf
    cliff — and a rebuild restores pruning."""
    from factstore_spark.storage.bloomindex import (
        _inventory,
        _read_pointer,
        _write_pointer,
    )
    from factstore_spark.storage.cas import (
        cas_swap_manifest,
        read_versioned_manifest,
    )

    data_dir, index_dir, _ = bloom_table
    manifest, version = read_versioned_manifest(index_dir, _read_pointer)
    assert manifest["fingerprint_format"] == "size+mtime_ns/v2"
    # forge the pre-upgrade manifest: same files, int sizes, no format
    legacy = dict(manifest)
    legacy.pop("fingerprint_format")
    legacy["files"] = {
        k: int(str(v).split(":", 1)[0]) for k, v in manifest["files"].items()
    }
    cas_swap_manifest(index_dir, legacy, version, _write_pointer)
    desc = describe_bloom_index(index_dir, data_dir)
    assert desc["stale"] is True
    assert "fingerprint format upgraded" in desc["stale_reason"]
    # probes degrade to scan (exactness preserved), never wrong
    got = pruned_lookup(spark, data_dir, "k", [5], index_dir)
    assert [r.k for r in got.collect()] == [5]
    # real drift still reports as drift, not as a format upgrade
    extra = spark.createDataFrame([(77_777, 1, "x")], "k long, v long, s string")
    extra.coalesce(1).write.mode("append").parquet(data_dir)
    assert describe_bloom_index(index_dir, data_dir)["stale_reason"] == (
        "data directory inventory drift"
    )
    # the maintenance rebuild clears both
    build_bloom_index(spark, data_dir, "k", index_dir)
    desc = describe_bloom_index(index_dir, data_dir)
    assert desc["stale"] is False and desc["stale_reason"] is None


def test_wrong_key_col_treated_as_stale(spark, bloom_table):
    data_dir, index_dir, _ = bloom_table
    probe = bloom_candidate_files(spark, index_dir, data_dir, "v", [3])
    assert probe.stale  # an index on k must not prune a probe on v
    got = pruned_lookup(spark, data_dir, "v", [3], index_dir)
    want = spark.read.parquet(data_dir).filter(F.col("v") == 3)
    assert got.count() == want.count()


def test_string_keys(spark, store_root):
    data_dir = os.path.join(store_root, "sdata")
    index_dir = os.path.join(store_root, "sidx")
    df = spark.range(0, 1200).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("k"), F.col("id").alias("v")
    )
    df.repartition(8, "k").write.parquet(data_dir)
    build_bloom_index(spark, data_dir, "k", index_dir)
    keys = ["doc-0", "doc-777", "doc-99999", "nope"]
    got = pruned_lookup(spark, data_dir, "k", keys, index_dir)
    assert sorted(r.k for r in got.collect()) == ["doc-0", "doc-777"]
    probe = bloom_candidate_files(spark, index_dir, data_dir, "k", ["doc-777"])
    assert 1 <= len(probe.candidate_files) <= 2


def test_rebuild_race_single_winner(spark, bloom_table):
    """Two rebuilds racing from the same base version: the CAS makes
    exactly one win; the loser gets ConcurrentManifestSwapError, and
    the surviving manifest serves correct lookups."""
    data_dir, index_dir, _ = bloom_table
    from factstore_spark.storage import bloomindex as bi

    manifest, base = bi.read_versioned_manifest(index_dir, bi._read_pointer)
    # Simulate the race: a competing writer commits base+1 first.
    bi.cas_swap_manifest(
        index_dir, dict(manifest), base, bi._write_pointer, what="bloom index"
    )
    with pytest.raises(ConcurrentManifestSwapError):
        bi.cas_swap_manifest(
            index_dir, dict(manifest), base, bi._write_pointer, what="bloom index"
        )
    # A full rebuild reads the NEW head version and lands cleanly on top.
    stats = build_bloom_index(spark, data_dir, "k", index_dir)
    assert stats["version"] == base + 2
    got = pruned_lookup(spark, data_dir, "k", [123], index_dir)
    assert got.count() == 1


def test_orphan_sidecar_dirs_reaped(spark, bloom_table):
    data_dir, index_dir, _ = bloom_table
    build_bloom_index(spark, data_dir, "k", index_dir)
    build_bloom_index(spark, data_dir, "k", index_dir)
    dirs = [d for d in os.listdir(index_dir) if d.startswith("sidecar-")]
    # current + one-generation grace for in-flight readers
    assert len(dirs) == 2


def test_index_survives_file_removal_as_stale(spark, bloom_table):
    data_dir, index_dir, _ = bloom_table
    victim = next(
        f for f in sorted(os.listdir(data_dir)) if f.endswith(".parquet")
    )
    os.remove(os.path.join(data_dir, victim))
    assert describe_bloom_index(index_dir, data_dir)["stale"] is True
    # Degraded lookup still matches the (new) truth of the table.
    got = pruned_lookup(spark, data_dir, "k", list(range(50)), index_dir)
    want = spark.read.parquet(data_dir).filter(F.col("k").isin(list(range(50))))
    assert got.count() == want.count()


# ---------------------------------------------------------------------------
# Store integration: the id index behind findById / existsById
# ---------------------------------------------------------------------------

from factstore_spark import FactInput
from factstore_spark.results import Appended, Exists, DoesNotExist, FactFound, FactNotFound

STORE = "bloom-id-store"


def _seed(fs, n=40):
    fs.create(STORE)
    ids = []
    for i in range(n):
        res = fs.append(
            STORE,
            FactInput(type=f"T{i % 3}", subject=f"S{i % 5}", tags={"p": str(i % 2)}),
        )
        assert isinstance(res, Appended)
        ids.append(res.fact_ids[0])
    return ids


def test_id_index_requires_compaction_first(fs):
    _seed(fs, 5)
    st = fs.build_id_index(STORE)
    assert st == {"built": False, "reason": "no compacted snapshot"}
    # And lookups are unaffected.
    assert isinstance(fs.exists_by_id(STORE, "no-such-id"), DoesNotExist)


def test_id_index_point_lookup_and_pruning(fs, spark):
    ids = _seed(fs)
    assert fs.compact(STORE)["compacted"]
    st = fs.build_id_index(STORE)
    assert st["built"] and st["n_files"] >= 1
    # Every seeded id resolves through the indexed route.
    for fid in ids[:6] + ids[-3:]:
        got = fs.find_by_id(STORE, fid)
        assert isinstance(got, FactFound) and got.fact.id == fid
    assert isinstance(fs.find_by_id(STORE, "absent-id"), FactNotFound)
    assert isinstance(fs.exists_by_id(STORE, ids[0]), Exists)
    assert isinstance(fs.exists_by_id(STORE, "absent-id"), DoesNotExist)
    # The sidecar consultation really prunes: an absent id admits
    # (almost) no candidate files of the compacted snapshot.
    from factstore_spark.storage.bloomindex import bloom_candidate_files

    meta = fs.catalog.find_by_name(STORE)
    layout = fs._layout(meta.id)
    comp_dir, _ = layout.data_layout()
    probe = bloom_candidate_files(
        spark, fs._id_index_dir(layout), comp_dir, "id", ["absent-id"]
    )
    assert not probe.stale
    assert len(probe.candidate_files) <= max(1, probe.total_files // 2)


def test_id_index_sees_post_compaction_tail(fs):
    _seed(fs, 20)
    fs.compact(STORE)
    fs.build_id_index(STORE)
    res = fs.append(STORE, FactInput(type="Tail", subject="S9", tags={}))
    tail_id = res.fact_ids[0]
    got = fs.find_by_id(STORE, tail_id)  # lives ONLY in the tail
    assert isinstance(got, FactFound) and got.fact.type == "Tail"


def test_id_index_stale_after_recompaction_falls_back(fs):
    ids = _seed(fs, 20)
    fs.compact(STORE)
    fs.build_id_index(STORE)
    fs.append(STORE, FactInput(type="T9", subject="S9", tags={}))
    fs.compact(STORE)  # new snapshot dir -> pinned inventory mismatches
    for fid in (ids[0], ids[-1]):
        got = fs.find_by_id(STORE, fid)
        assert isinstance(got, FactFound) and got.fact.id == fid


def test_maintain_rebuilds_id_index_when_present(fs):
    ids = _seed(fs, 20)
    fs.compact(STORE)
    fs.build_id_index(STORE)
    fs.append(STORE, FactInput(type="T9", subject="S9", tags={}))
    steps = fs.maintain(STORE)
    assert steps["id_index"]["built"]
    # Post-maintain the indexed route is fresh again and correct.
    from factstore_spark.storage.bloomindex import describe_bloom_index

    meta = fs.catalog.find_by_name(STORE)
    layout = fs._layout(meta.id)
    comp_dir, _ = layout.data_layout()
    d = describe_bloom_index(fs._id_index_dir(layout), comp_dir)
    assert d["exists"] and not d["stale"]
    assert isinstance(fs.find_by_id(STORE, ids[3]), FactFound)


def test_maintain_skips_id_index_when_never_built(fs):
    _seed(fs, 10)
    steps = fs.maintain(STORE)
    assert "id_index" not in steps


# ---------------------------------------------------------------------------
# pruned_semi_join: the index as a join accelerator
# ---------------------------------------------------------------------------


def test_semi_join_matches_exact_semi_join(spark, bloom_table):
    from factstore_spark.storage.bloomindex import pruned_semi_join

    data_dir, index_dir, _ = bloom_table
    keys = spark.createDataFrame(
        [(k,) for k in list(range(0, 300, 3)) + [99999, 123456]], "k long"
    )
    got = pruned_semi_join(spark, data_dir, "k", keys, index_dir)
    want = spark.read.parquet(data_dir).join(keys, ["k"], "left_semi")
    assert rows_of(got) == rows_of(want)


def test_semi_join_with_renamed_key_column_and_dupes(spark, bloom_table):
    from factstore_spark.storage.bloomindex import pruned_semi_join

    data_dir, index_dir, _ = bloom_table
    keys = spark.createDataFrame(
        [(7,), (7,), (None,), (4001,)], "probe_id long"
    )
    got = pruned_semi_join(
        spark, data_dir, "k", keys, index_dir, keys_cols="probe_id"
    )
    assert [r.k for r in got.collect()] == [7]


def test_semi_join_selective_probe_prunes_files(spark, bloom_table):
    """A 3-key probe must NOT read all 16 files: candidate set <= 5
    (3 true files + fp slack). Verified through the scan's input file
    list, not just the result."""
    from factstore_spark.storage.bloomindex import pruned_semi_join

    data_dir, index_dir, _ = bloom_table
    keys = spark.createDataFrame([(11,), (222,), (3333,)], "k long")
    got = pruned_semi_join(spark, data_dir, "k", keys, index_dir)
    files = {r.f for r in got.select(F.input_file_name().alias("f")).collect()}
    assert got.count() == 3
    assert 1 <= len(files) <= 5


def test_semi_join_empty_and_stale(spark, bloom_table):
    from factstore_spark.storage.bloomindex import pruned_semi_join

    data_dir, index_dir, _ = bloom_table
    empty = spark.createDataFrame([], "k long")
    assert pruned_semi_join(spark, data_dir, "k", empty, index_dir).count() == 0
    # Stale (file added): degrades to the full-scan semi-join and sees
    # the new row.
    spark.createDataFrame([(70_001, 0, "x")], "k long, v long, s string").coalesce(
        1
    ).write.mode("append").parquet(data_dir)
    keys = spark.createDataFrame([(70_001,), (5,)], "k long")
    got = pruned_semi_join(spark, data_dir, "k", keys, index_dir)
    assert got.count() == 2


def test_semi_join_property_random_key_sets(spark, bloom_table):
    """Property: for ANY key set, pruned result == exact semi-join
    (drawn from a seeded RNG over present/absent/negative keys —
    hypothesis-style coverage without a per-example Spark session)."""
    import random

    from factstore_spark.storage.bloomindex import pruned_semi_join

    data_dir, index_dir, _ = bloom_table
    rng = random.Random(20260816)
    full = spark.read.parquet(data_dir)
    for _trial in range(4):
        ks = (
            [rng.randrange(0, 4000) for _ in range(rng.randrange(1, 40))]
            + [rng.randrange(4000, 10_000) for _ in range(rng.randrange(0, 10))]
            + [-rng.randrange(1, 100) for _ in range(rng.randrange(0, 3))]
        )
        keys = spark.createDataFrame([(k,) for k in ks], "k long")
        got = pruned_semi_join(spark, data_dir, "k", keys, index_dir)
        want = full.join(keys, ["k"], "left_semi")
        assert rows_of(got) == rows_of(want), f"trial {_trial} keys={ks[:8]}..."


def test_maintain_skips_rebuild_when_index_fresh(fs):
    _seed(fs, 12)
    fs.compact(STORE)
    fs.build_id_index(STORE)
    steps = fs.maintain(STORE)  # nothing new: compact no-ops
    assert steps["id_index"] == {"built": False, "reason": "fresh"}


def test_build_refuses_empty_data_dir(spark, store_root):
    import pytest as _pytest

    empty = os.path.join(store_root, "empty")
    os.makedirs(empty)
    with _pytest.raises(ValueError, match="no parquet files"):
        build_bloom_index(spark, empty, "k", os.path.join(store_root, "i"))


# ---------------------------------------------------------------------------
# Composite keys + snapshot-pinned file sets (merge-table point lookups)
# ---------------------------------------------------------------------------


def test_composite_key_lookup_and_pruning(spark, store_root):
    data_dir = os.path.join(store_root, "cdata")
    index_dir = os.path.join(store_root, "cidx")
    df = spark.range(0, 3000).select(
        (F.col("id") % 50).alias("a"),
        (F.col("id") / 50).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    df.repartition(12, "a", "b").write.parquet(data_dir)
    st = build_bloom_index(spark, data_dir, ["a", "b"], index_dir)
    assert st["key_cols"] == ["a", "b"]
    present = [(7, 3), (49, 59), (0, 0)]
    absent = [(7, 999), (999, 3)]
    got = pruned_lookup(
        spark, data_dir, ["a", "b"], present + absent, index_dir,
        on_stale="error",
    )
    assert sorted(r.v for r in got.collect()) == sorted(
        a + 50 * b for a, b in present
    )
    probe = bloom_candidate_files(
        spark, index_dir, data_dir, ["a", "b"], absent
    )
    assert len(probe.candidate_files) <= 3  # 2 absent keys, ~1% fpp
    # A key tuple with a None part is dropped, not matched.
    got2 = pruned_lookup(
        spark, data_dir, ["a", "b"], [(None, 3), (7, 3)], index_dir
    )
    assert [r.v for r in got2.collect()] == [157]


def test_composite_key_semi_join(spark, store_root):
    from factstore_spark.storage.bloomindex import pruned_semi_join

    data_dir = os.path.join(store_root, "cdata2")
    index_dir = os.path.join(store_root, "cidx2")
    df = spark.range(0, 2000).select(
        (F.col("id") % 40).alias("a"),
        (F.col("id") / 40).cast("long").alias("b"),
        F.col("id").alias("v"),
    )
    df.repartition(8, "a", "b").write.parquet(data_dir)
    build_bloom_index(spark, data_dir, ["a", "b"], index_dir)
    keys = spark.createDataFrame(
        [(3, 3), (17, 21), (999, 999)], "x long, y long"
    )
    got = pruned_semi_join(
        spark, data_dir, ["a", "b"], keys, index_dir, keys_cols=["x", "y"]
    )
    want = spark.read.parquet(data_dir).join(
        keys.select(F.col("x").alias("a"), F.col("y").alias("b")),
        ["a", "b"],
        "left_semi",
    )
    assert rows_of(got) == rows_of(want)
    assert got.count() == 2


def test_merge_table_point_lookup(spark, tmp_path):
    from factstore_spark.storage.merge import (
        build_key_index,
        create_table,
        maintain_table,
        merge_upsert,
        point_lookup,
        read_table,
    )

    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"p{i % 4}", f"v{i}") for i in range(400)],
        "id long, part string, v string",
    )
    create_table(df, d, ["id"], "part")
    st = build_key_index(spark, d)
    assert st["n_files"] >= 4  # one file per partition per version
    got = point_lookup(spark, d, [3, 377, 9999], on_stale="error")
    assert got.columns == read_table(spark, d).columns
    assert sorted(r.v for r in got.collect()) == ["v3", "v377"]
    # A merge republishes the head -> index stale -> degraded lookup
    # still exact, and maintain_table refreshes the index.
    merge_upsert(
        spark.createDataFrame([(3, "p3", "V3")], "id long, part string, v string"),
        d,
    )
    got = point_lookup(spark, d, [3])
    assert [r.v for r in got.collect()] == ["V3"]
    rep = maintain_table(spark, d)
    assert rep["key_index"]["n_files"] >= 1
    got = point_lookup(spark, d, [3, 42], on_stale="error")
    assert sorted(r.v for r in got.collect()) == ["V3", "v42"]


def test_merge_point_lookup_missing_table_returns_none(spark, tmp_path):
    from factstore_spark.storage.merge import point_lookup

    assert point_lookup(spark, str(tmp_path / "nope"), [1]) is None


# ---------------------------------------------------------------------------
# Second-review regression tests
# ---------------------------------------------------------------------------


def test_build_tolerates_zero_row_files(spark, store_root):
    """A 0-row parquet file yields no sidecar row (correctly never a
    candidate) — the build-time name validation must not reject it."""
    data_dir = os.path.join(store_root, "zdata")
    spark.range(0, 500).select(F.col("id").alias("k")).repartition(
        4, "k"
    ).write.parquet(data_dir)
    spark.createDataFrame([], "k long").coalesce(1).write.mode(
        "append"
    ).parquet(data_dir)
    idx = os.path.join(store_root, "zidx")
    st = build_bloom_index(spark, data_dir, "k", idx)
    assert st["n_files"] >= 5  # empty part file counted in inventory
    got = pruned_lookup(spark, data_dir, "k", [7, 9999], idx, on_stale="error")
    assert [r.k for r in got.collect()] == [7]


def test_scalar_probe_against_composite_index_raises(spark, store_root):
    data_dir = os.path.join(store_root, "c3")
    idx = os.path.join(store_root, "c3i")
    spark.range(0, 100).select(
        (F.col("id") % 10).alias("a"), F.col("id").alias("b")
    ).coalesce(2).write.parquet(data_dir)
    build_bloom_index(spark, data_dir, ["a", "b"], idx)
    with pytest.raises(ValueError, match="must be a tuple"):
        bloom_candidate_files(spark, idx, data_dir, ["a", "b"], ["ab"])


def test_describe_old_format_manifest_reports_stale(spark, bloom_table):
    """A pre-composite manifest (key_col/key_type) must describe as
    stale — maintenance then rebuilds instead of crashing."""
    import json as _json

    data_dir, index_dir, _ = bloom_table
    from factstore_spark.storage import bloomindex as bi

    manifest, base = bi.read_versioned_manifest(index_dir, bi._read_pointer)
    old = dict(manifest)
    old["key_col"] = old.pop("key_cols")[0]
    old["key_type"] = old.pop("key_types")[0]
    bi.cas_swap_manifest(index_dir, old, base, bi._write_pointer)
    d = describe_bloom_index(index_dir, data_dir)
    assert d["exists"] and d["stale"] and d["key_cols"] == ["k"]
    # and probes degrade rather than crash
    probe = bloom_candidate_files(spark, index_dir, data_dir, "k", [1])
    assert probe.stale


def test_merge_maintain_survives_fully_deleted_table(spark, tmp_path):
    from factstore_spark.storage.merge import (
        build_key_index,
        create_table,
        maintain_table,
        merge_upsert,
    )

    d = str(tmp_path / "t2")
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id long, part string, v string"
    )
    create_table(df, d, ["id"], "part")
    build_key_index(spark, d)
    merge_upsert(
        spark.createDataFrame(
            [(1, "a", "x", True), (2, "b", "y", True)],
            "id long, part string, v string, is_deleted boolean",
        ),
        d,
        delete_col="is_deleted",
    )
    rep = maintain_table(spark, d)
    assert rep["key_index"] == {"built": False, "reason": "empty table"}


def test_merge_point_lookup_vacuumed_partition_raises(spark, tmp_path):
    import shutil as _sh

    from factstore_spark.storage.merge import (
        SnapshotGoneError,
        _head_manifest,
        create_table,
        point_lookup,
    )

    d = str(tmp_path / "t3")
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "id long, part string, v string"
    )
    create_table(df, d, ["id"], "part")
    m = _head_manifest(d)
    victim = os.path.join(d, next(iter(m["partitions"].values())))
    _sh.rmtree(victim)
    with pytest.raises(SnapshotGoneError):
        point_lookup(spark, d, [1])


def test_semi_join_probe_limit_skips_index(spark, bloom_table):
    """Above probe_limit the index is skipped but the result is still
    the exact semi-join."""
    from factstore_spark.storage.bloomindex import pruned_semi_join

    data_dir, index_dir, _ = bloom_table
    keys = spark.range(0, 200).select(F.col("id").alias("k"))
    got = pruned_semi_join(
        spark, data_dir, "k", keys, index_dir, probe_limit=50
    )
    assert got.count() == 200


def test_position_arithmetic_matches_pure_python(spark):
    """The modular double-hashing expression must equal plain Python
    integer math for adversarial (h1, h2, m) combos — the guard that a
    future refactor of _position (or an ANSI-mode change) cannot move
    any bit silently. Covers negative hashes, min/max longs, and tiny
    and huge m."""
    from factstore_spark.storage.bloomindex import _position

    cases = [
        (-(2**63), 2**63 - 1, 64),
        (2**63 - 1, -(2**63), 64),
        (-1, -1, 128),
        (123456789123456789, -987654321987654321, 640),
        (-5, 3, 64),
        (0, 0, 64),
        (7, -(2**62), 2**30),
    ]
    rows = [(h1, h2, i, m) for h1, h2, m in cases for i in range(7)]
    df = spark.createDataFrame(rows, "h1 long, h2 long, i long, m long")
    got = {
        (r.h1, r.h2, r.i, r.m): r.pos
        for r in df.select(
            "h1", "h2", "i", "m",
            _position(F.col("h1"), F.col("h2"), F.col("i"), F.col("m")).alias("pos"),
        ).collect()
    }
    for (h1, h2, i, m), pos in got.items():
        want = ((h1 % m) + i * (h2 % m)) % m  # python % is pmod for m>0
        assert pos == want, (h1, h2, i, m, pos, want)
        assert 0 <= pos < m


# ---------------------------------------------------------------------------
# Round-11 advice regressions
# ---------------------------------------------------------------------------


def test_in_place_same_size_rewrite_reads_stale(spark, bloom_table):
    """ADVICE r10 (medium): a file rewritten IN PLACE with the same
    name and byte size must invalidate the index — the exact-filter
    backstop removes only Bloom false POSITIVES, so a stale-but-
    'fresh-looking' sidecar could silently drop rows (false
    negatives). The fingerprint now pins mtime_ns, so any in-place
    rewrite (even byte-identical) reads as stale and lookups degrade
    to the exact full scan."""
    data_dir, index_dir, _ = bloom_table
    target = next(
        os.path.join(data_dir, n)
        for n in sorted(os.listdir(data_dir))
        if n.endswith(".parquet")
    )
    st = os.stat(target)
    with open(target, "rb") as fh:
        payload = fh.read()
    with open(target, "wb") as fh:
        fh.write(payload)  # same bytes, same size — only mtime moves
    # force a distinct mtime even on coarse-granularity filesystems
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert os.path.getsize(target) == st.st_size
    assert describe_bloom_index(index_dir, data_dir)["stale"] is True
    with pytest.raises(BloomIndexStaleError):
        pruned_lookup(spark, data_dir, "k", [7], index_dir, on_stale="error")
    got = pruned_lookup(spark, data_dir, "k", [7, 9999], index_dir)
    want = spark.read.parquet(data_dir).filter(F.col("k").isin([7, 9999]))
    assert rows_of(got) == rows_of(want)


def test_list_shaped_keys_accepted_like_tuples(spark, store_root):
    """ADVICE r10 (low): one-element LIST keys against a single-column
    index (and lists for composite keys, including a None part) must
    behave exactly like tuples — previously the scalar unwrap and the
    None-drop checked isinstance(tuple) only, so lists leaked a raw
    array literal into isin."""
    data_dir = os.path.join(store_root, "ldata")
    idx = os.path.join(store_root, "lidx")
    spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).repartition(4, "k").write.parquet(data_dir)
    build_bloom_index(spark, data_dir, "k", idx)
    got = pruned_lookup(
        spark, data_dir, "k", [[7], [550], [None]], idx, on_stale="error"
    )
    assert [(r.k, r.v) for r in got.collect()] == [(7, 21)]
    # composite: lists interchangeable with tuples, None parts dropped
    cdata = os.path.join(store_root, "cdata")
    cidx = os.path.join(store_root, "cidx")
    spark.range(0, 200).select(
        (F.col("id") % 10).alias("a"), F.col("id").alias("b")
    ).coalesce(2).write.parquet(cdata)
    build_bloom_index(spark, cdata, ["a", "b"], cidx)
    got = pruned_lookup(
        spark, cdata, ["a", "b"], [[3, 13], [None, 5], (4, 999)], cidx,
        on_stale="error",
    )
    assert [(r.a, r.b) for r in got.collect()] == [(3, 13)]


def test_merge_point_lookup_legacy_manifest_without_columns(spark, tmp_path):
    """ADVICE r10 (low): manifests written before meta carried
    'columns' are supported by merge_upsert via meta.get — point_lookup
    must degrade to the pinned read's schema instead of KeyError."""
    import json as _json

    from factstore_spark.storage.merge import (
        build_key_index,
        create_table,
        point_lookup,
        read_table,
    )

    d = str(tmp_path / "legacy")
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", f"v{i}") for i in range(50)],
        "id long, part string, v string",
    )
    create_table(df, d, ["id"], "part")
    # strip meta['columns'] from the head snapshot AND the pointer
    for p in [os.path.join(d, "_LATEST")] + [
        os.path.join(d, "_snapshots", n)
        for n in os.listdir(os.path.join(d, "_snapshots"))
        if n.endswith(".json")
    ]:
        if not os.path.exists(p):
            continue
        with open(p, encoding="utf-8") as fh:
            m = _json.load(fh)
        m.get("meta", {}).pop("columns", None)
        with open(p, "w", encoding="utf-8") as fh:
            _json.dump(m, fh)
    build_key_index(spark, d)
    got = point_lookup(spark, d, [3, 9999], on_stale="error")
    assert sorted(got.columns) == sorted(read_table(spark, d).columns)
    assert [r.v for r in got.collect()] == ["v3"]


def test_derived_map_key_index_prunes_and_is_exact(spark, store_root):
    """Round 11 (VERDICT r10 #7): a Bloom sidecar over a DERIVED key —
    map access tags['bkt'] — prunes files for a tag-value point probe
    and the pruned lookup stays exact (probe + exact filter both run
    the expression)."""
    data_dir = os.path.join(store_root, "tdata")
    idx = os.path.join(store_root, "tidx")
    df = spark.range(0, 2000).select(
        F.col("id").alias("pos"),
        F.create_map(
            F.lit("bkt"),
            F.concat(F.lit("b"), F.pmod(F.col("id"), F.lit(500)).cast("string")),
            F.lit("other"), F.lit("x"),
        ).alias("tags"),
    )
    df.repartition(16, "pos").write.parquet(data_dir)
    spec = "tags['bkt']"
    st = build_bloom_index(spark, data_dir, spec, idx)
    assert st["key_cols"] == [spec]
    assert st["key_types"] == ["string"]
    # value b7 lives in rows {7, 507, 1007, 1507} -> at most 4 files
    probe = bloom_candidate_files(spark, idx, data_dir, spec, ["b7"])
    assert not probe.stale
    assert len(probe.candidate_files) <= 4 + 2  # + fp slack
    got = pruned_lookup(
        spark, data_dir, spec, ["b7", "zz", None], idx, on_stale="error"
    )
    assert sorted(r.pos for r in got.collect()) == [7, 507, 1007, 1507]
    # absent values prune to (almost) nothing
    p0 = bloom_candidate_files(spark, idx, data_dir, spec, ["nope1", "nope2"])
    assert len(p0.candidate_files) <= 2
    # a different spec is a different index (stale)
    assert bloom_candidate_files(
        spark, idx, data_dir, "tags['other']", ["x"]
    ).stale


def test_derived_key_semi_join_matches_filter(spark, store_root):
    from factstore_spark.storage.bloomindex import pruned_semi_join

    data_dir = os.path.join(store_root, "tsj")
    idx = os.path.join(store_root, "tsji")
    df = spark.range(0, 600).select(
        F.col("id").alias("pos"),
        F.create_map(
            F.lit("bkt"),
            F.concat(F.lit("b"), F.pmod(F.col("id"), F.lit(150)).cast("string")),
        ).alias("tags"),
    )
    df.repartition(8, "pos").write.parquet(data_dir)
    spec = "tags['bkt']"
    build_bloom_index(spark, data_dir, spec, idx)
    keys = spark.createDataFrame([("b3",), ("b9",), ("zz",)], "v string")
    got = pruned_semi_join(
        spark, data_dir, spec, keys, idx, keys_cols="v"
    )
    want = sorted(
        r.pos
        for r in spark.read.parquet(data_dir)
        .filter(F.col("tags")["bkt"].isin(["b3", "b9"]))
        .collect()
    )
    assert sorted(r.pos for r in got.collect()) == want


def test_store_tag_bloom_fast_path(fs, spark):
    """build_tag_bloom_index + find_by_tags on an UNINDEXED store: the
    tag-value sidecar prunes the compacted snapshot and results equal
    the scan path, including post-compaction tail appends and
    staleness degradation after a re-compaction."""
    from factstore_spark.model import FactInput

    fs.create("tb")
    for i in range(60):
        fs.append(
            "tb",
            FactInput(
                type="T", subject=f"s{i}",
                tags={"bkt": f"b{i % 20}", "env": "prod"},
            ),
        )
    fs.compact("tb")
    st = fs.build_tag_bloom_index("tb", "bkt")
    assert st["built"] is True
    # fast path (no tag index built): results equal the filter answer
    got = fs.find_by_tags("tb", {"bkt": "b7"})
    assert sorted(f.subject for f in got.facts) == ["s27", "s47", "s7"]
    # AND-semantics still exact through the pruned path
    got = fs.find_by_tags("tb", {"bkt": "b7", "env": "prod"})
    assert len(got.facts) == 3
    got = fs.find_by_tags("tb", {"bkt": "b7", "env": "dev"})
    assert list(got.facts) == []
    # tail appends after the index build are still found
    fs.append("tb", FactInput(type="T", subject="late", tags={"bkt": "b7"}))
    got = fs.find_by_tags("tb", {"bkt": "b7"})
    assert sorted(f.subject for f in got.facts) == ["late", "s27", "s47", "s7"]
    # re-compaction stales the sidecar -> silent degradation, exact
    fs.compact("tb")
    got = fs.find_by_tags("tb", {"bkt": "b7"})
    assert sorted(f.subject for f in got.facts) == ["late", "s27", "s47", "s7"]


def test_store_tag_bloom_rejects_quoted_key(fs):
    import pytest as _pytest

    fs.create("tbq")
    from factstore_spark.model import FactInput

    fs.append("tbq", FactInput(type="T", subject="x", tags={"k": "v"}))
    fs.compact("tbq")
    with _pytest.raises(ValueError, match="quotes"):
        fs.build_tag_bloom_index("tbq", "bad'key")


# --- r14 batched probe (bloom_candidate_files_multi / merge_probes) ---


def test_multi_probe_matches_per_set_single_probes(spark, bloom_table):
    """One tagged probe job must return, per group, exactly what a
    bloom_candidate_files call per key set returns."""
    from factstore_spark.storage.bloomindex import (
        bloom_candidate_files_multi,
        merge_probes,
    )

    data_dir, index_dir, _ = bloom_table
    keysets = {
        "present": [0, 17, 999, 3999],
        "absent": [-1, -2, 4000, 5555],
        "mixed": [1, -9, 2000],
        "empty": [],
        "nulls": [None],
    }
    got = bloom_candidate_files_multi(spark, index_dir, data_dir, "k", keysets)
    assert set(got) == set(keysets)
    for g, keys in keysets.items():
        single = bloom_candidate_files(spark, index_dir, data_dir, "k", keys)
        assert got[g] == single, g
    # the lossless-union law merge_probes relies on
    union = bloom_candidate_files(
        spark, index_dir, data_dir, "k",
        keysets["present"] + keysets["absent"] + keysets["mixed"],
    )
    merged = merge_probes(got["present"], got["absent"], got["mixed"])
    assert merged.candidate_files == union.candidate_files
    assert merged.stale == union.stale is False


def test_multi_probe_stale_index_degrades_every_group(spark, bloom_table):
    from factstore_spark.storage.bloomindex import bloom_candidate_files_multi

    data_dir, index_dir, _ = bloom_table
    extra = spark.range(9000, 9100).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
    )
    extra.write.mode("append").parquet(data_dir)  # inventory drift
    got = bloom_candidate_files_multi(
        spark, index_dir, data_dir, "k", {"a": [0], "b": [9001]}
    )
    for p in got.values():
        assert p.stale and len(p.candidate_files) == p.total_files


def test_pruned_lookup_with_merged_probe_identical(spark, bloom_table):
    """pruned_lookup(probe=merge_probes(...)) over the key union reads
    the same rows as the self-probing call."""
    from factstore_spark.storage.bloomindex import (
        bloom_candidate_files_multi,
        merge_probes,
    )

    data_dir, index_dir, _ = bloom_table
    present, absent = [0, 17, 999], [-1, 4000]
    probes = bloom_candidate_files_multi(
        spark, index_dir, data_dir, "k",
        {"present": present, "absent": absent},
    )
    merged = merge_probes(probes["present"], probes["absent"])
    got = pruned_lookup(
        spark, data_dir, "k", present + absent, index_dir,
        on_stale="error", probe=merged,
    )
    want = pruned_lookup(
        spark, data_dir, "k", present + absent, index_dir, on_stale="error"
    )
    assert rows_of(got) == rows_of(want)


# --- driver-side probes: hash parity, job counts, cache release ---


def test_driver_hashes_match_executed_xxhash64(spark, store_root):
    """The driver-evaluated (h1, h2) pair must equal what the executed
    ``_hashes`` projection yields for the same typed values: a probe
    hash that drifts from the build's is a silent false negative."""
    from factstore_spark.storage.bloomindex import (
        _driver_hashes,
        _hashes,
        _usable_keys,
    )

    strings = ["", "\x00", "a\x00b", "é", "é", "中文键", "😀", "x" * 1024]
    cases = [
        (["string"], [(s,) for s in strings]),
        (["bigint"], [(v,) for v in (0, -1, 2**63 - 1, -(2**63), 2**31, -(2**31) - 1)]),
        (["int"], [(v,) for v in (0, 1, -1, 2**31 - 1, -(2**31))]),
        (["string", "bigint"], [("a", 2**63 - 1), ("", -(2**63)), ("😀", 0)]),
    ]
    for types, keys in cases:
        names = [f"_k{i}" for i in range(len(types))]
        schema = ", ".join(f"{n} {t}" for n, t in zip(names, types))
        executed = [
            tuple(r)
            for r in spark.createDataFrame(keys, schema)
            .select(*_hashes(*[F.col(n) for n in names]))
            .collect()
        ]
        driver = [tuple(r) for r in _driver_hashes(spark, types, keys).tolist()]
        assert driver == executed, types

    # a derived tags['k'] index: the build hashed the map lookup
    data_dir = os.path.join(store_root, "hdata")
    idx = os.path.join(store_root, "hidx")
    spark.createDataFrame(
        [({"k": s, "o": "x"},) for s in strings], "tags map<string,string>"
    ).write.parquet(data_dir)
    spec = "tags['k']"
    st = build_bloom_index(spark, data_dir, spec, idx)
    executed = [
        tuple(r)
        for r in spark.read.parquet(data_dir)
        .select(F.expr(spec).alias("v"), *_hashes(F.expr(spec)))
        .orderBy("v")
        .drop("v")
        .collect()
    ]
    driver = _driver_hashes(spark, st["key_types"], [(s,) for s in sorted(strings)])
    assert [tuple(r) for r in driver.tolist()] == executed
    # no false negative for any of them through the whole probe
    for s in strings:
        assert bloom_candidate_files(spark, idx, data_dir, spec, [s]).candidate_files

    # a key with a None part is dropped before hashing
    manifest = {"key_cols": ["a", "b"]}
    assert _usable_keys(manifest, [("x", None), (None, 1), ("y", 1), ["y", 1]]) == [
        ("y", 1)
    ]
    assert bloom_candidate_files(spark, idx, data_dir, spec, [None]).candidate_files == []


def test_driver_bit_test_matches_pure_python():
    """The numpy bit test must read the bits plain Python integer math
    sets, for adversarial hashes (min/max longs, negatives) and tiny
    and large m: a key hits exactly when all its k bits are set."""
    import numpy as np

    from factstore_spark.storage.bloomindex import _bits_hit

    k = 7
    hashes = [
        (-(2**63), 2**63 - 1),
        (2**63 - 1, -(2**63)),
        (-1, -1),
        (123456789123456789, -987654321987654321),
        (-5, 3),
        (0, 0),
        (7, -(2**62)),
    ]
    for m in (64, 640, 2**20):
        h = np.array(hashes, dtype=np.int64)
        for member in range(len(hashes)):
            # bitset holding exactly one key, set bit by bit in Python
            words = [0] * (m // 64)
            h1, h2 = hashes[member]
            for i in range(k):
                pos = ((h1 % m) + i * (h2 % m)) % m
                words[pos // 64] |= 1 << (pos % 64)
            bits = np.array(words, dtype=np.uint64)
            want = [
                all(
                    words[p // 64] >> (p % 64) & 1
                    for p in (((a % m) + i * (b % m)) % m for i in range(k))
                )
                for a, b in hashes
            ]
            got = _bits_hit(bits, m, h, k).tolist()
            assert got == want, (m, member)
            assert got[member]


def _spark_jobs(spark, fn):
    """(result of fn(), number of Spark jobs it ran), counted with the
    status tracker over a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_indexed_point_reads_run_one_job(fs, spark):
    """A fresh id index answers find_by_id with one Spark job (the fact
    read over the pruned files) and an absent id with none; a fresh tag
    index answers a limited find_by_tags with one job. Both equal the
    scan path."""
    from factstore_spark.model import ReadDirection

    ids = _seed(fs, 40)
    scan_tags = fs.find_by_tags(STORE, {"p": "1"}, limit=3, direction=ReadDirection.BACKWARD)
    scan_fact = fs.find_by_id(STORE, ids[7])
    fs.maintain(STORE)  # compacts and refreshes the tag index
    assert fs.build_id_index(STORE)["built"]

    got, jobs = _spark_jobs(spark, lambda: fs.find_by_id(STORE, ids[7]))
    assert isinstance(got, FactFound) and got.fact == scan_fact.fact
    assert jobs == 0
    # an absent id the probe admits no file for (a Bloom false positive
    # would legitimately cost the one fact-read job)
    layout = fs._layout(fs.catalog.find_by_name(STORE).id)
    comp_dir, tail = layout.data_layout()
    assert tail == []
    absent = next(
        f"absent-{i}"
        for i in range(100)
        if not bloom_candidate_files(
            spark, fs._id_index_dir(layout), comp_dir, "id", [f"absent-{i}"]
        ).candidate_files
    )
    got, jobs = _spark_jobs(spark, lambda: fs.find_by_id(STORE, absent))
    assert isinstance(got, FactNotFound) and jobs == 0
    got, jobs = _spark_jobs(spark, lambda: fs.exists_by_id(STORE, absent))
    assert isinstance(got, DoesNotExist) and jobs == 0

    got, jobs = _spark_jobs(
        spark,
        lambda: fs.find_by_tags(STORE, {"p": "1"}, limit=3, direction=ReadDirection.BACKWARD),
    )
    assert [f.id for f in got.facts] == [f.id for f in scan_tags.facts] == ids[39:34:-2]
    assert jobs == 0


def test_remove_releases_every_cached_sidecar_of_the_store(fs, spark):
    """Removing a store drops the cached sidecars of all its indexes —
    the id index and the tag-value indexes, frames and driver bitsets."""
    from factstore_spark.storage import bloomindex

    ids = _seed(fs, 20)
    fs.compact(STORE)
    fs.build_id_index(STORE)
    assert fs.build_tag_bloom_index(STORE, "p")["built"]
    meta = fs.catalog.find_by_name(STORE)
    layout = fs._layout(meta.id)
    comp_dir, _ = layout.data_layout()
    tag_idx = fs._tag_bloom_dir(layout, "p")
    # no tag index: find_by_tags probes the tag-value sidecar
    assert len(fs.find_by_tags(STORE, {"p": "1"}).facts) == 10
    assert isinstance(fs.find_by_id(STORE, ids[3]), FactFound)
    keys = spark.createDataFrame([("1",)], "v string")
    assert bloomindex.pruned_semi_join(
        spark, comp_dir, "tags['p']", keys, tag_idx, keys_cols="v"
    ).count() == 10
    store_dir = os.path.abspath(layout.store_dir)

    def cached():
        return [
            p
            for p in [*bloomindex._SIDECAR_CACHE, *bloomindex._BITSET_CACHE]
            if p.startswith(store_dir + os.sep)
        ]

    assert os.path.abspath(tag_idx) in bloomindex._SIDECAR_CACHE
    assert os.path.abspath(tag_idx) in bloomindex._BITSET_CACHE
    assert os.path.abspath(fs._id_index_dir(layout)) in bloomindex._BITSET_CACHE
    fs.remove(STORE)
    assert cached() == []
