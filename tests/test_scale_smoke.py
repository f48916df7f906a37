"""Scale smoke port (AbstractFactStoreTest.kt:1230-1315, FIXTURES.md §4):
10 000 facts appended in chunks of 500; tag query selecting the 5 000
even-index facts; plus the bulk-ingest path over the events testdata."""

import time

from factstore_spark import FactInput, FactPayload, TagQuery, TagTypeItem
from factstore_spark.results import Appended
from factstore_spark.sources.events import events_as_facts

STORE = "default-test-store"
N = 10_000
CHUNK = 500


def test_scale_smoke_10k_facts_tag_selectivity(fs):
    fs.create(STORE)
    t0 = time.time()
    for lo in range(0, N, CHUNK):
        chunk = []
        for i in range(lo, lo + CHUNK):
            role, region = ("user", "us") if i % 2 == 0 else ("admin", "eu")
            chunk.append(
                FactInput(
                    type="USER_CREATED",
                    subject=f"USER:user-{i}",
                    payload=FactPayload(('{ "username": "user%d" }' % i).encode()),
                    tags={"role": role, "region": region},
                )
            )
        res = fs.append(STORE, chunk)
        assert isinstance(res, Appended)
    append_secs = time.time() - t0
    # One extra non-matching fact (role=custom).
    fs.append(
        STORE,
        FactInput(type="USER_CREATED", subject="USER:extra", tags={"role": "custom", "region": "eu"}),
    )

    t0 = time.time()
    res = fs.find_by_tag_query(
        STORE,
        TagQuery([TagTypeItem({"USER_CREATED"}, {"role": "user", "region": "us"})]),
    )
    query_secs = time.time() - t0
    assert len(res.facts) == N // 2
    positions = [f.position for f in res.facts]
    assert positions == sorted(positions)  # global position order
    # Not asserted thresholds (mirrors the TCK printing wall time), but
    # keep an eye on gross regressions.
    print(f"append {N} facts in {append_secs:.1f}s, tag-query {query_secs:.1f}s")
    assert append_secs < 120 and query_secs < 60


def test_bulk_ingest_events_roundtrip(fs, spark, sf_dir):
    """Bulk commit via Spark executors: events testdata -> fact table,
    then finder reads over it."""
    fs.create("bulk-store")
    facts_df = events_as_facts(spark, sf_dir).drop("position", "id", "appended_at")
    res = fs.append_dataframe("bulk-store", facts_df)
    assert isinstance(res, Appended)
    df = fs.facts_df("bulk-store")
    assert df.count() == 1000
    hist = fs.find_by_subject("bulk-store", "user:7")
    assert len(hist.facts) > 0
    # Idempotent bulk retry.
    from factstore_spark.results import AlreadyApplied

    res2 = fs.append_dataframe(
        "bulk-store", facts_df, idempotency_key=None
    )
    assert isinstance(res2, Appended)  # fresh key -> new commit
    key = "11111111-2222-3333-4444-555555555555"
    fs.append_dataframe("bulk-store", facts_df, idempotency_key=key)
    res3 = fs.append_dataframe("bulk-store", facts_df, idempotency_key=key)
    assert isinstance(res3, AlreadyApplied)


def test_bulk_positions_exceeding_stride_keep_total_order(fs, spark):
    """A bulk commit whose caller-assigned positions span multiple
    strides must not make the next commit's positions go backwards."""
    from pyspark.sql import functions as F

    fs.create("wide-store")
    wide = spark.range(3).select(
        F.lit("T").alias("type"),
        F.concat(F.lit("S"), F.col("id")).alias("subject"),
        F.struct(
            F.lit(b"").alias("data"),
            F.lit(None).cast("string").alias("format"),
            F.lit(None).cast("string").alias("schema_ref"),
        ).alias("payload"),
        F.create_map().cast("map<string,string>").alias("metadata"),
        F.create_map().cast("map<string,string>").alias("tags"),
        (F.col("id") * 3_000_000).alias("position"),  # > 2 strides apart
    )
    res = fs.append_dataframe("wide-store", wide)
    from factstore_spark.results import Appended
    from factstore_spark import FactInput

    assert isinstance(res, Appended)
    after = fs.append("wide-store", FactInput(type="NEXT", subject="SN"))
    facts = fs.facts_df("wide-store").orderBy("position").collect()
    positions = [f.position for f in facts]
    assert positions == sorted(positions)
    assert facts[-1].type == "NEXT"
    assert after.positions[0] > positions[-2]


def _fact_frame(spark, n, n_parts=8, position_expr=None):
    from pyspark.sql import functions as F

    df = spark.range(n).repartition(n_parts).select(
        F.lit("T").alias("type"),
        F.concat(F.lit("S"), F.col("id")).alias("subject"),
        F.struct(
            F.lit(b"").alias("data"),
            F.lit(None).cast("string").alias("format"),
            F.lit(None).cast("string").alias("schema_ref"),
        ).alias("payload"),
        F.create_map().cast("map<string,string>").alias("metadata"),
        F.create_map().cast("map<string,string>").alias("tags"),
        *([] if position_expr is None else [position_expr.alias("position")]),
    )
    return df


def test_bulk_default_positions_contiguous_multi_partition(fs, spark):
    """The default (no caller position) path must assign contiguous
    0..n-1 positions across a MULTI-partition frame without a global
    single-partition sort (zipWithIndex-style per-partition offsets)."""
    fs.create("zip-store")
    res = fs.append_dataframe("zip-store", _fact_frame(spark, 257, n_parts=8))
    assert isinstance(res, Appended)
    lo, hi = res.positions
    assert hi - lo == 256  # contiguous range, no gaps
    positions = sorted(
        r.position for r in fs.facts_df("zip-store").select("position").collect()
    )
    assert positions == list(range(lo, hi + 1))


def test_bulk_caller_position_validation(fs, spark):
    """Negative or duplicate caller positions are rejected with a
    violation instead of silently corrupting the total order."""
    from pyspark.sql import functions as F
    from factstore_spark.results import AppendConditionViolated

    fs.create("val-store")
    neg = _fact_frame(spark, 3, n_parts=2, position_expr=F.col("id") - 1)
    res = fs.append_dataframe("val-store", neg)
    assert isinstance(res, AppendConditionViolated)
    assert ">= 0" in res.reason

    dup = _fact_frame(spark, 4, n_parts=2, position_expr=F.col("id") % 2)
    res2 = fs.append_dataframe("val-store", dup)
    assert isinstance(res2, AppendConditionViolated)
    assert "unique" in res2.reason

    # rejected commits leave no data behind and the store still works
    assert fs.facts_df("val-store").count() == 0
    ok = fs.append_dataframe(
        "val-store", _fact_frame(spark, 4, n_parts=2, position_expr=F.col("id"))
    )
    assert isinstance(ok, Appended)
    assert fs.facts_df("val-store").count() == 4


def test_bulk_auto_position_instability_rejected(fs, spark, monkeypatch):
    """Engine-assigned positions are re-validated on the WRITTEN data:
    the write re-evaluates the source plan, so a nondeterministic
    source whose partitioning shifts between the count job and the
    write can duplicate positions even though the assigner is correct.
    Simulated by a broken assigner; the commit must abort, not corrupt
    the strict total order."""
    import factstore_spark.store as store_mod
    from pyspark.sql import functions as F
    from factstore_spark.results import AppendConditionViolated

    def unstable(df, base):
        return df.withColumn("position", F.lit(base).cast("long"))

    monkeypatch.setattr(store_mod, "assign_contiguous_positions", unstable)
    fs.create("unstable-store")
    res = fs.append_dataframe("unstable-store", _fact_frame(spark, 5, n_parts=2))
    assert isinstance(res, AppendConditionViolated)
    assert "duplicates" in res.reason
    assert fs.facts_df("unstable-store").count() == 0


def test_compaction_and_tag_index_maintenance_path(fs, spark, sf_dir):
    """Maintenance path: bulk-ingest 3 commits (3k facts from
    events x3 remaps), compact, rebuild the tag index — finder results
    identical before/after, via both scan and index paths."""
    from pyspark.sql import functions as F
    from factstore_spark import TagOnlyQueryItem, TagQuery

    fs.create("maint-store")
    base = events_as_facts(spark, sf_dir).drop("id", "appended_at")
    for rep in range(3):
        shifted = base.withColumn(
            "subject", F.concat(F.col("subject"), F.lit(f"#r{rep}"))
        )
        fs.append_dataframe("maint-store", shifted)
    q = TagQuery([TagOnlyQueryItem({"event_type": "purchase", "user": "7"})])
    before = [f.id for f in fs.find_by_tag_query("maint-store", q).facts]
    assert len(before) > 0

    stats = fs.compact("maint-store")
    assert stats["compacted"]
    after_scan = [f.id for f in fs.find_by_tag_query("maint-store", q).facts]
    assert after_scan == before

    fs.build_tag_index("maint-store")
    after_idx = [f.id for f in fs.find_by_tag_query("maint-store", q).facts]
    assert after_idx == before
