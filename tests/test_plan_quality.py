"""Plan-quality regression tests: lock in the physical-plan properties
the 100 TB design depends on. These parse `.explain` output — crude but
effective at catching a silently introduced shuffle, a lost pushdown,
or a join that stopped broadcasting."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from factstore_spark import FactInput, ReadDirection, TagOnlyQueryItem, TagQuery
from factstore_spark.queries import REGISTRY

# Single source for the testdata path (was hardcoded at ~15 call sites).
SF_DIR = "/root/testdata/sf0.001"

STORE = "default-test-store"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_finder_plan_pushdown_and_topk(fs):
    fs.create(STORE)
    fs.append(STORE, [FactInput(type=f"T{i}", subject=f"S{i%3}") for i in range(20)])
    df = fs.find_by_subject_df(STORE, "S1", limit=5, direction=ReadDirection.BACKWARD)
    plan = plan_of(df)
    # subject filter reaches the parquet scan; limit+order fuse into
    # TakeOrderedAndProject (the limit/reverse-pushdown analog).
    assert "PushedFilters" in plan and "subject" in plan.split("PushedFilters", 1)[1][:200]
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan  # no shuffle for a point-subject top-k


def test_replay_position_filter_pushdown(fs):
    fs.create(STORE)
    fs.append(STORE, [FactInput(type=f"T{i}", subject="S") for i in range(10)])
    df = fs.facts_df(STORE, max_position=5).filter(F.col("position") > 1)
    plan = plan_of(df)
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "position" in pushed


def test_q3_broadcasts_dimensions(spark):
    df = REGISTRY["q3_top_orders"][0](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not sort-merge at this size


def test_text_ops_are_map_only(spark):
    df = REGISTRY["text_token_stats"][0](spark, SF_DIR)
    plan = plan_of(df)
    assert "Exchange" not in plan  # pure projection: no shuffle at all
    # Map-only means NO aggregate/join/sort operators anywhere (a
    # "WholeStageCodegen or Project" disjunction is true of virtually
    # every plan and guards nothing).
    for op in ("Aggregate", "Join", "Sort", "Window", "Expand"):
        assert op not in plan, f"map-only plan contains {op}"


def test_bulk_position_assignment_no_global_sort(spark):
    """The bulk-ingest default position path must stay map-only: no
    Window, no Sort, no Exchange (the old implementation collapsed the
    whole batch onto one partition via row_number over a global order)."""
    from factstore_spark.store import assign_contiguous_positions

    df = spark.range(1000).repartition(8).select(
        F.lit("T").alias("type"), F.col("id").cast("string").alias("subject")
    )
    staged = assign_contiguous_positions(df, base=1_000_000)
    plan = plan_of(staged)
    tree = plan.split("\n\n", 1)[0]  # the operator tree, not the detail dump
    assert "Window" not in plan
    assert "Sort" not in tree
    # the only Exchange allowed is the repartition we asked for in the
    # input plan itself, never one introduced by position assignment
    assert tree.count("Exchange") == 1


def test_embedding_lsh_candidates_are_ids_only(spark):
    """The LSH/IVF candidate dedup must be a HashAggregate over id
    longs — dragging the vectors through the self-join forces a
    sort-based aggregate on array keys and shuffles the payload once
    per band (the measured 10x regression this guards against)."""
    df = REGISTRY["dedup_embedding_lsh"][0](spark, SF_DIR)
    plan = plan_of(df)
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_pq_probe_join_broadcasts(spark):
    """IVF-PQ: the probe side (queries x probed cells) must broadcast;
    the corpus scan must never shuffle for cell assignment."""
    df = REGISTRY["ann_pq_topk"][0](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_probe_broadcasts_benchmark(spark):
    """Decontamination: benchmark fingerprints broadcast; the corpus is
    probed map-side, never shuffled."""
    df = REGISTRY["curation_contamination"][0](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_ngrams_uses_take_ordered(spark):
    """Corpus top-k must fuse orderBy+limit into TakeOrderedAndProject
    — never a full global sort of the ngram counts."""
    from factstore_spark.operators.text import top_ngrams

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(top_ngrams(docs, n=2, k=20))
    assert "TakeOrderedAndProject" in plan


def test_indexed_find_by_tags_avoids_full_fact_scan(fs):
    """On a compacted store with a fresh tag index, find_by_tags must
    resolve positions from the index (reading ONLY the queried tag_key
    partitions — PartitionFilters on the index scan) and point-load
    the facts with the position set pushed into the fact scan
    (PushedFilters), instead of filtering a full fact-table scan on
    the tags map (the reference's tag-subspace point-load,
    FdbFactFinder.kt:108-167)."""
    fs.create(STORE)
    fs.append(
        STORE,
        [
            FactInput(type=f"T{i % 3}", subject=f"S{i % 5}",
                      tags={"env": "prod" if i % 4 else "dev", "n": str(i % 2)})
            for i in range(60)
        ],
    )
    assert fs.compact(STORE)["compacted"]
    assert fs.build_tag_index(STORE)["built"]
    for df in (
        fs.find_by_tags_df(STORE, {"env": "dev"}),
        fs.find_by_tag_query_df(STORE, TagQuery([TagOnlyQueryItem({"env": "dev"})])),
    ):
        plan = plan_of(df)
        # positions resolved from the index were pushed into the fact scan
        pushed = plan.split("PushedFilters", 1)[1][:400]
        assert "position" in pushed
        # the tags-map scan predicate is gone: no map lookup in the plan
        assert "tags[" not in plan
    # results identical to the (pre-index-capture) scan semantics
    got = [(f.type, f.subject) for f in fs.find_by_tags(STORE, {"env": "dev"}).facts]
    assert len(got) == 15


def test_tag_index_scan_prunes_partitions(fs, spark):
    """The index side of an indexed tag lookup must show a tag_key
    PartitionFilter — only the queried keys' directories are read."""
    from factstore_spark.storage.tag_index import TagIndex

    fs.create(STORE)
    fs.append(
        STORE,
        [FactInput(type="T", subject=f"S{i}", tags={"a": "x", "b": "y"})
         for i in range(10)],
    )
    assert fs.build_tag_index(STORE)["built"]
    meta = fs.catalog.find_by_name(STORE)
    tidx = TagIndex(fs._layout(meta.id))
    positions = tidx.positions_for_tags(spark, {"a": "x"})
    plan = plan_of(positions)
    part = plan.split("PartitionFilters:", 1)[1][:200]
    assert "tag_key" in part


def test_time_range_prunes_compacted_partitions(fs, spark):
    """find_in_time_range on a compacted store must show fact_date
    PartitionFilters — whole date partitions are skipped before any
    file I/O (the created-at-index analog, FdbFactFinder.kt:49-79) —
    and return exactly the scan-path rows."""
    from datetime import datetime, timezone

    from factstore_spark.model import TimeRange

    fs.create(STORE)
    base = datetime(2026, 3, 1, tzinfo=timezone.utc)
    facts = spark.range(200).select(
        F.lit("E").alias("type"),
        F.concat(F.lit("S"), (F.col("id") % 9)).alias("subject"),
        (F.lit(base) + F.make_interval(days=(F.col("id") % 10).cast("int")))
        .alias("appended_at"),
        F.struct(
            F.lit(b"").alias("data"),
            F.lit(None).cast("string").alias("format"),
            F.lit(None).cast("string").alias("schema_ref"),
        ).alias("payload"),
        F.create_map().cast("map<string,string>").alias("metadata"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    fs.append_dataframe(STORE, facts)
    tr = TimeRange(
        start=datetime(2026, 3, 4, tzinfo=timezone.utc),
        end=datetime(2026, 3, 6, tzinfo=timezone.utc),
    )
    before = [f.id for f in fs.find_in_time_range(STORE, tr).facts]
    assert len(before) == 40  # 2 of 10 days x 20/day

    assert fs.compact(STORE)["compacted"]
    df = fs.find_in_time_range_df(STORE, tr)
    plan = plan_of(df)
    part = plan.split("PartitionFilters:", 1)[1][:300]
    assert "fact_date" in part
    after = [f.id for f in fs.find_in_time_range(STORE, tr).facts]
    assert after == before  # pruning never changes results


def test_pack_sequences_no_global_sort(spark):
    """Sequence packing must never globally sort: the running token sum
    is windowed per shard — one hash exchange on the shard key, local
    sorts only (a global-order window collapses 100 TB onto one task)."""
    from factstore_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(pack_sequences(docs))
    tree = plan.split("\n\n", 1)[0]
    assert "Exchange SinglePartition" not in tree  # the global-sort signature
    assert "hashpartitioning" in plan  # per-shard parallel window


def test_ann_filtered_topk_pushes_filter_and_broadcasts(spark):
    """Filtered vector search: the keyword predicate reaches the
    documents parquet scan, and the query side broadcasts — the corpus
    is never shuffled for the scoring join."""
    df = REGISTRY["ann_filtered_topk"][0](spark, SF_DIR)
    plan = plan_of(df)
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "text" in pushed or "Contains" in pushed
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scan_prunes_columns(spark):
    """A 2-column projection must not read the full fact schema."""
    df = REGISTRY["fs_find_by_tags"][0](spark, SF_DIR)
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "props" not in read_schema and "value" not in read_schema


def test_shuffle_shards_no_global_sort(spark):
    """The deterministic training shuffle must never range-partition on
    the order key (a global ORDER BY collapses the corpus onto one
    ordered exchange): shard assignment hashes, windows sort locally."""
    from factstore_spark.operators.sampling import shuffle_shards

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(shuffle_shards(docs, n_shards=8))
    tree = plan.split("\n\n", 1)[0]
    assert "Exchange SinglePartition" not in tree
    assert "rangepartitioning" not in plan
    assert "hashpartitioning" in plan


def test_substring_spans_posting_list_shape(spark):
    """Substring-span dedup: windows aggregate with map-side partial
    aggregation (posting-list shape) and the join back to window rows
    stays a hash join, never a nested-loop product."""
    from factstore_spark.operators.dedup import substring_dup_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(substring_dup_spans(docs, n=8))
    assert "HashAggregate" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


ROUND4_PLAN_RULES = {
    # name -> (forbidden operators, required operators)
    "q4_order_priority": (["BroadcastNestedLoopJoin", "CartesianProduct"], ["LeftSemi"]),
    "q8_market_share": (["BroadcastNestedLoopJoin", "SortMergeJoin"], ["BroadcastHashJoin"]),
    "q9_profit_by_nation_year": (["BroadcastNestedLoopJoin", "CartesianProduct"], ["BroadcastHashJoin"]),
    "q10_returned_items": (["BroadcastNestedLoopJoin"], ["TakeOrderedAndProject"]),
    "q12_late_shipments": (["BroadcastNestedLoopJoin", "CartesianProduct"], []),
    "q13_customer_distribution": (["BroadcastNestedLoopJoin", "CartesianProduct"], []),
    "q15_top_supplier": (["BroadcastNestedLoopJoin", "CartesianProduct"], []),
    "q17_small_quantity_revenue": (["BroadcastNestedLoopJoin", "CartesianProduct"], []),
    "q19_disjunctive_revenue": (["BroadcastNestedLoopJoin", "SortMergeJoin"], ["BroadcastHashJoin"]),
    "q22_idle_customers": (["CartesianProduct"], []),
    "suppliers_top_by_nation": (["SortMergeJoin"], ["BroadcastHashJoin", "Window"]),
    "events_running_totals": (["BroadcastNestedLoopJoin"], ["Window", "PushedFilters"]),
    "events_type_pivot": (["BroadcastNestedLoopJoin"], ["HashAggregate"]),
    "revenue_grouping_sets": (["BroadcastNestedLoopJoin"], ["Expand"]),
    # Median windows must be (_pid, group)-partitioned grouped-rank
    # cells (operators/ranking.py:with_grouped_rank), never a whole
    # group per task — "_pid" in the windowspec is the tell.
    "events_value_median": (["CartesianProduct"], ["Window", "_pid"]),
    "embeddings_label_centroid_norms": (["CartesianProduct"], ["Generate"]),
    "events_asof_join_bucketed": (
        ["SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"],
        ["Window"],
    ),
}


def test_round4_queries_plan_shapes(spark):
    """One sweep over every round-4 entry: no nested-loop/cartesian
    anywhere, dimension joins broadcast, windows/pivots/grouping-sets
    compile to the expected operators. Catches a silently regressed
    join strategy in any of the 17 entries."""
    problems = []
    for name, (forbid, want) in ROUND4_PLAN_RULES.items():
        plan = plan_of(REGISTRY[name][0](spark, SF_DIR))
        problems += [(name, "forbidden", f) for f in forbid if f in plan]
        problems += [(name, "missing", w) for w in want if w not in plan]
    assert not problems, problems


# BroadcastNestedLoopJoin is allowed ONLY where it is a one-row
# broadcast stats join (build side = a single aggregated row — O(n),
# the optimal plan for "attach a global scalar to every row") or a
# documented exact/oracle baseline whose banded/bucketed sibling is
# the scale path.
BNLJ_WHITELIST = {
    "ann_cosine_topk",          # exact brute-force baseline (corpus x broadcast queries)
    "dedup_embedding_exact",    # exact pairwise oracle path
    "dedup_embedding_recall",   # recall harness over the exact path
    "dedup_simhash_recall",     # recall harness over the exact path
    "multimodal_features_topk", # 1-row global stats join
    "curation_funnel",          # 1-row stage-count joins
    "ann_filtered_topk",        # broadcast query row
    "retrieval_bm25",           # 1-row corpus-stats broadcast
    "retrieval_hybrid_rrf",     # 1-row corpus-stats broadcast
    "text_heavy_tokens",        # 1-row error-bound broadcast
    "text_tfdf_keywords",       # 1-row n_docs broadcast (linear-idf scale)
    "q22_idle_customers",       # 1-row positive-balance stats broadcast
    "q11_important_parts",      # 1-row global-total broadcast (fraction HAVING)
    "customer_segment_set_ops", # three 1-row count joins
    "curation_leakage_safe_split",  # 1-row straddling-pair audit join
    "orders_basket_rules",      # 1-row order-total broadcast (support denom)
    "text_lm_surprise",         # 1-row N/V LM-normalizer broadcast
    "media_real_frame_dup",     # 1-row pair-stats x 1-row media-count join
}


def test_no_entry_gains_a_cartesian_or_unlisted_bnlj(spark):
    """Global guard over EVERY registry entry: CartesianProduct never;
    BroadcastNestedLoopJoin only in the whitelist above. A new entry
    (or a regressed join strategy in an old one) fails here before the
    bench ever sees it."""
    sf = SF_DIR
    offenders = []
    for name, (fn, _) in REGISTRY.items():
        plan = plan_of(fn(spark, sf))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_WHITELIST:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_q21_single_lineitem_scan(spark):
    """Q21's correlated EXISTS / NOT EXISTS must resolve via the
    per-order supplier-stats aggregate (queries.py:q21_waiting_suppliers)
    — ONE lineitem scan, no self-join of the late set. Four scans of
    the biggest table was the round-6 sf1 bench's worst scaler (6.0x
    at 10x data, SCALE.md)."""
    df = REGISTRY["q21_waiting_suppliers"][0](spark, SF_DIR)
    plan = plan_of(df)
    assert plan.count("lineitem.parquet") == 1, "lineitem must be scanned exactly once"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_iqr_uses_pid_cell_windows(spark):
    """events_value_iqr must rank inside (_pid, group) cells like the
    median (grouped distributed rank with target pruning), never a
    whole-group window."""
    df = REGISTRY["events_value_iqr"][0](spark, SF_DIR)
    plan = plan_of(df)
    lines = [
        l for l in plan.splitlines()
        if "row_number()" in l and "windowspecdefinition" in l
    ]
    assert lines, "no rank window found"
    for l in lines:
        assert "_pid" in l, f"window sorts whole groups: {l}"
    assert "CartesianProduct" not in plan
