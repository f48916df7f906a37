"""Derived tag-index table — the 100 TB answer to the reference's
tags / tags+type secondary indexes (FdbFactStoreContext.kt:25-57).

At moderate scale, tag queries are a single scan with a map-column
predicate (plans/predicates.py) and need no index. At 100 TB the scan
reads every fact's tags map; a derived index table

    (tag_key, tag_value, type, position)    one row per fact-tag pair

partitioned by ``tag_key`` lets a tag query touch only the keys it
mentions and resolve matching positions there (tiny fraction of the
data) — mirroring how the FDB backend resolves positions from its tag
subspaces and point-loads facts (FdbFactFinder.kt:108-203).

Two readers resolve positions. The driver reader (pyarrow, no Spark
job) opens only the queried keys' partitions: ``exists_after`` answers
the DCB append condition, and ``resolve_positions`` gives the tag
finders a bounded position list that they read with one pyarrow
``position IN (...)`` fact read (store.py). The Spark reader
(``positions_for_query``) returns a position DataFrame that is
semi-joined to the fact table, for tag queries and for position sets
too large to hold on the driver.

The index is DERIVED state: rebuilt from committed data (idempotent,
crash-safe — if it is missing or stale, readers fall back to the scan
path). ``built_through`` records the covered commit seq.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from functools import reduce
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..schema import FACT_SCHEMA
from .layout import StoreLayout

try:  # pyspark>=4 moved it; keep both spellings importable
    from pyspark.errors import AnalysisException  # noqa: F811
except ImportError:  # pragma: no cover
    pass

INDEX_DIR = "tag_index"
META_FILE = "tag_index_meta.json"


class TagIndex:
    def __init__(self, layout: StoreLayout):
        self.layout = layout
        self.index_dir = os.path.join(layout.store_dir, INDEX_DIR)
        self.meta_path = os.path.join(layout.store_dir, META_FILE)

    def built_through(self) -> int:
        try:
            with open(self.meta_path) as f:
                return json.load(f)["built_through"]
        except (OSError, json.JSONDecodeError, KeyError):
            return -1

    def _write_meta(self, built_through: int) -> None:
        """Replace the meta file atomically (tmp file, fsync, rename, as
        the heads pointer does): a reader racing the rewrite sees the
        old value or the new one, never an empty file — which would
        read as "no index" and send the DCB condition to a scan of the
        whole compacted snapshot under the commit lock."""
        tmp = self.meta_path + f".{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump({"built_through": built_through}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.meta_path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def is_fresh(self) -> bool:
        last = self.layout.last_commit()
        return last is not None and self.built_through() >= last.seq

    def refresh(self, spark: SparkSession) -> dict:
        """Incremental index maintenance: append ONLY the commits with
        ``built_through < seq <= head`` into the index layout — the
        append-only analog of the reference's per-append index writes
        (FdbFactAppender index subspaces), amortized to commit
        granularity. Cost is proportional to the NEW data, not the
        store size.

        Falls back to a full ``build`` when (a) no index exists yet, or
        (b) a compaction superseded commits newer than ``built_through``
        (their per-commit files may be gone). A crash between the
        parquet append and the meta write can leave duplicate index
        rows on retry — harmless by construction (both position readers
        are set-semantics: intersect/union/distinct); a periodic full
        ``build`` compacts them away."""
        view = self.layout.log_view()
        last = view.last
        if last is None:
            return {"built": False, "rows": 0}
        bt = self.built_through()
        if bt >= last.seq:
            return {"built": False, "reason": "fresh", "through_seq": bt}
        if bt < 0 or not os.path.isdir(self.index_dir) or view.compacted_through > bt:
            return self.build(spark)
        new_files = self.layout.data_files_between(bt, last.seq)
        if new_files:
            df = spark.read.schema(FACT_SCHEMA).parquet(*new_files)
            idx = df.select(
                F.explode_outer("tags").alias("tag_key", "tag_value"),
                F.col("type"),
                F.col("position"),
            ).filter(F.col("tag_key").isNotNull())
            idx.repartition("tag_key").sortWithinPartitions(
                "tag_value", "position"
            ).write.partitionBy("tag_key").mode("append").parquet(self.index_dir)
        self._write_meta(last.seq)
        return {
            "built": True,
            "mode": "incremental",
            "through_seq": last.seq,
            "new_files": len(new_files),
        }

    def build(self, spark: SparkSession) -> dict:
        """Full (re)build: explode fact tags into the index layout.
        ``refresh`` appends only commits > built_through; the full
        rebuild remains the compaction path for the index itself."""
        # Snapshot the covered commit FIRST: a commit landing between
        # these two reads must leave the index stale (fallback to scan),
        # never fresh-but-incomplete.
        view = self.layout.log_view()
        last = view.last
        files = self.layout.data_files(view)
        if not files or last is None:
            return {"built": False, "rows": 0}
        df = spark.read.schema(FACT_SCHEMA).parquet(*files)
        idx = df.select(
            F.explode_outer("tags").alias("tag_key", "tag_value"),
            F.col("type"),
            F.col("position"),
        ).filter(F.col("tag_key").isNotNull())
        tmp = self.index_dir + ".tmp"
        idx.repartition("tag_key").sortWithinPartitions(
            "tag_value", "position"
        ).write.partitionBy("tag_key").mode("overwrite").parquet(tmp)
        # Swap via rename-aside, not rmtree-then-rename: the old tree's
        # teardown can take long on a big index, and a concurrent
        # indexed reader that resolved the path pre-swap would find it
        # half-gone. Two renames shrink the no-index window to
        # microseconds; the old generation is torn down AFTER the new
        # one is live. (POSIX has no atomic dir exchange; the freshness
        # gate re-checks per query, so post-swap readers always see a
        # complete tree.)
        old = self.index_dir + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(self.index_dir):
            os.rename(self.index_dir, old)
        os.rename(tmp, self.index_dir)
        shutil.rmtree(old, ignore_errors=True)
        self._write_meta(last.seq)
        return {"built": True, "through_seq": last.seq}

    def read(self, spark: SparkSession) -> Optional[DataFrame]:
        """None when the index tree is absent — including the
        microseconds-wide two-rename swap window in build(): a reader
        landing exactly there must FALL BACK to the scan path (the
        documented contract), not surface an AnalysisException."""
        if not os.path.isdir(self.index_dir):
            return None
        try:
            return spark.read.parquet(self.index_dir)
        except AnalysisException:
            return None

    def positions_for_tags(self, spark: SparkSession, tags: dict[str, str]) -> DataFrame:
        """Position set for an AND-of-tags lookup (find_by_tags) —
        a single TagOnly item of the query algebra."""
        from ..model import TagOnlyQueryItem, TagQuery

        return self.positions_for_query(spark, TagQuery([TagOnlyQueryItem(dict(tags))]))

    def _dataset(self):
        """The index tree as a pyarrow dataset over its hive layout
        (``tag_key`` read as a string, whatever the key looks like), or
        None when the tree is absent — including the rebuild's
        two-rename swap window (caller falls back to the scan path)."""
        import pyarrow as pa
        import pyarrow.dataset as pa_ds

        if not os.path.isdir(self.index_dir):
            return None
        try:
            return pa_ds.dataset(
                self.index_dir,
                partitioning=pa_ds.partitioning(
                    pa.schema([("tag_key", pa.string())]), flavor="hive"
                ),
            )
        except (OSError, pa.ArrowInvalid):
            return None

    @staticmethod
    def _item_positions(dataset, item, bound, max_rows=None) -> tuple[Optional[np.ndarray], bool]:
        """``(positions, exact)`` of one query item within the ``bound``
        position predicate: sorted distinct positions, AND across the
        item's tags intersecting per-tag sets, a ``TagTypeItem``'s types
        filtering each scan. Only the mentioned keys' partitions are
        opened. Distinct because a crash-retried refresh may legally
        repeat index rows. A tag that matches more than ``max_rows``
        index rows is left out of the intersection (its read stops
        there, so the driver never holds more): the positions are then
        a superset of the item's (``exact`` False) and the caller
        applies the item's predicate to the facts. Positions are None
        when every tag of the item is over the cap."""
        import pyarrow.dataset as pa_ds

        from ..model import TagOnlyQueryItem

        acc, exact = None, True
        for k, v in item.tags.items():
            flt = (
                (pa_ds.field("tag_key") == k)
                & (pa_ds.field("tag_value") == v)
                & bound
            )
            if not isinstance(item, TagOnlyQueryItem):
                flt = flt & pa_ds.field("type").isin(sorted(item.types))
            scan = dataset.scanner(columns=["position"], filter=flt)
            if max_rows is None:
                col = scan.to_table()["position"]
            else:
                col = scan.head(max_rows + 1)["position"]
                if len(col) > max_rows:
                    exact = False
                    continue
            s = np.unique(col.to_numpy())
            acc = s if acc is None else np.intersect1d(acc, s, assume_unique=True)
            if acc.size == 0:
                return acc, True  # this AND-item cannot match
        return acc, exact

    def exists_after(self, query, after_pos: int) -> Optional[bool]:
        """Spark-free EXISTS check for the DCB append condition: does
        any fact with ``position > after_pos`` match the tag query?
        pyarrow-only because the append path may run without a Spark
        session; the hive layout (partitioned by ``tag_key``) means
        only the queried keys' directories are opened — the
        set-at-a-time analog of the reference walking its tag
        subspaces per condition (FdbFactAppender.kt:124-274).

        Returns None when the index layout is absent (caller falls
        back to the scan path). Freshness is the CALLER's check."""
        import pyarrow.dataset as pa_ds

        dataset = self._dataset()
        if dataset is None:
            return None
        bound = pa_ds.field("position") > after_pos
        return any(
            self._item_positions(dataset, item, bound)[0].size
            for item in query.items
        )

    def resolve_positions(
        self, query, max_position: int, max_rows: int
    ) -> Optional[tuple[Optional[np.ndarray], bool]]:
        """The tag query's position set on the driver, Spark-free:
        ``(positions, exact)``, the sorted distinct positions ``<=
        max_position`` (the head of the commit snapshot that decided
        freshness) — OR across items unions the per-item sets. With
        ``exact`` the index gives exactly the matching facts'
        positions; without, some item left a tag over ``max_rows`` out
        (``_item_positions``) and the set is a superset that the caller
        filters with the query's predicate. Positions are None when
        some item has no tag under ``max_rows`` (the caller resolves in
        Spark or scans). None when the tree is absent or swapped away
        mid-read. Freshness is the CALLER's check."""
        import pyarrow.dataset as pa_ds

        dataset = self._dataset()
        if dataset is None:
            return None
        bound = pa_ds.field("position") <= max_position
        try:
            items = [
                self._item_positions(dataset, item, bound, max_rows)
                for item in query.items
            ]
        except OSError:
            return None
        if any(pos is None for pos, _ in items):
            return None, False
        return reduce(np.union1d, [pos for pos, _ in items]), all(ex for _, ex in items)

    def positions_for_query(self, spark: SparkSession, query) -> DataFrame:
        """Resolve the tag-query algebra to a position set using ONLY the
        index: per item, intersect per-tag position sets (AND) restricted
        to the item's types; union across items. Returns a 1-column
        ``position`` DataFrame."""
        from ..model import TagOnlyQueryItem

        idx = self.read(spark)
        if idx is None:
            return None  # swap window / missing tree: caller falls back
        item_dfs = []
        for item in query.items:
            tag_sets = []
            for k, v in item.tags.items():
                s = idx.filter(
                    (F.col("tag_key") == k) & (F.col("tag_value") == v)
                )
                if not isinstance(item, TagOnlyQueryItem):
                    s = s.filter(F.col("type").isin(*sorted(item.types)))
                tag_sets.append(s.select("position"))
            acc = tag_sets[0]
            for s in tag_sets[1:]:
                acc = acc.intersect(s)  # AND across the item's tags
            item_dfs.append(acc)
        out = item_dfs[0]
        for d in item_dfs[1:]:
            out = out.union(d)  # OR across items
        return out.distinct()
