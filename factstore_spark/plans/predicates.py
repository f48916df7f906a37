"""Query semantics -> Catalyst Column expressions.

Where the reference hand-picks secondary indexes per finder
(FdbFactFinder.kt:12-17), we emit declarative boolean predicates and let
Catalyst handle pushdown/pruning — the whole AND/OR algebra evaluates in
one scan, so the app-side set-intersection the FDB backend needs for
multi-tag AND (FdbFactFinder.kt:132-159) disappears.
"""

from __future__ import annotations

from datetime import date, timedelta, timezone
from functools import reduce
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..model import (
    ReadDirection,
    TagOnlyQueryItem,
    TagQuery,
    TimeRange,
)


def tags_all_match(tags: dict[str, str], col: str = "tags") -> Column:
    """AND over tag pairs (find_by_tags semantics, MemoryFactStore.kt:153-161).

    ``element_at(tags, k) <=> v`` — null-safe so a missing key is False,
    not null. Empty ``tags`` matches ALL facts (reference
    fact_matches_tags semantics; the lit(True) initializer also keeps
    reduce() total — callers that forbid empty queries validate at the
    API layer, not here)."""
    preds = [F.col(col).getItem(k).eqNullSafe(F.lit(v)) for k, v in tags.items()]
    return reduce(Column.__and__, preds, F.lit(True))


def tag_query_predicate(query: TagQuery, tags_col: str = "tags", type_col: str = "type") -> Column:
    """OR across items; TagOnly = AND over tags; TagType = type IN types
    AND tags (spec semantics, TagQuery.kt:12-78 + MemoryFactStore.kt:302-305)."""
    items = []
    for item in query.items:
        pred = tags_all_match(item.tags, tags_col)
        if not isinstance(item, TagOnlyQueryItem):
            pred = F.col(type_col).isin(*sorted(item.types)) & pred
        items.append(pred)
    return reduce(Column.__or__, items)


def time_range_predicate(time_range: TimeRange, col: str = "appended_at") -> Column:
    """Half-open [start, end): start inclusive, end EXCLUSIVE; null bound =
    unbounded (TimeRange.kt:5-37; boundary tests AbstractFactStoreTest.kt:203-256)."""
    pred = F.lit(True)
    if time_range.start is not None:
        pred = pred & (F.col(col) >= F.lit(time_range.start))
    if time_range.end is not None:
        pred = pred & (F.col(col) < F.lit(time_range.end))
    return pred


def time_range_arrow_filter(time_range: TimeRange):
    """``time_range_predicate`` as a pyarrow dataset filter (None when
    unbounded), for the finders' driver reads. A naive bound is local
    time, as a Spark timestamp literal reads it."""
    import pyarrow as pa
    import pyarrow.dataset as pa_ds

    def at(ts):
        return pa.scalar(ts.astimezone(timezone.utc), pa.timestamp("us", tz="UTC"))

    col, flt = pa_ds.field("appended_at"), None
    if time_range.start is not None:
        flt = col >= at(time_range.start)
    if time_range.end is not None:
        lt = col < at(time_range.end)
        flt = lt if flt is None else flt & lt
    return flt


def compacted_date_range(time_range: TimeRange) -> tuple[Optional[date], Optional[date]]:
    """The inclusive ``fact_date`` bounds (None = unbounded) of the
    compacted hive layout (partitioned by ``fact_date`` =
    date(appended_at)) that can hold facts of ``time_range``. Widened
    by TWO days on each side so a session-timezone difference between
    the compacting and the querying cluster can never prune a
    partition that holds in-range facts — the extreme legal zones span
    26 hours (UTC-12 vs UTC+14), so one day of slack is not enough at
    the edges. The exact half-open ``appended_at`` predicate still
    decides membership; the bounds only govern which partitions are
    read, by Spark (``compacted_date_bounds``) or on the driver."""
    lo = hi = None
    if time_range.start is not None:
        lo = (time_range.start - timedelta(days=2)).date()
    if time_range.end is not None:
        hi = (time_range.end + timedelta(days=2)).date()
    return lo, hi


def compacted_date_bounds(time_range: TimeRange, col: str = "fact_date") -> Column:
    """``compacted_date_range`` as a partition-pruning predicate."""
    lo, hi = compacted_date_range(time_range)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= F.lit(lo))
    if hi is not None:
        pred = pred & (F.col(col) <= F.lit(hi))
    return pred


def ordered_limited(df, limit, direction: ReadDirection, position_col: str = "position"):
    """Direction then limit — limit applies AFTER direction, so
    backward+limit2 = the two NEWEST, newest first
    (ReadDirection.kt:9-26, AbstractFactStoreTest.kt:316-335).

    ``orderBy(...).limit(n)`` compiles to Catalyst's TakeOrderedAndProject
    (per-partition top-n + single merge) — the distributed analog of the
    limit+reverse pushdown the FDB backend does (FdbExtensions.kt:51-56)."""
    order = (
        F.col(position_col).asc()
        if direction == ReadDirection.FORWARD
        else F.col(position_col).desc()
    )
    df = df.orderBy(order)
    if limit is not None:
        df = df.limit(limit)
    return df
