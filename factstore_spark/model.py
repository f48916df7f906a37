"""Domain model: the Fact envelope and query/request value objects.

Semantics mirror the reference specification module
(``factstore-specification/src/main/kotlin/io/factstore/core/``):

- Fact envelope        -> Fact.kt:37-45
- FactInput            -> FactInput.kt:25-45 (client shape; server assigns id + appended_at)
- Tags / TagQuery      -> Fact.kt:200-236, TagQuery.kt:12-78
- TimeRange            -> TimeRange.kt:5-37 (half-open [start, end))
- Limit                -> Limit.kt:12-34 (None = unbounded, must be > 0)
- ReadDirection        -> ReadDirection.kt:9-26
- Append conditions    -> AppendRequest.kt:52-106
- StoreName validation -> StoreName.kt:7-9
- Start positions      -> FactSubscriber.kt:18-59, FactReplayer.kt:35-50

Note: per SURVEY.md §2.3 the FDB backend computes OR across a
``TagOnlyQueryItem``'s tags while spec + memory backend define AND; we
implement the spec semantics (AND within an item, OR across items).
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from enum import Enum
from typing import Optional, Sequence, Union

STORE_NAME_RE = re.compile(r"[a-zA-Z]([a-zA-Z0-9_-]{0,253}[a-zA-Z0-9])?")


def validate_store_name(name: str) -> bool:
    """StoreName.kt:7-9 — regex + max length 255. fullmatch, not match:
    ``$`` alone would admit a trailing newline."""
    return (
        isinstance(name, str)
        and len(name) <= 255
        and bool(STORE_NAME_RE.fullmatch(name))
    )


def new_fact_id() -> str:
    return str(uuid.uuid4())


def _require_non_blank(value: str, what: str) -> str:
    if not isinstance(value, str) or not value.strip():
        raise ValueError(f"{what} must be a non-blank string")
    return value


@dataclass(frozen=True)
class FactPayload:
    """Opaque bytes + optional format/schema hints (Fact.kt:71-130)."""

    data: bytes = b""
    format: Optional[str] = None
    schema_ref: Optional[str] = None

    def __post_init__(self) -> None:
        if not isinstance(self.data, (bytes, bytearray)):
            raise ValueError("payload data must be bytes")


@dataclass(frozen=True)
class FactInput:
    """Client-submitted fact — no id / appended_at (FactInput.kt:25-31)."""

    type: str
    subject: str
    payload: FactPayload = field(default_factory=FactPayload)
    metadata: dict[str, str] = field(default_factory=dict)
    tags: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        _require_non_blank(self.type, "fact type")
        _require_non_blank(self.subject, "subject")
        object.__setattr__(self, "subject", self.subject.strip())
        for k in self.tags:
            _require_non_blank(k, "tag key")


@dataclass(frozen=True)
class Fact:
    """Materialized fact (Fact.kt:37-45). ``position`` is the engine's
    total order within a store — the FDB-versionstamp equivalent
    (FdbFactStore.kt:144, docs/event_id_vs_versionstamp.txt)."""

    id: str
    type: str
    subject: str
    appended_at: datetime
    position: int
    payload: FactPayload = field(default_factory=FactPayload)
    metadata: dict[str, str] = field(default_factory=dict)
    tags: dict[str, str] = field(default_factory=dict)


@dataclass(frozen=True)
class StoreMetadata:
    """StoreMetadata.kt:5-9."""

    id: str
    name: str
    created_at: datetime


class ReadDirection(Enum):
    """ReadDirection.kt:9-26. Limit applies AFTER direction."""

    FORWARD = "forward"
    BACKWARD = "backward"


@dataclass(frozen=True)
class TimeRange:
    """Half-open ``[start, end)``; None bound = unbounded (TimeRange.kt:5-37)."""

    start: Optional[datetime] = None
    end: Optional[datetime] = None

    def __post_init__(self) -> None:
        # Strictly before, matching the reference's value-object contract
        # (TimeRange.kt: require(start.isBefore(end))) — a degenerate
        # [t, t) range raises there, so it raises here too.
        if self.start is not None and self.end is not None and self.end <= self.start:
            raise ValueError("time range end must be after start")


def parse_instant(raw: Optional[str]) -> Optional[datetime]:
    """A wire instant, as both transports read it: a ``Z`` suffix is
    accepted and a bare (naive) stamp is read as UTC, so time-range
    bounds never mix aware and naive datetimes (the TypeError class of
    server errors). Empty or None -> None (unbounded)."""
    if not raw:
        return None
    ts = datetime.fromisoformat(raw.replace("Z", "+00:00"))
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return ts


def validate_limit(limit: Optional[int]) -> Optional[int]:
    """Limit.kt:12-34 — None = unbounded; otherwise must be > 0."""
    if limit is None:
        return None
    if not isinstance(limit, int) or limit <= 0:
        raise ValueError("limit must be > 0")
    return limit


# --------------------------------------------------------------------------
# Tag query algebra (TagQuery.kt:12-78): OR across items; within an item AND
# across tags; OR across types.
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class TagOnlyQueryItem:
    """Match facts of ANY type carrying ALL given tags (TagQuery.kt:39-46)."""

    tags: dict[str, str]

    def __post_init__(self) -> None:
        if not self.tags:
            raise ValueError("tag-only query item requires at least one tag")


@dataclass(frozen=True)
class TagTypeItem:
    """Match facts whose type is IN ``types`` AND carrying ALL given tags
    (TagQuery.kt:48-78)."""

    types: frozenset[str]
    tags: dict[str, str]

    def __init__(self, types, tags):
        types = frozenset(types)
        if not types:
            raise ValueError("tag-type query item requires at least one type")
        if not tags:
            raise ValueError("tag-type query item requires at least one tag")
        object.__setattr__(self, "types", types)
        object.__setattr__(self, "tags", dict(tags))


TagQueryItem = Union[TagOnlyQueryItem, TagTypeItem]


@dataclass(frozen=True)
class TagQuery:
    """OR-of-items (TagQuery.kt:12-37)."""

    items: tuple[TagQueryItem, ...]

    def __init__(self, items: Sequence[TagQueryItem]):
        items = tuple(items)
        if not items:
            raise ValueError("tag query requires at least one item")
        object.__setattr__(self, "items", items)


def fact_matches_tags(fact_tags: dict[str, str], wanted: dict[str, str]) -> bool:
    """AND over tag pairs (MemoryFactStore.kt:153-161)."""
    return all(fact_tags.get(k) == v for k, v in wanted.items())


def fact_matches_tag_query(fact_type: str, fact_tags: dict[str, str], query: TagQuery) -> bool:
    """Spec semantics (MemoryFactStore.kt:302-305): OR across items;
    TagOnly item = AND over tags; TagType item = type IN types AND tags AND."""
    for item in query.items:
        if isinstance(item, TagOnlyQueryItem):
            if fact_matches_tags(fact_tags, item.tags):
                return True
        else:
            if fact_type in item.types and fact_matches_tags(fact_tags, item.tags):
                return True
    return False


def batch_matches_tag_query(batch, query: TagQuery) -> bool:
    """Set-at-a-time tag-query evaluation over a pyarrow RecordBatch
    with ``type: string`` and ``tags: map<string,string>`` columns —
    same OR-of-AND algebra as ``fact_matches_tag_query``, evaluated
    with pyarrow.compute + numpy over the whole batch at once (no
    Python row loop; this runs under the commit lock, where the DCB
    condition check must not serialize a per-row interpreter scan)."""
    return bool(tag_query_mask(batch, query).any())


def tag_query_mask(batch, query: TagQuery) -> "np.ndarray":
    """Per row of ``batch`` (see ``batch_matches_tag_query``): does the
    fact match the tag query? A bool numpy array."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    any_match = np.zeros(n, dtype=bool)
    if n == 0:
        return any_match
    types = batch.column("type")
    tags = batch.column("tags")
    # Flatten map entries once: entry i belongs to row row_ids[i].
    # ListArray.offsets is adjusted for any slice offset, so this is
    # correct for sliced batches too.
    offsets = tags.offsets.to_numpy().astype(np.int64)
    base, total = int(offsets[0]), int(offsets[-1] - offsets[0])
    # .keys/.items are the UNSLICED child arrays; window them to
    # exactly this batch's entries so masks align with row_ids.
    keys = tags.keys.slice(base, total)
    vals = tags.items.slice(base, total)
    row_ids = np.repeat(np.arange(n), np.diff(offsets))

    def rows_with(k: str, v: str) -> "np.ndarray":
        m = pc.and_kleene(pc.equal(keys, k), pc.equal(vals, v))
        m = m.to_numpy(zero_copy_only=False)
        m = np.asarray(m, dtype=object) == True  # noqa: E712 — null -> False
        out = np.zeros(n, dtype=bool)
        out[row_ids[: len(m)][m]] = True
        return out

    for item in query.items:
        item_mask = np.ones(n, dtype=bool)
        for k, v in item.tags.items():
            item_mask &= rows_with(k, v)
            if not item_mask.any():
                break
        if item_mask.any() and not isinstance(item, TagOnlyQueryItem):
            tm = pc.is_in(types, value_set=pa.array(list(item.types), type=pa.string()))
            item_mask &= np.asarray(tm.to_numpy(zero_copy_only=False), dtype=object) == True  # noqa: E712
        any_match |= item_mask
    return any_match


# --------------------------------------------------------------------------
# Append conditions (AppendRequest.kt:52-106)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class NoCondition:
    """AppendRequest.kt:57 — unconditional append."""


@dataclass(frozen=True)
class ExpectedLastFact:
    """Optimistic concurrency: last fact of ``subject`` must be
    ``expected_last_fact_id`` (None = subject must have no facts)
    (AppendRequest.kt:59-70)."""

    subject: str
    expected_last_fact_id: Optional[str] = None

    def __post_init__(self) -> None:
        _require_non_blank(self.subject, "subject")
        # Normalize exactly like FactInput does on append: a condition
        # naming 'order/1 ' must check the same stream the fact 'order/1'
        # was stored under, or the None-expectation guard silently passes
        # against an empty phantom stream.
        object.__setattr__(self, "subject", self.subject.strip())


@dataclass(frozen=True)
class AllConditions:
    """Logical AND over nested conditions (AppendRequest.kt:72-92)."""

    conditions: tuple["AppendCondition", ...]

    def __init__(self, conditions: Sequence["AppendCondition"]):
        conditions = tuple(conditions)
        if not conditions:
            raise ValueError("All condition requires at least one sub-condition")
        object.__setattr__(self, "conditions", conditions)


@dataclass(frozen=True)
class TagQueryBased:
    """DCB condition: FAIL if any fact matching ``fail_if_facts_match``
    exists after the position of ``after`` (anywhere if after is None)
    (AppendRequest.kt:94-105)."""

    fail_if_facts_match: TagQuery
    after: Optional[str] = None  # FactId cursor


AppendCondition = Union[NoCondition, ExpectedLastFact, AllConditions, TagQueryBased]


# --------------------------------------------------------------------------
# Stream start positions
# --------------------------------------------------------------------------


class StartPosition:
    """Subscribe start (FactSubscriber.kt:18-59)."""

    class Beginning:
        pass

    class End:
        pass

    @dataclass(frozen=True)
    class After:
        fact_id: str


class ReplayStart:
    """Replay start — deliberately no End (FactReplayer.kt:35-50)."""

    class Beginning:
        pass

    @dataclass(frozen=True)
    class After:
        fact_id: str
