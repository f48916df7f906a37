"""Fact-envelope schemas: one Spark StructType + one pyarrow schema.

Spark mapping per SURVEY.md §1.3. The envelope is fixed; the payload is
opaque bytes (Fact.kt:71-96) which also makes it the natural carrier for
multimodal (image/audio/video) columns later.

``position`` is the commit-ordered total order inside a store:
``position = commit_seq * POSITION_STRIDE + row_index`` — the Spark-side
replacement for the FDB versionstamp (FdbFactStore.kt:144). Commit seqs
are assigned under the per-store commit lock, so positions are globally
monotonic per store and dense within a commit.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pyarrow as pa
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .model import Fact, FactPayload

# Room for 2^20 rows per commit; bulk ingest uses a wider per-partition
# stride (see storage/layout.py).
POSITION_STRIDE = 1 << 20

PAYLOAD_STRUCT = StructType(
    [
        StructField("data", BinaryType(), True),
        StructField("format", StringType(), True),
        StructField("schema_ref", StringType(), True),
    ]
)

FACT_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("type", StringType(), False),
        StructField("subject", StringType(), False),
        StructField("appended_at", TimestampType(), False),
        StructField("position", LongType(), False),
        StructField("payload", PAYLOAD_STRUCT, True),
        StructField("metadata", MapType(StringType(), StringType()), True),
        StructField("tags", MapType(StringType(), StringType()), True),
    ]
)

from pyspark.sql.types import DateType  # noqa: E402  (grouped with schema defs)

# Compacted layout adds a hive partition column ``fact_date`` =
# date(appended_at) (storage/compact.py) — reading the compacted dir as
# a partitioned directory with this schema lets time-range finders
# prune whole date partitions before any file I/O.
FACT_SCHEMA_PARTITIONED = StructType(
    FACT_SCHEMA.fields + [StructField("fact_date", DateType(), True)]
)

FACT_COLUMNS = [f.name for f in FACT_SCHEMA.fields]

FACT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("id", pa.string(), nullable=False),
        pa.field("type", pa.string(), nullable=False),
        pa.field("subject", pa.string(), nullable=False),
        pa.field("appended_at", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("position", pa.int64(), nullable=False),
        pa.field(
            "payload",
            pa.struct(
                [
                    pa.field("data", pa.binary()),
                    pa.field("format", pa.string()),
                    pa.field("schema_ref", pa.string()),
                ]
            ),
        ),
        pa.field("metadata", pa.map_(pa.string(), pa.string())),
        pa.field("tags", pa.map_(pa.string(), pa.string())),
    ]
)


def facts_to_arrow(rows: list[dict]) -> pa.Table:
    """Build an Arrow table from fact dicts (append write path)."""
    return pa.Table.from_pylist(rows, schema=FACT_ARROW_SCHEMA)


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _map_dicts(arr: pa.MapArray) -> list[dict[str, str]]:
    """One dict per row of a map column ({} for a null map), built from
    the flat key and value children: ``to_pylist`` on the map itself
    costs several times more."""
    off = arr.offsets.to_numpy()
    base = int(off[0])
    keys = arr.keys.slice(base, int(off[-1]) - base).to_pylist()
    vals = arr.items.slice(base, int(off[-1]) - base).to_pylist()
    off = (off - base).tolist()
    return [dict(zip(keys[a:b], vals[a:b])) for a, b in zip(off, off[1:])]


def arrow_to_facts(table: pa.Table) -> list[Fact]:
    """The facts of an Arrow table of the fact envelope, in row order:
    what ``row_to_fact`` gives for each row of ``table.to_pylist()``,
    converted a column at a time (``appended_at`` through its int64
    microseconds), which is several times faster on nested columns."""
    if table.num_rows == 0:
        return []
    cols = {n: table.column(n).combine_chunks() for n in FACT_COLUMNS}
    micros = cols["appended_at"].cast(pa.timestamp("us", tz="UTC")).cast(pa.int64())
    payload = cols["payload"]
    data, fmt, ref = (payload.field(n).to_pylist() for n in ("data", "format", "schema_ref"))
    present = payload.is_valid().to_pylist()
    return [
        Fact(
            id=i, type=t, subject=s, position=p,
            appended_at=_EPOCH + timedelta(microseconds=us),
            payload=FactPayload(bytes(d or b""), f, r) if ok else FactPayload(),
            metadata=m, tags=g,
        )
        for i, t, s, p, us, d, f, r, ok, m, g in zip(
            cols["id"].to_pylist(), cols["type"].to_pylist(), cols["subject"].to_pylist(),
            cols["position"].to_pylist(), micros.to_pylist(), data, fmt, ref, present,
            _map_dicts(cols["metadata"]), _map_dicts(cols["tags"]),
        )
    ]


def _as_map(value) -> dict[str, str]:
    if value is None:
        return {}
    if isinstance(value, dict):
        return dict(value)
    # pyarrow map columns come back as list[(k, v)]
    return dict(value)


def _as_utc(ts: datetime, naive_is_local: bool = False) -> datetime:
    """Two different NAIVE timestamp sources flow through row_to_fact,
    with opposite meanings:

    - Spark ``collect()`` rows: TimestampType.fromInternal renders the
      instant as naive wall time in the DRIVER OS timezone
      (``naive_is_local=True`` — astimezone interprets local and
      converts; replace(utc) would shift by the driver's offset).
    - pyarrow dict rows (INT96 / unannotated micros): naive wall time
      that already IS UTC (``naive_is_local=False`` — replace;
      astimezone would shift).

    On a UTC driver both coincide, which is why either bug hides in CI.
    """
    if ts.tzinfo is None:
        if naive_is_local:
            return ts.astimezone(timezone.utc)
        return ts.replace(tzinfo=timezone.utc)
    return ts.astimezone(timezone.utc)


def row_to_fact(row) -> Fact:
    """Spark Row / pyarrow dict -> Fact."""
    get = row.__getitem__ if isinstance(row, dict) else row.__getattr__
    naive_is_local = not isinstance(row, dict)  # Spark Row vs pyarrow
    payload = get("payload")
    if payload is None:
        fp = FactPayload()
    elif isinstance(payload, dict):
        fp = FactPayload(
            data=bytes(payload.get("data") or b""),
            format=payload.get("format"),
            schema_ref=payload.get("schema_ref"),
        )
    else:
        fp = FactPayload(
            data=bytes(payload.data or b""),
            format=payload.format,
            schema_ref=payload.schema_ref,
        )
    return Fact(
        id=get("id"),
        type=get("type"),
        subject=get("subject"),
        appended_at=_as_utc(get("appended_at"), naive_is_local),
        position=get("position"),
        payload=fp,
        metadata=_as_map(get("metadata")),
        tags=_as_map(get("tags")),
    )
