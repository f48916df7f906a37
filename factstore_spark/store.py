"""FactStore — the PySpark-native engine facade.

Implements the union of the reference's 7 component interfaces
(FactStore.kt:18-25): StoreFactory, StoreFinder, StoreRemover,
FactAppender, FactFinder, FactReplayer, FactSubscriber.

Design (SURVEY.md §7):

- Every read operator is a declarative DataFrame plan over the store's
  parquet data — Catalyst does pushdown/pruning where the reference
  hand-wires secondary-index scans (FdbFactFinder.kt). Each finder has a
  ``*_df`` variant returning the lazy DataFrame (the 100 TB path) and a
  materializing variant returning the reference's sealed result types.
  Where an index bounds the files to read (id, tags, tag query), the
  date partitions do (time range) or the commits' subject fingerprints
  do (subject), a call resolves that bound once —
  one log view, at most one index probe — and the row count alone
  picks the engine: the driver reads those files with pyarrow (no
  Spark job, no py4j call, as the reference answers from index keys)
  up to a row cap, Spark reads the same files above it
  (``_driver_facts``). A stale or absent index takes the Spark plan;
  each fallback is counted in ``spark_fallbacks``. Replay and
  subscribe bound a range of the compacted snapshot the same way.
- The append path is a commit protocol, not a DataFrame op: one
  attempt runs snapshot -> check-idempotency -> evaluate-condition ->
  assign ids/instant -> ``layout.append_commit`` (positions, parquet,
  publish), mirroring the single FDB transaction in
  FdbFactAppender.kt:33-65. The layout drives attempts: group commit
  under a per-store lock (flock backend), or claim-retry over a
  Delta-shaped optimistic log, where a lost claim re-runs the attempt.
- Positions (commit_seq * 2^20 + row_idx) replace FDB versionstamps as
  the store-wide total order; all cursors and replay bounds are positions.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid
from datetime import date, datetime, timezone
from typing import Iterator, NamedTuple, Optional, Sequence, Union

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pa_ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model import (
    AllConditions,
    AppendCondition,
    ExpectedLastFact,
    Fact,
    FactInput,
    NoCondition,
    ReadDirection,
    ReplayStart,
    StartPosition,
    StoreMetadata,
    TagOnlyQueryItem,
    TagQuery,
    TagQueryBased,
    TimeRange,
    batch_matches_tag_query,
    new_fact_id,
    tag_query_mask,
    validate_limit,
    validate_store_name,
)
from .plans.predicates import (
    compacted_date_bounds,
    compacted_date_range,
    ordered_limited,
    tag_query_predicate,
    time_range_arrow_filter,
    time_range_predicate,
)
from .results import (
    AlreadyApplied,
    Appended,
    AppendConditionViolated,
    AppendResult,
    CreateStoreResult,
    DoesNotExist,
    Exists,
    ExistsByIdResult,
    FactFound,
    FactIdNotFound,
    FactNotFound,
    FactsFound,
    FindByIdResult,
    FindResult,
    RemoveStoreResult,
    StoreCreated,
    StoreNameAlreadyExists,
    StoreNotFound,
    StoreRemoved,
)
from .schema import FACT_COLUMNS, FACT_SCHEMA, POSITION_STRIDE, arrow_to_facts, row_to_fact
from .storage import bloomindex
from .storage.catalog import Catalog
from .storage.layout import LogView, StoreLayout, subject_fingerprint, utcnow_us

DEFAULT_BATCH_SIZE = 10_000  # FdbFactStreamer.kt:22


def _dated_within(relpath: str, lo, hi) -> bool:
    """Can the snapshot file ``relpath`` (``fact_date=YYYY-MM-DD/...``)
    hold facts dated within the inclusive bounds ``lo``..``hi`` (None =
    unbounded)? A path without a readable date can."""
    try:
        d = date.fromisoformat(relpath.split(os.sep, 1)[0].removeprefix("fact_date="))
    except ValueError:
        return True
    return (lo is None or d >= lo) and (hi is None or d <= hi)


class SparkFallbacks:
    """How many finder reads went to the Spark path instead of the
    driver read, by reason: the index was ``stale`` or ``absent``, the
    tag-index tree was in its rebuild ``swap`` window, the files to
    open held more rows than the ``cap``, or a tag-query item had
    ``no_tag_under_cap``. Thread-safe: the REST server reads from many
    threads."""

    REASONS = ("stale", "absent", "swap", "cap", "no_tag_under_cap")

    def __init__(self) -> None:
        self._mu = threading.Lock()
        self._counts = dict.fromkeys(self.REASONS, 0)

    def add(self, reason: str) -> None:
        with self._mu:
            self._counts[reason] += 1

    def counts(self) -> dict[str, int]:
        with self._mu:
            return dict(self._counts)


class _TagBound(NamedTuple):
    """One resolution of a tag read (``FactStore._tag_bound``): the log
    view, and either the ``reason`` the tag index cannot bound the read
    (a SparkFallbacks reason) or the resolved positions ``pos``
    (``exact``, or a superset) with the footer stats ``snap`` of the
    snapshot files and the live ``commits`` that can hold them."""

    view: LogView
    reason: Optional[str] = None
    pos: Optional[np.ndarray] = None
    exact: bool = True
    snap: Optional[list] = None
    commits: Optional[list] = None


def _fresh_or_valid_key(idempotency_key: Optional[str]) -> str:
    """None -> fresh key (a convenience append is NOT retry-idempotent,
    FactAppender.kt:16-42). A caller-supplied key must be non-blank:
    the falsy-or idiom would silently replace "" with a fresh UUID,
    downgrading the call to non-idempotent with no error."""
    if idempotency_key is None:
        return str(uuid.uuid4())
    if not idempotency_key.strip():
        raise ValueError("idempotency_key must be non-blank")
    return idempotency_key


def assign_contiguous_positions(df: DataFrame, base: int, with_count: bool = False):
    """Assign contiguous positions ``base..base+n-1`` across an
    arbitrarily-partitioned frame with NO shuffle and NO global sort
    (the naive ``row_number() over (order by ...)`` collapses the whole
    ingest batch onto one partition — the exact anti-pattern at 100 TB).

    zipWithIndex-style: ``monotonically_increasing_id()`` encodes
    ``(partition_id << 33) + intra-partition row counter``, so one
    column-pruned count job per partition plus a map-only projection
    yields global contiguous positions. Requires the input partitioning
    to be stable across the two jobs — true for any deterministic
    source plan (file scans, shuffle outputs); the same contract as
    ``RDD.zipWithIndex``."""
    pid = F.spark_partition_id()
    pcounts = sorted(
        df.groupBy(F.spark_partition_id().alias("_pid")).count().collect(),
        key=lambda r: r["_pid"],
    )
    offsets: dict[int, int] = {}
    acc = 0
    for r in pcounts:
        offsets[r["_pid"]] = acc
        acc += r["count"]
    if not offsets:
        out = df.withColumn("position", F.lit(base).cast("long"))
        return (out, 0) if with_count else out
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    intra = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    out = df.withColumn(
        "position", (F.lit(base) + off_map[pid] + intra).cast("long")
    )
    # acc == total rows: callers get the count of the SAME evaluation
    # the offsets came from instead of paying a separate df.count()
    return (out, acc) if with_count else out


def _positions_agg(frame: DataFrame):
    """One-pass (count, min, max, countDistinct) over a bulk frame's
    position column — the shared kernel of the bulk total-order/
    unique-position validation (run on the WRITTEN data, never the plan
    that produced it; the optimistic backend also sizes its range
    reservation with it)."""
    return frame.agg(
        F.count("*").alias("n"),
        F.min("position").alias("lo"),
        F.max("position").alias("hi"),
        F.countDistinct("position").alias("nd"),
        # Subject-cardinality estimate riding the same job (HLL —
        # no distinct-agg Expand, no extra scan): gates whether the
        # subj_fps skipping summary is worth computing at all.
        F.approx_count_distinct("subject").alias("ns"),
    ).collect()[0]


class _Rejected(Exception):
    """A bulk frame's positions would break the store's strict total
    order; the message is the AppendConditionViolated reason."""


_UNSTABLE = " — nondeterministic source plan; materialize the input or pre-assign positions"


def _position_violation(agg, base: int, preassigned: bool, ceiling=None) -> Optional[str]:
    """Why a bulk commit's positions (``agg`` = _positions_agg) break
    the strict total order that cursors, replay bounds and heads depend
    on, or None. Caller-supplied positions may be negative or
    duplicated; engine-assigned ones are re-checked too, because the
    write re-evaluates the source plan after the count job — a
    nondeterministic source (sample/limit/rand) can shift rows across
    partitions and silently duplicate positions, or (against a range
    reserved by size) overrun its ``ceiling`` into a concurrent
    commit's range. The commit is rejected, not silently corrupted."""
    n, lo, hi, nd = (int(agg[k]) for k in ("n", "lo", "hi", "nd"))
    if lo < base:
        if preassigned:
            return f"pre-assigned positions must be >= 0 (min was {lo - base})"
        return f"written positions fell below the commit's base (min was {lo - base})" + _UNSTABLE
    if ceiling is not None and hi > ceiling:
        return (
            "written positions overran the reserved range "
            f"(max was {hi - base}, reserved {ceiling - base})" + _UNSTABLE
        )
    if nd != n:
        if preassigned:
            return f"pre-assigned positions must be unique within the commit ({n - nd} duplicates)"
        return f"written positions are not unique within the commit ({n - nd} duplicates)" + _UNSTABLE
    return None


def _stage_bulk(df: DataFrame, appended_at: datetime) -> DataFrame:
    """Fill a bulk frame's defaulted FactInput columns: a uuid ``id``,
    the commit instant as ``appended_at``, empty ``metadata``."""
    cols = set(df.columns)
    if "id" not in cols:
        df = df.withColumn("id", F.expr("uuid()"))
    if "appended_at" not in cols:
        df = df.withColumn("appended_at", F.lit(appended_at))
    if "metadata" not in cols:
        df = df.withColumn("metadata", F.create_map().cast("map<string,string>"))
    return df


def _fact_rows(fact_ids, facts: Sequence[FactInput], appended_at: datetime) -> list[dict]:
    """One row commit's arrow rows; the layout assigns ``position``."""
    return [
        {
            "id": fid,
            "type": f.type,
            "subject": f.subject,
            "appended_at": appended_at,
            "position": 0,
            "payload": {
                "data": bytes(f.payload.data),
                "format": f.payload.format,
                "schema_ref": f.payload.schema_ref,
            },
            "metadata": dict(f.metadata),
            "tags": dict(f.tags),
        }
        for fid, f in zip(fact_ids, facts)
    ]


def _written_subject_fps(spark, files, ns_approx: int, n_rows: int):
    """Distinct subject fingerprints of a written bulk commit (the
    heads-lookup skipping summary, capped at MAX_SUBJ_FPS). Three-way
    split, sized by facts the validation aggregate already computed:

    - estimate over the cap -> None, zero extra work (the summary
      would cap out anyway);
    - small commit -> the driver-side pyarrow column stream (reading a
      few hundred thousand subject values in-process beats a Spark
      job's ~200 ms scheduling floor — the common case for streaming
      micro-batches and upsert benches);
    - large commit -> one column-pruned Spark job with an early LIMIT.
      The r13 version streamed EVERY bulk commit on the driver —
      O(commit) single-threaded work per ingest, the write-path bench
      regression (VERDICT r13 task #3 / ADVICE)."""
    from .storage.layout import MAX_SUBJ_FPS, files_subject_fps

    # HLL rsd is 5% by default; 4x headroom makes a false 'over cap'
    # (losing only an optional skipping summary, never correctness)
    # essentially impossible near the 64-subject boundary.
    if ns_approx > MAX_SUBJ_FPS * 4:
        return None
    if n_rows <= 2_000_000:
        return files_subject_fps(files)
    # Must equal layout.subject_fingerprint: md5 hex prefix (60 bits)
    # base-16 — the same expression the distributed snapshot rebuild
    # uses (storage/heads.py _rebuild_spark).
    fp = F.conv(F.substring(F.md5("subject"), 1, 15), 16, 10).cast("long")
    rows = (
        spark.read.schema(FACT_SCHEMA)
        .parquet(*files)
        .select(fp.alias("fp"))
        .distinct()
        .limit(MAX_SUBJ_FPS + 1)
        .collect()
    )
    if len(rows) > MAX_SUBJ_FPS:
        return None
    return sorted(int(r["fp"]) for r in rows)


class FactStore:
    """Engine entry point. ``root`` is the storage directory; ``spark``
    is any SparkSession (the engine sets no global configs).

    The append path is Spark-free (pyarrow + the commit protocol), so a
    writer process may pass ``spark=None`` — only readers/maintenance
    need a session. This mirrors the reference's split between the
    transactional write path and the scan machinery."""

    def __init__(self, spark: SparkSession, root: str, commit_backend: str = "flock"):
        """``commit_backend``: "flock" (default — per-store fcntl lock,
        single-node) or "optimistic" (lock-free claim-retry commit log,
        the Delta/Iceberg-shaped protocol; see storage/optimistic.py).
        The optimistic CAS substrate is selectable (storage/cas.py):
        "optimistic+hardlink" (default), "optimistic+excl"
        (create-no-overwrite, the HDFS shape), or
        "optimistic+objstore://host:port/key" (conditional PUT against
        an ObjectStoreServer). All writers of a store must use the same
        backend."""
        if commit_backend != "flock" and not commit_backend.startswith("optimistic"):
            raise ValueError(f"unknown commit backend: {commit_backend!r}")
        if commit_backend.startswith("optimistic"):
            slot_spec = commit_backend[len("optimistic"):].lstrip("+")
            if slot_spec not in ("", "hardlink", "excl") and not slot_spec.startswith(
                "objstore://"
            ):
                raise ValueError(f"unknown commit backend: {commit_backend!r}")
            self._slot_spec = slot_spec
        else:
            self._slot_spec = None
        self.spark = spark
        self.root = root
        self.commit_backend = commit_backend
        self.catalog = Catalog(root)
        self._layouts: dict[str, StoreLayout] = {}
        # Optimistic-claim conflicts retried by this handle (soak
        # observability: retries/commit = this / commits appended).
        self.append_conflict_retries = 0
        self.spark_fallbacks = SparkFallbacks()

    # ------------------------------------------------------------------
    # Store management (StoreFactory / StoreFinder / StoreRemover)
    # ------------------------------------------------------------------

    def create(self, name: str) -> CreateStoreResult:
        """StoreFactory.kt:3-7; name rules StoreName.kt:7-9."""
        if not validate_store_name(name):
            raise ValueError(f"invalid store name: {name!r}")
        meta = self.catalog.create(name)
        if meta is None:
            return StoreNameAlreadyExists(name)
        self._layout(meta.id).initialize()
        return StoreCreated(meta)

    def list_all(self) -> list[StoreMetadata]:
        return self.catalog.list_all()

    def exists_by_name(self, name: str) -> bool:
        return self.catalog.find_by_name(name) is not None

    def find_by_name(self, name: str) -> Optional[StoreMetadata]:
        return self.catalog.find_by_name(name)

    def remove(self, name: str) -> RemoveStoreResult:
        """StoreRemover.kt:3-7 — drops facts, commit log, idempotency keys
        (the 12-subspace clear of FdbStoreRemover.kt:209-235 collapses to
        one directory tree)."""
        meta = self.catalog.remove(name)
        if meta is None:
            return StoreNotFound(name)
        store_dir = self._store_dir(meta.id)
        if os.path.isdir(store_dir):
            from .storage.bloomindex import release_sidecar_cache

            # drop every cached Bloom sidecar under the store's dir
            # (frames and driver bitsets) before the dir vanishes
            release_sidecar_cache(store_dir)
            shutil.rmtree(store_dir)
        return StoreRemoved(name)

    def stores_df(self) -> DataFrame:
        """Catalog as a DataFrame (SURVEY.md §1.3 `stores` table)."""
        rows = [(m.id, m.name, m.created_at) for m in self.list_all()]
        return self.spark.createDataFrame(rows, "id string, name string, created_at timestamp")

    # ------------------------------------------------------------------
    # Append path (FactAppender)
    # ------------------------------------------------------------------

    def append(
        self,
        store_name: str,
        facts: Union[FactInput, Sequence[FactInput]],
        *,
        condition: AppendCondition = NoCondition(),
        idempotency_key: Optional[str] = None,
    ) -> AppendResult:
        """Atomic (all-or-nothing) append of one or more facts with
        optional idempotency + condition (AppendRequest.kt:37-106).

        Convenience overloads without an explicit key get a fresh key per
        call, hence are NOT retry-idempotent (FactAppender.kt:16-42).
        """
        if isinstance(facts, FactInput):
            facts = [facts]
        facts = list(facts)
        if not facts:
            raise ValueError("append requires at least one fact")
        key = _fresh_or_valid_key(idempotency_key)

        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        layout = self._layout(meta.id)

        # One attempt = the FDB transaction (FdbFactAppender.kt:33-65).
        # The layout drives attempts: group commit under the flock, or
        # claim-retry with backoff on the optimistic backend, where a
        # lost claim returns None and the next attempt re-evaluates
        # everything against a fresh snapshot.
        def attempt():
            # the key check and the commit's seq read ONE snapshot (see
            # log_snapshot); the condition reads the same state or later
            view = layout.log_snapshot()
            if view.key_seen(key):
                return AlreadyApplied(key), 0
            violation = self._evaluate_condition(layout, condition)
            if violation is not None:
                return AppendConditionViolated(violation), 0
            appended_at = utcnow_us()  # one shared instant per batch (AppendResult.kt:23-29)
            fact_ids = [new_fact_id() for _ in facts]  # server-assigned (FactInput.kt:37-45)
            out = layout.append_commit(
                _fact_rows(fact_ids, facts, appended_at), appended_at, key,
                view, defer_sync=True,
            )
            if out is None:
                self.append_conflict_retries += 1
                return None
            _, positions, ticket = out
            return Appended(tuple(fact_ids), appended_at, tuple(positions)), ticket

        return layout.run_append(attempt)

    def _evaluate_condition(
        self, layout: StoreLayout, condition: AppendCondition
    ) -> Optional[str]:
        """Evaluate under the commit lock; returns violation reason or None.

        ExpectedLastFact uses the O(1) subject-head state (the analog of
        the reverse limit-1 subject-index scan, FdbFactAppender.kt:91-113).
        TagQueryBased scans only (type, tags, position) columns with the
        position bound pushed to the parquet reader — the EXISTS-after-
        cursor check of FdbFactAppender.kt:124-274.
        """
        if isinstance(condition, NoCondition):
            return None
        if isinstance(condition, AllConditions):
            for sub in condition.conditions:
                v = self._evaluate_condition(layout, sub)
                if v is not None:
                    return v
            return None
        if isinstance(condition, ExpectedLastFact):
            head = layout.last_fact_of_subject(condition.subject)
            actual = head[0] if head else None
            if actual != condition.expected_last_fact_id:
                return (
                    f"expected last fact of {condition.subject!r} to be "
                    f"{condition.expected_last_fact_id}, was {actual}"
                )
            return None
        if isinstance(condition, TagQueryBased):
            after_pos = -1
            if condition.after is not None:
                pos = layout.position_of_fact(condition.after)
                if pos is None:
                    return f"after-cursor fact {condition.after} not found"
                after_pos = pos
            # Derived tag index first: when it covers the current head,
            # the EXISTS check touches only the queried keys' index
            # partitions and opens ZERO fact files — the direct analog
            # of the reference's per-condition tag-subspace walk
            # (FdbFactAppender.kt:124-274). pyarrow-only (the append
            # path may have no Spark session); staleness falls through
            # to the scan path below, so the index is never a
            # correctness dependency.
            from .storage.tag_index import TagIndex

            tidx = TagIndex(layout)
            last = layout.last_commit()
            bt = tidx.built_through()
            scan_after_seq = -1
            if last is not None and bt >= 0:
                hit = tidx.exists_after(condition.fail_if_facts_match, after_pos)
                if hit:
                    # an index HIT is trustworthy at any staleness:
                    # facts are immutable and never deleted, so a
                    # matching indexed position stays a violation
                    return "facts matching the fail-if query exist after the cursor"
                if hit is not None:
                    if bt >= last.seq:
                        return None  # fully fresh index answered NO
                    # STALE index (the steady-ingest case — at high
                    # append rates the cron-refreshed index is stale
                    # for almost every DCB append): its NO covers
                    # commits <= built_through, so only the unindexed
                    # TAIL needs the scan below — O(commits since the
                    # last maintain), not O(store). r12 task #6: this
                    # is what keeps DCB append p90 flat on a 10^6-fact
                    # store whose index lags the head.
                    scan_after_seq = bt
            # Commit-level data skipping next: prune to the files whose
            # commit tag-fingerprint summary could satisfy some query
            # item (O(commits) record check, no file opens — the write-
            # path analog of the reference's tag-subspace walk). Then a
            # streamed batch scan with early exit over the survivors,
            # evaluating the tag algebra SET-AT-A-TIME (pyarrow.compute
            # + numpy) rather than a per-row interpreter loop.
            from .storage.layout import tag_fingerprint

            item_fps = [
                [tag_fingerprint(k, v) for k, v in item.tags.items()]
                for item in condition.fail_if_facts_match.items
            ]
            files = layout.dcb_candidate_files(
                item_fps, after_pos, after_seq=scan_after_seq
            )
            if not files:
                return None
            flt = pa_ds.field("position") > after_pos
            for batch in layout.scan_batches(
                columns=["type", "tags"], filter=flt, batch_size=8192, files=files
            ):
                if batch_matches_tag_query(batch, condition.fail_if_facts_match):
                    return "facts matching the fail-if query exist after the cursor"
            return None
        raise TypeError(f"unknown condition: {condition!r}")

    def append_dataframe(
        self, store_name: str, df: DataFrame, *, idempotency_key: Optional[str] = None
    ) -> AppendResult:
        """Bulk-ingest path: one logical commit whose rows are written by
        Spark executors in parallel (the 100 TB ingest route; the row-wise
        ``append`` is the transactional OLTP route).

        ``df`` must carry the FactInput columns (type, subject, payload
        struct, metadata, tags), plus optionally ``appended_at`` (event
        ingestion time) and ``position`` (pre-assigned order, e.g. from a
        source log offset); missing ones are assigned here.

        The layout drives the ingest (``run_bulk``) with its backend's
        concurrency: flock calls ``write`` under its commit lock; the
        optimistic backend first measures ``span``, reserves a range of
        that size, then calls ``write``, which publishes at the end.
        Both validate the WRITTEN positions the same way."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        layout = self._layout(meta.id)
        key = _fresh_or_valid_key(idempotency_key)
        preassigned = "position" in df.columns
        rel = None  # the staged frame at commit-relative positions

        def span(appended_at) -> int:
            nonlocal rel
            rel = _stage_bulk(df, appended_at)
            if not preassigned:
                # the per-partition count job the assignment runs anyway
                # sizes the range — no separate df.count() evaluation
                rel, n = assign_contiguous_positions(rel, 0, with_count=True)
                return n - 1
            agg = _positions_agg(df)  # caller positions: check before reserving
            if int(agg["n"]) == 0:
                return -1
            violation = _position_violation(agg, 0, True)
            if violation is not None:
                raise _Rejected(violation)
            return int(agg["hi"])

        def write(seq, appended_at, ceiling) -> Optional[AppendResult]:
            nonlocal rel
            if rel is None:
                rel = _stage_bulk(df, appended_at)
                if not preassigned:
                    rel = assign_contiguous_positions(rel, 0)
            n = 0
            if seq is not None:
                base = seq * POSITION_STRIDE
                dir_name = f"commit-{seq:010d}-bulk"
                out_dir = os.path.join(layout.data_dir, dir_name)
                rel.withColumn(
                    "position", (F.lit(base) + F.col("position")).cast("long")
                ).select(*FACT_COLUMNS).write.mode("overwrite").parquet(out_dir)
                files = [
                    os.path.join(out_dir, f)
                    for f in os.listdir(out_dir)
                    if f.endswith(".parquet")
                ]
                if files:
                    agg = _positions_agg(self.spark.read.schema(FACT_SCHEMA).parquet(*files))
                    n = int(agg["n"])
                violation = (
                    _position_violation(agg, base, preassigned, ceiling) if n else None
                )
                if violation is not None or n == 0:
                    shutil.rmtree(out_dir, ignore_errors=True)
                if violation is not None:
                    raise _Rejected(violation)
            if n == 0:
                # No rows (possibly only once the write re-evaluated a
                # nondeterministic source): a zero-row commit still
                # records the idempotency key.
                pseq = layout.publish_bulk(
                    None, 0, layout.head_position(), appended_at, key
                )
                return None if pseq is None else Appended((), appended_at, ())
            lo, hi = int(agg["lo"]), int(agg["hi"])
            pseq = layout.publish_bulk(
                dir_name, n, hi, appended_at, key,
                # Subject skipping summary for head lookups: gated by the
                # validation aggregate's cardinality estimate, capped out
                # to None (= "scan until the snapshot folds this commit")
                # on diverse commits.
                subj_fps=_written_subject_fps(self.spark, files, int(agg["ns"]), n),
            )
            if pseq is None:
                shutil.rmtree(out_dir, ignore_errors=True)
                return None
            return Appended((), appended_at, (lo, hi))

        try:
            res = layout.run_bulk(key, span, write)
        except _Rejected as exc:
            return AppendConditionViolated(str(exc))
        return AlreadyApplied(key) if res is None else res

    # ------------------------------------------------------------------
    # Read path (FactFinder) — DataFrame plans + materializing wrappers
    # ------------------------------------------------------------------

    def facts_df(
        self,
        store_name: str,
        *,
        max_position: Optional[int] = None,
        time_range: Optional[TimeRange] = None,
    ) -> Optional[DataFrame]:
        """The store's fact table as a DataFrame; None if the store does
        not exist. ``max_position`` pins a snapshot's head.

        ``time_range`` is a PRUNING hint, not a filter: the compacted
        snapshot is a hive layout partitioned by ``fact_date`` =
        date(appended_at) (storage/compact.py), so reading it as a
        partitioned directory and applying the derived date bounds lets
        Spark skip whole date partitions before any file I/O — the
        created-at-index analog (FdbFactFinder.kt:49-79). The bounds
        are ``compacted_date_range``'s, widened past the range for
        timezone robustness; the caller still applies the exact
        ``appended_at`` predicate."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return None
        layout = self._layout(meta.id)
        df = self._frame(layout, layout.log_view(), time_range=time_range)
        if max_position is not None:
            df = df.filter(F.col("position") <= max_position)
        return df

    def _frame(
        self,
        layout: StoreLayout,
        view: LogView,
        snap: Optional[list] = None,
        commits: Optional[list] = None,
        time_range: Optional[TimeRange] = None,
    ) -> DataFrame:
        """The ONE recipe that turns files of log view ``view`` into the
        fact DataFrame, so no two Spark reads can drift semantically:
        the compacted snapshot files ``snap`` (footer stats, see
        ``_snapshot_files``; None reads the snapshot directory, whose
        ``fact_date`` partitions ``time_range`` prunes) plus the files
        of ``commits`` (None: every live commit). basePath keeps the
        hive partition column derivable either way."""
        from .schema import FACT_SCHEMA_PARTITIONED

        snapshot = layout.snapshot_dir(view)
        tail = layout.commit_files(view.live if commits is None else commits)
        frames = []
        if snapshot is not None and (snap is None or snap):
            comp = (
                self.spark.read.schema(FACT_SCHEMA_PARTITIONED)
                .option("basePath", snapshot)
                .parquet(*([snapshot] if snap is None else [os.path.join(snapshot, f[0]) for f in snap]))
            )
            if time_range is not None:
                comp = comp.filter(compacted_date_bounds(time_range))
            frames.append(comp.select(*FACT_COLUMNS))
        if tail:
            frames.append(self.spark.read.schema(FACT_SCHEMA).parquet(*tail))
        if not frames:
            return self.spark.createDataFrame([], FACT_SCHEMA)
        return frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])

    def register_views(self, store_name: str, prefix: Optional[str] = None) -> Optional[list[str]]:
        """Expose the store to plain ``spark.sql`` as temp views:
        ``<prefix>_facts`` (the full fact envelope) and
        ``<prefix>_tags`` (exploded ``(position, id, tag_key,
        tag_value)`` — the relational shape of the reference's tag
        subspaces, FdbFactStoreContext.kt:25-57, ready for
        OR-of-AND tag algebra as ordinary SQL joins). Prefix defaults
        to the store name.

        Views are lazy Catalyst plans pinned to the file set visible
        at registration (snapshot isolation, same contract as
        ``facts_df``); re-register to pick up later commits. Returns
        the view names, or None if the store doesn't exist."""
        df = self.facts_df(store_name)
        if df is None:
            return None
        # Store names legally contain '-' (StoreName.kt regex), which
        # is not a valid SQL identifier character — sanitize the
        # DEFAULT prefix so register_views('my-store') registers
        # my_store_facts instead of raising ParseException. An explicit
        # prefix is the caller's responsibility, verbatim.
        p = (
            prefix
            if prefix is not None
            else "".join(c if c.isalnum() or c == "_" else "_" for c in store_name)
        )
        facts_view, tags_view = f"{p}_facts", f"{p}_tags"
        df.createOrReplaceTempView(facts_view)
        df.select(
            "position", "id", F.explode_outer("tags").alias("tag_key", "tag_value")
        ).createOrReplaceTempView(tags_view)
        return [facts_view, tags_view]

    # -- find_by_id (FdbFactFinder.kt:19-32) ----------------------------

    def _id_bound(self, layout: StoreLayout, fact_id: str):
        """The one resolution of an id read: ``(view, snap)``, one log
        view and the footer stats of its snapshot files that the id
        index's Bloom probe admits for ``fact_id`` (every live commit is
        read too) — the id->position point-index analog
        (FdbFactFinder.kt:19-32, FdbFactStore.kt:108-133). ``snap`` is
        None when the index is absent or stale: the read takes the whole
        snapshot, as the index is derived state, never a correctness
        dependency."""
        view = layout.log_view()
        cands = layout.id_candidates(fact_id, view)
        if cands is None:
            return view, None
        cands = set(cands)
        return view, self._snapshot_files(layout, view, lambda f: f[0] in cands)

    def find_by_id_df(self, store_name: str, fact_id: str) -> Optional[DataFrame]:
        """Point lookup by fact id: the files of ``_id_bound`` (see
        build_id_index), filtered on ``id``."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return None
        layout = self._layout(meta.id)
        view, snap = self._id_bound(layout, fact_id)
        return self._frame(layout, view, snap).filter(F.col("id") == fact_id)

    def _fact_by_id(self, meta, fact_id: str) -> Optional[Fact]:
        """The fact with ``fact_id``: the files of ``_id_bound``,
        filtered on ``id``, read on the driver (``_driver_facts``), or
        in Spark when the index is absent or stale (counted) or the
        files are over the row cap."""
        layout = self._layout(meta.id)
        view, snap = self._id_bound(layout, fact_id)
        found = None
        if snap is None:
            self.spark_fallbacks.add(
                "stale" if os.path.isdir(layout.id_index_dir) else "absent"
            )
        else:
            found = self._driver_facts(
                layout, view, snap, view.live, pa_ds.field("id") == fact_id, limit=1
            )
        if found is None:
            rows = self._frame(layout, view, snap).filter(F.col("id") == fact_id).limit(1).collect()
            return row_to_fact(rows[0]) if rows else None
        return found.facts[0] if found.facts else None

    def find_by_id(self, store_name: str, fact_id: str) -> FindByIdResult:
        """FdbFactFinder.kt:19-32, read as ``_fact_by_id`` does."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        fact = self._fact_by_id(meta, fact_id)
        return FactNotFound(fact_id) if fact is None else FactFound(fact)

    def exists_by_id(self, store_name: str, fact_id: str) -> ExistsByIdResult:
        """FdbFactFinder.kt:34-47, read as ``_fact_by_id`` does."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        return DoesNotExist() if self._fact_by_id(meta, fact_id) is None else Exists()

    # -- driver reads ---------------------------------------------------

    @staticmethod
    def _snapshot_files(layout: StoreLayout, view: LogView, keep) -> list[tuple[str, int, int, int]]:
        """Footer stats (bloomindex.snapshot_file_stats) of the files of
        ``view``'s compacted snapshot that ``keep(stats)`` admits."""
        snapshot = layout.snapshot_dir(view)
        if snapshot is None:
            return []
        return [f for f in bloomindex.snapshot_file_stats(snapshot) if keep(f)]

    def _driver_facts(
        self,
        layout: StoreLayout,
        view: LogView,
        snap: list[tuple[str, int, int, int]],
        commits: list,
        flt,
        direction: ReadDirection = ReadDirection.FORWARD,
        limit: Optional[int] = None,
        keep=None,
    ) -> Optional[FactsFound]:
        """The driver read of a bound: the facts of the snapshot files
        ``snap`` and the live ``commits`` of ``view`` that pass the
        pyarrow filter ``flt`` (and the row mask ``keep(batch)``, if
        given), in ``direction``'s position order, cut to ``limit`` —
        one ``read_arrow``, sorted and limited in Arrow, with no Spark
        job and no py4j call. None, counted as ``cap``, when those files
        hold more than DRIVER_READ_MAX_ROWS rows (footer and
        commit-record counts): the caller reads the same files in
        Spark (``_frame``)."""
        if sum(f[1] for f in snap) + sum(c.rows for c in commits) > self.DRIVER_READ_MAX_ROWS:
            self.spark_fallbacks.add("cap")
            return None
        snapshot = layout.snapshot_dir(view)
        files = [os.path.join(snapshot, f[0]) for f in snap] + layout.commit_files(commits)
        table = layout.read_arrow(filter=flt, files=files)
        if keep is not None:
            table = table.filter(
                pa.array(np.concatenate([np.zeros(0, bool)] + [keep(b) for b in table.to_batches()]))
            )
        order = "ascending" if direction == ReadDirection.FORWARD else "descending"
        table = table.sort_by([("position", order)])
        if limit is not None:
            table = table.slice(0, limit)
        return FactsFound(tuple(arrow_to_facts(table)))

    # -- find_in_time_range (FdbFactFinder.kt:49-79) --------------------

    def _time_range_df(self, layout: StoreLayout, view: LogView, time_range, limit, direction) -> DataFrame:
        """A time-range read in Spark over log view ``view``: the
        compacted snapshot read as a partitioned directory, whose
        derived fact_date bounds skip whole date partitions
        (PartitionFilters) before the exact half-open appended_at
        predicate runs, plus every live commit."""
        df = self._frame(layout, view, time_range=time_range)
        return ordered_limited(df.filter(time_range_predicate(time_range)), limit, direction)

    def find_in_time_range_df(
        self,
        store_name: str,
        time_range: TimeRange,
        limit: Optional[int] = None,
        direction: ReadDirection = ReadDirection.FORWARD,
    ) -> Optional[DataFrame]:
        validate_limit(limit)
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return None
        layout = self._layout(meta.id)
        return self._time_range_df(layout, layout.log_view(), time_range, limit, direction)

    def find_in_time_range(self, store_name, time_range, limit=None, direction=ReadDirection.FORWARD) -> FindResult:
        """A driver read of the compacted snapshot's ``fact_date``
        partitions that can hold the range (``compacted_date_range``,
        the bounds the Spark plan prunes with) plus the live commits,
        with the exact half-open ``appended_at`` filter; over the row
        cap, ``_time_range_df`` over the same log view."""
        validate_limit(limit)
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        layout = self._layout(meta.id)
        view = layout.log_view()
        lo, hi = compacted_date_range(time_range)
        snap = self._snapshot_files(layout, view, lambda f: _dated_within(f[0], lo, hi))
        found = self._driver_facts(
            layout, view, snap, view.live, time_range_arrow_filter(time_range), direction, limit
        )
        if found is not None:
            return found
        return self._materialize(self._time_range_df(layout, view, time_range, limit, direction), store_name)

    # -- find_by_subject (FdbFactFinder.kt:81-106) ----------------------

    def _subject_bound(self, layout: StoreLayout, subject: str):
        """The one resolution of a subject read: ``(view, snap,
        commits)``, one log view, the footer stats of every file of its
        compacted snapshot (sorted by subject, so the subject filter can
        skip row groups) and the live commits whose ``subj_fps`` can
        hold ``subject`` — a commit with no summary (None) is always
        read, as in ``HeadsIndex.lookup``."""
        view = layout.log_view()
        fp = subject_fingerprint(subject)
        commits = [c for c in view.live if c.subj_fps is None or fp in c.subj_fps]
        return view, self._snapshot_files(layout, view, lambda f: True), commits

    def _subject_df(self, layout: StoreLayout, bound, subject: str, limit, direction) -> DataFrame:
        """A subject read in Spark over the files of ``bound``."""
        view, snap, commits = bound
        df = self._frame(layout, view, snap, commits).filter(F.col("subject") == subject)
        return ordered_limited(df, limit, direction)

    def find_by_subject_df(
        self,
        store_name: str,
        subject: str,
        limit: Optional[int] = None,
        direction: ReadDirection = ReadDirection.FORWARD,
    ) -> Optional[DataFrame]:
        validate_limit(limit)
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return None
        layout = self._layout(meta.id)
        return self._subject_df(layout, self._subject_bound(layout, subject), subject, limit, direction)

    def find_by_subject(self, store_name, subject, limit=None, direction=ReadDirection.FORWARD) -> FindResult:
        """A driver read of ``_subject_bound`` with the exact subject
        filter — the limited, directed subject-index range scan's analog;
        over the row cap, ``_subject_df`` over the same bound."""
        validate_limit(limit)
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        layout = self._layout(meta.id)
        bound = self._subject_bound(layout, subject)
        view, snap, commits = bound
        found = self._driver_facts(
            layout, view, snap, commits, pa_ds.field("subject") == subject, direction, limit
        )
        if found is not None:
            return found
        return self._materialize(self._subject_df(layout, bound, subject, limit, direction), store_name)

    # -- find_by_tags: AND semantics (FdbFactFinder.kt:108-167) ---------

    # The driver reads at most this many index rows per queried tag;
    # past it a tag is left out of its AND item, and a query with an
    # item that has no tag under it is read by a scan of the view —
    # the same bounded-driver-probe rule the dedup operators use.
    TAG_INDEX_PUSHDOWN_CAP = 10_000
    # An index-bounded read (finders and the ordered reader's snapshot
    # ranges) runs on the driver (``_driver_facts``: pyarrow, no Spark
    # job, no py4j call) when its files hold at most this many rows, by
    # footer and commit-record counts; past it Spark reads the same
    # files. Bounds the Arrow rows a read holds on the driver, ~0.2 KB
    # each on the events shape.
    DRIVER_READ_MAX_ROWS = 200_000
    # Literal-list bound for the compiled ``isin`` predicate. Between
    # this and PUSHDOWN_CAP the scan still gets a position min/max
    # RANGE filter (pushed to parquet row-group stats — the part of
    # isin pruning that actually skips IO) while exactness comes from
    # a semi join against the resolved list, so no 10k-literal
    # expression is ever compiled.
    TAG_INDEX_ISIN_CAP = 1_000

    def _tag_bound(
        self, layout: StoreLayout, query: TagQuery, limit=None, direction=ReadDirection.FORWARD
    ) -> _TagBound:
        """The one resolution of a tag read (reference tag subspaces:
        FdbFactStoreContext.kt:25-57, FdbFactFinder.kt:108-255): one log
        view, then, when the derived tag index covers its last commit,
        one ``TagIndex.resolve_positions`` under its head — read from
        the queried keys' index partitions on the driver, no Spark job.
        The positions bound the files to read: snapshot files by their
        footer position min/max, live row commits by the ``[seq *
        stride, max_position]`` range each owns (a bulk commit is always
        read). An exact list is cut to ``limit`` first; when an AND item
        left an over-cap tag out, the positions are a superset that the
        query's predicate filters. Otherwise the bound carries the
        reason the index cannot bound the read: ``absent``, ``stale``,
        ``swap`` (the rebuild's window) or ``no_tag_under_cap``."""
        from .storage.tag_index import TagIndex

        tidx = TagIndex(layout)
        view = layout.log_view()
        if view.last is None:
            return _TagBound(view, None, np.zeros(0, np.int64), True, [], [])
        built = tidx.built_through()
        if built < view.last_seq:
            return _TagBound(view, "absent" if built < 0 else "stale")
        resolved = tidx.resolve_positions(query, view.head, self.TAG_INDEX_PUSHDOWN_CAP)
        if resolved is None or resolved[0] is None:
            return _TagBound(view, "swap" if resolved is None else "no_tag_under_cap")
        pos, exact = resolved
        if exact and limit is not None:
            pos = pos[:limit] if direction == ReadDirection.FORWARD else pos[-limit:]

        def holds(lo: int, hi: int) -> bool:
            i = np.searchsorted(pos, lo)
            return bool(i < len(pos) and pos[i] <= hi)

        snap = self._snapshot_files(layout, view, lambda f: holds(f[2], f[3]))
        commits = [
            c for c in view.live
            if holds(-1 if c.bulk else c.seq * POSITION_STRIDE, c.max_position)
        ]
        return _TagBound(view, None, pos, exact, snap, commits)

    def _tags_df(
        self, layout: StoreLayout, query: TagQuery, b: _TagBound, limit=None, direction=ReadDirection.FORWARD
    ) -> DataFrame:
        """A tag read in Spark over the bound ``b``. Resolved positions
        filter the bound's files: an ``isin`` when few (parquet
        row-group min/max skips the rest), else a position range plus a
        semi join against the list, so no thousands-literal predicate is
        compiled; a superset is then filtered by the query. When the
        index cannot bound the read (``b.reason``), the view's facts are
        scanned once with the query's predicate."""
        if b.reason is not None:
            df = self._frame(layout, b.view).filter(tag_query_predicate(query))
            return ordered_limited(df, limit, direction)
        df = self._frame(layout, b.view, b.snap, b.commits)
        pos = b.pos.tolist()
        if not pos:
            df = df.filter(F.lit(False))
        else:
            rng = (F.col("position") >= pos[0]) & (F.col("position") <= pos[-1])
            if len(pos) <= self.TAG_INDEX_ISIN_CAP:
                df = df.filter(rng & F.col("position").isin(pos))
            else:
                listed = self.spark.createDataFrame([(p,) for p in pos], "position long")
                df = df.filter(rng).join(F.broadcast(listed), "position", "left_semi")
        return ordered_limited(df if b.exact else df.filter(tag_query_predicate(query)), limit, direction)

    def _find_tags(self, store_name: str, query: TagQuery, limit=None, direction=ReadDirection.FORWARD) -> FindResult:
        """The tag finders' read of ``_tag_bound``: on the driver
        (``_driver_facts``) when the index bounds it and its files are
        under the row cap, else ``_tags_df`` over the same bound in
        Spark; each fallback is counted."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        layout = self._layout(meta.id)
        b = self._tag_bound(layout, query, limit, direction)
        if b.reason is not None:
            self.spark_fallbacks.add(b.reason)
        else:
            found = self._driver_facts(
                layout, b.view, b.snap, b.commits, pa_ds.field("position").isin(pa.array(b.pos)),
                direction, limit, None if b.exact else (lambda batch: tag_query_mask(batch, query)),
            )
            if found is not None:
                return found
        return self._materialize(self._tags_df(layout, query, b, limit, direction), store_name)

    def find_by_tags_df(
        self,
        store_name: str,
        tags: dict[str, str],
        limit: Optional[int] = None,
        direction: ReadDirection = ReadDirection.FORWARD,
    ) -> Optional[DataFrame]:
        """AND-of-tags finder as a lazy DataFrame: when the derived tag
        index covers the head, the positions it resolves on the driver
        bound the files and filter the facts; otherwise a scan of the
        view (``_tags_df`` over ``_tag_bound``). The index
        is derived state, never a correctness dependency."""
        if not tags:
            raise ValueError("find_by_tags requires at least one tag")
        validate_limit(limit)
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return None
        layout = self._layout(meta.id)
        query = TagQuery([TagOnlyQueryItem(dict(tags))])
        return self._tags_df(layout, query, self._tag_bound(layout, query, limit, direction), limit, direction)

    def find_by_tags(self, store_name, tags, limit=None, direction=ReadDirection.FORWARD) -> FindResult:
        """AND-of-tags finder, read as ``_find_tags`` does."""
        if not tags:
            raise ValueError("find_by_tags requires at least one tag")
        validate_limit(limit)
        return self._find_tags(store_name, TagQuery([TagOnlyQueryItem(dict(tags))]), limit, direction)

    # -- find_by_tag_query (FdbFactFinder.kt:169-255) -------------------

    def find_by_tag_query_df(self, store_name: str, query: TagQuery) -> Optional[DataFrame]:
        """OR-of-AND tag query as a lazy DataFrame (``_tags_df`` over
        ``_tag_bound``), in global position order; no limit/direction by
        spec (FindByTagQueryRequest.kt:3-6)."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return None
        layout = self._layout(meta.id)
        return self._tags_df(layout, query, self._tag_bound(layout, query))

    def find_by_tag_query(self, store_name: str, query: TagQuery) -> FindResult:
        """Tag query, read as ``_find_tags`` does."""
        return self._find_tags(store_name, query)

    def build_tag_index(self, store_name: str):
        """(Re)build the derived tag-index table (storage/tag_index.py)
        — the 100 TB secondary-index analog. Returns stats or StoreNotFound."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        from .storage.tag_index import TagIndex

        return TagIndex(self._layout(meta.id)).build(self.spark)

    # -- id index (FdbFactFinder.kt:19-32 point-index analog) -----------

    @staticmethod
    def _id_index_dir(layout) -> str:
        return layout.id_index_dir

    def build_id_index(self, store_name: str):
        """Build (or rebuild) the Bloom-sidecar id index over the
        store's COMPACTED snapshot (storage/bloomindex.py) — the
        100 TB findById/existsById fast path: a point probe opens only
        the candidate files the per-file bitsets admit, instead of
        scanning every file of the snapshot. The post-compaction tail
        is always scanned (small by definition; the index goes stale
        only when compaction rewrites the snapshot directory). Returns
        stats, ``{"built": False, ...}`` before the first compaction,
        or StoreNotFound."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        from .storage.bloomindex import build_bloom_index

        layout = self._layout(meta.id)
        comp_dir, _tail = layout.data_layout()
        if comp_dir is None:
            return {"built": False, "reason": "no compacted snapshot"}
        stats = build_bloom_index(
            self.spark, comp_dir, "id", self._id_index_dir(layout)
        )
        stats["built"] = True
        return stats

    def refresh_tag_index(self, store_name: str):
        """Incrementally extend the tag index to the current head
        (appends only commits > built_through; see TagIndex.refresh).
        Returns stats or StoreNotFound."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        from .storage.tag_index import TagIndex

        return TagIndex(self._layout(meta.id)).refresh(self.spark)

    def _materialize(self, df: Optional[DataFrame], store_name: str) -> FindResult:
        if df is None:
            return StoreNotFound(store_name)
        return FactsFound(tuple(row_to_fact(r) for r in df.collect()))

    # ------------------------------------------------------------------
    # Replay (FactReplayer) and subscribe (FactSubscriber): one streamer
    # ------------------------------------------------------------------

    def _open_cursor(self, store_name: str, start):
        """The one start resolution of replay, subscribe and
        subscribe_stream: ``(layout, cursor)``, where ``cursor`` is the
        exclusive position the read starts after, or StoreNotFound /
        FactIdNotFound. Beginning (or None) is -1; After(id) is the
        id's position; End is the PUBLISHED head — an in-flight bulk
        (range reserved, data unpublished) commits after open, so its
        facts are post-open, and pinning the raw head would exclude
        them forever."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        layout = self._layout(meta.id)
        if isinstance(start, StartPosition.End):
            return layout, layout.published_head_position()
        if isinstance(start, (StartPosition.After, ReplayStart.After)):
            pos = layout.position_of_fact(start.fact_id)
            return FactIdNotFound(start.fact_id) if pos is None else (layout, pos)
        return layout, -1

    def _read_ordered(
        self, layout: StoreLayout, view: LogView, cursor: int, head: int, batch_size: int
    ) -> Iterator[list[Fact]]:
        """The one position-ordered reader (FdbFactStreamer analog): the
        facts of log view ``view`` with ``cursor < position <= head``,
        in position order, as batches of at most ``batch_size``. The
        branch depends only on what the view shows (LogView.row_runs):

        - Live row commits only: runs of consecutive commits of at most
          ``batch_size`` rows (a bigger commit is a run of its own),
          each read with one ``layout.read_arrow`` and sorted.
        - The range reaches into the compacted snapshot (sorted by
          subject, not position) or a bulk commit (any size): it is
          bounded like a finder's read — the snapshot files whose footer
          position range meets it, plus the live commits past the
          cursor — and read by ``_driver_facts`` in one ``read_arrow``
          when those hold at most DRIVER_READ_MAX_ROWS rows; over that
          cap (counted), one Spark ``orderBy`` over the same files is
          streamed by ``toLocalIterator``.

        No Spark job below the cap. Driver memory is one batch plus one
        run, at most DRIVER_READ_MAX_ROWS rows, or one Spark partition,
        however long the range."""
        if head <= cursor:
            return
        runs = view.row_runs(cursor, head, batch_size)
        in_range = (pa_ds.field("position") > cursor) & (pa_ds.field("position") <= head)
        if runs is not None:
            facts = (
                fact
                for run in runs
                for fact in arrow_to_facts(
                    layout.read_arrow(filter=in_range, files=layout.commit_files(run))
                    .sort_by("position")
                )
            )
        else:
            snap = self._snapshot_files(layout, view, lambda f: f[3] > cursor and f[2] <= head)
            commits = view.live_after(cursor)
            found = self._driver_facts(layout, view, snap, commits, in_range)
            facts = iter(found.facts) if found is not None else (
                row_to_fact(row)
                for row in self._frame(layout, view, snap, commits)
                .filter((F.col("position") > cursor) & (F.col("position") <= head))
                .orderBy(F.col("position").asc())
                .toLocalIterator()
            )
        batch: list[Fact] = []
        for fact in facts:
            batch.append(fact)
            if len(batch) >= batch_size:
                yield batch
                batch = []
        if batch:
            yield batch

    def replay(
        self,
        store_name: str,
        start=None,
        batch_size: int = DEFAULT_BATCH_SIZE,
    ):
        """Bounded replay: drain from ``start`` up to the head pinned at
        open time, then complete (FactReplayer.kt:21-62). Facts appended
        while draining are excluded (AbstractFactStoreTest.kt:900-915):
        cursor, head and the log view the facts are read from resolve
        once, before iteration — the analog of the single FDB read
        transaction (FdbFactStreamer.kt:60-84). The facts come from
        ``_read_ordered``: with pyarrow and no Spark job, unless a range
        reaching into the compacted snapshot or a bulk commit holds more
        than DRIVER_READ_MAX_ROWS rows.

        Returns StoreNotFound / FactIdNotFound, or an iterator of
        position-ordered Fact batches (Flow<List<Fact>> analog).
        """
        opened = self._open_cursor(store_name, start)
        if not isinstance(opened, tuple):
            return opened
        layout, cursor = opened
        view = layout.log_view()
        return self._read_ordered(layout, view, cursor, view.head, batch_size)

    def subscribe_stream(self, store_name: str, start=None):
        """Structured-Streaming subscription: a streaming DataFrame over
        the store's data directory (micro-batch polling replaces the FDB
        watch, FdbFactStreamer.kt:186-190). Start semantics
        (FactSubscriber.kt:18-59), resolved by the same ``_open_cursor``
        as replay and subscribe:

        - Beginning -> everything, then live tail
        - End       -> only facts appended after subscribe time; the
                       offset (the published head) is captured HERE,
                       not at first trigger (SURVEY.md §7.4 hard-part 2)
        - After(id) -> position > pos(id)

        Returns StoreNotFound / FactIdNotFound or the streaming DataFrame.
        """
        opened = self._open_cursor(store_name, start)
        if not isinstance(opened, tuple):
            return opened
        layout, after_pos = opened
        # The stream reads the `stream/` hardlink mirror, not data/:
        # only committed per-commit files ever appear there (no
        # crash-orphans), and compaction — which rewrites data/ under
        # new paths — never changes it, so subscriptions neither lose
        # facts nor receive duplicates across a compaction.
        layout.sync_stream_links()
        stream = (
            self.spark.readStream.schema(FACT_SCHEMA)
            .option("maxFilesPerTrigger", 64)
            .parquet(layout.stream_dir)
        )
        if after_pos >= 0:
            stream = stream.filter(F.col("position") > after_pos)
        return stream

    def subscribe(
        self,
        store_name: str,
        start=None,
        batch_size: int = DEFAULT_BATCH_SIZE,
        poll_interval: float = 0.1,
        keepalive_every: Optional[float] = None,
        watch: bool = False,
        watch_interval: float = 0.004,
    ):
        """Generator-based live subscription for embedded use: drain
        existing facts from ``start`` then follow the tail forever,
        yielding position-ordered batches. Poll-based like the memory
        backend (MemoryFactStore.kt:212-234, 100 ms); the Structured
        Streaming variant above is the scale path. Each poll takes one
        log view and hands the range from the cursor to the view's
        published head to ``_read_ordered``, the reader replay uses: a
        tail of row commits is one pyarrow read over the new commits'
        files, and a catch-up that reaches into the compacted snapshot
        is one pyarrow read of its footer-bounded files (one ordered
        Spark read, streamed batch by batch, over the row cap).

        ``watch=True`` (opt-in): between polls, stat the commit log's
        change token every ``watch_interval`` seconds and recompute the
        head as soon as it moves — the lake analog of the reference's
        FDB watch on the head key (FdbFactStreamer.kt:186-190). Idle-
        tail latency drops from ~poll_interval/2 to single-digit ms
        for the cost of one stat(2) per tick (no busy loop); the poll
        interval stays as the fallback cadence, which also covers
        substrates whose appends the token cannot see (advisory
        contract, StoreLayout.change_token).

        ``keepalive_every`` (seconds): yield an EMPTY batch when the
        store has been quiet that long — transport adapters turn it
        into a heartbeat write so a disconnected client is detected
        (the write raises BrokenPipeError) instead of leaking a
        thread + a poll loop forever on a quiet store. Embedded
        consumers that skip the option never see empty batches."""
        opened = self._open_cursor(store_name, start)
        if not isinstance(opened, tuple):
            return opened
        layout, after_pos = opened

        def gen() -> Iterator[list[Fact]]:
            cursor = after_pos
            last_emit = time.monotonic()
            while True:
                # token snapshot BEFORE the head recompute: an append
                # landing between the two moves the token relative to
                # this snapshot, so the watch loop below wakes on the
                # next tick. Snapshotting after the head check would
                # bake that append into the token and silently degrade
                # its delivery to the full poll interval.
                token = layout.change_token() if watch else None
                # published head, never the raw head: advancing the
                # cursor past a pending bulk reservation would exclude
                # its facts FOREVER once they publish (and emit later
                # positions first, breaking ordered delivery)
                view = layout.log_view()
                head = layout.published_head_position(view)
                if head > cursor:
                    for batch in self._read_ordered(layout, view, cursor, head, batch_size):
                        last_emit = time.monotonic()
                        yield batch
                    cursor = head  # the view's whole (cursor, head] is delivered
                else:
                    if (
                        keepalive_every is not None
                        and time.monotonic() - last_emit >= keepalive_every
                    ):
                        last_emit = time.monotonic()
                        yield []
                    if watch:
                        # wait against the pre-head-check token; a
                        # move the token cannot see (object-store
                        # commit slots) is bounded by the
                        # poll-interval deadline either way
                        deadline = time.monotonic() + poll_interval
                        while time.monotonic() < deadline:
                            time.sleep(watch_interval)
                            if layout.change_token() != token:
                                break
                    else:
                        time.sleep(poll_interval)

        return gen()

    # ------------------------------------------------------------------
    # Maintenance
    # ------------------------------------------------------------------

    def compact(self, store_name: str, target_partitions: Optional[int] = None):
        """Rewrite the store into a date-partitioned, subject-sorted
        layout with positions preserved (storage/compact.py) — the scan
        path for long-lived stores. Returns stats or StoreNotFound."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        from .storage.compact import compact_store

        return compact_store(self.spark, self._layout(meta.id), target_partitions)

    def refresh_heads_snapshot(self, store_name: str):
        """Fold the commit tail into the sharded subject-head snapshot
        (storage/heads.py) — restores O(shard) cold-subject lookups for
        ExpectedLastFact conditions. Incremental (gap commits, touched
        shards) between compactions; a distributed Spark rebuild when a
        compaction superseded the gap. Never required for correctness:
        lookups resolve exactly through the log at any staleness."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        from .storage.heads import HeadsIndex

        return HeadsIndex(self._layout(meta.id)).refresh(self.spark)

    def checkpoint(self, store_name: str):
        """Fold the compaction-superseded prefix of the commit log into
        one summary record (storage/layout.py checkpoint_log) — the
        Delta-checkpoint analog that keeps fresh-process log-open cost
        O(recent) over a store's lifetime. Run ``compact`` first; only
        compaction-superseded records can be folded. Returns stats or
        StoreNotFound."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        return self._layout(meta.id).checkpoint_log()

    def describe_store(self, store_name: str):
        """Operational stats for one store — the health card a
        maintenance scheduler reads to decide WHEN to run
        ``maintain()``: commit/file counts and bytes (small-file
        pressure -> compact), commits since the last checkpoint
        (log-parse cost -> checkpoint), head position and tag-index
        freshness. Metadata-only: reads the commit log + file stats,
        never scans fact data. Returns a dict or StoreNotFound."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        layout = self._layout(meta.id)
        view = layout.log_view()
        files = layout.data_files(view)
        n_bytes = 0
        for f in files:
            try:
                n_bytes += os.path.getsize(f)
            except OSError:
                pass
        comp = view.compaction
        # Row count: the latest compaction's total plus the live
        # commits past its horizon (the superseded append records a
        # log keeps until its checkpoint would double-count).
        n_rows = (comp.rows if comp is not None else 0) + sum(
            c.rows for c in view.live
        )
        from .storage.heads import HeadsIndex
        from .storage.tag_index import TagIndex

        return {
            "store": store_name,
            "store_id": meta.id,
            "n_commits": view.n_records,
            "head_position": view.head,
            "n_rows": n_rows,
            "n_data_files": len(files),
            "data_bytes": n_bytes,
            "compacted_through": None if comp is None else comp.compacted_through,
            # the checkpoint record is the one record at or below its seq
            "commits_since_checkpoint": view.n_records - (view.ckpt is not None),
            "tag_index_fresh": TagIndex(layout).is_fresh(),
            "heads_snapshot_through": HeadsIndex(layout).snap_meta()["through_seq"],
        }

    def maintain(self, store_name: str, target_partitions: Optional[int] = None):
        """One-call periodic maintenance for a long-lived store, in
        dependency order: compact (rewrite data into the date-
        partitioned, subject-sorted scan layout), checkpoint (fold the
        now-superseded commit-log prefix), refresh the derived tag
        index (restores the indexed finder/DCB fast paths, which go
        stale on every append). The cron-job entry point a 100 TB
        deployment schedules per store. Returns per-step stats or
        StoreNotFound."""
        meta = self.catalog.find_by_name(store_name)
        if meta is None:
            return StoreNotFound(store_name)
        # Fold the heads snapshot BEFORE compacting: the incremental
        # fold reads the live tail commits' own small files; compacting
        # first supersedes them mid-cycle and (r13 defect) forced an
        # O(store) rebuild every compacting tick. The post-compact
        # refresh is then a pointer-only re-align in the common case
        # (through_seq catches up to compacted_through so lookups stay
        # on the shard path) and an incremental fold over any commit
        # that raced in between the two steps — never a rebuild, since
        # the raced commits' files survive compaction on disk. Both run
        # BEFORE checkpoint, which drops the per-commit records the
        # fold enumerates.
        heads_pre = self.refresh_heads_snapshot(store_name)
        steps = {
            "compact": self.compact(store_name, target_partitions),
        }
        heads_post = self.refresh_heads_snapshot(store_name)
        steps["heads_snapshot_pre"] = heads_pre
        steps["heads_snapshot_post"] = heads_post
        pre_built = isinstance(heads_pre, dict) and heads_pre.get("built")
        post_built = isinstance(heads_post, dict) and heads_post.get("built")
        steps["heads_snapshot"] = heads_post if (post_built or not pre_built) else heads_pre
        steps["checkpoint"] = self.checkpoint(store_name)
        steps["tag_index"] = self.refresh_tag_index(store_name)
        # The id index is opt-in (built once via build_id_index); when
        # present and invalidated by this pass's compaction, rebuild it
        # so point lookups stay on the fast path between crons. A
        # no-op compact with a still-fresh index skips the rebuild —
        # idle maintenance must not pay two snapshot scans per tick.
        layout = self._layout(meta.id)
        idx_dir = self._id_index_dir(layout)
        if os.path.isdir(idx_dir):
            from .storage.bloomindex import describe_bloom_index

            comp_dir, _tail = layout.data_layout()
            fresh = comp_dir is not None and not describe_bloom_index(
                idx_dir, comp_dir
            ).get("stale", True)
            if fresh:
                steps["id_index"] = {"built": False, "reason": "fresh"}
            else:
                steps["id_index"] = self.build_id_index(store_name)
        return steps

    def maintain_all(self, target_partitions: Optional[int] = None) -> dict:
        """Run ``maintain`` over every store — the single cron entry
        point for a deployment. Returns {store_name: per-step stats}."""
        return {
            meta.name: self.maintain(meta.name, target_partitions)
            for meta in self.list_all()
        }

    # ------------------------------------------------------------------

    def _store_dir(self, store_id: str) -> str:
        return os.path.join(self.root, "stores", store_id)

    def _layout(self, store_id: str) -> StoreLayout:
        # One layout instance per store: its commit-log memo (keyed on
        # the log file's mtime+size) then amortizes the 3 log reads a
        # locked append performs to a single parse.
        # Racing first callers may each build one, but setdefault keeps
        # exactly one: group commit and sync tickets are per instance,
        # so two live instances of one store could strand a group fsync.
        layout = self._layouts.get(store_id)
        if layout is None:
            if self.commit_backend.startswith("optimistic"):
                from .storage.optimistic import OptimisticStoreLayout

                layout = OptimisticStoreLayout(
                    self._store_dir(store_id), slot_spec=self._slot_spec
                )
            else:
                layout = StoreLayout(self._store_dir(store_id))
            layout = self._layouts.setdefault(store_id, layout)
        return layout
