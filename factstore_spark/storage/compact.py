"""Store compaction — the 100 TB read-path maintenance operator.

The append path necessarily accumulates one small parquet file (or bulk
directory) per commit; a few hundred thousand commits would drown the
scan in file-listing and per-file overhead. ``compact_store`` folds the
committed data into a single *compacted* snapshot directory —
INCREMENTALLY once a snapshot exists: only the date partitions touched
by post-snapshot commits are read and rewritten; every other partition
is hardlinked from the previous snapshot (same inodes, zero data moved
— asserted in tests), so steady-state compaction cost is O(new data +
touched partitions), not O(store history):

- partitioned by ``date(appended_at)`` -> partition pruning for
  time-range finders;
- sorted by ``(subject, position)`` within partitions -> parquet
  row-group min/max stats make subject lookups skip row groups, in the
  Spark plan and in ``find_by_subject``'s pyarrow driver read alike
  (the Z-order-lite stand-in for the reference's subject index);
- ``position`` values are PRESERVED, so cursors, replay bounds and
  ordering semantics are untouched;
- the swap is transactional: the new directory is written alongside,
  then a single ``compacted`` commit-log line supersedes the old files
  under the store's commit lock (readers resolve files through the log,
  so they see either the old set or the new set, never a mix).

The compacted layout is exactly what you would ship to a 1000-executor
cluster: one scan-friendly table, pruned by date, skipped by subject.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schema import FACT_SCHEMA
from .layout import StoreLayout, fold_log, utcnow_us


def compact_store(
    spark: SparkSession,
    layout: StoreLayout,
    target_partitions: int | None = None,
) -> dict:
    """Compact all committed files of one store. Returns stats. Safe to
    run concurrently with appends (holds the commit lock only for the
    final swap)."""
    files = layout.data_files()
    if not files:
        return {"files_before": 0, "compacted": False}

    # Clean stale .tmp snapshots from crashed/aborted runs — but only
    # old ones: a fresh .tmp may be a CONCURRENT run's in-progress
    # staging dir (tmp names are unique per run; the loser cleans its
    # own on the lost-race path).
    import time

    now = time.time()
    for name in os.listdir(layout.data_dir):
        if name.startswith("compacted-") and name.endswith(".tmp"):
            p = os.path.join(layout.data_dir, name)
            try:
                age = now - os.path.getmtime(p)
            except OSError:
                continue
            if age > 3600:
                shutil.rmtree(p, ignore_errors=True)

    # Snapshot the pre-compaction commit state (we only supersede what
    # we read; appends landing during the rewrite survive the swap).
    commits_before = layout.read_commits()
    before = fold_log(commits_before)
    max_seq = before.last_seq
    if before.compacted_through == max_seq:
        # Nothing new since the last compaction — rerunning would
        # collide with the existing compacted-<max_seq> dir.
        return {"files_before": len(files), "compacted": False, "reason": "up to date"}

    out_dir = os.path.join(layout.data_dir, f"compacted-{max_seq:010d}")
    # Unique tmp per run: two concurrent compactions over the same
    # snapshot must never interleave writes into one staging dir (the
    # in-lock guard below resolves which one wins the swap).
    tmp_dir = f"{out_dir}.{uuid.uuid4().hex}.tmp"

    def _write_sorted(df) -> None:
        (
            df.withColumn("fact_date", F.to_date("appended_at"))
            .repartition(
                *([target_partitions] if target_partitions else []), "fact_date"
            )
            .sortWithinPartitions("subject", "position")
            .write.partitionBy("fact_date")
            .mode("overwrite")
            .parquet(tmp_dir)
        )

    prev_comp_dir, tail_files = layout.data_layout(before)
    if prev_comp_dir is not None and os.path.isdir(prev_comp_dir):
        # INCREMENTAL path — the 100 TB behavior: rewrite ONLY the date
        # partitions the tail commits touch (server-time appends land
        # in recent dates, so a steady store compacts O(new data +
        # today's partition), never O(store history)); every untouched
        # partition is HARDLINKED from the previous snapshot —
        # byte-identical, same inodes, zero data copied or even read
        # (test-asserted). The same fix pattern as the continuous
        # rollup's partitioned manifest.
        changed_names: set[str] = set()
        if tail_files:
            tail_df = spark.read.schema(FACT_SCHEMA).parquet(*tail_files)
            changed_names = {
                f"fact_date={r.d.isoformat()}"
                for r in tail_df.select(
                    F.to_date("appended_at").alias("d")
                ).distinct().collect()
            }
        prev_parts = {
            n for n in os.listdir(prev_comp_dir) if n.startswith("fact_date=")
        }
        merge_files: list[str] = []
        for p in prev_parts & changed_names:
            pdir = os.path.join(prev_comp_dir, p)
            merge_files.extend(
                os.path.join(pdir, f)
                for f in sorted(os.listdir(pdir))
                if f.endswith(".parquet")
            )
        if merge_files or tail_files:
            _write_sorted(
                spark.read.schema(FACT_SCHEMA).parquet(*merge_files, *tail_files)
            )
        os.makedirs(tmp_dir, exist_ok=True)
        for p in sorted(prev_parts - changed_names):
            sdir = os.path.join(prev_comp_dir, p)
            ddir = os.path.join(tmp_dir, p)
            os.makedirs(ddir, exist_ok=True)
            for f in os.listdir(sdir):
                if f.endswith(".parquet"):
                    os.link(os.path.join(sdir, f), os.path.join(ddir, f))
    else:
        # First-ever compaction: the snapshot must come from the SAME
        # commit-log state as max_seq (tail_files is data_layout's
        # log-bounded resolution). The directory listing captured at
        # entry (`files`) predates the log read — a commit landing
        # between the two would be superseded by compacted_through =
        # max_seq with its rows MISSING from the snapshot: silent,
        # permanent data loss once the next compaction purges it.
        _write_sorted(spark.read.schema(FACT_SCHEMA).parquet(*tail_files))

    with layout.commit_lock():
        # Re-check the guard INSIDE the lock: two concurrent compactions
        # over the same snapshot both pass the unlocked guard above; the
        # loser must back out cleanly (its os.rename would otherwise
        # throw on the winner's existing out_dir). A compaction past our
        # snapshot also wins: ours would move the horizon backwards.
        if layout.log_view().compacted_through >= max_seq:
            shutil.rmtree(tmp_dir, ignore_errors=True)
            return {
                "files_before": len(files),
                "compacted": False,
                "reason": "lost race",
            }
        # Row count from parquet FOOTERS (pyarrow) — no Spark job, no
        # directory listing that could race the rename below.
        import pyarrow.parquet as pq

        rows = 0
        for root_dir, _dirs, names in os.walk(tmp_dir):
            for n in names:
                if n.endswith(".parquet"):
                    rows += pq.read_metadata(os.path.join(root_dir, n)).num_rows
        try:
            os.rename(tmp_dir, out_dir)
        except OSError:
            # Best-effort lease (optimistic backend): a concurrent
            # compaction may have renamed its snapshot into out_dir
            # after our in-lock guard ran — the rename hits the
            # winner's non-empty dir (ENOTEMPTY/EEXIST). Back out
            # cleanly; the lease contract is "a lost race costs
            # duplicated work, not correctness" (and not a crash).
            shutil.rmtree(tmp_dir, ignore_errors=True)
            return {
                "files_before": len(files),
                "compacted": False,
                "reason": "lost race",
            }
        record = {
            "seq": max_seq,
            "rows": rows,
            "appended_at": utcnow_us().isoformat(),
            "idempotency_key": None,
            "max_position": before.head,
            "compacted_through": max_seq,
        }
        if not layout.write_compaction_record(record):
            shutil.rmtree(out_dir, ignore_errors=True)
            return {
                "files_before": len(files),
                "compacted": False,
                "reason": "lost race",
            }
        # The files this compaction superseded stay ON DISK at their old
        # paths (they are unreachable via the commit log, so new readers
        # never see them) — an in-flight DataFrame/replay iterator that
        # resolved its file list pre-swap keeps working. What we purge
        # now is the PREVIOUS generation: anything a prior compaction
        # already superseded has had a full generation of grace.
        prev_ct = before.compacted_through
        if prev_ct >= 0:
            # A name-embedded seq <= prev_ct does NOT prove the data is
            # superseded on the optimistic backend: bulk dirs are named
            # by their RESERVE seq, and the publish can land under a
            # LATER seq (CommitRecord.file points back at the dir), or
            # not yet at all (long in-flight write). Protect (a) every
            # file/dir a still-live commit references and (b) young
            # unreferenced dirs (same 1 h in-flight grace as the orphan
            # sweep) — deleting either would be permanent data loss.
            import time as _time

            protected = {
                c.file for c in commits_before if c.file and c.seq > prev_ct
            }
            now = _time.time()
            for name in os.listdir(layout.data_dir):
                p = os.path.join(layout.data_dir, name)
                if name.startswith("commit-"):
                    if name in protected:
                        continue
                    try:
                        seq = int(name.split("-")[1].split(".")[0])
                    except (ValueError, IndexError):
                        continue
                    if seq <= prev_ct:
                        try:
                            age = now - os.path.getmtime(p)
                        except OSError:
                            continue
                        if age <= 3600:
                            continue  # possibly an in-flight reservation
                        if os.path.isdir(p):
                            shutil.rmtree(p, ignore_errors=True)
                        else:
                            os.unlink(p)
                elif name.startswith("compacted-") and not name.endswith(".tmp"):
                    try:
                        through = int(name.split("-")[1])
                    except (ValueError, IndexError):
                        continue
                    if through < prev_ct:
                        shutil.rmtree(p, ignore_errors=True)

    return {
        "files_before": len(files),
        "rows": rows,
        "compacted": True,
        "out_dir": out_dir,
        "through_seq": max_seq,
    }
