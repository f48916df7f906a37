"""Per-file Bloom-filter sidecar index — point-lookup pruning for
unsorted high-cardinality keys.

Reference parity: the FDB backend keeps an id->position secondary
index so ``findById`` never scans the store
(FdbFactFinder.kt:19-32, FdbFactStore.kt:108-133). A parquet lake's
native skipping metadata is footer min/max stats, which prune NOTHING
for a point probe on an unsorted high-cardinality key: every file's
[min, max] spans the probed value, so a ``findById``-shaped lookup
reads every file. Sorting fixes exactly one column (and the z-order
layout fixes two); the Bloom sidecar is the lake-native analog of the
reference's point index for every OTHER key — one small bitset per
data file that answers "might this file contain key x?" with no false
negatives, so a point lookup opens only the (usually one) file whose
bitset matches.

Design for 100 TB:

- **Build is two column-pruned scans, all JVM-side.** Pass 1 counts
  rows per file (sizes each file's filter at ``bits_per_key`` bits per
  row — 10 bits/key ~= 1% fpp at k=7 hashes). Pass 2 computes, per
  (file, key, hash_i), the bit position via double hashing
  ``pmod(h1 + i*h2, m)`` from two ``xxhash64`` seeds, packs positions
  into 64-bit words with ``bit_or`` aggregation, and writes ONE sidecar
  row per data file: ``(file, m, k, n_rows, words MAP<long,long>)``.
  No UDF, no driver data path — the sidecar parquet is written by the
  same cluster that scanned the data.
- **Probes never read pruned data pages.** A lookup hashes the probe
  keys as the build did and keeps files where ALL k bits of SOME key
  are set. Only those files are then scanned, with the exact ``IN``
  filter on top — Bloom false positives cost a wasted file read,
  never a wrong row; false negatives cannot occur while the probe
  hash equals the build's. A driver-held key LIST
  (``bloom_candidate_files``, its ``_multi`` batch, ``pruned_lookup``)
  runs no Spark job and, for string, int and bigint keys, makes no
  JVM call: ``xxh64`` is a Python port of Spark's ``xxhash64`` (seed 42,
  chained across the key parts), pinned to Spark by a frozen
  known-answer test and a live parity test, and Python tests the k
  bits against the sidecar's bitsets, read once per sidecar version
  with pyarrow and cached on the driver. Other key types are hashed
  by the driver JVM with the build's own expressions. A key FRAME
  (``pruned_semi_join``) is probed by a broadcast join against the
  sidecar instead, on the executors.
- **The index is derived state, never a correctness dependency** (the
  tag-index discipline, store.py find_by_tags_df): the manifest pins
  the exact data-file inventory (name + size) it was built from, and a
  stale or missing index falls back to the full scan by default.
- **Publication uses the versioned-manifest CAS** shared with the
  merge table and the minhash signature index (storage/cas.py:
  cas_swap_manifest) — a racing rebuild loses loudly instead of
  last-winning the other writer's sidecar away; sidecar data dirs are
  versioned (copy-on-write) so the serving index is never modified in
  place.
"""

from __future__ import annotations

import json
import os
import struct
import uuid
from dataclasses import dataclass
from functools import reduce
from itertools import compress

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cas import cas_swap_manifest, read_versioned_manifest

# Second xxhash64 stream for double hashing: same column value, extra
# literal column => an independent 64-bit hash (the probe side chains
# the same string through ``xxh64``).
_H2_SALT = "fsbloom-h2"

_POINTER = "manifest.json"

# Inventory-fingerprint format recorded in every manifest. v1 (implied
# by absence) pinned bare int sizes; v2 pins "size:mtime_ns" strings —
# the freshness check compares the manifest's pinned inventory against
# a fresh one, so a FORMAT change makes every pre-upgrade sidecar read
# as stale (safe direction, but an invisible perf cliff). Recording
# the format lets describe_bloom_index name the reason ("fingerprint
# format upgraded, rebuild required") so the maintenance path rebuilds
# deliberately instead of full-scanning silently forever (ADVICE r11).
_FP_FORMAT = "size+mtime_ns/v2"


class BloomIndexStaleError(RuntimeError):
    """The sidecar's pinned file inventory no longer matches the data
    directory (files added/removed/rewritten since the build)."""


class BloomIndexBuildError(RuntimeError):
    """The freshly-built sidecar's file names do not match the data
    directory inventory — the relative-path derivation failed (e.g. a
    data path whose canonical/URI-encoded form differs from its
    os.path form). Raised at BUILD time so a broken index can never be
    published and then crash every later lookup."""


def _read_pointer(root: str) -> dict | None:
    p = os.path.join(root, _POINTER)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def _write_pointer(root: str, manifest: dict) -> None:
    tmp = os.path.join(root, f"{_POINTER}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, sort_keys=True)
    os.replace(tmp, os.path.join(root, _POINTER))


def _inventory(data_dir: str) -> dict[str, str]:
    """{relative path: "size:mtime_ns"} of every parquet file under
    ``data_dir`` (recursive — hive layouts like
    ``fact_date=.../part-*.parquet`` index like flat ones). The
    fingerprint includes mtime_ns because the exact-filter backstop
    only removes Bloom FALSE POSITIVES: a file rewritten in place with
    the same name and byte size but different keys would otherwise
    pass the freshness check and produce false NEGATIVES (silently
    missed rows) — a correctness gap, not a pruning-cost one. mtime
    makes copies/moves read as stale too; that costs one degraded
    full-scan probe + a rebuild, never a wrong answer. Snapshot-pinned
    callers (merge tables) pass their own ``files`` map instead: their
    copy-on-write contract means live files are never rewritten in
    place, so the manifest's name+size pin is already sound there."""
    out = {}
    for root, _dirs, names in os.walk(data_dir):
        for name in names:
            if name.endswith(".parquet") and not name.startswith("."):
                p = os.path.join(root, name)
                st = os.stat(p)
                out[os.path.relpath(p, data_dir)] = (
                    f"{st.st_size}:{st.st_mtime_ns}"
                )
    return out


def _relpath_col(data_dir: str) -> F.Column:
    """The scanned file's path relative to ``data_dir``, JVM-side:
    everything after the absolute data_dir prefix in
    ``input_file_name()`` (which yields ``file:...<abs>/<rel>``)."""
    prefix = os.path.abspath(data_dir).rstrip("/") + "/"
    return F.substring_index(F.input_file_name(), prefix, -1)


def _hashes(*keys: F.Column) -> tuple[F.Column, F.Column]:
    """Two independent 64-bit hash streams over the (ordered) key
    columns — composite keys hash all parts in one xxhash64 call, so
    build and probe agree as long as both use the manifest's key
    order."""
    return F.xxhash64(*keys), F.xxhash64(*keys, F.lit(_H2_SALT))


def _norm_key_cols(key_cols) -> list[str]:
    return [key_cols] if isinstance(key_cols, str) else list(key_cols)


def _is_expr(spec: str) -> bool:
    return "[" in spec or "(" in spec


def _kcol(spec: str) -> F.Column:
    """Key spec -> Column. Plain names go through F.col (any
    identifier is legal, no parser involved); DERIVED specs — map
    access like ``tags['k']``, or a function call — go through F.expr,
    which lets a sidecar index a column that only exists as an
    expression over the stored schema (the tag-value point-probe
    case). Hashing is value-based (xxhash64 ignores names), so derived
    and plain keys share the whole build/probe pipeline."""
    return F.expr(spec) if _is_expr(spec) else F.col(spec)


def _alias_names(key_cols: list[str]) -> list[str]:
    """Internal positional aliases for the key columns: derived specs
    are not legal column NAMES, so both build and probe frames carry
    the keys as ``_k0.._kn`` and hash those — the spec strings live
    only in the manifest (identity) and in data-side predicates."""
    return [f"_k{i}" for i in range(len(key_cols))]


def _usable_keys(manifest: dict, keys: list) -> list[tuple]:
    """Probe keys -> distinct key tuples in the index's key order.
    Scalars for single-column keys, tuples for composite keys; any key
    containing None is dropped (SQL equality would never match it)."""
    cols = manifest["key_cols"]
    rows = []
    for k in keys:
        if len(cols) == 1:
            t = tuple(k) if isinstance(k, (tuple, list)) else (k,)
        elif isinstance(k, (tuple, list)):
            t = tuple(k)
        else:
            # a bare scalar against a composite index would otherwise
            # coerce surprisingly (tuple("ab") == ("a","b")) or raise a
            # bare TypeError — fail with the diagnostic instead
            raise ValueError(
                f"probe key {k!r} must be a tuple matching index key {cols}"
            )
        if len(t) != len(cols):
            raise ValueError(
                f"probe key {k!r} has {len(t)} parts; index key is {cols}"
            )
        if any(p is None for p in t):
            continue
        rows.append(t)
    return list(dict.fromkeys(rows))


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_SPARK_SEED = 42  # xxhash64's seed, chained: each column seeds the next


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int: little-endian
    lanes, the algorithm Spark's ``XXH64.hashUnsafeBytes`` (and, on 4
    and 8 bytes, ``hashInt``/``hashLong``) implements."""
    n, i, seed = len(data), 0, seed & _M64
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        lanes = struct.unpack_from(f"<{n // 32 * 4}Q", data)
        for j in range(0, len(lanes), 4):
            v = [_round(a, lane) for a, lane in zip(v, lanes[j:j + 4])]
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
        i = n // 32 * 32
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    for (lane,) in struct.iter_unpack("<Q", data[i:i + (n - i) // 8 * 8]):
        h = (_rotl(h ^ _round(0, lane), 27) * _P1 + _P4) & _M64
    i += (n - i) // 8 * 8
    if n - i >= 4:
        (lane,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ (lane * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


# key type -> (struct format, lo, hi) of the Python ints Spark hashes as
# that type: int through hashInt, bigint through hashLong
_INT_ENCODINGS = {"int": ("<i", -(2**31), 2**31), "bigint": ("<q", -(2**63), 2**63)}


def _spark_bytes(value, key_type: str) -> bytes | None:
    """The bytes Spark's xxhash64 hashes for ``value`` typed as
    ``key_type`` (a string as UTF-8, an int or bigint as its
    little-endian two's complement), or None for any other type or a
    value that is not already of that type — the Python port never
    guesses a cast."""
    if key_type == "string" and isinstance(value, str):
        try:
            return value.encode("utf-8")
        except UnicodeEncodeError:  # a lone surrogate: the JVM encodes it
            return None
    enc = _INT_ENCODINGS.get(key_type)
    if enc and isinstance(value, int) and not isinstance(value, bool):
        fmt, lo, hi = enc
        return struct.pack(fmt, value) if lo <= value < hi else None
    return None


def _signed(h: int) -> int:
    return h - (1 << 64) if h >> 63 else h


def _driver_hashes(
    spark: SparkSession | None, key_types: list[str], keys: list[tuple]
) -> np.ndarray:
    """(n, 2) int64 array: the (h1, h2) pair ``_hashes`` gives each key
    tuple cast to the manifest's key types — computed in Python with
    ``xxh64`` (seed 42, chained across the key parts, then the
    ``_H2_SALT`` string for h2), so a probe makes no JVM call. Parity
    with the executed Spark expression is pinned by tests (a port that
    drifted would turn into false negatives). A key part the port does
    not encode (another type, or a value that needs a cast) is hashed
    by the driver JVM instead: the analyzed one-row projection of the
    same expressions, evaluated with no job."""
    salt = _H2_SALT.encode()
    out, jvm = [], []
    for k in keys:
        parts = [_spark_bytes(p, t) for p, t in zip(k, key_types)]
        if any(b is None for b in parts):
            jvm.append(len(out))
            out.append(None)
            continue
        h = _SPARK_SEED
        for b in parts:
            h = xxh64(b, h)
        out.append((_signed(h), _signed(xxh64(salt, h))))
    if jvm:
        hashes = [
            h
            for j in jvm
            for h in _hashes(*[F.lit(p).cast(t) for p, t in zip(keys[j], key_types)])
        ]
        proj = spark.range(1).select(F.to_json(F.array(*hashes)))._jdf
        value = proj.queryExecution().analyzed().projectList().apply(0)
        flat = json.loads(value.child().eval(None).toString())
        for n, j in enumerate(jvm):
            out[j] = (flat[2 * n], flat[2 * n + 1])
    return np.array(out, dtype=np.int64).reshape(-1, 2)


def _position(h1: F.Column, h2: F.Column, i: F.Column, m: F.Column) -> F.Column:
    """Double-hashing bit position ``(h1 + i*h2) mod m`` computed in
    modular arithmetic — ``pmod(h1,m) + i*pmod(h2,m)`` stays under
    ~64*m, so ANSI mode (Spark 4 default) can never see a long
    overflow. Build and probe share this exact expression; divergence
    between the two sides is structurally impossible."""
    return F.pmod(F.pmod(h1, m) + i * F.pmod(h2, m), m)


def _bits_hit(bits: np.ndarray, m: int, h: np.ndarray, k: int) -> np.ndarray:
    """Per key of the (n, 2) hash array ``h``: are all k bits of the key
    set in one file's bitset (``bits``: m/64 uint64 words)? The bit
    position is ``_position``'s ``((h1 % m) + i*(h2 % m)) % m`` — numpy's
    integer ``%`` takes the divisor's sign like ``pmod``, and the sum
    stays under k*m, far from int64 overflow."""
    i = np.arange(k, dtype=np.int64)[:, None]
    pos = (h[:, 0] % m + i * (h[:, 1] % m)) % m
    words = bits[pos >> 6]
    return ((words >> (pos & 63).astype(np.uint64)) & np.uint64(1)).all(axis=0)


def _bit_cols() -> tuple[F.Column, F.Column]:
    """(word index, single-bit word) from a column named ``pos``
    (non-negative). SQL shiftleft (the Python wrapper only takes a
    literal shift); shiftleft(1, 63) yields the sign bit — still one
    distinct bit, and bitwiseAND membership tests are sign-agnostic."""
    return (
        F.expr("pos div 64").cast("long"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"),
    )


def build_bloom_index(
    spark: SparkSession,
    data_dir: str,
    key_cols,
    index_dir: str,
    bits_per_key: int = 10,
    num_hashes: int = 7,
    files: dict[str, int] | None = None,
) -> dict:
    """Build (or rebuild) the per-file Bloom sidecar for ``key_cols``
    (one column name, or an ordered sequence for a composite key) over
    ``data_dir``. Returns build stats.

    By default every ``*.parquet`` under ``data_dir`` (recursive) is
    indexed and freshness is defined by that directory inventory.
    Snapshot-pinned callers (a merge table whose live file set is a
    MANIFEST, not a directory listing — old versions coexist on disk
    for time travel) pass ``files`` = {relpath: size}: exactly those
    files are read and pinned, and probes must pass the same map.

    Each file's filter is sized to its own row count (word-aligned,
    min 64 bits), so small and large files get the same false-positive
    rate instead of sharing one global m. Null key parts hash like any
    value (xxhash64(NULL) is the seed constant) — null probes are
    rejected at lookup instead.
    """
    key_cols = _norm_key_cols(key_cols)
    if bits_per_key < 1 or num_hashes < 1:
        raise ValueError("bits_per_key and num_hashes must be >= 1")
    inv = files if files is not None else _inventory(data_dir)
    if not inv:
        raise ValueError(f"no parquet files under {data_dir} to index")
    if files is None:
        raw = spark.read.option("recursiveFileLookup", "true").parquet(data_dir)
    else:
        # pinned file list: no basePath (version dirs like ``v=abc``
        # would be misparsed as partition columns), schemas merged
        # (add-only evolution keeps the key columns in every file)
        raw = _read_pinned(spark, data_dir, inv)
    names = _alias_names(key_cols)
    src = raw.select(
        _relpath_col(data_dir).alias("_file"),
        *[_kcol(c).alias(n) for c, n in zip(key_cols, names)],
    )
    key_types = [
        src.schema[n].dataType.simpleString() for n in names
    ]
    # Pass 1: size each file's filter from its row count (an upper
    # bound on distinct keys — over-sizing only lowers the fpp).
    meta = src.groupBy("_file").agg(F.count(F.lit(1)).alias("n_rows"))
    meta = meta.withColumn(
        "m",
        F.greatest(
            F.lit(64).cast("long"),
            ((F.col("n_rows") * bits_per_key + 63) / 64).cast("long") * 64,
        ),
    )
    # Pass 2: bit positions -> packed words -> one MAP row per file.
    h1, h2 = _hashes(*[F.col(n) for n in names])
    pos_df = (
        src.join(F.broadcast(meta), "_file")
        .select(
            "_file",
            "m",
            h1.alias("h1"),
            h2.alias("h2"),
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("i"),
        )
        .select(
            "_file",
            _position(
                F.col("h1"), F.col("h2"), F.col("i"), F.col("m")
            ).alias("pos"),
        )
    )
    w_idx, w_bit = _bit_cols()
    words = (
        pos_df.select("_file", w_idx.alias("w"), w_bit.alias("b"))
        .groupBy("_file", "w")
        .agg(F.bit_or("b").alias("word"))
        .groupBy("_file")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("w", "word")))
            ).alias("words")
        )
    )
    sidecar = words.join(F.broadcast(meta), "_file").select(
        "_file", "m", F.lit(num_hashes).cast("int").alias("k"), "n_rows", "words"
    )
    head, base_version = read_versioned_manifest(index_dir, _read_pointer)
    version_token = f"v{base_version + 1}-{uuid.uuid4().hex[:8]}"
    data_sub = f"sidecar-{version_token}"
    os.makedirs(index_dir, exist_ok=True)
    sidecar.write.mode("overwrite").parquet(os.path.join(index_dir, data_sub))
    # Fail LOUDLY before publishing if the relative-path derivation
    # drifted from the inventory (URI-encoded/symlinked/canonicalized
    # data paths): a mismatched sidecar would pass the freshness check
    # yet reconstruct nonexistent candidate paths, crashing every
    # later lookup instead of degrading.
    written = {
        r._file
        for r in spark.read.parquet(os.path.join(index_dir, data_sub))
        .select("_file")
        .collect()
    }
    unknown = written - set(inv)
    absent = set(inv) - written
    if absent:
        # A zero-row parquet file legitimately yields no sidecar row
        # (and is correctly never a candidate) — only a file that HAS
        # rows but produced no sidecar row indicates relpath drift.
        # Footer check is metadata-only, bounded by file count.
        import pyarrow.parquet as pq

        absent = {
            f
            for f in absent
            if pq.read_metadata(os.path.join(data_dir, f)).num_rows > 0
        }
    if unknown or absent:
        import shutil

        shutil.rmtree(os.path.join(index_dir, data_sub), ignore_errors=True)
        raise BloomIndexBuildError(
            f"sidecar file names diverge from the {data_dir} inventory "
            f"(e.g. {sorted(unknown)[:2]} vs {sorted(absent)[:2]}); the "
            "data path's canonical form differs from its os.path form — "
            "index not published"
        )
    manifest = {
        "key_cols": key_cols,
        "key_types": key_types,
        "bits_per_key": bits_per_key,
        "num_hashes": num_hashes,
        "data_dir": data_sub,
        "files": inv,
        "fingerprint_format": _FP_FORMAT,
    }
    version = cas_swap_manifest(
        index_dir, manifest, base_version, _write_pointer, what="bloom index"
    )
    _reap_orphans(index_dir, keep=data_sub, prev=(head or {}).get("data_dir"))
    return {
        "version": version,
        "n_files": len(inv),
        "key_cols": key_cols,
        "key_types": key_types,
        "data_dir": data_sub,
    }


def _reap_orphans(index_dir: str, keep: str, prev: str | None) -> None:
    """Remove sidecar dirs from superseded builds. The immediately
    previous serving dir is kept one generation (a reader that loaded
    the old manifest may still be scanning it); everything older goes.
    """
    import shutil

    for name in os.listdir(index_dir):
        if not name.startswith("sidecar-"):
            continue
        if name in (keep, prev):
            continue
        shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)


@dataclass
class BloomProbe:
    """Result of the sidecar consultation for one key set."""

    candidate_files: list[str]
    total_files: int
    stale: bool
    version: int


# Two session-scoped sidecar caches, one entry per index dir, both
# keyed by the manifest's uuid-bearing data_dir token so a rebuild
# invalidates them on the next probe (a superseded frame is unpersisted
# eagerly). NOT keyed by version number: a deleted-and-recreated index
# dir restarts versions at 1, and a version-keyed cache would serve
# the old sidecar for a brand-new index.
#
# - _SIDECAR_CACHE: the persisted sidecar frame that a key FRAME's
#   broadcast-join probe (pruned_semi_join) reads, so the repeated
#   semi-join pattern joins in-memory metadata instead of reading
#   parquet per call. Same discipline as the signature-index cache.
# - _BITSET_CACHE: the sidecar's bytes on the DRIVER, for key LISTS:
#   [(file, m, bits)] with each file's bitset densified to m/64 uint64
#   words — m/8 bytes per file, ~1.25 B per indexed row at 10
#   bits/key. A point lookup then tests bits in Python with no job.
_SIDECAR_CACHE: dict[str, tuple[str, DataFrame]] = {}
_BITSET_CACHE: dict[str, tuple[str, list[tuple[str, int, np.ndarray]]]] = {}
# - _FOOTER_CACHE: per store data dir, the footer stats of its current
#   compacted snapshot (keyed by the snapshot dir's name, which is never
#   rewritten once a commit-log line names it — a newer compaction
#   replaces the entry): [(relpath, num_rows, position min, position
#   max)], ~100 B per file. The driver reads of the finders bound and
#   cap their file sets with it (store.py).
_FOOTER_CACHE: dict[str, tuple[str, list[tuple[str, int, int, int]]]] = {}


def release_sidecar_cache(index_dir: str | None = None) -> int:
    """Drop the cached sidecars — persisted frames and driver bitsets —
    of every index dir at or under ``index_dir``, or of all indexes.
    Callers that create THROWAWAY indexes (battery entries, tests)
    release in their finally block, and removing a store releases its
    whole directory, so the session never keeps sidecars of deleted
    directories; long-lived indexes keep theirs. Returns how many
    index dirs were released."""
    root = None if index_dir is None else os.path.abspath(index_dir)
    gone = {
        p
        for p in [*_SIDECAR_CACHE, *_BITSET_CACHE, *_FOOTER_CACHE]
        if root is None or p == root or p.startswith(root + os.sep)
    }
    for p in gone:
        hit = _SIDECAR_CACHE.pop(p, None)
        if hit is not None:
            hit[1].unpersist()
        _BITSET_CACHE.pop(p, None)
        _FOOTER_CACHE.pop(p, None)
    return len(gone)


def snapshot_file_stats(snapshot_dir: str) -> list[tuple[str, int, int, int]]:
    """[(relpath, num_rows, position min, position max)] of every
    parquet file under a compacted snapshot dir, from the footers (a
    file without position stats spans every position), cached per
    snapshot (``_FOOTER_CACHE``) and released with the sidecars."""
    import pyarrow.parquet as pq

    snapshot_dir = os.path.abspath(snapshot_dir)
    key, token = os.path.split(snapshot_dir)
    hit = _FOOTER_CACHE.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    out = []
    for rel in sorted(_inventory(snapshot_dir)):
        md = pq.read_metadata(os.path.join(snapshot_dir, rel))
        lo, hi = -(2**63), 2**63 - 1
        stats = [
            rg.column(j).statistics
            for rg in map(md.row_group, range(md.num_row_groups))
            for j in range(rg.num_columns)
            if rg.column(j).path_in_schema == "position"
        ]
        if stats and all(st is not None and st.has_min_max for st in stats):
            lo, hi = min(st.min for st in stats), max(st.max for st in stats)
        out.append((rel, md.num_rows, lo, hi))
    _FOOTER_CACHE[key] = (token, out)
    return out


def _sidecar_df(
    spark: SparkSession, index_dir: str, manifest: dict
) -> DataFrame:
    key = os.path.abspath(index_dir)
    token = manifest["data_dir"]
    hit = _SIDECAR_CACHE.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    df = spark.read.parquet(os.path.join(index_dir, token))
    df = df.persist()
    if hit is not None:
        hit[1].unpersist()
    _SIDECAR_CACHE[key] = (token, df)
    return df


def _sidecar_bitsets(
    index_dir: str, manifest: dict
) -> list[tuple[str, int, np.ndarray]]:
    """The sidecar as [(file, m, bits)], read with pyarrow (no Spark)."""
    import pyarrow.parquet as pq

    key = os.path.abspath(index_dir)
    token = manifest["data_dir"]
    hit = _BITSET_CACHE.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    table = pq.read_table(
        os.path.join(index_dir, token), columns=["_file", "m", "words"]
    )
    out = []
    for batch in table.to_batches():
        words = batch.column("words")
        # map offsets index the flattened key/item children directly
        offs = words.offsets.to_numpy()
        w_idx = words.keys.to_numpy()
        w_val = words.items.to_numpy().view(np.uint64)
        names = batch.column("_file").to_pylist()
        for j, (name, m) in enumerate(zip(names, batch.column("m").to_pylist())):
            bits = np.zeros(-(-m // 64), dtype=np.uint64)
            bits[w_idx[offs[j]:offs[j + 1]]] = w_val[offs[j]:offs[j + 1]]
            out.append((name, m, bits))
    _BITSET_CACHE[key] = (token, out)
    return out


def _stale_reason(manifest: dict, inv_now: dict) -> str | None:
    """Why a manifest is stale (None = fresh). Distinguishes a pure
    fingerprint-FORMAT upgrade (same files, same sizes, manifest
    predates the size:mtime_ns fingerprint) from real inventory drift,
    so maintenance can report "rebuild required" instead of the
    sidecar silently degrading every probe to a full scan."""
    if "key_cols" not in manifest:
        return "pre-composite manifest format; rebuild required"
    pinned = manifest["files"]
    if pinned == inv_now:
        return None
    if (
        manifest.get("fingerprint_format") != _FP_FORMAT
        and set(pinned) == set(inv_now)
        and all(
            str(v).split(":", 1)[0] == str(inv_now[k]).split(":", 1)[0]
            for k, v in pinned.items()
        )
    ):
        return (
            "fingerprint format upgraded (pre-v2 size-only -> "
            f"{_FP_FORMAT}); rebuild required"
        )
    return "data directory inventory drift"


def describe_bloom_index(
    index_dir: str, data_dir: str, files: dict[str, int] | None = None
) -> dict:
    manifest, version = read_versioned_manifest(index_dir, _read_pointer)
    if manifest is None:
        return {"exists": False, "stale": True, "version": 0,
                "stale_reason": "no index built"}
    inv_now = files if files is not None else _inventory(data_dir)
    reason = _stale_reason(manifest, inv_now)
    return {
        "exists": True,
        "version": version,
        # .get: a pre-composite-format manifest (key_col/key_type)
        # must describe as stale, not crash maintenance
        "key_cols": manifest.get(
            "key_cols",
            [manifest["key_col"]] if "key_col" in manifest else None,
        ),
        "n_files": len(manifest["files"]),
        "stale": reason is not None,
        "stale_reason": reason,
    }


def bloom_candidate_files(
    spark: SparkSession,
    index_dir: str,
    data_dir: str,
    key_cols,
    keys: list,
    files: dict[str, int] | None = None,
) -> BloomProbe:
    """Which data files MIGHT contain any of ``keys`` (scalars, or
    tuples for a composite key), per the sidecar. A stale/missing/
    mismatched index returns every file as a candidate with
    ``stale=True`` — callers degrade to the full scan, never to a
    wrong answer. Snapshot-pinned callers pass the same ``files`` map
    they built with. Runs on the driver, with no Spark job; ``spark``
    is used only to hash a key the Python port does not encode
    (``_driver_hashes``), so string, int and bigint keys probe with
    ``spark=None``."""
    return bloom_candidate_files_multi(
        spark, index_dir, data_dir, key_cols, {"_": keys}, files=files
    )["_"]


def bloom_candidate_files_multi(
    spark: SparkSession,
    index_dir: str,
    data_dir: str,
    key_cols,
    keysets: dict[str, list],
    files: dict[str, int] | None = None,
) -> dict[str, BloomProbe]:
    """Probe SEVERAL key sets against the same sidecar snapshot with
    ONE driver-side hash evaluation and one pass over the cached
    bitsets. Per-group results are identical to calling
    ``bloom_candidate_files`` once per key set (a file qualifies when
    SOME key of the group hits all its bits — groups never interact)."""
    key_cols = _norm_key_cols(key_cols)
    manifest, version = read_versioned_manifest(index_dir, _read_pointer)
    inv_now = files if files is not None else _inventory(data_dir)
    if (
        manifest is None
        or manifest.get("key_cols") != key_cols
        or manifest.get("files") != inv_now
    ):
        stale = BloomProbe(sorted(inv_now), len(inv_now), True, version)
        return {g: stale for g in keysets}
    groups = {g: _usable_keys(manifest, keys) for g, keys in keysets.items()}
    flat = list(dict.fromkeys(k for ks in groups.values() for k in ks))
    hits: dict[tuple, list[str]] = {k: [] for k in flat}
    if flat:
        h = _driver_hashes(spark, manifest["key_types"], flat)
        k_hashes = int(manifest["num_hashes"])
        for name, m, bits in _sidecar_bitsets(index_dir, manifest):
            for key in compress(flat, _bits_hit(bits, m, h, k_hashes)):
                hits[key].append(name)
    out: dict[str, BloomProbe] = {}
    for g, keys in groups.items():
        cands = sorted({f for k in keys for f in hits[k]})
        if any(c not in manifest["files"] for c in cands):
            # corrupted sidecar (should be impossible past the build-
            # time name validation): degrade, don't reconstruct garbage
            # paths
            out[g] = BloomProbe(sorted(inv_now), len(inv_now), True, version)
        else:
            out[g] = BloomProbe(cands, len(inv_now), False, version)
    return out


def merge_probes(*probes: BloomProbe) -> BloomProbe:
    """The probe for the UNION of several probed key sets: a file
    qualifies when SOME key hits all its bits, so candidates(A ∪ B) =
    candidates(A) ∪ candidates(B) exactly — merging is lossless. Stale
    if any constituent consult was stale (its candidate list is then
    already every file, so the union degrades the same way)."""
    if not probes:
        raise ValueError("merge_probes needs at least one probe")
    return BloomProbe(
        sorted({f for p in probes for f in p.candidate_files}),
        probes[0].total_files,
        any(p.stale for p in probes),
        max(p.version for p in probes),
    )


def _probe_candidates(
    sidecar: DataFrame, kdf: DataFrame, key_cols: list[str], k_hashes: int
) -> list[str]:
    """Candidate files for a probe-key FRAME (columns = the internal
    ``_k*`` aliases — value-based hashing makes the original spec
    irrelevant here): a file qualifies when SOME key hits ALL its k
    bits. The (h1, h2) hash pair identifies the key, so distinct keys
    never need an id column.

    Broadcast direction matters at scale: the PROBE KEYS broadcast
    (small by design — a selective distinct key set), while the
    sidecar with its per-file bitsets (bytes proportional to data
    rows / bits_per_key) streams through executors, never through the
    driver."""
    h1, h2 = _hashes(*[F.col(c) for c in key_cols])
    probe = kdf.distinct().select(h1.alias("h1"), h2.alias("h2"))
    w_idx, w_bit = _bit_cols()
    hit = (
        F.coalesce(F.element_at(F.col("words"), w_idx), F.lit(0))
        .bitwiseAND(w_bit)
        != 0
    ).cast("int")
    rows = (
        sidecar.select("_file", "m", "words")
        .join(F.broadcast(probe))
        .select(
            "_file",
            "m",
            "words",
            "h1",
            "h2",
            F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("i"),
        )
        .select(
            "_file",
            "words",
            "h1",
            "h2",
            _position(
                F.col("h1"), F.col("h2"), F.col("i"), F.col("m")
            ).alias("pos"),
        )
        .select("_file", "h1", "h2", hit.alias("hit"))
        .groupBy("_file", "h1", "h2")
        .agg(F.min("hit").alias("all_hit"))
        .filter(F.col("all_hit") == 1)
        .select("_file")
        .distinct()
        .collect()
    )
    return sorted(r._file for r in rows)


def pruned_semi_join(
    spark: SparkSession,
    data_dir: str,
    key_cols,
    keys_df: DataFrame,
    index_dir: str,
    keys_cols=None,
    files: dict[str, int] | None = None,
    probe_limit: int = 1_000_000,
) -> DataFrame:
    """Exact semi-join ``data[key_cols] IN keys_df[keys_cols]`` reading
    ONLY the sidecar's candidate files — the Bloom index as a JOIN
    accelerator: fetch a key set produced by another query (dup
    survivors, a sampled id list, an export manifest) from a huge
    table without a driver-side key list and without scanning files
    that cannot contain any probed key.

    Cost model at scale: the probe job tests |keys| x |files| pairs of
    METADATA (k hash evaluations + map lookups each, JVM-side, no data
    pages), then the exact ``left_semi`` runs over candidate files
    only. Worth it while the probe set is selective; once candidates
    approach every file the exact join dominates either way, so the
    all-files case short-circuits to the plain scan. Stale/missing
    index degrades to the full-scan semi-join (never a wrong answer).

    ``probe_limit``: key sets larger than this skip the index entirely
    and run the plain semi-join — a huge probe set would (a) blow the
    broadcast the probe pipeline relies on and (b) mark nearly every
    file a candidate anyway. The distinct-count check costs one cheap
    aggregate over the keys frame.
    """
    key_cols = _norm_key_cols(key_cols)
    keys_cols = _norm_key_cols(keys_cols) if keys_cols is not None else key_cols
    if len(keys_cols) != len(key_cols):
        raise ValueError(f"keys_cols {keys_cols} must match {key_cols}")
    names = _alias_names(key_cols)
    kdf = keys_df.select(
        *[F.col(kc).alias(n) for kc, n in zip(keys_cols, names)]
    )
    for n in names:
        kdf = kdf.filter(F.col(n).isNotNull())
    kdf = kdf.distinct()

    def _exact(base: DataFrame) -> DataFrame:
        # expression-equality semi-join: the key may be DERIVED on the
        # data side (tags['k']), so join on _kcol(spec) == probe alias
        # instead of shared column names (kdf carries only _k* names,
        # so the plain-name case is never ambiguous either)
        cond = reduce(
            lambda a, b: a & b,
            [_kcol(c) == kdf[n] for c, n in zip(key_cols, names)],
        )
        return base.join(kdf, cond, "left_semi")

    def _full() -> DataFrame:
        # constructed only on the paths that use it: parquet-read
        # construction lists files + reads footers eagerly
        return _read_pinned(spark, data_dir, files)

    manifest, _version = read_versioned_manifest(index_dir, _read_pointer)
    inv_now = files if files is not None else _inventory(data_dir)
    if (
        manifest is None
        or manifest.get("key_cols") != key_cols
        or manifest.get("files") != inv_now
    ):
        return _exact(_full())
    if kdf.limit(probe_limit + 1).count() > probe_limit:
        return _exact(_full())  # probe set too big for the index to help
    sidecar = _sidecar_df(spark, index_dir, manifest)
    cand_files = _probe_candidates(
        sidecar,
        kdf.select(
            *[
                F.col(n).cast(t).alias(n)
                for n, t in zip(names, manifest["key_types"])
            ]
        ),
        names,
        int(manifest["num_hashes"]),
    )
    if any(c not in manifest["files"] for c in cand_files):
        return _exact(_full())  # corrupted sidecar: degrade, never crash
    if not cand_files:
        return _full().filter(F.lit(False))
    if len(cand_files) == len(inv_now):
        return _exact(_full())  # nothing pruned: skip the subset read
    subset = _read_subset(spark, data_dir, cand_files, pinned=files is not None)
    return _exact(subset)


def _read_subset(
    spark: SparkSession, data_dir: str, rel_files: list[str], pinned: bool
) -> DataFrame:
    """Candidate-file subset read. Directory-inventoried layouts keep
    basePath so hive partition columns stay derivable; pinned
    (merge-table) layouts read leaf files schema-merged instead (see
    _read_pinned)."""
    paths = [os.path.join(data_dir, f) for f in rel_files]
    if pinned:
        return spark.read.option("mergeSchema", "true").parquet(*paths)
    return spark.read.option("basePath", data_dir).parquet(*paths)


def _read_pinned(
    spark: SparkSession, data_dir: str, files: dict[str, int] | None
) -> DataFrame:
    """The full table: the directory itself, or — for snapshot-pinned
    callers — exactly the pinned file set (old snapshot versions may
    coexist under the same root). Pinned reads take no basePath (a
    version dir like ``v=abc`` would be misparsed as a hive partition
    column) and merge file schemas (pinned callers are merge tables,
    which evolve schemas add-only)."""
    if files is None:
        return spark.read.parquet(data_dir)
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(data_dir, f) for f in sorted(files)]
    )


def _norm_probe_keys(keys: list) -> list:
    """Normalize list-shaped keys to tuples so every downstream path
    (_usable_keys accepts both, but _exact_key_filter's scalar unwrap
    and the None-drop checks key on tuple) sees one shape."""
    return [tuple(k) if isinstance(k, list) else k for k in keys]


def _exact_key_filter(key_cols: list[str], keys: list) -> F.Column:
    """IN-list predicate for scalar keys (parquet-pushable when the
    key is a plain column); an OR-of-AND for composite keys (bounded:
    point-lookup lists are small by contract). Derived specs go
    through _kcol — the predicate then runs post-scan over the pruned
    candidate files, which is the whole point of the sidecar."""
    keys = _norm_probe_keys(keys)
    if len(key_cols) == 1:
        return _kcol(key_cols[0]).isin([k if not isinstance(k, tuple) else k[0] for k in keys])
    preds = []
    for k in keys:
        t = tuple(k)
        preds.append(
            reduce(
                lambda a, b: a & b,
                [_kcol(c) == F.lit(p) for c, p in zip(key_cols, t)],
            )
        )
    return reduce(lambda a, b: a | b, preds)


def pruned_lookup(
    spark: SparkSession,
    data_dir: str,
    key_cols,
    keys: list,
    index_dir: str,
    on_stale: str = "scan",
    files: dict[str, int] | None = None,
    probe: BloomProbe | None = None,
) -> DataFrame:
    """Exact point lookup ``key_cols IN keys`` reading ONLY the
    sidecar's candidate files. The result is always exact: the exact
    key predicate runs on top of the pruned scan, so Bloom false
    positives never surface as rows. ``on_stale``: 'scan' (default)
    degrades to the full scan; 'error' raises BloomIndexStaleError.
    ``probe``: a BloomProbe the caller already holds for these keys
    against the same snapshot (e.g. from a batched
    ``bloom_candidate_files_multi`` consultation) — skips the sidecar
    consultation; candidates for a key union are exactly the union of the
    per-set candidates, so passing a merged probe is lossless."""
    key_cols = _norm_key_cols(key_cols)
    keys = [
        k
        for k in _norm_probe_keys(keys)
        if k is not None
        and not (isinstance(k, tuple) and any(p is None for p in k))
    ]
    # ``spark.read.parquet`` lists files + reads footers at construction
    # time, so the full-table frame is built ONLY on the paths that use
    # it — the indexed fast path must not pay a whole-directory schema
    # job for a fallback it doesn't take.
    if not keys:
        return _read_pinned(spark, data_dir, files).filter(F.lit(False))
    if probe is None:
        probe = bloom_candidate_files(
            spark, index_dir, data_dir, key_cols, keys, files=files
        )
    if probe.stale:
        if on_stale == "error":
            raise BloomIndexStaleError(
                f"bloom index at {index_dir} is stale or missing for "
                f"{data_dir}; rebuild with build_bloom_index"
            )
        full = _read_pinned(spark, data_dir, files)
        return full.filter(_exact_key_filter(key_cols, keys))
    if not probe.candidate_files:
        return _read_pinned(spark, data_dir, files).filter(F.lit(False))
    subset = _read_subset(
        spark, data_dir, probe.candidate_files, pinned=files is not None
    )
    return subset.filter(_exact_key_filter(key_cols, keys))
