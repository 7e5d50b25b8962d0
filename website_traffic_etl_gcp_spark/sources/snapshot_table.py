"""Manifest-pointer snapshot tables: transactional semantics on plain
parquet, no external table-format jars.

The reference's BigQuery load gives atomic, concurrent-reader-safe
table swaps (reference load.py:67-110). The directory-swap emulation
in ``writers._swap_in`` is single-writer and momentarily unlinks the
live path — a reader planning a scan mid-swap can observe a missing
or half-moved directory. This module closes that gap with the pattern
the open table formats (Iceberg's snapshot list, Delta's transaction
log — both public designs) use over immutable files:

- Data files are IMMUTABLE: every commit writes new files under
  ``data/<uuid>/`` and never touches previous ones.
- A commit is one atomically-created manifest ``_snapshots/v{N}.json``
  naming exactly the data files in that version, plus an atomic
  rename of the ``_snapshots/_latest`` pointer.
- Readers resolve the pointer once, then read only the files their
  manifest names. A concurrent commit cannot disturb them: their
  files still exist, their manifest still exists — snapshot isolation
  without locks.
- Writers race on ``os.open(O_CREAT | O_EXCL)`` of the next manifest:
  exactly one wins per version; losers see a ``CommitConflict`` and
  retry against the new head (optimistic concurrency).
- Old versions remain readable (time travel) until ``vacuum`` drops
  manifests beyond a retention count and deletes data files no
  retained manifest references.

At 100 TB the manifest holds file PATHS, never data; commit cost is
O(files-in-commit), independent of table size, and on an object store
the pointer rename maps to the same conditional-put primitive the
real formats use.

Manifest scaling (round 10): a table that accumulates 10⁵+ files
cannot keep its whole file list + zone maps in ONE JSON the driver
parses per read. Past ``CHUNK_TARGET_FILES`` entries the manifest
switches to the Iceberg manifest-list shape: the version file holds
CHUNK DESCRIPTORS (path, n_files, per-column min/max ranges) and the
file lists + per-file zone maps live in immutable chunk files under
``_snapshots/chunks/``. Appends carry the parent's descriptors
VERBATIM (O(new files + n_chunks) commit cost — the parent's chunk
files are never reread or rewritten), and a pruned read skips whole
chunks by their range summary before opening any of them, so driver
cost is O(chunks + files-in-overlapping-chunks), sub-linear in table
file count for selective predicates. Small tables stay on the inline
single-JSON format — both formats are readable forever.

Scans trust the manifest. Every commit declares the table schema and
every file's zone map, so a read hands the parquet reader the
declared schema instead of inferring one from footers (building a
read launches no Spark job; files written before an additive
evolution surface typed NULLs in the newer columns), and a merge
compares the source's key range against the zone maps before it
scans anything: only files that can hold a source key are read, the
rest are carried forward without being opened. That skipping pays
off when the source keys span a narrow range of a table whose files
are clustered by key; scattered keys over hash-partitioned files
leave every file a candidate. Every writer keeps the declaration
true — appends reject type changes and merges convert their source
to the declared types exactly or raise. Manifests written before
schemas were recorded read footers as before.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
)

_SNAP_DIR = "_snapshots"
_LATEST = "_latest"
_CHUNK_DIR = "chunks"

# past this many file entries a manifest stores chunk descriptors
# instead of an inline list (overridable for tests via env)
CHUNK_TARGET_FILES = int(os.environ.get("SPARK_GRAFT_MANIFEST_CHUNK", "512"))


class CommitConflict(Exception):
    """Another writer committed this version first; reload and retry."""


class SchemaEvolutionError(Exception):
    """An append's or a merge source's schema conflicts with the
    table's declared schema (same-name column with a different type
    that a merge cannot convert exactly). New columns are allowed
    (additive evolution, the Delta/Iceberg default); type changes are
    rejected loudly instead of silently corrupting reads."""


class NoSuchSnapshot(Exception):
    pass


def _snap_dir(root: str) -> str:
    return os.path.join(root, _SNAP_DIR)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_snap_dir(root), f"v{version}.json")


def current_version(root: str) -> int:
    """Latest committed version, or 0 if the table doesn't exist yet.
    The MANIFEST FILES are the source of truth (their O_EXCL creation
    is the commit point); the ``_latest`` pointer is a fast hint that
    may lag a just-landed commit, so the scan starts from the hint and
    probes upward — O(commits since the hint), not O(history)."""
    snaps = _snap_dir(root)
    try:
        with open(os.path.join(snaps, _LATEST)) as f:
            hint = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        hint = 0
    v = hint
    while os.path.exists(_manifest_path(root, v + 1)):
        v += 1
    if v == 0 or not os.path.exists(_manifest_path(root, v)):
        # hint names a vacuumed/never-landed version (or there is no
        # hint and v1 was vacuumed) — fall back to a directory scan
        versions = snapshot_versions(root)
        return versions[-1] if versions else 0
    return v


def read_manifest(root: str, version: int | None = None) -> dict:
    v = current_version(root) if version is None else version
    if v == 0:
        raise NoSuchSnapshot(f"{root} has no committed snapshots")
    try:
        with open(_manifest_path(root, v)) as f:
            return json.load(f)
    except FileNotFoundError as e:
        raise NoSuchSnapshot(
            f"version {v} of {root} does not exist (vacuumed or never "
            "committed)"
        ) from e


def _read_chunk(root: str, rel: str) -> dict:
    with open(os.path.join(root, rel)) as f:
        return json.load(f)


def _chunk_ranges(files: list[str], stats: dict) -> dict:
    """Chunk-level column ranges: for each column where EVERY file in
    the chunk has a recorded stat, [min of mins, max of maxs]. A
    column any file lacks is omitted — a range that ignored that file
    could prune a chunk containing unprunable (must-read) data."""
    if not files:
        return {}
    first = stats.get(files[0])
    if first is None:
        return {}
    ranges = {c: list(v) for c, v in first.items()}
    for f in files[1:]:
        s = stats.get(f)
        if s is None:
            return {}
        for c in list(ranges):
            if c not in s:
                del ranges[c]
            else:
                lo, hi = s[c]
                if lo < ranges[c][0]:
                    ranges[c][0] = lo
                if hi > ranges[c][1]:
                    ranges[c][1] = hi
    return ranges


def _pack_chunks(root: str, files: list[str], stats: dict) -> list[dict]:
    """Write ``files`` (+ their zone maps) into immutable chunk files
    of ≤ CHUNK_TARGET_FILES entries each; return the descriptors the
    manifest stores. Chunk files are uuid-named and never mutated, so
    descriptors can be carried across versions verbatim."""
    chunk_dir = os.path.join(_snap_dir(root), _CHUNK_DIR)
    os.makedirs(chunk_dir, exist_ok=True)
    descriptors = []
    for i in range(0, len(files), CHUNK_TARGET_FILES):
        group = files[i : i + CHUNK_TARGET_FILES]
        gstats = {f: stats[f] for f in group if f in stats}
        rel = os.path.join(
            _SNAP_DIR, _CHUNK_DIR, f"c-{uuid.uuid4().hex[:16]}.json"
        )
        tmp = os.path.join(root, rel + ".tmp")
        with open(tmp, "w") as f:
            json.dump({"files": group, "stats": gstats}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(root, rel))
        descriptors.append(
            {
                "path": rel,
                "n_files": len(group),
                "ranges": _chunk_ranges(group, gstats),
            }
        )
    return descriptors


def _repack_order(files: list[str], stats: dict) -> list[str]:
    """Cluster-aware file order for a manifest repack: sort by the
    zone-map min of the column whose per-file ranges are most disjoint
    (i.e. the column the data was actually written clustered by).
    Chunk-level min/max ranges then prune regardless of how streaming
    appends interleaved the paths. Falls back to the given (path)
    order when stats are missing, no column is common to every file,
    or values don't compare (mixed types). O(files × columns) driver
    work, repack-time only."""
    common: set[str] | None = None
    for f in files:
        s = stats.get(f)
        if not s:
            return files
        common = set(s) if common is None else common & set(s)
    if not common:
        return files
    best_col = None
    best_overlaps = None
    for c in sorted(common):
        try:
            rngs = sorted((stats[f][c][0], stats[f][c][1]) for f in files)
            overlaps = sum(
                1
                for i in range(1, len(rngs))
                if rngs[i][0] <= rngs[i - 1][1]
            )
        except TypeError:
            continue
        if best_overlaps is None or overlaps < best_overlaps:
            best_col, best_overlaps = c, overlaps
    if best_col is None:
        return files
    col = best_col
    try:
        return sorted(files, key=lambda f: (stats[f][col][0], stats[f][col][1], f))
    except TypeError:
        return files


def manifest_files(root: str, m: dict) -> list[str]:
    """The full (relative) file list of a manifest, resolving chunk
    descriptors when present. O(files) — use only where the caller
    inherently needs every file (full reads, merge, compaction,
    vacuum); pruned reads go through the chunk descriptors instead."""
    if "chunks" in m:
        out: list[str] = []
        for ch in m["chunks"]:
            out.extend(_read_chunk(root, ch["path"])["files"])
        return out
    return m["files"]


def manifest_stats(root: str, m: dict) -> dict:
    """All per-file zone maps of a manifest (inline or chunked)."""
    if "chunks" in m:
        stats: dict = {}
        for ch in m["chunks"]:
            stats.update(_read_chunk(root, ch["path"]).get("stats", {}))
        return stats
    return m.get("stats", {})


def manifest_n_files(m: dict) -> int:
    """File count without materializing chunked lists."""
    if "chunks" in m:
        return sum(ch["n_files"] for ch in m["chunks"])
    return len(m["files"])


def manifest_chunk_paths(m: dict) -> list[str]:
    return [ch["path"] for ch in m.get("chunks", [])]


def _list_parquet(staged_dir: str) -> list[str]:
    out = []
    for r, _, files in os.walk(staged_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                out.append(os.path.join(r, fn))
    return sorted(out)


def stage_files(df: DataFrame, root: str) -> list[str]:
    """Write ``df``'s files into an unreferenced ``data/<uuid>/`` dir.
    Until a manifest names them they are invisible to every reader —
    this is the staging half of write-audit-publish."""
    staged_dir = os.path.join(root, "data", uuid.uuid4().hex[:16])
    df.write.mode("overwrite").parquet(staged_dir)
    return _list_parquet(staged_dir)


def _file_zone_map(path: str) -> dict:
    """Per-file min/max column stats from the parquet footer — the
    zone map a pruned read skips files with. Only JSON-portable
    scalar types (ints, floats, strings, bools) are recorded; columns
    with missing/untyped footer stats are simply absent, which the
    reader treats as unprunable (correct, just not skippable)."""
    import pyarrow.parquet as pq

    try:
        meta = pq.ParquetFile(path).metadata
    except Exception:
        return {}
    mins: dict = {}
    maxs: dict = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                name = col.path_in_schema
                lo, hi = st.min, st.max
            except Exception:
                # pyarrow cannot materialize min/max for some logical
                # types (e.g. decimals) — unprunable, not an error
                continue
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str, bool)):
                continue
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    return {c: [mins[c], maxs[c]] for c in mins if c in maxs}


def _commit(
    root: str, files: list[str], mode: str, parent: int,
    extra: dict | None = None,
) -> int:
    """Atomically create manifest ``parent+1``. Raises CommitConflict
    if another writer got there first (no partial state to clean up:
    staged data files are unreferenced until the manifest exists).
    ``extra`` lands verbatim in the manifest — e.g. the streaming
    sink's ``batch_id`` idempotence marker or the declared table
    ``schema``; a commit that does not declare a schema inherits the
    parent's, so maintenance commits (compaction, deletes, sink
    appends) keep the evolution chain intact."""
    os.makedirs(_snap_dir(root), exist_ok=True)
    version = parent + 1
    new_rel = sorted(os.path.relpath(f, root) for f in files)
    extra = dict(extra or {})
    parent_m = read_manifest(root, parent) if parent > 0 else None
    if (
        parent_m is not None
        and "schema" not in extra
        and "schema" in parent_m
    ):
        extra["schema"] = parent_m["schema"]
    # per-file zone maps (the Delta add-file stats model): carry over
    # the parent's entries for files that survive into this version,
    # footer-scan only the NEW files — O(new files) driver work, the
    # same cost class as writing the manifest itself
    append_to = parent_m if mode == "append" and parent_m else None
    own_chunks: list[str] = []  # packed by THIS attempt; reaped on conflict
    if append_to is not None and "chunks" in append_to:
        # chunked parent: carry descriptors VERBATIM, chunk the new
        # files — O(new files + n_chunks), parent chunks never reread
        new_stats = {}
        for f in new_rel:
            s = _file_zone_map(os.path.join(root, f))
            if s:
                new_stats[f] = s
        packed = _pack_chunks(root, new_rel, new_stats)
        own_chunks = [d["path"] for d in packed]
        body = {"chunks": append_to["chunks"] + packed}
    else:
        if append_to is not None:
            rel = append_to["files"] + new_rel
            parent_stats = append_to.get("stats", {})
        else:
            rel = new_rel
            parent_stats = (
                manifest_stats(root, parent_m) if parent_m else {}
            )
        stats = {f: parent_stats[f] for f in rel if f in parent_stats}
        for f in rel:
            if f not in stats:
                s = _file_zone_map(os.path.join(root, f))
                if s:
                    stats[f] = s
        if len(rel) > CHUNK_TARGET_FILES:
            # crossing the threshold (or a large overwrite/merge):
            # move the list + zone maps out of the version file.
            # Repacks order files by zone-map min instead of path so
            # chunk-level ranges stay disjoint even after interleaved
            # streaming appends — path order only prunes when it
            # happens to correlate with the clustering column.
            ordered = sorted(rel)
            if mode == "repack-manifest":
                ordered = _repack_order(ordered, stats)
            packed = _pack_chunks(root, ordered, stats)
            own_chunks = [d["path"] for d in packed]
            body = {"chunks": packed}
        else:
            body = {"files": sorted(rel)}
            if stats:
                body["stats"] = stats
    manifest = {
        "version": version,
        "parent": parent,
        "mode": mode,
        "committed_at": time.time(),
        **body,
        **extra,
    }
    path = _manifest_path(root, version)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as e:
        # this attempt lost the race: its just-packed chunk files will
        # never be referenced by any manifest — delete them here or
        # retry loops (merge/compact/repack under contention) leak
        # files under _snapshots/chunks/ forever. The retry repacks
        # against the new head anyway.
        for rel_c in own_chunks:
            try:
                os.remove(os.path.join(root, rel_c))
            except FileNotFoundError:
                pass
        raise CommitConflict(
            f"version {version} of {root} was committed concurrently"
        ) from e
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    # advance the reader hint (write-to-tmp + atomic rename). The hint
    # is an OPTIMIZATION only — current_version probes manifests past
    # it — so a racing hint writer can at worst leave it stale by a
    # version, never wrong.
    latest = os.path.join(_snap_dir(root), _LATEST)
    try:
        with open(latest) as f:
            hint = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        hint = 0
    if hint < version:
        tmp = os.path.join(_snap_dir(root), f".{_LATEST}.tmp.{os.getpid()}")
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, latest)
    return version


def _merge_schema(parent: dict, new: dict) -> dict:
    """Additive schema evolution: the union of the parent's fields and
    the append's, parent order first, new columns appended as
    nullable. A same-name field with a DIFFERENT type raises — a type
    change silently narrows or corrupts old rows on read."""
    by_name = {f["name"]: f for f in parent["fields"]}
    out = list(parent["fields"])
    for f in new["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            out.append({**f, "nullable": True})
        elif old["type"] != f["type"]:
            raise SchemaEvolutionError(
                f"column {f['name']!r}: appended type {f['type']!r} != "
                f"declared {old['type']!r} (additive evolution only)"
            )
    return {"type": "struct", "fields": out}


def write_snapshot(
    df: DataFrame, root: str, mode: str = "overwrite", max_retries: int = 5
) -> int:
    """Commit ``df`` as the next table version. ``overwrite`` replaces
    the logical content; ``append`` adds to it (the new manifest
    carries the parent's file list plus the new files — no data is
    rewritten). Returns the committed version. Retries CommitConflict
    against the fresh head; the staged files are reused across
    retries, so a conflict costs a manifest write, not a re-write of
    data.

    Schema evolution: every commit declares the table schema in its
    manifest. Appends may ADD columns (the evolved schema is the
    field union; old rows read back as NULL in the new columns, the
    Delta/Iceberg additive default); a same-name column with a
    different type raises :class:`SchemaEvolutionError` before any
    file is referenced."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    new_schema = df.schema.jsonValue()
    if mode == "append":
        # pre-flight the evolution against the current head BEFORE
        # staging: a type-conflict append then costs zero IO. The
        # merge re-runs per retry attempt against the fresh parent,
        # so a racing evolution is still caught at commit time.
        head = current_version(root)
        if head > 0:
            head_m = read_manifest(root, head)
            if "schema" in head_m:
                _merge_schema(head_m["schema"], new_schema)
    files = stage_files(df, root)
    for _ in range(max_retries):
        parent = current_version(root)
        schema = new_schema
        if mode == "append" and parent > 0:
            parent_m = read_manifest(root, parent)
            if "schema" in parent_m:
                schema = _merge_schema(parent_m["schema"], new_schema)
        try:
            return _commit(
                root, files, mode, parent, extra={"schema": schema}
            )
        except CommitConflict:
            continue
    raise CommitConflict(
        f"could not commit to {root} after {max_retries} attempts"
    )


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """A DataFrame over exactly the files of one snapshot (latest by
    default, or any retained ``version`` — time travel). The file list
    is resolved NOW; later commits, deletes, or pointer moves do not
    change what this frame reads."""
    m = read_manifest(root, version)
    rel = manifest_files(root, m)
    if not rel:
        raise NoSuchSnapshot(f"version {m['version']} of {root} is empty")
    return _read_aligned(spark, root, rel, m)


def _read_aligned(
    spark: SparkSession, root: str, rel: list[str], m: dict
) -> DataFrame:
    """Read the manifest-relative files ``rel`` of ``root`` as the
    manifest's DECLARED schema. The reader is given the declaration
    rather than inferring one from footers, so building the frame
    launches no Spark job. Part files written before an additive
    evolution lack the newer columns, which the parquet reader fills
    with typed NULLs; footer columns the declaration does not name are
    never read. The manifest, not an arbitrary footer, is the source
    of truth — every writer keeps file types equal to the declaration.
    Pre-schema manifests read footers as-is."""
    paths = [os.path.join(root, f) for f in rel]
    if "schema" not in m:
        return spark.read.parquet(*paths)
    return spark.read.schema(StructType.fromJson(m["schema"])).parquet(*paths)


def _zone_overlaps(stat, lo, hi) -> bool:
    """Whether a file (or chunk) whose zone map for a column is
    ``stat`` can hold a value in ``[lo, hi]``; a None bound is open.
    A bound prunes only when it and both ends of the stat are ``int``
    (``bool`` is not an ``int`` here) or all ``str``: Spark coerces
    mixed numeric types through double, and parquet float stats leave
    NaN out, so any other comparison could skip a file holding a
    match. A missing stat always may hold one."""
    if stat is None:
        return True
    smin, smax = stat

    def prunes(bound) -> bool:
        return type(bound) in (int, str) and (
            type(smin) is type(smax) is type(bound)
        )

    if prunes(lo) and smax < lo:
        return False
    if prunes(hi) and smin > hi:
        return False
    return True


def version_as_of(root: str, ts: float) -> int:
    """Timestamp time travel (Delta's ``TIMESTAMP AS OF``): the newest
    RETAINED version whose commit time is <= ``ts``. Raises
    :class:`NoSuchSnapshot` when ``ts`` predates the oldest retained
    commit (vacuum may have dropped history)."""
    best = 0
    for v in snapshot_versions(root):
        if read_manifest(root, v).get("committed_at", 0.0) <= ts:
            best = max(best, v)
    if best == 0:
        raise NoSuchSnapshot(
            f"no retained version of {root} committed at or before {ts}"
        )
    return best


def read_snapshot_as_of(
    spark: SparkSession, root: str, ts: float
) -> DataFrame:
    """``read_snapshot`` at the version current as of wall-clock
    ``ts`` (epoch seconds) — what a reader at that moment saw."""
    return read_snapshot(spark, root, version_as_of(root, ts))


def read_snapshot_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Data-skipping read: a DataFrame over ONLY the snapshot's files
    whose manifest zone map for ``col`` overlaps ``[lo, hi]`` (either
    bound may be None for half-open ranges), with the exact predicate
    still applied on top — the zone map decides which files are
    scanned, Spark's pushed filter decides which ROWS survive, so a
    missing or stale stat can only cost performance, never
    correctness. Returns ``(df, info)`` with
    ``info = {"files_total", "files_read", "files_pruned"}``.

    This is the manifest-level file skipping Delta/Iceberg perform
    from add-file stats: at 100 TB a point/range query touches the
    handful of files whose min/max admit the predicate instead of
    every file in the table. Files without a recorded stat for
    ``col`` are always read (unprunable, correct).

    On a CHUNKED manifest the descriptors' range summaries are
    checked first and non-overlapping chunks are never opened, so the
    driver does O(chunks + files-in-overlapping-chunks) work — the
    ``chunks_read``/``chunks_pruned`` info keys report it."""

    m = read_manifest(root, version)
    keep: list[str] = []
    if "chunks" in m:
        files_total = manifest_n_files(m)
        chunks_read = 0
        for ch in m["chunks"]:
            if not _zone_overlaps((ch.get("ranges") or {}).get(col), lo, hi):
                continue
            chunks_read += 1
            cd = _read_chunk(root, ch["path"])
            cstats = cd.get("stats", {})
            keep.extend(
                f for f in cd["files"]
                if _zone_overlaps(cstats.get(f, {}).get(col), lo, hi)
            )
        info = {
            "files_total": files_total,
            "files_read": len(keep),
            "files_pruned": files_total - len(keep),
            "chunks_total": len(m["chunks"]),
            "chunks_read": chunks_read,
            "chunks_pruned": len(m["chunks"]) - chunks_read,
        }
    else:
        stats = m.get("stats", {})
        keep = [
            f for f in m["files"]
            if _zone_overlaps(stats.get(f, {}).get(col), lo, hi)
        ]
        info = {
            "files_total": len(m["files"]),
            "files_read": len(keep),
            "files_pruned": len(m["files"]) - len(keep),
        }
    if not keep:
        # nothing overlaps: a correctly-typed empty frame
        df = read_snapshot(spark, root, m["version"]).limit(0)
    else:
        df = _read_aligned(spark, root, keep, m)
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(col) >= F.lit(lo))
    if hi is not None:
        cond = cond & (F.col(col) <= F.lit(hi))
    return df.filter(cond), info


def _uri_to_path(uri: str) -> str:
    """``input_file_name()`` yields a URI (``file:///...`` with
    percent-encoding); manifest entries are plain relative paths —
    normalize for comparison."""
    from urllib.parse import unquote, urlparse

    if "://" in uri or uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return unquote(uri)


def _merge_candidates(
    rel: list[str], stats: dict, keys: list[str], bounds
) -> list[str]:
    """The files a merge source with per-key ``bounds`` (a row holding
    ``_lo_<key>``/``_hi_<key>``) can match: those whose zone map admits
    the source's range on EVERY key. A NULL bound means the source has
    no row with that key set (it is empty or all-NULL there), and NULL
    keys never equi-join, so no file is a candidate."""
    rng = [(k, bounds[f"_lo_{k}"], bounds[f"_hi_{k}"]) for k in keys]
    if any(lo is None for _, lo, _ in rng):
        return []
    return [
        f for f in rel
        if all(
            _zone_overlaps(stats.get(f, {}).get(k), lo, hi)
            for k, lo, hi in rng
        )
    ]


_INT_RANK = {ByteType: 0, ShortType: 1, IntegerType: 2, LongType: 3}


def _as_declared(name: str, have: DataType, want: DataType) -> Column:
    """Source column ``name`` of type ``have`` as the declared type
    ``want``, for a merge to write. Only exact conversions pass:
    integral and float-to-double widening, and integral narrowing
    guarded so a value out of the declared range fails the merge
    instead of wrapping. Every other type difference (double to int
    truncates, timestamp to date drops the time) raises
    :class:`SchemaEvolutionError` before any file is read, as an
    append with a changed type does."""
    c = F.col(name)
    if have == want:
        return c
    h, w = type(have), type(want)
    if h in _INT_RANK and w in _INT_RANK:
        if _INT_RANK[h] < _INT_RANK[w]:
            return c.cast(want).alias(name)
        top = 2 ** ((8 << _INT_RANK[w]) - 1) - 1
        out_of_range = F.raise_error(
            F.lit(f"merge source column {name!r} holds a value outside "
                  f"declared {want.simpleString()!r}")
        )
        return (
            F.when(~c.between(-top - 1, top), out_of_range)
            .otherwise(c.cast(want))
            .alias(name)
        )
    if (h, w) == (FloatType, DoubleType):
        return c.cast(want).alias(name)
    raise SchemaEvolutionError(
        f"merge source column {name!r}: type {have.simpleString()!r} "
        f"does not convert exactly to declared {want.simpleString()!r}"
    )


def merge_snapshot(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    delete_predicate: str | None = None,
    insert_unmatched: bool = True,
    max_retries: int = 5,
) -> dict:
    """MERGE INTO for snapshot tables — the file-pruned copy-on-write
    shape of the open table formats (Delta/Iceberg CoW MERGE, both
    public designs): matched target rows are REPLACED by their source
    row, source rows satisfying ``delete_predicate`` are dropped
    (matched → delete; unmatched → not inserted, the ``WHEN NOT
    MATCHED AND NOT <pred> THEN INSERT`` gate), and remaining unmatched
    source rows insert when ``insert_unmatched``.

    Scale shape: one small aggregate computes the source's per-key
    min/max, and only the files whose manifest zone maps overlap that
    range on every key are scanned (``files_scanned``); every other
    file is carried forward without being opened. Among the scanned
    files, only those that CONTAIN a matched key are rewritten. The
    touched-file set comes from a key-only join against
    ``input_file_name()`` — the exchange carries (key, path), never row
    bodies — so at 100 TB a merge over a clustered key range scans and
    rewrites a handful of files while every other manifest entry is
    carried forward verbatim (zero data movement). A file without a
    zone map is always scanned, so a missing stat costs time, never
    correctness. Commit is the same O(files) atomic manifest as every
    other write; a ``CommitConflict`` reruns the merge against the
    fresh head (optimistic concurrency, staged files are re-derived
    because the touched set may have changed).

    The source may carry extra bookkeeping columns (a CDC ``_op``
    flag, change timestamps) — ``delete_predicate`` can reference
    them, and written rows are projected to the TARGET's declared
    columns and converted to its declared types, so merge-written
    files always match the manifest. A source MISSING a target column
    fails loudly, and so does a source type that does not convert
    exactly (see ``_as_declared``).

    Returns ``{"version", "files_kept", "files_rewritten",
    "n_files_new", "files_scanned"}``.
    """
    bounds = None
    for _ in range(max_retries):
        parent = current_version(root)
        m = read_manifest(root, parent)
        all_rel = manifest_files(root, m)
        tgt_schema = (
            StructType.fromJson(m["schema"])
            if "schema" in m
            else _read_aligned(spark, root, all_rel, m).schema
        )
        missing = [c for c in tgt_schema.names if c not in source.columns]
        if missing:
            raise ValueError(
                f"merge source is missing target columns {missing}"
            )
        src_types = {f.name: f.dataType for f in source.schema}
        written = [
            _as_declared(f.name, src_types[f.name], f.dataType)
            for f in tgt_schema
        ]
        src_keys = source.select(*keys)
        if bounds is None:
            bounds = source.agg(
                *[F.min(k).alias(f"_lo_{k}") for k in keys],
                *[F.max(k).alias(f"_hi_{k}") for k in keys],
            ).collect()[0]
        scan_rel = _merge_candidates(
            all_rel, manifest_stats(root, m), keys, bounds
        )
        touched_paths = set()
        if scan_rel:
            touched_paths = {
                os.path.realpath(_uri_to_path(r["_f"]))
                for r in _read_aligned(spark, root, scan_rel, m)
                .select(*keys, F.input_file_name().alias("_f"))
                .join(src_keys, keys, "left_semi")
                .select("_f")
                .distinct()
                .collect()
            }
        manifest_by_real = {
            os.path.realpath(os.path.join(root, f)): f for f in all_rel
        }
        # every touched path MUST resolve to a manifest entry; if URI
        # normalization ever diverges (non-local storage, symlinked
        # roots, scheme differences) the semi-join would find matched
        # keys while touched_rel stayed empty, and matched source rows
        # would silently INSERT next to the surviving old rows —
        # duplicate keys with no error. Fail loudly instead.
        unresolved = touched_paths - set(manifest_by_real)
        if unresolved:
            raise RuntimeError(
                "merge_snapshot: input_file_name() paths did not resolve "
                f"to manifest entries of {root}: {sorted(unresolved)[:3]} "
                f"(+{max(0, len(unresolved) - 3)} more); refusing to "
                "continue — proceeding would duplicate matched keys"
            )
        touched = {manifest_by_real[p] for p in touched_paths}
        kept_rel = [f for f in all_rel if f not in touched]
        touched_rel = [f for f in all_rel if f in touched]
        src_live = (
            source.filter(~F.expr(delete_predicate))
            if delete_predicate
            else source
        ).select(*written)
        if touched_rel:
            touched_rows = _read_aligned(spark, root, touched_rel, m)
            survivors = touched_rows.join(src_keys, keys, "left_anti")
            # with inserts on, the source rows that match a touched key
            # and those that do not add up to exactly src_live, so that
            # side needs no join against the touched keys
            if insert_unmatched:
                new_data = survivors.unionByName(src_live)
            else:
                new_data = survivors.unionByName(
                    src_live.join(touched_rows.select(*keys), keys, "left_semi")
                )
        elif insert_unmatched:
            new_data = src_live
        else:
            new_data = None
        new_files = (
            stage_files(new_data, root) if new_data is not None else []
        )
        files = [os.path.join(root, f) for f in kept_rel] + new_files
        try:
            version = _commit(
                root, files, "merge", parent,
                extra={"merge_keys": keys},
            )
        except CommitConflict:
            continue
        return {
            "version": version,
            "files_kept": len(kept_rel),
            "files_rewritten": len(touched_rel),
            "n_files_new": len(new_files),
            "files_scanned": len(scan_rel),
        }
    raise CommitConflict(
        f"could not merge into {root} after {max_retries} attempts"
    )


def read_increment(
    spark: SparkSession, root: str, from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental consumption of an append-only snapshot table — the
    CDC-read side of the lakehouse: a DataFrame over exactly the data
    files ``to_version`` references that ``from_version`` does not
    (``from_version = 0`` means everything). A downstream job
    checkpoints the version it has consumed and reads only the delta
    next run — O(new files) regardless of table size, the same
    file-set diff Delta's ``readChangeFeed``/Structured Streaming
    sources perform on append-only tables. Raises if a non-append
    commit (overwrite/merge/compact REMOVES files) sits between the
    two versions: removed files mean the delta is not expressible as
    new-files-only, and silently returning additions would drop
    retractions."""
    to_v = current_version(root) if to_version is None else to_version
    base = (
        set(manifest_files(root, read_manifest(root, from_version)))
        if from_version > 0
        else set()
    )
    new_m = read_manifest(root, to_v)
    new_files = manifest_files(root, new_m)
    missing = base - set(new_files)
    if missing:
        raise ValueError(
            f"versions {from_version}→{to_v} of {root} removed "
            f"{len(missing)} file(s) (a non-append commit) — the "
            "increment is not expressible as new files only"
        )
    added = [f for f in new_files if f not in base]
    if not added:  # same-schema empty frame, not None/raise
        return read_snapshot(spark, root, to_v).limit(0)
    # align to to_version's declared schema: increments spanning an
    # additive evolution read older added files with typed NULLs in
    # the new columns, same as a full-snapshot read would
    return _read_aligned(spark, root, added, new_m)


def compact_snapshot(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: tuple[str, ...] = (),
    max_retries: int = 5,
) -> dict:
    """Small-file compaction as a TRANSACTION (the OPTIMIZE step of the
    open table formats): rewrite the current snapshot's rows into
    ~``target_file_bytes`` files (optionally clustered so min/max
    stats prune row groups) and commit the rewritten file list as the
    next version. Logical content is unchanged; readers of the old
    version are untouched (their files are immutable until ``vacuum``)
    and a concurrent commit simply wins the race — the compactor
    retries against the new head. Streaming snapshot sinks append one
    small commit per micro-batch; at 100 TB this is what keeps scan
    cost O(data), not O(commits)."""
    for _ in range(max_retries):
        parent = current_version(root)
        m = read_manifest(root, parent)
        rel = manifest_files(root, m)
        bytes_total = sum(
            os.path.getsize(p)
            for p in (os.path.join(root, f) for f in rel)
            if os.path.exists(p)
        )
        n_out = max(1, -(-bytes_total // target_file_bytes))
        # the declared schema, not the first footer's: files written
        # before an additive evolution would otherwise decide the
        # column set and drop the newer columns' values
        df = _read_aligned(spark, root, rel, m).repartition(int(n_out))
        if sort_within_by:
            df = df.sortWithinPartitions(*sort_within_by)
        new_files = stage_files(df, root)
        try:
            version = _commit(root, new_files, "compact", parent)
        except CommitConflict:
            continue
        return {
            "version": version,
            "files_before": len(rel),
            "files_after": len(new_files),
            "bytes_total": bytes_total,
        }
    raise CommitConflict(
        f"could not compact {root} after {max_retries} attempts"
    )


def repack_manifests(root: str, max_retries: int = 5) -> dict:
    """Metadata-only manifest compaction (Iceberg's rewrite-manifests):
    a table fed by per-micro-batch appends accumulates one small chunk
    descriptor per commit — after 10⁴ batches the version file itself
    is O(commits). Repack reads the current file list + zone maps,
    rewrites them as optimally-packed chunk files (or back inline under
    the threshold), and commits a new version naming the SAME data
    files: zero data movement, O(files) metadata work, and every chunk
    descriptor afterwards covers CHUNK_TARGET_FILES entries. Readers of
    old versions are untouched; vacuum reaps the superseded chunk
    files once their manifests age out."""
    for _ in range(max_retries):
        parent = current_version(root)
        m = read_manifest(root, parent)
        files = [os.path.join(root, f) for f in manifest_files(root, m)]
        n_before = len(m.get("chunks", []))
        try:
            version = _commit(root, files, "repack-manifest", parent)
        except CommitConflict:
            continue
        new_m = read_manifest(root, version)
        return {
            "version": version,
            "n_files": manifest_n_files(new_m),
            "chunks_before": n_before,
            "chunks_after": len(new_m.get("chunks", [])),
        }
    raise CommitConflict(
        f"could not repack manifests of {root} after {max_retries} attempts"
    )


def snapshot_versions(root: str) -> list[int]:
    try:
        names = os.listdir(_snap_dir(root))
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:-5]) for n in names
        if n.startswith("v") and n.endswith(".json")
    )


def vacuum(
    root: str,
    keep_last: int = 2,
    retention_seconds: float = 600.0,
    min_age_seconds: float = 0.0,
) -> dict:
    """Drop manifests beyond the newest ``keep_last`` and delete data
    files no retained manifest references. Safe order: manifests go
    first (so a crash can only leave orphan DATA files, which are
    invisible, never a manifest naming missing files).

    ``retention_seconds`` is the ORPHAN-file grace window (the guard
    Iceberg's ``remove_orphan_files older_than`` provides): a
    concurrent writer stages files under ``data/<uuid>/`` BEFORE its
    manifest exists, so a file referenced by NO manifest at all and
    younger than the window is presumed to be an in-flight commit and
    skipped — deleting it would leave the winner's manifest naming
    missing files, breaking this module's core invariant. Files
    referenced by a DROPPED manifest are committed history and are
    deleted regardless of age. Pass ``0`` only when the caller can
    guarantee no concurrent writer (single-writer vacuum).

    ``min_age_seconds`` is the TIME-TRAVEL grace window (Iceberg's
    ``expire_snapshots older_than``): a manifest younger than it
    survives even beyond ``keep_last``, so an in-flight reader that
    pinned a recent version (or an ``as-of`` query inside the window)
    never loses its files to a concurrent vacuum. ``0`` keeps the
    count-only behavior."""
    versions = snapshot_versions(root)
    drop = versions[:-keep_last] if keep_last else list(versions)
    if min_age_seconds > 0:
        cutoff = time.time() - min_age_seconds
        aged = []
        for v in drop:
            try:
                if os.path.getmtime(_manifest_path(root, v)) <= cutoff:
                    aged.append(v)
            except FileNotFoundError:
                # a concurrent vacuum already took it — it must not
                # land in `keep` either (reading it would raise), so
                # drop it from consideration entirely
                versions.remove(v)
        drop = aged
    dropset = set(drop)
    keep = [v for v in versions if v not in dropset]
    referenced: set[str] = set()
    referenced_chunks: set[str] = set()
    for v in list(keep):
        try:
            m = read_manifest(root, v)
        except NoSuchSnapshot:
            keep.remove(v)  # lost to a concurrent vacuum mid-listing
            continue
        referenced.update(manifest_files(root, m))
        referenced_chunks.update(manifest_chunk_paths(m))
    dropped_referenced: set[str] = set()
    dropped_chunks: set[str] = set()
    for v in list(drop):
        try:
            m = read_manifest(root, v)
        except NoSuchSnapshot:
            drop.remove(v)  # concurrent vacuum got there first
            continue
        dropped_referenced.update(manifest_files(root, m))
        dropped_chunks.update(manifest_chunk_paths(m))
    for v in drop:
        try:
            os.remove(_manifest_path(root, v))
        except FileNotFoundError:
            pass  # racing vacuum removed it between read and unlink
    # chunk files shared with a retained manifest survive (appends
    # carry descriptors verbatim across versions); the rest of the
    # dropped manifests' chunks are unreachable history
    for rel in dropped_chunks - referenced_chunks:
        try:
            os.remove(os.path.join(root, rel))
        except FileNotFoundError:
            pass
    # orphan chunks: packed by a commit attempt that crashed between
    # pack and manifest create (losers of the O_EXCL race clean up
    # after themselves in _commit, but a hard crash can't). Same
    # grace-window rule as in-flight data files: an unreferenced chunk
    # younger than retention may belong to a commit about to land.
    removed_orphan_chunks = 0
    chunk_dir = os.path.join(_snap_dir(root), _CHUNK_DIR)
    now0 = time.time()
    if os.path.isdir(chunk_dir):
        for fn in os.listdir(chunk_dir):
            rel = os.path.join(_SNAP_DIR, _CHUNK_DIR, fn)
            if rel in referenced_chunks or rel in dropped_chunks:
                continue
            p = os.path.join(root, rel)
            try:
                if now0 - os.path.getmtime(p) < retention_seconds:
                    continue
                os.remove(p)
            except FileNotFoundError:
                continue
            removed_orphan_chunks += 1
    removed_files = skipped_in_flight = 0
    now = time.time()
    data_root = os.path.join(root, "data")
    for r, _, files in os.walk(data_root):
        for fn in files:
            p = os.path.join(r, fn)
            rel = os.path.relpath(p, root)
            if rel in referenced:
                continue
            if rel not in dropped_referenced:
                # referenced by NO manifest → possibly a concurrent
                # writer's in-flight stage; only reap once it has
                # outlived the grace window
                try:
                    age = now - os.path.getmtime(p)
                except FileNotFoundError:
                    continue  # racing writer renamed/removed it
                if age < retention_seconds:
                    skipped_in_flight += 1
                    continue
            try:
                os.remove(p)
            except FileNotFoundError:
                continue
            removed_files += 1
    # prune now-empty commit dirs
    for r, dirs, files in list(os.walk(data_root, topdown=False)):
        if r != data_root and not dirs and not files:
            os.rmdir(r)
    return {
        "dropped_versions": drop,
        "kept_versions": keep,
        "removed_files": removed_files,
        "removed_orphan_chunks": removed_orphan_chunks,
        "skipped_in_flight": skipped_in_flight,
    }


def maintain_snapshot(
    root: str,
    keep_last: int = 2,
    retention_seconds: float = 600.0,
    min_age_seconds: float = 0.0,
    chunk_slack: float = 2.0,
) -> dict:
    """The self-maintenance policy a streaming-append table runs on a
    schedule (one CLI call per cron tick): repack fragmented manifests,
    then age-safe vacuum.

    Repack triggers only when the chunk-descriptor count exceeds
    ``chunk_slack`` × the optimal packing (ceil(n_files /
    CHUNK_TARGET_FILES)) — per-micro-batch appends add one small chunk
    per commit, so a busy sink drifts toward O(commits) descriptors;
    a freshly-packed or low-traffic table is left untouched (repack is
    metadata-only but still a commit, and a no-op commit would churn
    the history vacuum is trying to bound). Vacuum then expires
    history beyond ``keep_last`` versions AND ``min_age_seconds`` age,
    with the ``retention_seconds`` in-flight-file grace window.
    Everything is metadata + file ops — no SparkSession, so the policy
    can run from a sidecar with no executor cost. A table with no
    committed snapshots yet (the cron tick firing before the first
    write lands) is a clean no-op, not a crash."""
    try:
        m = read_manifest(root)
    except NoSuchSnapshot:
        return {
            "repacked": None,
            "chunks_current": 0,
            "chunks_optimal": 0,
            "vacuum": {
                "dropped_versions": [],
                "kept_versions": [],
                "removed_files": 0,
                "removed_orphan_chunks": 0,
                "skipped_in_flight": 0,
            },
        }
    n_files = manifest_n_files(m)
    n_chunks = len(m.get("chunks", []))
    optimal = max(1, -(-n_files // CHUNK_TARGET_FILES)) if n_files else 1
    repacked = None
    if n_chunks > optimal * chunk_slack:
        repacked = repack_manifests(root)
    vac = vacuum(
        root,
        keep_last=keep_last,
        retention_seconds=retention_seconds,
        min_age_seconds=min_age_seconds,
    )
    return {
        "repacked": repacked,
        "chunks_current": n_chunks,
        "chunks_optimal": optimal,
        "vacuum": vac,
    }
