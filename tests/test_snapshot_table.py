"""Manifest-pointer snapshot tables (sources/snapshot_table.py):
transactional semantics over plain parquet — atomic commits, snapshot
isolation for concurrent readers, time travel, optimistic writer
concurrency, vacuum — and the WAP/delete family running on the
snapshot backend next to the default directory-swap backend."""

from __future__ import annotations

import contextlib
import json
import os
import types

import pytest

from pyspark.sql import functions as F

from website_traffic_etl_gcp_spark.sources import snapshot_table as st
from website_traffic_etl_gcp_spark.sources import writers

from .conftest import spark_jobs


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


@contextlib.contextmanager
def _data_dirs(monkeypatch, *names):
    """Stage the next commits under ``data/<name>/`` in the given
    order, so a test decides which commit's footers sort first."""
    it = iter(names)
    with monkeypatch.context() as mp:
        mp.setattr(
            st, "uuid",
            types.SimpleNamespace(
                uuid4=lambda: types.SimpleNamespace(hex=next(it))
            ),
        )
        yield


def test_commit_read_overwrite_append(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = st.write_snapshot(_df(spark, 0, 5), root)
    assert v1 == 1
    assert st.read_snapshot(spark, root).count() == 5

    v2 = st.write_snapshot(_df(spark, 5, 8), root, mode="append")
    assert v2 == 2
    assert st.read_snapshot(spark, root).count() == 8

    v3 = st.write_snapshot(_df(spark, 100, 102), root, mode="overwrite")
    assert v3 == 3
    got = sorted(r["k"] for r in st.read_snapshot(spark, root).collect())
    assert got == [100, 101]


def test_time_travel(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    st.write_snapshot(_df(spark, 0, 10), root)
    assert st.read_snapshot(spark, root, version=1).count() == 3
    assert st.read_snapshot(spark, root, version=2).count() == 10
    assert st.snapshot_versions(root) == [1, 2]


def test_reader_isolation_across_commits(spark, tmp_path):
    """The core property the directory swap lacks: a frame resolved
    against version N keeps returning version N's rows after
    overwrites commit — its files are immutable and still on disk."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 4), root)
    reader = st.read_snapshot(spark, root)  # resolves v1's file list
    assert reader.count() == 4

    st.write_snapshot(_df(spark, 0, 99), root, mode="overwrite")
    # new readers see the new version; the old frame is undisturbed
    assert st.read_snapshot(spark, root).count() == 99
    assert reader.count() == 4
    assert sorted(r["k"] for r in reader.collect()) == [0, 1, 2, 3]


def test_commit_conflict_loser_retries(spark, tmp_path):
    """Optimistic concurrency: pre-create the manifest a committer
    wants (simulating a racing writer landing first) — the public
    write_snapshot retries against the fresh head and lands at the
    next version."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 2), root)
    files = st.stage_files(_df(spark, 2, 4), root)
    with pytest.raises(st.CommitConflict):
        st._commit(root, files, "append", parent=0)  # v1 already exists
    v = st.write_snapshot(_df(spark, 2, 4), root, mode="append")
    assert v == 2
    assert st.read_snapshot(spark, root).count() == 4


def test_stale_pointer_hint_is_not_trusted(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 2), root)
    st.write_snapshot(_df(spark, 0, 5), root)
    hint = os.path.join(root, "_snapshots", "_latest")
    with open(hint, "w") as f:
        f.write("1")  # lagging hint
    assert st.current_version(root) == 2
    assert st.read_snapshot(spark, root).count() == 5


def test_vacuum_keeps_referenced_files_only(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    st.write_snapshot(_df(spark, 0, 6), root)
    st.write_snapshot(_df(spark, 0, 9), root)
    out = st.vacuum(root, keep_last=2)
    assert out["dropped_versions"] == [1]
    assert out["kept_versions"] == [2, 3]
    assert out["removed_files"] > 0
    # retained versions still read; dropped one is gone
    assert st.read_snapshot(spark, root, version=2).count() == 6
    assert st.read_snapshot(spark, root).count() == 9
    with pytest.raises(st.NoSuchSnapshot):
        st.read_snapshot(spark, root, version=1)


def _rules():
    # Column construction needs the active session's context — build
    # per-test, not at collection time
    return {"v_nonneg": F.col("v") < 0}


@pytest.mark.parametrize("backend", ["swap", "snapshot"])
def test_wap_publish_both_backends(spark, tmp_path, backend):
    root = str(tmp_path / f"wap_{backend}")
    out = writers.write_audit_publish(
        _df(spark, 0, 7), root, _rules(), unique_keys=("k",), backend=backend
    )
    assert out["published"] is True
    assert out["n_rows"] == 7
    read = (
        st.read_snapshot(spark, root)
        if backend == "snapshot"
        else spark.read.parquet(root)
    )
    assert read.count() == 7


def test_wap_publish_declares_the_published_schema(spark, tmp_path):
    """A WAP overwrite of a snapshot table declares its own schema
    instead of inheriting the replaced version's, so a column the old
    version lacked reads back."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    wider = _df(spark, 0, 4).withColumn("z", F.lit("x"))
    out = writers.write_audit_publish(wider, root, _rules(), backend="snapshot")
    assert out["version"] == 2
    head = st.read_snapshot(spark, root)
    assert head.columns == ["k", "v", "z"]
    assert [r["z"] for r in head.collect()] == ["x"] * 4


@pytest.mark.parametrize("backend", ["swap", "snapshot"])
def test_wap_abort_leaves_live_table_untouched(spark, tmp_path, backend):
    root = str(tmp_path / f"wap_{backend}")
    writers.write_audit_publish(
        _df(spark, 0, 5), root, _rules(), backend=backend
    )
    bad = _df(spark, 0, 3).withColumn("v", F.lit(-1))
    out = writers.write_audit_publish(bad, root, _rules(), backend=backend)
    assert out["published"] is False
    read = (
        st.read_snapshot(spark, root)
        if backend == "snapshot"
        else spark.read.parquet(root)
    )
    assert read.count() == 5  # the failed write is invisible
    if backend == "snapshot":
        assert st.snapshot_versions(root) == [1]
        # aborted staging files were reaped
        data_dirs = os.listdir(os.path.join(root, "data"))
        assert len(data_dirs) == 1


def test_snapshot_delete_preserves_history(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)
    out = writers.delete_rows(
        spark, root, "k >= 7", backend="snapshot"
    )
    assert out == {
        "rows_before": 10, "rows_deleted": 3, "rows_after": 7, "version": 2,
    }
    assert st.read_snapshot(spark, root).count() == 7
    # pre-delete version is still auditable until vacuumed
    assert st.read_snapshot(spark, root, version=1).count() == 10


def test_streaming_snapshot_sink_exactly_once(spark, tmp_path):
    """streaming/snapshot_sink.py: availableNow drain commits batches
    with batch_id manifests; a second drain over the same checkpoint
    adds nothing, and a direct replay of an already-committed batch_id
    no-ops (write-success/checkpoint-fail retry scenario)."""
    from website_traffic_etl_gcp_spark.streaming import snapshot_sink as sk
    from website_traffic_etl_gcp_spark.catalog import load_table, table_path
    from website_traffic_etl_gcp_spark.streaming.rollups import (
        stream_source_dir,
    )
    from tests.conftest import SF_DIR

    out_root = str(tmp_path / "snap_events")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(table_path(SF_DIR, "events")).schema
    src = stream_source_dir(SF_DIR, "events")

    v = sk.run_stream_to_snapshot(spark, src, schema, out_root, ckpt)
    expected = load_table(spark, SF_DIR, "events").count()
    assert st.read_snapshot(spark, out_root).count() == expected
    assert sk.committed_batch_ids(out_root) != set()

    # re-run with the same checkpoint: the source yields no new files,
    # no new commits land
    v2 = sk.run_stream_to_snapshot(spark, src, schema, out_root, ckpt)
    assert v2 == v
    assert st.read_snapshot(spark, out_root).count() == expected

    # at-least-once replay: call the sink again with a committed
    # batch_id — must no-op, not double-append
    writer = sk.snapshot_batch_writer(out_root)
    replay_id = next(iter(sk.committed_batch_ids(out_root)))
    writer(load_table(spark, SF_DIR, "events").limit(5), replay_id)
    assert st.read_snapshot(spark, out_root).count() == expected
    # and a NEW batch_id appends exactly its rows
    writer(load_table(spark, SF_DIR, "events").limit(5), 10_001)
    assert st.read_snapshot(spark, out_root).count() == expected + 5


def test_merge_update_insert_delete(spark, tmp_path):
    """merge_snapshot: matched rows are replaced by the source row,
    delete_predicate rows never survive (matched → delete, unmatched →
    not inserted), other unmatched source rows insert."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)
    source = spark.createDataFrame(
        [
            (3, 333, "upsert"),   # matched → replace
            (5, 555, "upsert"),   # matched → replace
            (7, 0, "delete"),     # matched → delete
            (100, 1000, "upsert"),  # unmatched → insert
            (200, 0, "delete"),   # unmatched delete → no-op
        ],
        "k long, v long, _op string",
    ).select("k", "v", "_op")
    res = st.merge_snapshot(
        spark, root, source.select("k", "v", "_op"), ["k"],
        delete_predicate="_op = 'delete'",
    )
    assert res["version"] == 2
    got = {
        r["k"]: r["v"]
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    }
    expected = {k: k * 10 for k in range(10) if k != 7}
    expected.update({3: 333, 5: 555, 100: 1000})
    assert got == expected
    # time travel still sees the pre-merge table
    assert st.read_snapshot(spark, root, version=1).count() == 10


def test_merge_source_missing_target_column_fails(spark, tmp_path):
    """Extra source columns (CDC bookkeeping) are allowed and dropped
    on write; a source MISSING a target column fails loudly."""
    import pytest as _pytest

    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 4), root)
    bad = spark.createDataFrame([(1,)], "k long")
    with _pytest.raises(ValueError, match="missing target columns"):
        st.merge_snapshot(spark, root, bad, ["k"])


def test_merge_prunes_untouched_files(spark, tmp_path):
    """The copy-on-write contract: data files containing no matched key
    are carried into the new manifest VERBATIM (same paths, no
    rewrite)."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 5), root)                  # v1 files
    st.write_snapshot(_df(spark, 100, 105), root, mode="append")  # v2 adds
    v1_files = set(st.read_manifest(root, 1)["files"])
    v2_files = set(st.read_manifest(root, 2)["files"])
    # source touches only the 100-range keys → every v1 file is kept
    source = spark.createDataFrame([(101, -1), (103, -3)], "k long, v long")
    res = st.merge_snapshot(spark, root, source, ["k"])
    v3_files = set(st.read_manifest(root, 3)["files"])
    assert v1_files <= v3_files, "untouched files were not carried forward"
    assert res["files_kept"] >= len(v1_files)
    assert res["files_rewritten"] >= 1
    assert res["files_rewritten"] <= len(v2_files - v1_files)
    got = {
        r["k"]: r["v"]
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    }
    expected = {k: k * 10 for k in range(5)}
    expected.update({k: k * 10 for k in range(100, 105)})
    expected.update({101: -1, 103: -3})
    assert got == expected


def test_merge_no_matches_insert_only(spark, tmp_path):
    """With no key overlap the merge rewrites ZERO files — the new
    manifest is old files + one staged insert commit."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 4), root)
    res = st.merge_snapshot(
        spark, root, _df(spark, 50, 52), ["k"]
    )
    assert res["files_rewritten"] == 0
    assert st.read_snapshot(spark, root).count() == 6


def test_merge_insert_unmatched_false(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 4), root)
    st.merge_snapshot(
        spark, root, _df(spark, 50, 52), ["k"], insert_unmatched=False
    )
    assert st.read_snapshot(spark, root).count() == 4


def test_merge_replay_is_content_idempotent(spark, tmp_path):
    """The CDC-sink property: re-applying the same merge batch (an
    at-least-once redelivery) commits a new version with IDENTICAL
    content — replaces rewrite equal values, deletes no-op, inserts
    re-match as replaces."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)
    source = spark.createDataFrame(
        [(2, 222, "upsert"), (3, 0, "delete"), (50, 500, "upsert")],
        "k long, v long, _op string",
    )
    st.merge_snapshot(spark, root, source, ["k"], delete_predicate="_op = 'delete'")
    first = sorted(
        (r["k"], r["v"])
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    )
    st.merge_snapshot(spark, root, source, ["k"], delete_predicate="_op = 'delete'")
    second = sorted(
        (r["k"], r["v"])
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    )
    assert first == second
    assert st.snapshot_versions(root) == [1, 2, 3]


def test_compact_snapshot_preserves_content_and_history(spark, tmp_path):
    """Compaction is a transaction: many small append commits rewrite
    into few files as a NEW version with identical logical content;
    the pre-compaction version stays time-travelable until vacuum."""
    root = str(tmp_path / "t")
    for i in range(5):
        st.write_snapshot(
            _df(spark, i * 10, i * 10 + 10).repartition(3),
            root, mode="append",
        )
    before = set(st.read_manifest(root, 5)["files"])
    assert len(before) >= 10  # many small files
    out = st.compact_snapshot(spark, root)
    assert out["version"] == 6
    assert out["files_after"] < out["files_before"]
    got = sorted(
        (r["k"], r["v"])
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    )
    assert got == [(k, k * 10) for k in range(50)]
    # old version still reads its original files
    assert st.read_snapshot(spark, root, version=5).count() == 50
    # vacuum reaps the pre-compaction files
    st.vacuum(root, keep_last=1)
    assert st.read_snapshot(spark, root).count() == 50
    with pytest.raises(st.NoSuchSnapshot):
        st.read_snapshot(spark, root, version=5)


def test_merge_conflict_retries_against_new_head(spark, tmp_path, monkeypatch):
    """A writer landing between the merge's read and its commit must
    not be lost: the merge retries and re-derives against the fresh
    head (here the interloper appends key 200 mid-merge; the final
    table carries BOTH the merge's effect and the appended row)."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 5), root)

    real_commit = st._commit
    hits = {"n": 0}

    def racing_commit(r, files, mode, parent, extra=None):
        if hits["n"] == 0 and mode == "merge":
            hits["n"] += 1
            # interloper commits first — the merge's parent is stale
            st.write_snapshot(_df(spark, 200, 201), root, mode="append")
        return real_commit(r, files, mode, parent, extra)

    monkeypatch.setattr(st, "_commit", racing_commit)
    res = st.merge_snapshot(
        spark, root, spark.createDataFrame([(2, 222)], "k long, v long"),
        ["k"],
    )
    assert hits["n"] == 1
    assert res["version"] == 3  # v2 = interloper, v3 = retried merge
    got = {
        r["k"]: r["v"]
        for r in st.read_snapshot(spark, root).select("k", "v").collect()
    }
    expected = {k: k * 10 for k in range(5)}
    expected.update({2: 222, 200: 2000})
    assert got == expected


def test_read_increment_appends_only(spark, tmp_path):
    """read_increment: exactly the rows the later version's NEW files
    carry; empty delta is a same-schema empty frame; a non-append
    commit in between raises instead of dropping retractions."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 5), root, mode="append")
    st.write_snapshot(_df(spark, 5, 12), root, mode="append")
    inc = st.read_increment(spark, root, from_version=1, to_version=2)
    assert sorted(r["k"] for r in inc.collect()) == list(range(5, 12))
    # from 0 = everything
    assert st.read_increment(spark, root, 0, 2).count() == 12
    # no new commits → empty frame, schema intact
    same = st.read_increment(spark, root, from_version=2)
    assert same.count() == 0 and same.columns == ["k", "v"]

    st.write_snapshot(_df(spark, 100, 101), root, mode="overwrite")
    with pytest.raises(ValueError, match="non-append"):
        st.read_increment(spark, root, from_version=1)
    # but reading from AFTER the overwrite works again
    st.write_snapshot(_df(spark, 200, 203), root, mode="append")
    inc2 = st.read_increment(spark, root, from_version=3)
    assert sorted(r["k"] for r in inc2.collect()) == [200, 201, 202]


def test_vacuum_spares_in_flight_staged_files(spark, tmp_path):
    """The r8 advisory hazard: a concurrent writer stages data files
    BEFORE its manifest exists; vacuum must not reap them (the
    winner's manifest would name missing files). Orphans younger than
    the retention window survive; a single-writer vacuum
    (retention 0) reaps them."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    st.write_snapshot(_df(spark, 0, 6), root)
    staged = st.stage_files(_df(spark, 100, 104), root)  # no commit yet
    out = st.vacuum(root, keep_last=1)
    assert all(os.path.exists(p) for p in staged), "in-flight stage reaped"
    assert out["skipped_in_flight"] >= len(staged)
    # the staged writer can still commit: its manifest names only
    # files that exist
    v = st._commit(root, staged, "append", st.current_version(root))
    assert st.read_snapshot(spark, root, version=v).count() == 6 + 4
    # explicit single-writer vacuum with no grace window reaps true
    # orphans (stage then abandon)
    orphans = st.stage_files(_df(spark, 200, 202), root)
    st.vacuum(root, keep_last=1, retention_seconds=0.0)
    assert not any(os.path.exists(p) for p in orphans)


def test_sink_replay_after_vacuum_no_duplicate(spark, tmp_path):
    """The r8 advisory hazard on the streaming sink: vacuum drops the
    manifest that recorded an old batch_id, so the per-manifest scan
    alone forgets it — the carried-forward high-water mark must still
    block a late foreachBatch replay from double-appending."""
    from website_traffic_etl_gcp_spark.streaming import snapshot_sink as sk

    root = str(tmp_path / "t")
    writer = sk.snapshot_batch_writer(root)
    for bid in (0, 1, 2):
        writer(_df(spark, bid * 5, bid * 5 + 5), bid)
    assert st.read_snapshot(spark, root).count() == 15
    st.vacuum(root, keep_last=1)
    # the scan alone HAS forgotten batches 0 and 1...
    assert 0 not in sk.committed_batch_ids(root)
    # ...but the high-water mark survives in the retained manifest
    assert sk.batch_high_water(root) == 2
    writer(_df(spark, 0, 5), 0)  # late replay of a vacuumed batch
    writer(_df(spark, 5, 10), 1)
    assert st.read_snapshot(spark, root).count() == 15, "replay re-landed"
    # genuinely new batches still append
    writer(_df(spark, 15, 18), 3)
    assert st.read_snapshot(spark, root).count() == 18


def test_merge_fails_loudly_on_unresolvable_paths(spark, tmp_path, monkeypatch):
    """The r8 advisory hazard on MERGE: if input_file_name() URIs stop
    realpath-matching manifest entries (storage scheme change,
    symlinked roots), matched source rows would silently INSERT next
    to the surviving old rows. The merge must refuse instead."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10), root)
    source = _df(spark, 5, 8)  # keys 5..7 match
    monkeypatch.setattr(
        st, "_uri_to_path",
        lambda uri: "/nonexistent/" + os.path.basename(uri),
    )
    with pytest.raises(RuntimeError, match="did not resolve"):
        st.merge_snapshot(spark, root, source, ["k"])


def test_schema_evolution_additive_append(spark, tmp_path):
    """Additive evolution (the Delta/Iceberg mergeSchema default):
    appending a frame with a NEW column widens the declared schema;
    old rows read back as typed NULLs in the new column, at every
    version the column exists, while time travel to the pre-evolution
    version still shows the original two-column schema."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    wide = _df(spark, 3, 5).withColumn("w", F.col("k") * F.lit(2))
    st.write_snapshot(wide, root, mode="append")

    head = st.read_snapshot(spark, root)
    assert head.columns == ["k", "v", "w"]
    rows = {r["k"]: r["w"] for r in head.collect()}
    assert rows[0] is None and rows[1] is None and rows[2] is None
    assert rows[3] == 6 and rows[4] == 8

    v1 = st.read_snapshot(spark, root, version=1)
    assert v1.columns == ["k", "v"]


def test_schema_evolution_type_conflict_rejected(spark, tmp_path):
    """A same-name column with a DIFFERENT type must raise BEFORE any
    file is referenced — a silent cast corrupts old rows on read."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    bad = spark.range(3, 5).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    )
    with pytest.raises(st.SchemaEvolutionError, match="'v'"):
        st.write_snapshot(bad, root, mode="append")
    # the table is untouched: still v1, still 3 rows, 2 columns
    assert st.current_version(root) == 1
    assert st.read_snapshot(spark, root).count() == 3


def test_schema_evolution_survives_maintenance_commits(
    spark, tmp_path, monkeypatch
):
    """Compaction and MERGE declare no schema themselves — they must
    inherit the parent's so the evolved declaration never regresses,
    and compaction must read through it: the evolved column keeps its
    values whichever commit's directory sorts first (a reader taking
    its schema from the first footer drops them when a pre-evolution
    file comes first)."""
    for first, second in (("0" * 16, "f" * 16), ("f" * 16, "0" * 16)):
        root = str(tmp_path / f"t{first[0]}")
        with _data_dirs(monkeypatch, first, second):
            st.write_snapshot(_df(spark, 0, 4), root)
            wide = _df(spark, 4, 6).withColumn("w", F.lit(7))
            st.write_snapshot(wide, root, mode="append")

        st.compact_snapshot(spark, root, target_file_bytes=1 << 30)
        after = st.read_snapshot(spark, root)
        assert after.columns == ["k", "v", "w"]
        assert after.count() == 6
        assert sorted((r["k"], r["w"]) for r in after.collect()) == [
            (0, None), (1, None), (2, None), (3, None), (4, 7), (5, 7)
        ]

        src = spark.createDataFrame([(0, 111, 9)], "k long, v long, w int")
        st.merge_snapshot(spark, root, src, ["k"])
        merged = st.read_snapshot(spark, root)
        assert merged.columns == ["k", "v", "w"]
        assert merged.count() == 6
        row = merged.filter("k = 0").collect()[0]
        assert (row["v"], row["w"]) == (111, 9)


def test_merge_into_file_written_after_evolution(spark, tmp_path, monkeypatch):
    """A merge whose touched file carries a column the older files
    lack: the merge takes the target's columns from the declaration,
    not from whichever footer sorts first."""
    root = str(tmp_path / "t")
    with _data_dirs(monkeypatch, "0" * 16, "f" * 16):
        st.write_snapshot(_df(spark, 0, 4), root)
        wide = _df(spark, 4, 6).withColumn("w", F.lit(7))
        st.write_snapshot(wide, root, mode="append")
    src = spark.createDataFrame([(5, 555, 9)], "k long, v long, w int")
    res = st.merge_snapshot(spark, root, src, ["k"])
    assert res["files_rewritten"] == 1
    got = sorted(tuple(r) for r in st.read_snapshot(spark, root).collect())
    want = [(k, k * 10, None) for k in range(4)] + [(4, 40, 7), (5, 555, 9)]
    assert got == want


def test_merge_casts_source_to_declared_types(spark, tmp_path):
    """Merge-written files match the manifest's declared types, which
    reads trust: a ``v int`` table merged with a ``v bigint`` source
    reads back correct ``int`` values."""
    root = str(tmp_path / "t")
    st.write_snapshot(
        spark.range(0, 4).select(
            F.col("id").alias("k"), (F.col("id") * 10).cast("int").alias("v")
        ),
        root,
    )
    src = spark.createDataFrame([(2, 222), (9, 999)], "k long, v bigint")
    st.merge_snapshot(spark, root, src, ["k"])
    head = st.read_snapshot(spark, root)
    assert head.dtypes == [("k", "bigint"), ("v", "int")]
    assert sorted(tuple(r) for r in head.collect()) == [
        (0, 0), (1, 10), (2, 222), (3, 30), (9, 999)
    ]


def test_merge_rejects_inexact_source_types(spark, tmp_path):
    """A source type that does not convert exactly to the declared one
    fails the merge instead of corrupting values: a ``double`` into
    an ``int`` column raises before any commit, and a ``bigint`` value
    outside the ``int`` range fails the write."""
    root = str(tmp_path / "t")
    st.write_snapshot(
        spark.range(0, 4).select(
            F.col("id").alias("k"), (F.col("id") * 10).cast("int").alias("v")
        ),
        root,
    )
    src = spark.createDataFrame([(2, 3.7)], "k long, v double")
    with pytest.raises(st.SchemaEvolutionError, match="'v'"):
        st.merge_snapshot(spark, root, src, ["k"])
    big = spark.createDataFrame([(2, 1 << 40)], "k long, v bigint")
    with pytest.raises(Exception, match="outside declared 'int'"):
        st.merge_snapshot(spark, root, big, ["k"])
    assert st.current_version(root) == 1
    assert sorted(tuple(r) for r in st.read_snapshot(spark, root).collect()) == [
        (k, k * 10) for k in range(4)
    ]


def test_read_increment_across_evolution(spark, tmp_path):
    """An increment spanning an additive evolution aligns to the NEW
    declared schema: pre-evolution added files surface typed NULLs."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 2), root)           # v1
    st.write_snapshot(_df(spark, 2, 4), root, "append")  # v2 (no w)
    wide = _df(spark, 4, 6).withColumn("w", F.lit(5))
    st.write_snapshot(wide, root, mode="append")         # v3 (w)
    inc = st.read_increment(spark, root, from_version=1)
    assert inc.columns == ["k", "v", "w"]
    got = {r["k"]: r["w"] for r in inc.collect()}
    assert set(got) == {2, 3, 4, 5}
    assert got[2] is None and got[4] == 5


def test_zone_map_stats_recorded_and_carried(spark, tmp_path):
    """Commits record per-file min/max zone maps; appends carry the
    parent's entries forward (no re-scan of old footers)."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10).repartition(1), root)
    m1 = st.read_manifest(root, 1)
    assert m1["stats"], "no zone maps recorded"
    (s,) = m1["stats"].values()
    assert s["k"] == [0, 9]
    st.write_snapshot(_df(spark, 50, 60).repartition(1), root, "append")
    m2 = st.read_manifest(root, 2)
    assert set(m2["stats"]) == set(m2["files"])
    ks = sorted(tuple(v["k"]) for v in m2["stats"].values())
    assert ks == [(0, 9), (50, 59)]


def test_pruned_read_skips_files_and_stays_exact(spark, tmp_path):
    """Range-clustered files + a range predicate: the pruned read
    scans a strict subset of files yet returns exactly the rows the
    full-scan filter returns."""
    root = str(tmp_path / "t")
    df = _df(spark, 0, 1000).repartitionByRange(8, "k")
    st.write_snapshot(df, root)
    pruned, info = st.read_snapshot_pruned(spark, root, "k", 100, 220)
    assert info["files_total"] == 8
    assert 0 < info["files_read"] < info["files_total"]
    want = sorted(
        r["k"]
        for r in st.read_snapshot(spark, root)
        .filter("k between 100 and 220")
        .collect()
    )
    assert sorted(r["k"] for r in pruned.collect()) == want == list(
        range(100, 221)
    )
    # half-open ranges prune too
    top, info_hi = st.read_snapshot_pruned(spark, root, "k", lo=900)
    assert info_hi["files_pruned"] > 0
    assert top.count() == 100


def test_pruned_read_without_stats_reads_everything(spark, tmp_path):
    """A column with no recorded stat (or a pre-stats manifest) must
    fall back to reading every file — pruning is an optimization,
    never a correctness dependency."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 100).repartitionByRange(4, "k"), root)
    m = st.read_manifest(root, 1)
    for s in m["stats"].values():  # simulate a stats-less writer
        s.pop("k", None)
    import json as _json
    import os as _os

    path = st._manifest_path(root, 1)
    _os.chmod(path, 0o644)
    with open(path, "w") as f:
        _json.dump(m, f)
    pruned, info = st.read_snapshot_pruned(spark, root, "k", 10, 20)
    assert info["files_read"] == info["files_total"]
    assert pruned.count() == 11


def test_pruned_read_disjoint_range_is_empty_frame(spark, tmp_path):
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 50).repartitionByRange(4, "k"), root)
    pruned, info = st.read_snapshot_pruned(spark, root, "k", 1000, 2000)
    assert info["files_read"] == 0
    assert pruned.count() == 0
    assert pruned.columns == ["k", "v"]


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """Delta's TIMESTAMP AS OF: a wall-clock instant resolves to the
    newest version committed at or before it; instants before the
    oldest retained commit raise."""
    import time as _time

    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 3), root)
    t_between = _time.time()
    _time.sleep(0.05)
    st.write_snapshot(_df(spark, 0, 10), root, mode="overwrite")

    assert st.version_as_of(root, t_between) == 1
    assert st.read_snapshot_as_of(spark, root, t_between).count() == 3
    assert st.read_snapshot_as_of(spark, root, _time.time()).count() == 10
    with pytest.raises(st.NoSuchSnapshot):
        st.version_as_of(root, t_between - 3600)


def test_streaming_sink_commits_carry_zone_maps(spark, tmp_path):
    """The streaming snapshot sink goes through the same _commit, so
    every micro-batch manifest carries per-file zone maps and a
    pruned read over the streamed table skips non-overlapping
    batches' files — data skipping needs no extra sink logic."""
    from website_traffic_etl_gcp_spark.streaming import snapshot_sink as sk

    root = str(tmp_path / "t")
    writer = sk.snapshot_batch_writer(root)
    for bid, (lo, hi) in enumerate(((0, 100), (1000, 1100), (5000, 5100))):
        writer(_df(spark, lo, hi).repartition(1), bid)
    m = st.read_manifest(root)
    assert set(m["stats"]) == set(m["files"])
    pruned, info = st.read_snapshot_pruned(spark, root, "k", 1000, 1099)
    assert info["files_total"] == 3 and info["files_read"] == 1
    assert pruned.count() == 100


def test_building_reads_launches_no_spark_job(spark, tmp_path):
    """With a declared schema a read needs no footer inference: the
    frames of a full, a pruned and an empty pruned read are built
    without a single Spark job."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 100).repartitionByRange(4, "k"), root)
    wide = _df(spark, 100, 110).withColumn("w", F.lit(1))
    st.write_snapshot(wide, root, mode="append")
    with spark_jobs(spark) as jobs:
        full = st.read_snapshot(spark, root)
        pruned, info = st.read_snapshot_pruned(spark, root, "k", 10, 20)
        empty, _ = st.read_snapshot_pruned(spark, root, "k", 500, 600)
    assert jobs.n == 0
    assert full.columns == pruned.columns == empty.columns == ["k", "v", "w"]
    assert 0 < info["files_read"] < info["files_total"]
    assert pruned.count() == 11 and full.count() == 110


def test_merge_scans_only_zone_map_candidates(spark, tmp_path):
    """A source whose keys fall inside one file's zone map scans only
    that file; every other file is carried forward unopened and the
    result is exact."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 1000).repartitionByRange(8, "k"), root)
    m = st.read_manifest(root, 1)
    lo, hi = sorted(s["k"] for s in m["stats"].values())[3]
    src = spark.createDataFrame(
        [(lo, -1), (hi, -2), (5000, -3)], "k long, v long"
    )
    res = st.merge_snapshot(spark, root, src.filter(F.col("k") <= hi), ["k"])
    assert res["files_scanned"] == res["files_rewritten"] == 1
    assert res["files_kept"] == 7
    stats = st.read_manifest(root, 2)["stats"]
    reach = sum(s["k"][1] >= lo for s in stats.values())
    assert 0 < reach < len(stats)
    res = st.merge_snapshot(spark, root, src, ["k"])
    # the range [lo, 5000] reaches only the files holding keys >= lo
    assert res["files_scanned"] == reach
    got = sorted(tuple(r) for r in st.read_snapshot(spark, root).collect())
    want = {k: k * 10 for k in range(1000)}
    want.update({lo: -1, hi: -2, 5000: -3})
    assert got == sorted(want.items())


def test_merge_without_stats_scans_every_file(spark, tmp_path):
    """A manifest without zone maps makes every file a merge candidate:
    slower, never wrong."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 100).repartitionByRange(4, "k"), root)
    m = st.read_manifest(root, 1)
    del m["stats"]  # as written by a writer that records no zone maps
    with open(st._manifest_path(root, 1), "w") as f:
        json.dump(m, f)
    src = spark.createDataFrame([(10, -1), (200, -2)], "k long, v long")
    res = st.merge_snapshot(spark, root, src, ["k"])
    assert res["files_scanned"] == 4
    assert res["files_rewritten"] == 1
    got = sorted(tuple(r) for r in st.read_snapshot(spark, root).collect())
    want = {k: k * 10 for k in range(100)}
    want.update({10: -1, 200: -2})
    assert got == sorted(want.items())


def test_merge_with_null_key_bounds_scans_nothing(spark, tmp_path):
    """An empty or all-NULL-key source can match no row (NULL keys
    never equi-join): no file is scanned or rewritten, and NULL-key
    rows still insert."""
    root = str(tmp_path / "t")
    st.write_snapshot(_df(spark, 0, 10).repartitionByRange(2, "k"), root)
    empty = spark.createDataFrame([], "k long, v long")
    res = st.merge_snapshot(spark, root, empty, ["k"])
    assert (res["files_scanned"], res["files_rewritten"]) == (0, 0)
    nulls = spark.createDataFrame([(None, 5)], "k long, v long")
    res = st.merge_snapshot(spark, root, nulls, ["k"])
    assert (res["files_scanned"], res["files_rewritten"]) == (0, 0)
    got = sorted(
        (r["k"] if r["k"] is not None else -1, r["v"])
        for r in st.read_snapshot(spark, root).collect()
    )
    assert got == [(-1, 5)] + [(k, k * 10) for k in range(10)]
