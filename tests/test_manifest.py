"""Iceberg-lite manifest layer: pruning, time travel, incremental,
crash-orphan invisibility (sources/manifest.py)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.sources import manifest as M


@pytest.fixture()
def table(spark, tmp_path):
    """Two-snapshot table over spark.range rows clustered on k."""
    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("v"),
    )
    s1 = M.commit(df.filter(F.col("k") < 200), root, ["k"], n_files=4)
    s2 = M.commit(df.filter(F.col("k") >= 200), root, ["k"], n_files=4)
    assert (s1, s2) == (1, 2)
    return root


def test_scan_equals_union(spark, table):
    got = M.scan(spark, table).agg(
        F.count(F.lit(1)), F.sum("v"), F.min("k"), F.max("k")
    ).collect()[0]
    assert tuple(got) == (400, sum(3 * i for i in range(400)), 0, 399)


def test_prune_matches_residual_filter(spark, table):
    pred = {"k": (90, 130)}
    got = sorted(
        tuple(r) for r in M.scan(spark, table, pred).select("k", "v").collect()
    )
    want = [(k, 3 * k) for k in range(90, 131)]
    assert got == want
    rep = M.scan_report(table, pred)
    assert rep["files_total"] == 8
    assert 0 < rep["files_kept"] < rep["files_total"]  # pruning really skips
    assert rep["files_kept"] + rep["files_skipped"] == rep["files_total"]
    assert rep["rows_kept_bound"] >= len(want)


def test_pruned_scan_reads_fewer_files(spark, table):
    full = M.scan(spark, table)
    narrow = M.scan(spark, table, {"k": (0, 10)})
    assert len(set(narrow.inputFiles())) < len(set(full.inputFiles()))


def test_one_sided_and_empty_predicates(spark, table):
    assert M.scan(spark, table, {"k": (350, None)}).count() == 50
    assert M.scan(spark, table, {"k": (None, 49)}).count() == 50
    # pruning eliminates every file -> empty result, schema intact
    empty = M.scan(spark, table, {"k": (10_000, 20_000)})
    assert empty.count() == 0
    assert empty.columns == ["k", "grp", "v"]
    rep = M.scan_report(table, {"k": (10_000, 20_000)})
    assert rep["files_kept"] == 0 and rep["files_skipped"] == 8


def test_time_travel_and_incremental(spark, table):
    asof1 = M.scan(spark, table, snapshot=1)
    assert asof1.agg(F.max("k")).collect()[0][0] == 199
    assert asof1.count() == 200
    inc = M.scan(spark, table, since_snapshot=1)
    assert inc.agg(F.min("k")).collect()[0][0] == 200
    assert inc.count() == 200
    # since current snapshot -> nothing new
    with pytest.raises(ValueError):
        M.scan(spark, table, since_snapshot=2)
    assert M.manifest_entries(table, since_snapshot=2) == []


def test_orphans_invisible_and_snapshot_log(spark, table):
    # simulate a crashed commit: data files land, no manifest/log update
    entries = M.manifest_entries(table)
    orphan_dir = os.path.join(table, "data", "snap=3")
    os.makedirs(orphan_dir)
    shutil.copy(
        entries[0]["file"], os.path.join(orphan_dir, "part-orphan.parquet")
    )
    assert M.scan(spark, table).count() == 400  # unchanged
    log = M.snapshots(table)
    assert [s["id"] for s in log] == [1, 2]
    assert all(s["added_rows"] == 200 for s in log)
    # next commit after the "crash" gets id 3 and sees only its own files
    df = spark.range(400, 410).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("v"),
    )
    assert M.commit(df, table, ["k"], n_files=1) == 3
    assert M.scan(spark, table).count() == 410


def test_prune_is_conservative_on_null_stats():
    entries = [
        {"file": "a", "n_rows": 5, "stats": {"k": [None, None]}},
        {"file": "b", "n_rows": 5, "stats": {}},
        {"file": "c", "n_rows": 5, "stats": {"k": [0, 9]}},
    ]
    kept, skipped = M.prune(entries, {"k": (100, 200)})
    assert [e["file"] for e in kept] == ["a", "b"]
    assert [e["file"] for e in skipped] == ["c"]
    kept, skipped = M.prune(entries, None)
    assert len(kept) == 3 and not skipped


def test_zorder_clustering_prunes_both_axes(spark, tmp_path):
    """Morton-clustered files carry tight x AND y stats, so a bbox
    prunes files a single-axis clustering cannot (the cell-id
    partition-spec rationale behind manifest_bbox_scan)."""
    from rgr_pdal_topo_spark.functions import cells as cellfn

    pts = spark.range(0, 4096).select(
        (F.col("id") % 64).cast("double").alias("x"),
        (F.col("id") / 64).cast("long").cast("double").alias("y"),
    )
    zroot, xroot = str(tmp_path / "z"), str(tmp_path / "x")
    os.makedirs(zroot), os.makedirs(xroot)
    zcell = cellfn.quad_cell(
        F.col("x") / 100.0 - 5.0, F.col("y") / 100.0 + 40.0, 8
    )
    M.commit(pts.withColumn("c", zcell), zroot, ["c", "x", "y"], n_files=16)
    M.commit(pts, xroot, ["x", "y"], n_files=16)
    bbox = {"x": (10.0, 20.0), "y": (10.0, 20.0)}
    zrep, xrep = M.scan_report(zroot, bbox), M.scan_report(xroot, bbox)
    assert zrep["files_kept"] <= xrep["files_kept"]
    assert zrep["files_skipped"] > zrep["files_total"] // 2
    # identical answers either way
    zs = sorted(tuple(r) for r in M.scan(spark, zroot, bbox)
                .select("x", "y").collect())
    xs = sorted(tuple(r) for r in M.scan(spark, xroot, bbox)
                .select("x", "y").collect())
    assert zs == xs and len(zs) == 11 * 11


def test_compact_preserves_state_and_time_travel(spark, table):
    before = sorted(tuple(r) for r in M.scan(spark, table).collect())
    n_before = len(set(M.scan(spark, table).inputFiles()))
    cid = M.compact(spark, table, ["k"], n_files=2)
    assert cid == 3
    assert M.snapshots(table)[-1]["operation"] == "compact"
    after = sorted(tuple(r) for r in M.scan(spark, table).collect())
    assert after == before  # not a single row changed
    assert len(set(M.scan(spark, table).inputFiles())) == 2 < n_before
    # pruning works against the recompacted stats
    assert M.scan(spark, table, {"k": (90, 130)}).count() == 41
    assert M.scan_report(table, {"k": (0, 10)})["files_skipped"] == 1
    # every pre-compaction snapshot still time-travels exactly
    assert M.scan(spark, table, snapshot=1).count() == 200
    assert M.scan(spark, table, snapshot=2).count() == 400
    # appends after compaction stack on the compacted state
    df = spark.range(400, 450).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("v"),
    )
    M.commit(df, table, ["k"], n_files=1)
    assert M.scan(spark, table).count() == 450


def test_vacuum_deletes_only_orphans(spark, table):
    M.compact(spark, table, ["k"], n_files=2)
    orphan = os.path.join(table, "data", "snap=1", "stray.parquet")
    shutil.copy(M.manifest_entries(table)[0]["file"], orphan)
    assert M.vacuum(table) == []  # default grace shields fresh files
    deleted = M.vacuum(table, grace_seconds=0)
    assert deleted == [orphan]  # replaced files stay: time travel intact
    assert M.scan(spark, table, snapshot=2).count() == 400
    assert M.scan(spark, table).count() == 400
    assert M.vacuum(table, grace_seconds=0) == []


def test_incremental_excludes_compaction_rewrites(spark, table):
    """scan(since_snapshot=k) is a change stream: a later compaction
    must not re-deliver already-consumed rows as new."""
    M.compact(spark, table, ["k"], n_files=2)
    assert M.manifest_entries(table, since_snapshot=2) == []
    df = spark.range(400, 420).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("v"),
    )
    M.commit(df, table, ["k"], n_files=1)
    inc = M.scan(spark, table, since_snapshot=2)
    assert inc.count() == 20  # the genuinely new rows only
    # time travel still folds the compaction
    assert M.scan(spark, table, snapshot=4).count() == 420


def test_commit_rejects_json_hostile_stat_types(spark, tmp_path):
    df = spark.range(3).select(
        F.col("id").alias("k"),
        F.to_timestamp(F.lit("2024-01-08 00:00:00")).alias("ts"),
    )
    with pytest.raises(ValueError, match="epoch day"):
        M.commit(df, str(tmp_path), ["ts"])
    with pytest.raises(ValueError, match="not in"):
        M.commit(df, str(tmp_path), ["nope"])


def test_commit_validation(spark, tmp_path):
    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        M.commit(df, str(tmp_path), [], n_files=2)
    with pytest.raises(ValueError):
        M.commit(df, str(tmp_path), ["k"], n_files=0)
    with pytest.raises(ValueError):
        M.scan(spark, str(tmp_path / "nothing"), None)


# ---------------------------------------------------------------------------
# metadata-as-a-table tier (parquet manifests pruned by a Spark job)
# ---------------------------------------------------------------------------


def _live_files_json(root, **kw):
    return sorted(e["file"] for e in M.manifest_entries(root, **kw))


def _live_files_meta(spark, root, **kw):
    return sorted(
        r["file"]
        for r in M.metadata_table(spark, root, **kw)
        .select("file").distinct().collect()
    )


def test_metadata_table_matches_json_fold(spark, table):
    """The parquet metadata tier must agree with the JSON fold on the
    live file set AND the per-file stats — current state, time travel,
    the change stream, and across a compaction rewrite."""
    assert _live_files_meta(spark, table) == _live_files_json(table)
    # per-file stats: long slot carries the k min/max from the JSON tier
    json_stats = {
        e["file"]: tuple(e["stats"]["k"]) for e in M.manifest_entries(table)
    }
    meta_stats = {
        r["file"]: (r["min_long"], r["max_long"])
        for r in M.metadata_table(spark, table)
        .filter(F.col("col") == "k").collect()
    }
    assert meta_stats == json_stats
    n_rows_json = {
        e["file"]: e["n_rows"] for e in M.manifest_entries(table)
    }
    n_rows_meta = {
        r["file"]: r["n_rows"]
        for r in M.metadata_table(spark, table)
        .select("file", "n_rows").distinct().collect()
    }
    assert n_rows_meta == n_rows_json

    M.compact(spark, table, ["k"], n_files=2)
    assert _live_files_meta(spark, table) == _live_files_json(table)
    # time travel pre-compaction
    assert _live_files_meta(spark, table, snapshot=1) == _live_files_json(
        table, snapshot=1
    )
    # change stream: compaction rewrites are not re-delivered
    assert _live_files_meta(spark, table, since_snapshot=2) == []
    df = spark.range(400, 420).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("v"),
    )
    M.commit(df, table, ["k"], n_files=1)
    assert _live_files_meta(
        spark, table, since_snapshot=2
    ) == _live_files_json(table, since_snapshot=2)


def test_scan_via_metadata_matches_scan(spark, table):
    pred = {"k": (90, 130)}
    df, rep = M.scan_via_metadata(spark, table, pred)
    got = sorted(tuple(r) for r in df.select("k", "v").collect())
    assert got == [(k, 3 * k) for k in range(90, 131)]
    assert rep == M.scan_report(table, pred)
    assert rep["files_skipped"] > 0
    # all-pruned: schema survives, zero rows, report says zero kept
    empty, erep = M.scan_via_metadata(spark, table, {"k": (10_000, 20_000)})
    assert empty.count() == 0 and empty.columns == df.columns
    assert erep["files_kept"] == 0
    # one-sided + time travel through the metadata path
    half, hrep = M.scan_via_metadata(spark, table, {"k": (350, None)})
    assert half.count() == 50
    tt, _ = M.scan_via_metadata(spark, table, None, snapshot=1)
    assert tt.count() == 200


def test_metadata_prune_typed_slots(spark, tmp_path):
    """Double- and string-typed stat columns prune through their own
    slots; a predicate on an absent column keeps everything
    (conservative, like prune())."""
    root = str(tmp_path / "typed")
    os.makedirs(root)
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") * 0.5).alias("x"),
        F.format_string("s%03d", F.col("id")).alias("name"),
    )
    M.commit(df, root, ["x", "name"], n_files=4)
    got, rep = M.scan_via_metadata(spark, root, {"x": (10.0, 14.5)})
    assert sorted(r["k"] for r in got.collect()) == list(range(20, 30))
    assert rep["files_skipped"] > 0
    got2, rep2 = M.scan_via_metadata(spark, root, {"name": ("s090", "s094")})
    assert sorted(r["k"] for r in got2.collect()) == list(range(90, 95))
    assert rep2["files_skipped"] > 0
    # absent stat column: conservative keep-everything, residual filters
    got3, rep3 = M.scan_via_metadata(spark, root, {"k": (5, 6)})
    assert rep3["files_skipped"] == 0
    assert sorted(r["k"] for r in got3.collect()) == [5, 6]


# ---------------------------------------------------------------------------
# row-level deletes (equality-delete snapshots, merge-on-read)
# ---------------------------------------------------------------------------


@pytest.fixture()
def deleted_table(spark, table):
    """The two-snapshot fixture plus: delete k % 10 == 0 (snap 3), then
    re-append rows 400..449 including multiples of 10 (snap 4)."""
    df = spark.range(0, 450).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("v"),
    )
    s3 = M.delete_keys(
        df.filter((F.col("k") % 10 == 0) & (F.col("k") < 450)).select("k"),
        table, ["k"],
    )
    s4 = M.commit(df.filter(F.col("k") >= 400), table, ["k"], n_files=2)
    assert (s3, s4) == (3, 4)
    return table


def _ks(df):
    return sorted(r["k"] for r in df.select("k").collect())


def test_delete_applies_with_sequence_semantics(spark, deleted_table):
    """Rows before the delete lose their matching keys; the later append
    keeps ALL its rows — including re-inserted multiples of 10."""
    want = [k for k in range(400) if k % 10 != 0] + list(range(400, 450))
    assert _ks(M.scan(spark, deleted_table)) == sorted(want)


def test_delete_respects_time_travel_and_opt_out(spark, deleted_table):
    # as-of snap 2: before the delete existed -> all 400 original rows
    assert _ks(M.scan(spark, deleted_table, snapshot=2)) == list(range(400))
    # as-of snap 3: delete applies, snap-4 rows not yet visible
    assert _ks(M.scan(spark, deleted_table, snapshot=3)) == [
        k for k in range(400) if k % 10 != 0
    ]
    # delete-blind scan (Iceberg's data-files-only read)
    assert _ks(
        M.scan(spark, deleted_table, apply_deletes=False)
    ) == sorted(list(range(400)) + list(range(400, 450)))


def test_delete_invisible_to_change_stream(spark, deleted_table):
    """since_snapshot stays appends-only: the delete snapshot delivers
    nothing and suppresses nothing."""
    got = _ks(M.scan(spark, deleted_table, since_snapshot=2))
    assert got == list(range(400, 450))
    rep = M.scan_report(deleted_table, since_snapshot=2)
    assert rep["delete_files"] == 0


def test_delete_report_and_predicate_interplay(spark, deleted_table):
    rep = M.scan_report(deleted_table)
    assert rep["delete_files"] >= 1
    # multiples of 10 in 0..449 — the delete file ALSO lists keys that
    # only exist in the later snap-4 append; sequence rule keeps those
    assert rep["delete_rows_bound"] == 45
    # predicates prune data files; delete keys still apply inside
    got = _ks(M.scan(spark, deleted_table, {"k": (95, 125)}))
    assert got == [k for k in range(95, 126) if k % 10 != 0]


def test_compact_applies_deletes_physically(spark, deleted_table):
    before = _ks(M.scan(spark, deleted_table))
    s5 = M.compact(spark, deleted_table, ["k"], n_files=3)
    assert s5 == 5
    # same logical table...
    assert _ks(M.scan(spark, deleted_table)) == before
    # ...but no delete files remain live and rows are PHYSICALLY gone
    rep = M.scan_report(deleted_table)
    assert rep["delete_files"] == 0
    raw = spark.read.parquet(
        *[e["file"] for e in M.manifest_entries(deleted_table)]
    )
    assert _ks(raw) == before
    # pre-compaction time travel still re-applies the delete files
    assert _ks(M.scan(spark, deleted_table, snapshot=3)) == [
        k for k in range(400) if k % 10 != 0
    ]


def test_metadata_tier_matches_json_tier_with_deletes(spark, deleted_table):
    got, rep = M.scan_via_metadata(spark, deleted_table, None)
    assert _ks(got) == _ks(M.scan(spark, deleted_table))
    assert rep["files_total"] == M.scan_report(deleted_table)["files_total"]
    blind, _ = M.scan_via_metadata(
        spark, deleted_table, None, apply_deletes=False
    )
    assert len(_ks(blind)) == 450


def test_delete_key_cols_must_be_consistent(spark, deleted_table):
    df = spark.range(0, 5).select(F.col("id").alias("grp"))
    with pytest.raises(ValueError, match="key columns"):
        M.delete_keys(df, deleted_table, ["grp"])


def test_vacuum_keeps_live_delete_files(spark, deleted_table):
    assert M.vacuum(deleted_table, grace_seconds=0.0) == []
    rep = M.scan_report(deleted_table)
    assert rep["delete_files"] >= 1


def test_upsert_replaces_matching_keys(spark, table):
    """Upsert = delete-then-append under one call: changed rows replace
    their old versions, new keys append, untouched keys survive."""
    up = spark.range(150, 250).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1000).alias("v"),  # new values
    )
    d, a = M.upsert(up, table, ["k"], ["k"], n_files=2)
    assert (d, a) == (3, 4)
    got = {r["k"]: r["v"] for r in M.scan(spark, table).collect()}
    assert len(got) == 400
    for k in range(400):
        assert got[k] == (k * 1000 if 150 <= k < 250 else k * 3)


def test_snapshot_as_of_timestamp(spark, table):
    """Timestamp time travel resolves to the last snapshot committed at
    or before ts; before table creation it refuses loudly."""
    log = M.snapshots(table)
    t1, t2 = log[0]["ts"], log[1]["ts"]
    assert M.snapshot_as_of(table, t1) == 1
    assert M.snapshot_as_of(table, (t1 + t2) / 2.0) == 1
    assert M.snapshot_as_of(table, t2 + 1.0) == 2
    with pytest.raises(ValueError, match="no snapshot"):
        M.snapshot_as_of(table, t1 - 10.0)
    asof = M.scan(spark, table, snapshot=M.snapshot_as_of(table, t1))
    assert asof.count() == 200


def test_scan_merge_schema_additive_evolution(spark, table):
    """A later snapshot may ADD columns; merge_schema=True reads old
    rows with NULL in the new column, and the default stays strict."""
    df = spark.range(400, 420).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("v"),
        F.format_string("t%d", F.col("id")).alias("tag"),  # NEW column
    )
    M.commit(df, table, ["k"], n_files=1)
    got = M.scan(spark, table, merge_schema=True)
    assert set(got.columns) == {"k", "grp", "v", "tag"}
    assert got.count() == 420
    assert got.filter(F.col("tag").isNull()).count() == 400
    assert got.filter(F.col("tag") == "t405").count() == 1


def test_expire_snapshots_squashes_history(spark, deleted_table):
    """After compaction, expiry squashes the fold into a base manifest:
    same table, old ids unreadable, compacted-away files physically
    gone, the metadata tier agrees, and later snapshots still stack."""
    cid = M.compact(spark, deleted_table, ["k"], n_files=3)  # applies deletes
    before = _ks(M.scan(spark, deleted_table))
    rep = M.expire_snapshots(spark, deleted_table, cid)
    assert rep["expired_snapshots"] == 4 and rep["deleted_files"] > 0
    assert _ks(M.scan(spark, deleted_table)) == before
    assert [s["id"] for s in M.snapshots(deleted_table)] == [cid]
    assert M.snapshots(deleted_table)[0]["operation"] == "base"
    with pytest.raises(ValueError, match="unknown snapshot"):
        M.scan(spark, deleted_table, snapshot=2)
    with pytest.raises(ValueError, match="unknown snapshot"):
        M.scan(spark, deleted_table, since_snapshot=1)
    # metadata tier reads the folded base identically
    got, mrep = M.scan_via_metadata(spark, deleted_table, None)
    assert _ks(got) == before
    # pruning still works against base stats
    assert M.scan_report(deleted_table, {"k": (0, 10)})["files_skipped"] > 0
    # appends after expiry stack on the base; CDC from the base works
    df = spark.range(500, 520).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"), (F.col("id") * 3).alias("v"),
    )
    M.commit(df, deleted_table, ["k"], n_files=1)
    assert len(_ks(M.scan(spark, deleted_table))) == len(before) + 20
    assert _ks(M.scan(spark, deleted_table, since_snapshot=cid)) == list(
        range(500, 520)
    )


def test_expire_requires_compacted_deletes(spark, deleted_table):
    """Expiring past a live equality-delete snapshot must refuse —
    the base manifest cannot represent per-row sequence numbers."""
    with pytest.raises(ValueError, match="compact"):
        M.expire_snapshots(spark, deleted_table, 4)
    # expiring to a point BEFORE the delete is equally impossible in
    # this history (the delete at snap 3 stays live) — but keep_from=1
    # expires nothing and is a no-op
    assert M.expire_snapshots(spark, deleted_table, 1) == {
        "expired_snapshots": 0, "deleted_files": 0, "base_files": 0,
    }


def test_expire_crash_recovery_is_loud_and_repairable(spark, deleted_table):
    """If expiry dies between its log swap and the metadata rewrite,
    the metadata tier must refuse loudly (stale base dir), and
    re-running expire_snapshots repairs it idempotently."""
    cid = M.compact(spark, deleted_table, ["k"], n_files=3)
    M.expire_snapshots(spark, deleted_table, cid)
    want = _ks(M.scan(spark, deleted_table))
    # simulate the crash leftover: base meta dir holds a wrong delta
    meta_dir = os.path.join(deleted_table, "manifest-pq", f"snap={cid}")
    shutil.rmtree(meta_dir)
    spark.createDataFrame(
        [("/nonexistent.parquet", "add", 1, "k",
          None, None, None, None, None, None)],
        "file string, op string, n_rows long, col string, "
        "min_long long, max_long long, min_double double, "
        "max_double double, min_string string, max_string string",
    ).write.mode("overwrite").parquet(meta_dir)
    with pytest.raises(RuntimeError, match="metadata tier stale"):
        M.scan_via_metadata(spark, deleted_table, None)
    # the documented repair: re-run expire with the same keep_from
    M.expire_snapshots(spark, deleted_table, cid)
    got, _ = M.scan_via_metadata(spark, deleted_table, None)
    assert _ks(got) == want


def test_empty_commit_is_a_valid_snapshot(spark, table):
    """An empty batch commits as a zero-file snapshot (incremental
    ingestion sees empty drops); the table and its change stream stay
    correct around it."""
    df = spark.range(0).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 3).alias("v"),
    )
    sid = M.commit(df, table, ["k"], n_files=2)
    assert sid == 3
    log = M.snapshots(table)[-1]
    assert (log["added_files"], log["added_rows"]) == (0, 0)
    assert M.scan(spark, table).count() == 400
    assert M.manifest_entries(table, since_snapshot=2) == []


def test_bloom_point_lookup_skips_unclustered_files(spark, tmp_path):
    """Files clustered on v carry useless k min/max for a k point probe
    (every file's k-range overlaps); the bloom proves absence and skips
    nearly everything, and the scan still returns exactly the row."""
    root = str(tmp_path / "bloomtbl")
    os.makedirs(root)
    # k scattered so range-clustering on v leaves every file covering
    # most of the k domain
    df = spark.range(0, 4000).select(
        ((F.col("id") * 2654435761) % 4001).alias("k"),
        F.col("id").alias("v"),
    )
    M.commit(df, root, ["v"], n_files=16, bloom_cols=["k"])
    target = int(df.filter(F.col("v") == 1234).collect()[0]["k"])
    # min/max alone: almost nothing skips
    plain = M.scan_report(root, eq={"k": target})
    entries = M.manifest_entries(root)
    stripped = [
        {kk: vv for kk, vv in e.items() if kk != "bloom"} for e in entries
    ]
    kept_nb, _ = M.prune(stripped, None, {"k": target})
    assert len(kept_nb) > plain["files_kept"]  # bloom beats stats
    assert plain["files_skipped"] >= plain["files_total"] // 2
    got = M.scan(spark, root, eq={"k": target}).collect()
    assert [r["k"] for r in got] == [target]


def test_bloom_rejects_float_columns(spark, tmp_path):
    root = str(tmp_path / "bloomf")
    os.makedirs(root)
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("x")
    )
    with pytest.raises(ValueError, match="int or string"):
        M.commit(df, root, ["k"], n_files=1, bloom_cols=["x"])


def test_bloom_string_column_and_negative_probe(spark, tmp_path):
    """String blooms work, and probing an ABSENT value skips every
    file while the residual filter keeps correctness regardless."""
    root = str(tmp_path / "blooms")
    os.makedirs(root)
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.format_string("name-%d", (F.col("id") * 7919) % 1009).alias(
            "name"
        ),
    )
    M.commit(df, root, ["k"], n_files=8, bloom_cols=["name"])
    rep = M.scan_report(root, eq={"name": "name-500"})
    assert rep["files_skipped"] > 0
    got = M.scan(spark, root, eq={"name": "name-500"}).collect()
    assert all(r["name"] == "name-500" for r in got) and got
    absent = M.scan_report(root, eq={"name": "no-such-name"})
    assert absent["files_kept"] == 0
    assert M.scan(spark, root, eq={"name": "no-such-name"}).count() == 0


def test_binpack_compacts_only_small_files(spark, table):
    """Binpack merges only files under the threshold; big files keep
    their identity (and stats); the table is row-identical."""
    # a trickle of small appends on top of the two 4-file snapshots
    for lo in (400, 410, 420):
        df = spark.range(lo, lo + 10).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp"),
            (F.col("id") * 3).alias("v"),
        )
        M.commit(df, table, ["k"], n_files=1)
    before = sorted(tuple(r) for r in M.scan(spark, table).collect())
    big_before = {
        e["file"] for e in M.manifest_entries(table) if e["n_rows"] >= 25
    }
    M.compact(spark, table, ["k"], n_files=1, max_rows=25)
    after_entries = M.manifest_entries(table)
    assert sorted(tuple(r) for r in M.scan(spark, table).collect()) == before
    # the big files survived untouched; the three 10-row files merged
    assert big_before <= {e["file"] for e in after_entries}
    assert sum(1 for e in after_entries if e["n_rows"] == 30) == 1
    assert not any(e["n_rows"] == 10 for e in after_entries)
    with pytest.raises(ValueError, match="binpack"):
        M.compact(spark, table, ["k"], n_files=1, max_rows=5)


def test_partition_spec_evolution_across_commits(spark, tmp_path):
    """Commits may cluster on DIFFERENT stat columns over time (Iceberg
    partition-spec evolution): predicates prune the snapshots that carry
    matching stats and conservatively keep the others; answers equal a
    plain filtered scan either way."""
    root = str(tmp_path / "specevo")
    os.makedirs(root)
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (399 - F.col("id")).alias("r"),
    )
    M.commit(df.filter(F.col("k") < 200), root, ["k"], n_files=4)
    M.commit(df.filter(F.col("k") >= 200), root, ["r"], n_files=4)  # new spec
    got = sorted(r["k"] for r in M.scan(spark, root, {"k": (150, 250)})
                 .collect())
    assert got == list(range(150, 251))
    rep = M.scan_report(root, {"k": (0, 40)})
    # snapshot-1 files (k stats) prune; snapshot-2 files (r stats only)
    # are conservatively kept
    assert 0 < rep["files_skipped"] <= 3
    rep2 = M.scan_report(root, {"r": (0, 40)})
    assert 0 < rep2["files_skipped"] <= 3


def test_stale_base_caught_by_row_total_when_file_count_matches(
    spark, deleted_table
):
    """A stale delta dir that COINCIDENTALLY lists the same file count
    as the folded base must still be caught — the guard compares the
    row total (logged added_rows), not just the file count."""
    import json

    cid = M.compact(spark, deleted_table, ["k"], n_files=3)
    M.expire_snapshots(spark, deleted_table, cid)
    base_log = next(s for s in M.snapshots(deleted_table) if s["id"] == cid)
    n_files, n_rows = base_log["added_files"], base_log["added_rows"]
    assert n_files > 0 and n_rows > 0
    # forge a stale dir: SAME file count, WRONG rows (1 per file)
    meta_dir = os.path.join(deleted_table, "manifest-pq", f"snap={cid}")
    shutil.rmtree(meta_dir)
    spark.createDataFrame(
        [(f"/stale-{i}.parquet", "add", 1, "k",
          None, None, None, None, None, None) for i in range(n_files)],
        "file string, op string, n_rows long, col string, "
        "min_long long, max_long long, min_double double, "
        "max_double double, min_string string, max_string string",
    ).write.mode("overwrite").parquet(meta_dir)
    with pytest.raises(RuntimeError, match="metadata tier stale"):
        M.scan_via_metadata(spark, deleted_table, None)
    M.expire_snapshots(spark, deleted_table, cid)  # documented repair
    got, _ = M.scan_via_metadata(spark, deleted_table, None)
    assert got.count() == M.scan(spark, deleted_table).count()


def test_snapshot_as_of_refuses_timestampless_snapshots(spark, table):
    """Legacy logs without ts fields must raise, not silently resolve a
    pre-creation timestamp to snapshot 1 (the ts=0.0-default bug)."""
    import json

    log_path = os.path.join(table, "snapshots.json")
    with open(log_path) as fh:
        log = json.load(fh)
    t1 = log["snapshots"][0]["ts"]
    del log["snapshots"][0]["ts"]
    with open(log_path, "w") as fh:
        json.dump(log, fh)
    with pytest.raises(ValueError, match="predate commit timestamps"):
        M.snapshot_as_of(table, t1 - 10.0)  # would wrongly resolve to 1
    with pytest.raises(ValueError, match="predate commit timestamps"):
        M.snapshot_as_of(table, t1 + 10.0)  # ambiguous either way


def test_bloom_m_is_capped(spark):
    """Bloom sizing stays manifest-friendly at huge files: ~10 bits/row
    up to the cap, then frozen (graceful degradation, never a wrong
    skip — a saturated bloom keeps the file)."""
    assert M._bloom_m(50) == 1024
    assert M._bloom_m(50_000) == 1 << 19
    assert M._bloom_m(10**8) == M._BLOOM_M_CAP
    assert M._bloom_m(10**10) == M._BLOOM_M_CAP


def test_metadata_tier_prunes_10k_files_without_json_or_driver_fold(
    spark, tmp_path
):
    """Scale probe for the '>10^6-file catalogs' claim: a 10^4-entry
    metadata tier prunes as a Spark job.  The table has NO JSON
    manifests at all (manifest/ absent) and 9,995 of the listed data
    files do not exist — so if any code path folded JSON manifests or
    materialized per-file entries on the driver and touched the skipped
    files, this test would crash.  Only the 5 kept paths may reach the
    driver (and the returned frame actually reads them)."""
    import json
    import time

    n_files, per_file = 10_000, 100
    root = str(tmp_path / "bigmeta")
    os.makedirs(root)
    # 5 real data files covering k in [0, 500); the rest are phantoms
    real = []
    for i in range(5):
        p = os.path.join(root, f"data/snap=1/f{i}.parquet")
        spark.range(i * per_file, (i + 1) * per_file).selectExpr(
            "id AS k", "id * 3 AS v"
        ).coalesce(1).write.parquet(p)
        real.append(p)
    files = real + [f"{root}/phantom-{i}.parquet" for i in range(5, n_files)]
    meta = spark.createDataFrame(
        [(files[i], "add", per_file, "k",
          i * per_file, i * per_file + per_file - 1,
          None, None, None, None) for i in range(n_files)],
        "file string, op string, n_rows long, col string, "
        "min_long long, max_long long, min_double double, "
        "max_double double, min_string string, max_string string",
    )
    meta.repartition(8).write.parquet(
        os.path.join(root, "manifest-pq", "snap=1")
    )
    with open(os.path.join(root, "snapshots.json"), "w") as fh:
        json.dump({"snapshots": [{
            "id": 1, "operation": "append", "ts": time.time(),
            "added_files": n_files, "added_rows": n_files * per_file,
            "removed_files": 0,
        }]}, fh)

    got, rep = M.scan_via_metadata(spark, root, {"k": (0, 499)})
    assert rep["files_total"] == n_files
    assert rep["files_kept"] == 5
    assert rep["files_skipped"] == n_files - 5
    assert rep["rows_kept_bound"] == 5 * per_file
    ks = sorted(r["k"] for r in got.collect())
    assert ks == list(range(0, 500))

