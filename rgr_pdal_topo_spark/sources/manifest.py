"""Iceberg-lite snapshot/manifest table layout: file skipping, time
travel, incremental reads.

The north rule frames the engine's canonical input as an Iceberg table;
``sources/tables.py`` reads plain parquet (identical row-level pushdown)
but, as its docstring concedes, plain ``spark.read.parquet`` cannot
prune at the MANIFEST level — at 100 TB the difference between "open
every footer under the prefix" and "consult a KB-sized manifest and open
3 of 800 files" is the whole ballgame.  This module implements the part
of the Iceberg design the engine actually relies on, from scratch:

* **append-only snapshots** — each :func:`commit` writes data files into
  a fresh ``data/snap=<id>/`` directory plus a ``manifest-<id>.json``
  listing the files it ADDED with per-file row counts and per-column
  min/max stats; the snapshot log is then swapped in with an atomic
  rename.  A crash mid-commit leaves orphan files no manifest
  references — readers never see them (same visibility rule as
  Iceberg's metadata pointer swap).
* **file skipping** — :func:`scan` evaluates interval predicates against
  the manifest stats and hands Spark only the surviving files.  Stats
  are collected DISTRIBUTED (read-back grouped by ``input_file_name``),
  never by looping footers on the driver; the manifest itself is
  files-not-rows sized, the one thing that is legitimately
  driver-resident.  Pruning is conservative (a file is kept unless its
  stats PROVE no row can match) and the residual row filter is always
  re-applied, so correctness never depends on stats.
* **never-silent metrics** — :func:`scan_report` returns how many files
  each predicate kept/skipped: a scan that silently read 1/800th of the
  table and a scan that pruned 796 files look identical in the result
  schema; the report is how you tell.
* **time travel / incremental** — ``snapshot=k`` reads the table as of
  snapshot k; ``since_snapshot=k`` reads only files added after k (the
  CDC-style incremental consumer the resumable-pipeline story needs:
  re-process ONLY the new WARC batch, not the whole lake).

Effective pruning needs clustered files: :func:`commit` therefore
``repartitionByRange`` s on the leading stat column (Iceberg's
sort-order spec plays this role), so each file owns a tight value range
and interval predicates skip hard.

Reference analogue: the EPT reader's bounds pushdown + the derived-grid
suffix cache (pointCloudCreation.py:176-192, baseGrid.py:1118-1173);
both are single-process file-naming conventions — the snapshot log,
stats manifest, and atomic visibility swap are the cluster-scale
re-expression.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from typing import Any, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "commit",
    "delete_keys",
    "upsert",
    "compact",
    "expire_snapshots",
    "vacuum",
    "snapshots",
    "snapshot_as_of",
    "manifest_entries",
    "prune",
    "scan",
    "scan_report",
    "metadata_table",
    "prune_via_metadata",
    "scan_via_metadata",
]

_LOG = "snapshots.json"
_META_DIR = "manifest-pq"


def _data_dir(root: str, snap_id: int) -> str:
    return os.path.join(root, "data", f"snap={snap_id}")


def _manifest_path(root: str, snap_id: int, base: bool = False) -> str:
    """``base=True`` names the squashed-fold manifest expire_snapshots
    writes: a DISTINCT filename, so the base can be written before the
    log swap without the old log's readers ever seeing it (the log's
    ``operation == "base"`` is what routes reads to it)."""
    name = f"manifest-{snap_id}.base.json" if base else f"manifest-{snap_id}.json"
    return os.path.join(root, "manifest", name)


def _normalize_file(uri: str) -> str:
    """input_file_name() yields file:///...; store plain paths."""
    if uri.startswith("file:"):
        uri = uri[len("file:"):]
        while uri.startswith("//"):
            uri = uri[1:]
    return uri


def snapshots(root: str) -> list[dict[str, Any]]:
    """The committed snapshot log, oldest first (empty for a new table)."""
    path = os.path.join(root, _LOG)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return json.load(fh)["snapshots"]


def snapshot_as_of(root: str, ts: float) -> int:
    """Timestamp time travel (Iceberg ``FOR SYSTEM_TIME AS OF``): the
    last snapshot committed at or before ``ts``.  Compose with any
    reader: ``scan(spark, root, snapshot=snapshot_as_of(root, t))``.
    Raises if the table did not exist yet at ``ts`` — silently reading
    an empty past is how backfills double-process.  Also raises on
    snapshots with no ``ts`` field (tables committed before timestamps
    were recorded): defaulting those to t=0 would resolve a timestamp
    predating the table's real creation to a legacy snapshot instead of
    failing, violating the contract above — use snapshot-id travel for
    such tables."""
    log = snapshots(root)
    missing = [s["id"] for s in log if "ts" not in s]
    if missing:
        raise ValueError(
            f"snapshots {missing} at {root} predate commit timestamps; "
            "timestamp time travel is ambiguous — use scan(snapshot=id)"
        )
    eligible = [s["id"] for s in log if s["ts"] <= ts]
    if not eligible:
        raise ValueError(f"no snapshot at or before ts={ts} at {root}")
    return eligible[-1]


def commit(
    df: DataFrame,
    root: str,
    stat_cols: Sequence[str],
    n_files: int = 8,
    bloom_cols: Sequence[str] = (),
) -> int:
    """Append ``df`` to the table at ``root`` as a new snapshot.

    Files are range-clustered on ``stat_cols[0]`` so their min/max stats
    are tight (one value range per file -> interval predicates skip
    whole files).  Returns the new snapshot id.  Commit order: data
    files, then the manifest, then an atomic snapshot-log rename — a
    crash before the rename leaves invisible orphans, never a torn
    table.

    Scale note: stats here come from a distributed READ-BACK pass over
    the files just written (footer-cheap in practice, but a second scan
    nonetheless).  A production writer folds stats collection into the
    write itself (per-task min/max accumulated as files close — what
    Iceberg's writers do); the manifest format and everything downstream
    are unchanged by that swap.  The manifest itself is files-not-rows
    sized; every commit ALSO writes the stats as long-format parquet
    under ``manifest-pq/snap=<id>/`` (straight from the distributed
    agg, never via the driver) — the metadata-as-a-table tier that
    takes over past ~10^6 files, where pruning runs as a Spark job
    (:func:`metadata_table` / :func:`scan_via_metadata`, Iceberg's
    manifest-list tier) and only kept paths reach the driver.
    """
    return _write_snapshot(
        df, root, stat_cols, n_files, [], "append",
        bloom_cols=bloom_cols,
    )


def delete_keys(
    df: DataFrame,
    root: str,
    key_cols: Sequence[str],
    n_files: int = 1,
) -> int:
    """Row-level DELETE as an equality-delete snapshot (Iceberg v2
    merge-on-read).

    ``df``'s distinct ``key_cols`` tuples become a DELETE FILE committed
    like any other snapshot (same stats read-back, same atomic log
    swap); no data file is rewritten.  :func:`scan` then anti-joins data
    rows against the keys with Iceberg's SEQUENCE rule — a delete
    applies only to rows whose snapshot is OLDER than the delete's, so a
    key re-inserted by a later append survives.  :func:`compact` applies
    deletes physically and retires the delete files; the change stream
    (``since_snapshot``) stays appends-only and never sees them, exactly
    as Iceberg CDC surfaces row-level deletes only to readers that opt
    into delete-aware scans.

    All delete snapshots of a table must share one ``key_cols`` spelling
    (checked loudly) — per-snapshot key schemas would turn the single
    anti-join into one join per delete file.
    """
    key_cols = list(key_cols)
    if not key_cols:
        raise ValueError("need at least one key column")
    log = snapshots(root)
    for s in log:
        if s.get("operation") == "delete" and s.get("delete_key_cols") != key_cols:
            raise ValueError(
                f"delete key columns {key_cols} differ from this table's "
                f"existing delete snapshots ({s['delete_key_cols']})"
            )
    keys = df.select(*key_cols).dropDuplicates()
    return _write_snapshot(
        keys, root, key_cols, n_files, [], "delete",
        extra_log={"delete_key_cols": key_cols},
    )


def upsert(
    df: DataFrame,
    root: str,
    key_cols: Sequence[str],
    stat_cols: Sequence[str],
    n_files: int = 8,
) -> tuple[int, int]:
    """MERGE-style upsert: replace any existing rows matching ``df``'s
    keys, then append ``df`` — composed as an equality-delete snapshot
    followed by an append (two snapshots; Iceberg's single-snapshot
    MERGE is this same pair under one commit boundary, a distinction
    that matters only to concurrent readers between the two log swaps —
    documented, not hidden).  Returns (delete_snap_id, append_snap_id).
    The sequence rule makes it exact: the delete predates the append, so
    the new rows survive their own keys' deletion."""
    d = delete_keys(df.select(*key_cols), root, key_cols)
    a = commit(df, root, stat_cols, n_files)
    return d, a


def compact(
    spark: SparkSession,
    root: str,
    stat_cols: Sequence[str],
    n_files: int = 8,
    max_rows: int | None = None,
) -> int:
    """Rewrite the table's CURRENT live files into ``n_files``
    re-clustered ones, as a new snapshot that replaces them.

    Incremental appends accrete small files (the classic small-file
    problem: at 100 TB, per-file overhead and loose stats eat the
    pruning win); compaction restores tight range clustering without
    changing a single row.  The replaced files stay on disk and every
    pre-compaction snapshot stays exactly time-travelable — the new
    manifest merely lists them as removed from the CURRENT state.
    Readers that iterate snapshots (SnapshotConsumer) see
    ``operation: "compact"`` in the log and skip it: it carries no new
    rows.  (Snapshot EXPIRY — squashing retired history into a base
    manifest and reclaiming its storage — is :func:`expire_snapshots`.)

    ``max_rows`` switches to BINPACK mode (Iceberg's
    rewrite_data_files binpack strategy): only data files SMALLER than
    ``max_rows`` are merged; well-sized files keep their tight stats
    and are not rewritten — at 100 TB, re-shuffling petabytes of
    already-clustered data to fix a trickle of small appended files is
    the wrong trade.  Pending equality deletes still apply only to the
    rewritten rows (their new snapshot postdates the deletes); the
    delete files are retained because the untouched files still need
    the merge-on-read anti-join, and retire on the next FULL compact.
    """
    entries = manifest_entries(root)
    if not entries:
        raise ValueError(f"nothing to compact at {root}")
    data_entries, del_entries = _split_deletes(entries)
    if not data_entries:
        raise ValueError(f"nothing to compact at {root}")
    if max_rows is not None:
        victims = [e for e in data_entries if e["n_rows"] < max_rows]
        if not victims:
            raise ValueError(
                f"no data file under {max_rows} rows to binpack at {root}"
            )
        df = spark.read.parquet(*[e["file"] for e in victims])
        if del_entries:
            df = _apply_deletes(
                spark, df, del_entries, _delete_key_cols(root)
            )
        return _write_snapshot(
            df, root, stat_cols, n_files,
            [e["file"] for e in victims], "compact",
        )
    df = spark.read.parquet(*[e["file"] for e in data_entries])
    if del_entries:
        # compaction APPLIES pending equality deletes (Iceberg's
        # rewrite_data_files with delete compaction): the rewritten
        # files carry no deleted rows, and the delete files retire with
        # the data files they applied to — scans after this pay no
        # anti-join.  Time travel to pre-compaction snapshots still
        # sees the delete files and re-applies them.
        df = _apply_deletes(spark, df, del_entries, _delete_key_cols(root))
    files = [e["file"] for e in entries]
    return _write_snapshot(df, root, stat_cols, n_files, files, "compact")


def vacuum(root: str, grace_seconds: float = 3600.0) -> list[str]:
    """Delete data files no manifest references (crashed-commit orphans).

    Files REPLACED by compaction are still referenced by their original
    manifest and are kept — deleting them would break time travel; only
    never-committed files go.  Files younger than ``grace_seconds`` are
    also kept: an IN-FLIGHT commit's data files are unreferenced until
    its log rename lands, and deleting them would break the snapshot
    that is about to become visible (Iceberg's remove_orphan_files has
    the same retention guard).  Returns the deleted paths
    (never-silent).
    """
    referenced = {
        e["file"]
        for s in snapshots(root)
        for e in _read_manifest(
            root, s["id"], base=s.get("operation") == "base"
        )["entries"]
    }
    cutoff = time.time() - grace_seconds
    deleted: list[str] = []
    data_root = os.path.join(root, "data")
    for dirpath, _dirs, names in os.walk(data_root):
        for name in names:
            p = os.path.join(dirpath, name)
            if (
                name.endswith(".parquet")
                and p not in referenced
                and os.path.getmtime(p) <= cutoff
            ):
                os.remove(p)
                deleted.append(p)
    return deleted


def expire_snapshots(
    spark: SparkSession, root: str, keep_from: int
) -> dict[str, Any]:
    """Retire history before ``keep_from`` (Iceberg's expire_snapshots):
    squash every delta up to it into one BASE manifest, drop the expired
    manifests (JSON + parquet metadata tier), and physically delete data
    files referenced ONLY by expired snapshots.  Time travel to ids
    before ``keep_from`` raises afterwards; a change-stream consumer
    whose cursor predates it must re-bootstrap (its since_snapshot now
    raises — loud, never a silent partial delivery).

    Why it exists: these manifests are deltas, so table state is a fold
    over ALL of them — at one commit per WARC batch the fold and the
    metadata tier grow without bound, and storage for compacted-away
    files is never reclaimed.  Expiry bounds both.

    Contract: pending equality-delete snapshots must be compacted away
    first (``compact()`` applies them physically) — squashing a fold
    that still carries delete files would have to re-derive per-row
    sequence numbers the base manifest cannot represent; the guard
    raises rather than approximate.  Base entries keep their original
    per-file paths (``data/snap=<orig>/``), so sequence semantics
    against FUTURE deletes are unchanged.
    """
    log = snapshots(root)
    ids = [s["id"] for s in log]
    if keep_from not in ids:
        raise ValueError(f"unknown snapshot {keep_from}; have {ids}")
    expired = [s for s in log if s["id"] < keep_from]
    if not expired:
        if (
            next(s for s in log if s["id"] == keep_from).get("operation")
            == "base"
        ):
            # idempotent repair: a crash after the log swap may have
            # left the base snapshot's metadata dir stale — rebuild it
            _rewrite_base_meta(
                spark, root, keep_from,
                _read_manifest(root, keep_from, base=True)["entries"],
            )
        return {"expired_snapshots": 0, "deleted_files": 0,
                "base_files": 0}
    base = manifest_entries(root, snapshot=keep_from)
    if any(e.get("operation") == "delete" for e in base):
        raise ValueError(
            "cannot expire past live equality-delete snapshots; "
            "compact() first so deletes are applied physically"
        )
    ops = {s["id"]: s.get("operation", "append") for s in log}
    live = {e["file"] for e in base}
    later_refs = {
        e["file"]
        for s in log
        if s["id"] > keep_from
        for e in _read_manifest(
            root, s["id"], base=ops[s["id"]] == "base"
        )["entries"]
    }
    doomed = {
        e["file"]
        for s in expired + [s for s in log if s["id"] == keep_from]
        for e in _read_manifest(
            root, s["id"], base=ops[s["id"]] == "base"
        )["entries"]
    } - live - later_refs

    # base manifest: the fold, with per-entry ops persisted (a base
    # spans snapshots whose ids leave the log).  Written under its OWN
    # filename (manifest-<id>.base.json) so the old log never routes a
    # reader here — the log swap below stays the single visibility
    # event, and a crash in between leaves the table exactly as it was
    # (the same promise commit() makes).
    base_clean = [dict(e) for e in base]
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(_manifest_path(root, keep_from)),
        prefix=".base-",
    )
    with os.fdopen(fd, "w") as fh:
        json.dump(
            {"entries": base_clean, "removed_files": []}, fh, default=str
        )
    os.replace(tmp, _manifest_path(root, keep_from, base=True))

    keep_entry = next(s for s in log if s["id"] == keep_from)
    new_log = [
        {
            "id": keep_from,
            "operation": "base",
            "added_files": len(base_clean),
            "added_rows": int(sum(e["n_rows"] for e in base_clean)),
            "removed_files": 0,
            "ts": keep_entry.get("ts", 0.0),
        }
    ] + [s for s in log if s["id"] > keep_from]
    fd, tmp = tempfile.mkstemp(dir=root, prefix=".snapshots-")
    with os.fdopen(fd, "w") as fh:
        json.dump({"snapshots": new_log}, fh)
    os.replace(tmp, os.path.join(root, _LOG))  # THE visibility swap

    # everything below is post-swap cleanup/repair: a crash anywhere in
    # it leaves a readable table (metadata_table ignores snap dirs the
    # log no longer lists, and raises loudly if the base snap dir is
    # still the stale delta) — re-running expire_snapshots with the same
    # keep_from finishes the job idempotently
    _rewrite_base_meta(spark, root, keep_from, base_clean)
    import shutil

    for s in expired:
        shutil.rmtree(
            os.path.join(_meta_dir(root), f"snap={s['id']}"),
            ignore_errors=True,
        )
        try:
            os.remove(
                _manifest_path(root, s["id"], base=ops[s["id"]] == "base")
            )
        except OSError:
            pass
    try:  # the superseded delta manifest of the base snapshot itself
        os.remove(_manifest_path(root, keep_from))
    except OSError:
        pass
    n_deleted = 0
    for f in sorted(doomed):
        try:
            os.remove(f)
            n_deleted += 1
        except OSError:
            pass
    return {
        "expired_snapshots": len(expired),
        "deleted_files": n_deleted,
        "base_files": len(base_clean),
    }


def _rewrite_base_meta(
    spark: SparkSession,
    root: str,
    keep_from: int,
    base_entries: list[dict[str, Any]],
) -> None:
    """Replace the base snapshot's metadata-tier dir with the folded add
    rows (long format; typed slots inferred from the JSON stats, whose
    types commit() validated on the way in)."""
    if not os.path.isdir(_meta_dir(root)):
        return
    meta_rows = []
    for e in base_entries:
        for col, (mn, mx) in e.get("stats", {}).items():
            slots = {
                "min_long": None, "max_long": None,
                "min_double": None, "max_double": None,
                "min_string": None, "max_string": None,
            }
            if isinstance(mn, int) and isinstance(mx, int):
                slots["min_long"], slots["max_long"] = mn, mx
            elif isinstance(mn, (int, float)) and isinstance(mx, (int, float)):
                slots["min_double"] = float(mn)
                slots["max_double"] = float(mx)
            else:
                slots["min_string"] = None if mn is None else str(mn)
                slots["max_string"] = None if mx is None else str(mx)
            meta_rows.append(
                (e["file"], "add", e["n_rows"], col,
                 slots["min_long"], slots["max_long"],
                 slots["min_double"], slots["max_double"],
                 slots["min_string"], slots["max_string"])
            )
    if meta_rows:
        spark.createDataFrame(
            meta_rows,
            "file string, op string, n_rows long, col string, "
            "min_long long, max_long long, min_double double, "
            "max_double double, min_string string, max_string string",
        ).write.mode("overwrite").parquet(
            os.path.join(_meta_dir(root), f"snap={keep_from}")
        )


def _read_manifest(
    root: str, snap_id: int, base: bool = False
) -> dict[str, Any]:
    with open(_manifest_path(root, snap_id, base)) as fh:
        m = json.load(fh)
    m.setdefault("removed_files", [])
    return m


def _write_snapshot(
    df: DataFrame,
    root: str,
    stat_cols: Sequence[str],
    n_files: int,
    removed_files: list[str],
    operation: str,
    extra_log: Mapping[str, Any] | None = None,
    bloom_cols: Sequence[str] = (),
) -> int:
    """Single-writer commit: snapshot-id allocation is a read-modify-
    write of the log, and the atomic ``os.replace`` protects READERS
    from torn state, not two concurrent writers from each other — a
    multi-writer deployment puts the log swap behind a catalog
    compare-and-swap (exactly Iceberg's catalog requirement)."""
    from pyspark.sql import types as T

    stat_cols = list(stat_cols)
    if not stat_cols:
        raise ValueError("need at least one stat column")
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    fields = {f.name: f.dataType for f in df.schema.fields}
    ok_types = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.StringType,
    )
    for c in stat_cols:
        if c not in fields:
            raise ValueError(f"stat column {c!r} not in {sorted(fields)}")
        if not isinstance(fields[c], ok_types):
            # JSON would stringify the min/max (default=str) and prune()
            # would then compare lexicographically — silently wrong.
            raise ValueError(
                f"stat column {c!r} has type {fields[c]}, which does not "
                "round-trip through JSON stats ordered; derive an "
                "int/double/string column first (e.g. epoch day for "
                "timestamps, as manifest_time_scan does)"
            )
    log = snapshots(root)
    snap_id = (log[-1]["id"] + 1) if log else 1
    ddir = _data_dir(root, snap_id)

    df.repartitionByRange(n_files, *stat_cols).write.mode(
        "overwrite"
    ).parquet(ddir)

    # Distributed stats pass: one partial+final agg over the files just
    # written; the collect is manifest-sized (one row per FILE).  The
    # read-back pins the writer's schema: an EMPTY batch (a real shape
    # in incremental ingestion — a WARC drop with nothing new) writes
    # zero part files, and schema inference would throw where an empty
    # snapshot is the correct, recorded outcome.
    spark = df.sparkSession
    stats_df = (
        spark.read.schema(df.schema).parquet(ddir)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                agg(c).alias(f"{tag}__{c}")
                for c in stat_cols
                for tag, agg in (("min", F.min), ("max", F.max))
            ],
        )
    )
    # Metadata-as-a-table tier: the same stats, written as PARQUET rows
    # straight from the distributed agg (never via the driver) under
    # manifest-pq/snap=<id>/.  Long format — one row per (file, stat
    # col) with the min/max in a slot typed like the source column — so
    # every snapshot shares ONE schema and the whole metadata tier reads
    # back as a single partitioned table that a Spark job can prune
    # (metadata_table / scan_via_metadata below).  This is the tier the
    # JSON spelling hands over to past ~10^6 files: pruning becomes a
    # filter+agg over parquet, and only the KEPT file list — not the
    # manifest — ever reaches the driver.  Same visibility rule: written
    # before the log swap, invisible until it lands.
    _write_meta_parquet(
        spark, stats_df, fields, stat_cols, removed_files, root, snap_id
    )
    stats = stats_df.collect()
    entries = [
        {
            "file": _normalize_file(r["file"]),
            "snapshot": snap_id,
            "n_rows": r["n_rows"],
            "stats": {
                c: [r[f"min__{c}"], r[f"max__{c}"]] for c in stat_cols
            },
        }
        for r in stats
    ]
    entries.sort(key=lambda e: e["file"])
    if bloom_cols and entries:
        blooms = _build_blooms(
            spark, df.schema, fields, ddir, list(bloom_cols),
            max(e["n_rows"] for e in entries),
        )
        for e in entries:
            if e["file"] in blooms:
                e["bloom"] = blooms[e["file"]]

    os.makedirs(os.path.dirname(_manifest_path(root, snap_id)), exist_ok=True)
    with open(_manifest_path(root, snap_id), "w") as fh:
        json.dump(
            {"entries": entries, "removed_files": removed_files},
            fh,
            default=str,
        )

    log = log + [
        {
            "id": snap_id,
            "operation": operation,
            # wall-clock commit time: the `as_of_ts` time-travel key.
            # Monotonicity follows from single-writer commits; a clock
            # step back would make as_of_ts resolve conservatively
            # (earlier snapshot), never expose uncommitted rows.
            "ts": time.time(),
            "added_files": len(entries),
            "added_rows": int(sum(e["n_rows"] for e in entries)),
            "removed_files": len(removed_files),
            **(dict(extra_log) if extra_log else {}),
        }
    ]
    fd, tmp = tempfile.mkstemp(dir=root, prefix=".snapshots-")
    with os.fdopen(fd, "w") as fh:
        json.dump({"snapshots": log}, fh)
    os.replace(tmp, os.path.join(root, _LOG))  # the visibility swap
    return snap_id


_BLOOM_K = 4  # hash probes per value (4 disjoint 32-bit md5 slices)


_BLOOM_M_CAP = 1 << 20  # bits; ~16K int64 words sparse-mapped per entry


def _bloom_m(max_rows_per_file: int) -> int:
    """Bits per file-bloom: ~10 bits/row (k=4 -> ~1-2% false positives),
    power of two, floor 1024, CAPPED at ``_BLOOM_M_CAP`` — sized from
    the LARGEST file so the fill factor stays useful at any committed
    batch size.

    The cap preserves the module's "manifest is KB-to-MB-sized and
    driver-resident" invariant: uncapped, a 10^8-row file would demand
    a 10^9-bit bloom serialized inline into its JSON entry.  Past the
    cap the filter degrades GRACEFULLY — at 10^6 rows/file the false-
    positive rate is ~50%, at 10^7 it saturates toward "never skips" —
    always conservative (a saturated bloom keeps the file, exactly the
    no-bloom behaviour), never a wrong skip.  Tables with files that
    large should store blooms as a binary column in the parquet
    metadata tier instead (the documented extension point in
    :func:`_build_blooms`), where per-entry size is off the driver."""
    m = 1024
    while m < 10 * max_rows_per_file and m < _BLOOM_M_CAP:
        m *= 2
    return m


def _bloom_value_positions(value: Any, m: int) -> list[int]:
    """Driver/prune-side twin of the engine's probe spelling: 4 disjoint
    8-hex-char slices of md5(str(value)), each mod m.  str() matches
    Spark's CAST(x AS STRING) for the int/string types commit() admits
    (float reprs differ between engines — rejected at commit)."""
    import hashlib

    h = hashlib.md5(str(value).encode()).hexdigest()
    return [int(h[8 * i:8 * i + 8], 16) % m for i in range(_BLOOM_K)]


def _build_blooms(
    spark: SparkSession,
    schema: Any,
    fields: Mapping[str, Any],
    ddir: str,
    bloom_cols: list[str],
    max_rows_per_file: int,
) -> dict[str, dict[str, Any]]:
    """Per-file bloom filters for point-lookup skipping (Iceberg's
    bloom-filter file metrics): min/max stats cannot prune an equality
    probe on a column the files are NOT clustered on — every file's
    range covers the value — but a KB-sized bloom proves absence.

    Built DISTRIBUTED: each row explodes into its 4 bit positions, a
    distinct + bit_or agg folds them into (file, word, bits) rows, and
    only the folded words (files x m/64, manifest-sized) reach the
    driver.  Stored sparse in the JSON manifest entry; the metadata
    tier does not carry blooms yet (documented — a binary column in the
    long format is the extension point)."""
    from pyspark.sql import types as T

    for c in bloom_cols:
        if not isinstance(
            fields[c],
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.StringType),
        ):
            raise ValueError(
                f"bloom column {c!r} must be int or string: CAST AS "
                "STRING must match the prune side's str() exactly, "
                "which float representations do not"
            )
    m = _bloom_m(max_rows_per_file)
    back = spark.read.schema(schema).parquet(ddir)
    out: dict[str, dict[str, Any]] = {}
    for c in bloom_cols:
        md5c = F.md5(F.col(c).cast("string"))
        probes = F.array(
            *[
                F.conv(F.substring(md5c, 1 + 8 * i, 8), 16, 10)
                .cast("long") % F.lit(m)
                for i in range(_BLOOM_K)
            ]
        )
        words = (
            back.filter(F.col(c).isNotNull())
            .select(
                F.input_file_name().alias("file"),
                F.explode(probes).alias("pos"),
            )
            .select(
                "file",
                (F.col("pos") / 64).cast("long").alias("w"),
                (F.col("pos") % 64).alias("b"),
            )
            .distinct()
            .groupBy("file", "w")
            .agg(
                F.expr(
                    "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)))"
                ).alias("bits")
            )
            .collect()
        )
        for r in words:
            f = _normalize_file(r["file"])
            out.setdefault(f, {}).setdefault(c, {"m": m, "words": {}})
            out[f][c]["words"][str(r["w"])] = r["bits"]
    return out


def _meta_dir(root: str) -> str:
    return os.path.join(root, _META_DIR)


def _write_meta_parquet(
    spark: SparkSession,
    stats_df: DataFrame,
    fields: Mapping[str, Any],
    stat_cols: Sequence[str],
    removed_files: list[str],
    root: str,
    snap_id: int,
) -> None:
    """One long-format parquet manifest per snapshot (schema-stable
    across snapshots regardless of stat-column names/types): rows are
    (file, op, n_rows, col, min_/max_ in the slot typed like the source
    column).  Derived from ``stats_df`` WITHOUT collecting — the union
    is over the (tiny) stat-column list, not over files."""
    from pyspark.sql import types as T

    norm = F.regexp_replace(F.col("file"), "^file:/+", "/")
    nul = {
        "long": F.lit(None).cast("long"),
        "double": F.lit(None).cast("double"),
        "string": F.lit(None).cast("string"),
    }

    def _typed(c: str) -> list:
        t = fields[c]
        slots = {k: (nul[k], nul[k]) for k in nul}
        if isinstance(
            t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            slots["long"] = (
                F.col(f"min__{c}").cast("long"),
                F.col(f"max__{c}").cast("long"),
            )
        elif isinstance(t, (T.FloatType, T.DoubleType)):
            slots["double"] = (
                F.col(f"min__{c}").cast("double"),
                F.col(f"max__{c}").cast("double"),
            )
        else:
            slots["string"] = (
                F.col(f"min__{c}").cast("string"),
                F.col(f"max__{c}").cast("string"),
            )
        return [
            slots[k][i].alias(f"{tag}_{k}")
            for k in ("long", "double", "string")
            for i, tag in ((0, "min"), (1, "max"))
        ]

    meta = None
    for c in stat_cols:
        part = stats_df.select(
            norm.alias("file"),
            F.lit("add").alias("op"),
            F.col("n_rows"),
            F.lit(c).alias("col"),
            *_typed(c),
        )
        meta = part if meta is None else meta.unionByName(part)
    if removed_files:
        rem = spark.createDataFrame(
            [(f,) for f in removed_files], "file string"
        ).select(
            "file",
            F.lit("remove").alias("op"),
            F.lit(None).cast("long").alias("n_rows"),
            F.lit(None).cast("string").alias("col"),
            *[
                nul[k].alias(f"{tag}_{k}")
                for k in ("long", "double", "string")
                for tag in ("min", "max")
            ],
        )
        meta = meta.unionByName(rem)
    meta.write.mode("overwrite").parquet(
        os.path.join(_meta_dir(root), f"snap={snap_id}")
    )


def metadata_table(
    spark: SparkSession,
    root: str,
    snapshot: int | None = None,
    since_snapshot: int | None = None,
) -> DataFrame:
    """The manifest tier AS A TABLE: live 'add' rows for the requested
    snapshot range, resolved distributed (the JSON fold in
    :func:`manifest_entries` re-expressed as a filter + anti-join over
    the parquet manifests).  One row per (file, stat column); the
    snapshot id is the ``snap`` partition column, so range requests
    prune manifests at the directory level.  Nothing here touches the
    driver except the (snapshot-count-sized) log consulted for ids and
    operations — the path that stays small at a million files."""
    log = snapshots(root)
    ids = [s["id"] for s in log]
    ops = {s["id"]: s.get("operation", "append") for s in log}
    if snapshot is not None and snapshot not in ids:
        raise ValueError(f"unknown snapshot {snapshot}; have {ids}")
    if since_snapshot is not None and since_snapshot not in ids:
        raise ValueError(f"unknown snapshot {since_snapshot}; have {ids}")
    if not os.path.isdir(_meta_dir(root)):
        raise ValueError(f"no parquet manifest tier at {root}")
    lo = since_snapshot if since_snapshot is not None else 0
    hi = snapshot if snapshot is not None else (ids[-1] if ids else 0)
    # only snap dirs the LOG lists count: directories belonging to
    # expired snapshots (or mid-crash leftovers) must not contribute
    visible = [i for i in ids if lo < i <= hi]
    meta = spark.read.parquet(_meta_dir(root)).filter(
        F.col("snap").isin(visible)
    )
    base_ids = [i for i in visible if ops[i] == "base"]
    if base_ids:
        # staleness guard: a crash between expire's log swap and its
        # metadata rewrite leaves the base dir holding the old DELTA
        # rows — silently under-counting the fold.  Verify the file
        # count matches the log and fail loudly with the repair step.
        bid = base_ids[0]
        base_log = next(s for s in log if s["id"] == bid)
        want = base_log["added_files"]
        want_rows = base_log.get("added_rows")
        got = (
            meta.filter((F.col("snap") == bid) & (F.col("op") == "add"))
            .select("file", "n_rows").distinct()
            .agg(
                F.count(F.lit(1)).alias("files"),
                F.coalesce(F.sum("n_rows"), F.lit(0)).alias("rows"),
            )
            .collect()[0]
        )
        # compare rows as well as files: a stale delta dir left by a
        # crash between expire's log swap and its metadata rewrite can
        # coincidentally list the SAME file count as the folded base —
        # the row total distinguishes them
        rows_bad = want_rows is not None and int(got["rows"]) != want_rows
        if got["files"] != want or rows_bad:
            raise RuntimeError(
                f"metadata tier stale for base snapshot {bid} "
                f"({got['files']} files / {got['rows']} rows listed, log "
                f"says {want} files / {want_rows} rows); re-run "
                f"expire_snapshots(spark, root, {bid}) to repair"
            )
    if since_snapshot is not None:
        # change stream: only genuinely-new rows — compaction rewrites
        # of already-delivered rows are excluded, and no removal can
        # apply to an append-only slice
        app = [i for i in ids if lo < i <= hi and ops[i] == "append"]
        if not app:
            return meta.filter(F.lit(False))
        return meta.filter(
            (F.col("op") == "add") & F.col("snap").isin(app)
        )
    adds = meta.filter(F.col("op") == "add")
    rems = meta.filter(F.col("op") == "remove").select("file").distinct()
    return adds.join(rems, "file", "left_anti")


def prune_via_metadata(
    meta: DataFrame,
    predicates: Mapping[str, tuple[Any, Any]] | None,
) -> DataFrame:
    """Per-file pruning verdicts as a DataFrame: (file, n_rows, skip).

    Same conservative rule as :func:`prune` — a file is skipped only
    when some stat row PROVES emptiness (max < lo or min > hi in the
    slot matching the predicate's type); NULL stats and absent columns
    keep the file — but evaluated as a distributed filter+agg, so the
    decision for 10^6 files never loops on the driver."""
    viol = F.lit(False)
    for col, (lo, hi) in (predicates or {}).items():
        here = F.col("col") == F.lit(col)
        if isinstance(lo, str) or isinstance(hi, str):
            slots = [("min_string", "max_string")]
        else:
            slots = [("min_long", "max_long"), ("min_double", "max_double")]
        for mn, mx in slots:
            if lo is not None:
                viol = viol | (
                    here & F.col(mx).isNotNull() & (F.col(mx) < F.lit(lo))
                )
            if hi is not None:
                viol = viol | (
                    here & F.col(mn).isNotNull() & (F.col(mn) > F.lit(hi))
                )
    return meta.groupBy("file").agg(
        F.min("n_rows").alias("n_rows"),
        (F.max(viol.cast("int")) == F.lit(1)).alias("skip"),
    )


def scan_via_metadata(
    spark: SparkSession,
    root: str,
    predicates: Mapping[str, tuple[Any, Any]] | None = None,
    snapshot: int | None = None,
    since_snapshot: int | None = None,
    apply_deletes: bool = True,
) -> tuple[DataFrame, dict[str, int]]:
    """:func:`scan` + :func:`scan_report` through the parquet metadata
    tier: pruning runs as a Spark job over the manifests and only the
    KEPT file list is collected.  Returns (frame, report) — the report
    comes with the scan because recomputing it would re-run the metadata
    job, and the never-silent doctrine wants it looked at.

    Equality-delete files are split off by their snapshot ids (from the
    log — snapshot-count-sized, the one driver-resident piece), never
    predicate-pruned, and applied merge-on-read like :func:`scan`."""
    meta = metadata_table(spark, root, snapshot, since_snapshot)
    del_ids = [
        s["id"] for s in snapshots(root) if s.get("operation") == "delete"
    ]
    del_entries: list[dict[str, Any]] = []
    if del_ids and since_snapshot is None:
        # (the since_snapshot change stream is appends-only: its
        # metadata_table slice already excludes delete snapshots)
        del_entries = [
            {"file": r["file"], "n_rows": r["n_rows"]}
            for r in meta.filter(F.col("snap").isin(del_ids))
            .select("file", "n_rows")
            .distinct()
            .collect()
        ]
        meta = meta.filter(~F.col("snap").isin(del_ids))
    per_file = prune_via_metadata(meta, predicates).localCheckpoint(
        eager=True
    )  # two consumers; verdicts are tiny
    agg = per_file.agg(
        F.count(F.lit(1)).alias("files_total"),
        F.sum(F.col("skip").cast("int")).alias("files_skipped"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(~F.col("skip"), F.col("n_rows")).otherwise(0)).alias(
            "rows_kept_bound"
        ),
    ).collect()[0]
    if agg["files_total"] == 0:
        raise ValueError(
            f"no data files in the requested snapshot range at {root}"
        )
    # only KEPT paths reach the driver — the skip set stays distributed
    kept = sorted(
        r["file"]
        for r in per_file.filter(~F.col("skip")).select("file").collect()
    )
    report = {
        "files_total": int(agg["files_total"]),
        "files_kept": len(kept),
        "files_skipped": int(agg["files_skipped"]),
        "rows_total": int(agg["rows_total"]),
        "rows_kept_bound": int(agg["rows_kept_bound"]),
    }
    files = kept or [
        per_file.select("file").orderBy("file").limit(1).collect()[0]["file"]
    ]
    df = spark.read.parquet(*files)
    for col, (lo, hi) in (predicates or {}).items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    if apply_deletes and del_entries:
        df = _apply_deletes(spark, df, del_entries, _delete_key_cols(root))
    report["delete_files"] = len(del_entries)
    report["delete_rows_bound"] = int(
        sum(e["n_rows"] for e in del_entries)
    )
    return df, report


def manifest_entries(
    root: str,
    snapshot: int | None = None,
    since_snapshot: int | None = None,
) -> list[dict[str, Any]]:
    """All file entries visible in the requested snapshot range.

    ``snapshot`` = read the table as of that snapshot (time travel:
    the fold of every delta up to it); ``since_snapshot`` = the CHANGE
    STREAM after that snapshot — only rows that are genuinely new, so
    non-append snapshots (compaction rewrites of already-delivered
    rows) are excluded from it, exactly as Iceberg CDC skips replace
    snapshots.  Default: the current table.
    """
    log = snapshots(root)
    ids = [s["id"] for s in log]
    ops = {s["id"]: s.get("operation", "append") for s in log}
    if snapshot is not None and snapshot not in ids:
        raise ValueError(f"unknown snapshot {snapshot}; have {ids}")
    if since_snapshot is not None and since_snapshot not in ids:
        raise ValueError(f"unknown snapshot {since_snapshot}; have {ids}")
    lo = since_snapshot if since_snapshot is not None else 0
    hi = snapshot if snapshot is not None else (ids[-1] if ids else 0)
    incremental = since_snapshot is not None
    out: list[dict[str, Any]] = []
    for sid in ids:
        if not lo < sid <= hi:
            continue
        if incremental and ops[sid] != "append":
            continue  # rewrite of rows the consumer already saw
        m = _read_manifest(root, sid, base=ops[sid] == "base")
        if m["removed_files"]:  # compaction replaces earlier files
            gone = set(m["removed_files"])
            out = [e for e in out if e["file"] not in gone]
        # tag each entry with its snapshot's operation so readers can
        # split DATA files from equality-DELETE key files; a base
        # manifest's entries keep the op stored at squash time
        out.extend(
            {**e, "operation": e.get("operation", ops[sid])}
            if ops[sid] == "base"
            else {**e, "operation": ops[sid]}
            for e in m["entries"]
        )
    return out


def prune(
    entries: Iterable[Mapping[str, Any]],
    predicates: Mapping[str, tuple[Any, Any]] | None,
    eq: Mapping[str, Any] | None = None,
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Split entries into (kept, skipped) under interval ``predicates``
    and point-lookup ``eq`` probes.

    ``predicates`` maps column -> (lo, hi), either bound None for
    one-sided.  ``eq`` maps column -> value: checked against the
    min/max interval AND, when the entry carries a bloom for the
    column, against the bloom (which proves absence on files whose
    RANGE covers the value — the case clustering can't prune).
    Conservative: a file is skipped only on PROOF of emptiness;
    missing/NULL stats or a missing bloom keep the file.  Pure function
    — unit-testable without Spark.
    """
    kept: list[dict[str, Any]] = []
    skipped: list[dict[str, Any]] = []
    for e in entries:
        drop = False
        for col, (lo, hi) in (predicates or {}).items():
            stat = e.get("stats", {}).get(col)
            if stat is None or stat[0] is None or stat[1] is None:
                continue
            if (lo is not None and stat[1] < lo) or (
                hi is not None and stat[0] > hi
            ):
                drop = True
                break
        for col, v in (eq or {}).items() if not drop else ():
            stat = e.get("stats", {}).get(col)
            if (
                stat is not None
                and stat[0] is not None
                and stat[1] is not None
                and (v < stat[0] or v > stat[1])
            ):
                drop = True
                break
            bl = e.get("bloom", {}).get(col)
            if bl:
                words = bl["words"]
                for p in _bloom_value_positions(v, bl["m"]):
                    w, b = divmod(p, 64)
                    if not (words.get(str(w), 0) >> b) & 1:
                        drop = True  # bloom proves absence
                        break
                if drop:
                    break
        (skipped if drop else kept).append(dict(e))
    return kept, skipped


_SNAP_RE = r"snap=(\d+)"
# delete sets usually fit comfortably in a broadcast; past this row
# bound (from manifest stats, so known BEFORE reading) fall back to a
# shuffled anti-join rather than OOM-ing the driver
_DELETE_BROADCAST_ROWS = 5_000_000


def _split_deletes(
    entries: list[dict[str, Any]],
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    data = [e for e in entries if e.get("operation") != "delete"]
    dels = [e for e in entries if e.get("operation") == "delete"]
    return data, dels


def _apply_deletes(
    spark: SparkSession,
    df: DataFrame,
    del_entries: list[dict[str, Any]],
    key_cols: Sequence[str],
) -> DataFrame:
    """Merge-on-read: anti-join data rows against the live delete keys
    under Iceberg's sequence rule (a delete hits only rows whose
    snapshot predates it).  Each side's snapshot id comes from its
    ``data/snap=<id>/`` path — no stored column, no rewrite."""
    from functools import reduce

    snap_of = F.regexp_extract(F.input_file_name(), _SNAP_RE, 1).cast("long")
    dels = (
        spark.read.parquet(*[e["file"] for e in del_entries])
        .select(*key_cols, snap_of.alias("__dsnap"))
    )
    del_rows = sum(e["n_rows"] for e in del_entries)
    if del_rows <= _DELETE_BROADCAST_ROWS:
        dels = F.broadcast(dels)
    d = df.withColumn("__snap", snap_of).alias("d")
    x = dels.alias("x")
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"d.{k}") == F.col(f"x.{k}") for k in key_cols],
    ) & (F.col("d.__snap") < F.col("x.__dsnap"))
    return d.join(x, cond, "left_anti").drop("__snap")


def _delete_key_cols(root: str) -> list[str]:
    for s in snapshots(root):
        if s.get("operation") == "delete":
            return list(s["delete_key_cols"])
    return []


def scan(
    spark: SparkSession,
    root: str,
    predicates: Mapping[str, tuple[Any, Any]] | None = None,
    snapshot: int | None = None,
    since_snapshot: int | None = None,
    apply_deletes: bool = True,
    merge_schema: bool = False,
    eq: Mapping[str, Any] | None = None,
) -> DataFrame:
    """Manifest-pruned scan; the residual row filter is always applied.

    ``merge_schema=True`` supports additive schema evolution (a later
    snapshot added columns): the scan unions all surviving files'
    schemas and older rows read NULL in the new columns — parquet's
    mergeSchema, which pays a footer-union pass.  (Iceberg avoids that
    pass by keeping the schema in table metadata; this layer's JSON log
    could carry it the same way if the footer pass ever shows up in a
    profile.)  Off by default: single-schema tables shouldn't pay it.

    Only files the manifest references are ever read (orphans from a
    crashed commit are invisible); of those, only files whose stats
    intersect ``predicates``.  When pruning eliminates every file, one
    surviving-manifest file is still scanned so the result keeps its
    schema (the residual filter returns zero of its rows).

    Row-level deletes (:func:`delete_keys`) are applied merge-on-read
    unless ``apply_deletes=False``; the ``since_snapshot`` change stream
    is appends-only and never sees them (its entries exclude non-append
    snapshots already).  Delete key files are never predicate-pruned —
    they are manifest-sized and dropping one would resurrect rows.
    """
    entries = manifest_entries(root, snapshot, since_snapshot)
    data_entries, del_entries = _split_deletes(entries)
    if not data_entries:
        raise ValueError(
            f"no data files in the requested snapshot range at {root}"
        )
    kept, _ = prune(data_entries, predicates, eq)
    files = [e["file"] for e in kept] or [data_entries[0]["file"]]
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*files)
    for col, (lo, hi) in (predicates or {}).items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    for col, v in (eq or {}).items():  # residual: never trust stats alone
        df = df.filter(F.col(col) == F.lit(v))
    if apply_deletes and del_entries:
        df = _apply_deletes(spark, df, del_entries, _delete_key_cols(root))
    return df


def scan_report(
    root: str,
    predicates: Mapping[str, tuple[Any, Any]] | None = None,
    snapshot: int | None = None,
    since_snapshot: int | None = None,
    eq: Mapping[str, Any] | None = None,
) -> dict[str, int]:
    """Never-silent pruning metrics for the matching :func:`scan`.

    File/row figures cover DATA files; live equality-delete files are
    reported separately (``delete_files`` / ``delete_rows_bound`` — an
    upper bound on rows the merge-on-read anti-join can suppress)."""
    entries = manifest_entries(root, snapshot, since_snapshot)
    data_entries, del_entries = _split_deletes(entries)
    kept, skipped = prune(data_entries, predicates, eq)
    return {
        "files_total": len(data_entries),
        "files_kept": len(kept),
        "files_skipped": len(skipped),
        "rows_total": int(sum(e["n_rows"] for e in data_entries)),
        "rows_kept_bound": int(sum(e["n_rows"] for e in kept)),
        "delete_files": len(del_entries),
        "delete_rows_bound": int(sum(e["n_rows"] for e in del_entries)),
    }
