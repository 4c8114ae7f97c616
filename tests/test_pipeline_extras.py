"""Multimodal plumbing, checkpoint lineage, streaming-vs-batch parity."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_DIR

from pyspark.sql import functions as F


def test_multimodal_features_deterministic(spark):
    from rgr_pdal_topo_spark.operators import multimodal as mm
    from rgr_pdal_topo_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    payloads = mm.attach_payload(docs)
    a = mm.extract_features(payloads).toPandas().sort_values("doc_id")
    b = mm.extract_features(payloads).toPandas().sort_values("doc_id")
    assert len(a) == 50
    assert all(len(v) == mm.FEATURE_DIM for v in a.feature)
    for va, vb in zip(a.feature, b.feature):
        np.testing.assert_array_equal(va, vb)
    # payload_bytes metadata consistent with binary length
    assert (a.payload_bytes > 0).all()


def test_multimodal_strict_raises(spark):
    from rgr_pdal_topo_spark.operators import multimodal as mm
    from rgr_pdal_topo_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(2)
    payloads = mm.attach_payload(docs)
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        mm.extract_features(payloads, strict=True).collect()


def test_frame_sample_shapes(spark):
    from rgr_pdal_topo_spark.operators import multimodal as mm
    from rgr_pdal_topo_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(20)
    frames = mm.frame_sample(mm.attach_payload(docs)).toPandas()
    assert (frames.frame_offset == frames.frame_idx * 64).all()
    assert frames.groupby("doc_id").frame_idx.max().max() <= 7


def test_lineage_resume_equals_single_shot(spark, tmp_path):
    from rgr_pdal_topo_spark.plans.lineage import BatchCheckpointer
    from rgr_pdal_topo_spark.synth import points_df

    pts = points_df(spark, SF_DIR)

    def transform(df):
        return df.groupBy("batch_id", "cls").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("z"), 6).alias("sz")
        )

    # single shot
    cp1 = BatchCheckpointer(str(tmp_path / "one"), n_batches=8)
    full = transform(
        pts.withColumn("batch_id", F.pmod(F.col("pid"), F.lit(8)).cast("int"))
    ).toPandas().sort_values(["batch_id", "cls"]).reset_index(drop=True)

    # interrupted run: first process only batches 0-3 (simulate failure)
    cp = BatchCheckpointer(str(tmp_path / "resume"), n_batches=8)
    cp.run(pts.filter(F.pmod(F.col("pid"), F.lit(8)) < 4), transform)
    assert sorted(
        r.batch_id for r in cp.completed(spark).collect()
    ) == [0, 1, 2, 3]

    # resume with the full input: only batches 4-7 are computed
    out = cp.run(pts, transform).toPandas()
    got = out.sort_values(["batch_id", "cls"]).reset_index(drop=True)
    assert (
        got[["batch_id", "cls", "n", "sz"]].values.tolist()
        == full[["batch_id", "cls", "n", "sz"]].values.tolist()
    )
    # no drift detected
    assert cp.validate(pts).count() == 0


def test_lineage_zero_output_batch_is_recorded(spark, tmp_path):
    """A batch whose transform yields no rows gets a manifest row with
    n_rows = 0, so a resume does not recompute it, and a partition an
    interrupted earlier run left for it is removed."""
    from rgr_pdal_topo_spark.plans.lineage import BatchCheckpointer
    from rgr_pdal_topo_spark.synth import points_df

    pts = points_df(spark, SF_DIR)
    batched = pts.withColumn(
        "batch_id", F.pmod(F.col("pid"), F.lit(4)).cast("int")
    )

    def transform(df):
        return df.filter(F.col("batch_id") != 1).groupBy("batch_id", "cls").agg(
            F.count(F.lit(1)).alias("n")
        )

    cp = BatchCheckpointer(str(tmp_path / "zero"), n_batches=4)
    # batch 0's rows under batch 1's partition: what a crash between the
    # data and manifest writes of a run with other inputs could leave
    transform(batched.filter("batch_id = 0")).drop("batch_id").write.parquet(
        f"{cp.out_path}/batch_id=1"
    )
    cp.run(pts.filter(F.pmod(F.col("pid"), F.lit(4)) < 2), transform)
    done = {r.batch_id: r.n_rows for r in cp.completed(spark).collect()}
    assert done[0] > 0 and done[1] == 0 and sorted(done) == [0, 1]

    out = cp.run(pts, transform)
    rows = cp.completed(spark).collect()
    # one manifest row per batch: batch 1 was not run again
    assert sorted(r.batch_id for r in rows) == [0, 1, 2, 3]
    assert {r.batch_id: r.n_rows for r in rows}[1] == 0
    key = ["batch_id", "cls"]
    got = out.toPandas().sort_values(key).reset_index(drop=True)
    exp = transform(batched).toPandas().sort_values(key).reset_index(drop=True)
    assert got[key + ["n"]].values.tolist() == exp[key + ["n"]].values.tolist()


def test_lineage_output_schema_is_written_layout(spark, tmp_path):
    """run returns the data columns, then batch_id int: the columns,
    types and nullability that inferring the written output's schema
    gives, without running that inference."""
    from rgr_pdal_topo_spark.plans.lineage import BatchCheckpointer
    from rgr_pdal_topo_spark.synth import points_df

    def transform(df):
        return df.groupBy("batch_id", "cls").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("z").alias("sz"),
            F.collect_list("pid").alias("pids"),
            F.lit("x").alias("tag"),
            F.struct(F.min("z").alias("lo"), F.max("z").alias("hi")).alias("zr"),
        ).select("n", "batch_id", "cls", "sz", "pids", "tag", "zr")

    cp = BatchCheckpointer(str(tmp_path / "schema"), n_batches=4)
    out = cp.run(points_df(spark, SF_DIR), transform)
    assert out.columns == ["n", "cls", "sz", "pids", "tag", "zr", "batch_id"]
    assert out.schema == spark.read.parquet(cp.out_path).schema


def test_streaming_equals_batch(spark, tmp_path):
    import shutil

    from rgr_pdal_topo_spark.streaming.windows import (
        events_stream,
        hourly_counts_stream,
        run_to_memory,
    )

    # the file stream source requires a directory
    events_dir = tmp_path / "events_stream"
    events_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", events_dir / "part-0.parquet")

    stream = hourly_counts_stream(events_stream(spark, str(events_dir)))
    got = (
        run_to_memory(stream, "hourly_test")
        .toPandas()
        .sort_values(["hour", "event_type"])
        .reset_index(drop=True)
    )
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .toPandas()
        .sort_values(["hour", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch)
    assert (got.n.to_numpy() == batch.n.to_numpy()).all()
    np.testing.assert_allclose(got.sum_value, batch.sum_value, atol=2e-6)


def test_lineage_fingerprint_version_mismatch_is_loud(spark, tmp_path):
    """A manifest written by a DIFFERENT fingerprint algorithm (or one
    predating versioning) must raise a rebuild instruction, not flag
    every batch as drifted."""
    import pytest

    from rgr_pdal_topo_spark.plans.lineage import BatchCheckpointer
    from rgr_pdal_topo_spark.synth import points_df

    pts = points_df(spark, SF_DIR)

    def transform(df):
        return df.groupBy("batch_id").agg(F.count(F.lit(1)).alias("n"))

    cp = BatchCheckpointer(str(tmp_path / "fpv"), n_batches=4)
    cp.run(pts.filter(F.pmod(F.col("pid"), F.lit(4)) < 2), transform)

    # forge a legacy manifest: drop the version column entirely
    legacy = spark.read.parquet(cp.manifest_path).drop("fp_version")
    legacy.write.mode("overwrite").parquet(str(tmp_path / "legacy_mf"))
    spark.read.parquet(str(tmp_path / "legacy_mf")).write.mode(
        "overwrite"
    ).parquet(cp.manifest_path)
    assert "fp_version" not in spark.read.parquet(cp.manifest_path).columns

    with pytest.raises(RuntimeError, match="fingerprint version"):
        cp.run(pts, transform)
    with pytest.raises(RuntimeError, match="fingerprint version"):
        cp.validate(pts)


def test_session_window_stream_drains_to_batch_result(spark, tmp_path):
    """Streaming session windows (merge semantics) drained over a
    multi-file (multi-micro-batch) source equal the SAME session_window
    plan run through the batch engine — interval merges must happen
    across micro-batch boundaries.  Watermark is set far beyond the
    table's span so no event is late (the equality is about merge
    state, not late-data policy)."""
    from rgr_pdal_topo_spark.streaming.windows import (
        events_stream,
        run_to_memory,
        session_counts_stream,
    )

    events_dir = tmp_path / "events_sessions"
    # 3 files -> 3 micro-batches at maxFilesPerTrigger=1, arbitrary order
    spark.read.parquet(f"{SF_DIR}/events.parquet").repartition(3).write.parquet(
        str(events_dir)
    )

    stream = session_counts_stream(
        events_stream(spark, str(events_dir)), watermark="400 days"
    )
    got = (
        run_to_memory(stream, "sessions_test", output_mode="complete")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    batch = (
        spark.read.parquet(str(events_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch) > 0
    for c in ("user_id", "session_start", "session_end", "n_events"):
        assert (got[c].to_numpy() == batch[c].to_numpy()).all(), c

    # Cross-check the boundary contract end to end: per-user session
    # counts from the drained stream must equal the oracle-backed batch
    # `sessionize` query's n_sessions (lag + running-sum spelling, same
    # 30-minute gap, same strictly-greater-than-gap "new session" rule).
    from rgr_pdal_topo_spark.queries import QUERIES

    sess = (
        QUERIES["sessionize"](spark, SF_DIR)
        .toPandas()
        .set_index("user_id")["n_sessions"]
        .to_dict()
    )
    stream_counts = got.groupby("user_id").size().to_dict()
    assert stream_counts == sess


def test_session_window_boundary_semantics(spark, tmp_path):
    """Documented boundary contract: an event EXACTLY gap after the
    previous one MERGES into the session (Spark merges on touching
    [ts, ts+gap) windows), and only an event strictly beyond the gap
    opens a new one — the same closed boundary as the batch sessionize
    oracle's ``ts > prev + gap`` lag spelling."""
    import datetime as dt

    from rgr_pdal_topo_spark.streaming.windows import (
        run_to_memory,
        session_counts_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=30)),              # exact gap -> MERGE (1 session)
        (2, t0),
        (2, t0 + dt.timedelta(minutes=30, seconds=1)),   # beyond -> NEW (2 sessions)
    ]
    src = tmp_path / "boundary_events"
    spark.createDataFrame(
        rows, "user_id int, ts timestamp"
    ).coalesce(1).write.parquet(str(src))
    stream = (
        spark.readStream.schema("user_id int, ts timestamp")
        .parquet(str(src))
    )
    got = (
        run_to_memory(
            session_counts_stream(stream, watermark="400 days"),
            "sessions_boundary",
            output_mode="complete",
        )
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
        .to_dict()
    )
    assert got == {1: 1, 2: 2}


def _write_events(spark, rows, d=None):
    import os
    import tempfile

    d = d or tempfile.mkdtemp()
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    return d


def test_funnel_steps_planted(spark):
    """Hand-built funnel semantics: order enforced (a view BEFORE the
    signup never counts), the 48 h window measured from the PREVIOUS
    stage's event, the (ts, event_id) tie rule, and users without the
    entry stage absent entirely."""
    from datetime import datetime, timedelta

    from rgr_pdal_topo_spark.queries import QUERIES

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    h = lambda n: t0 + timedelta(hours=n)
    rows, eid = [], 0

    def ev(user, typ, ts):
        nonlocal eid
        rows.append((eid, ts, user, typ, 0.0, "{}"))
        eid += 1

    # user 1: clean full conversion
    ev(1, "signup", h(0)); ev(1, "view", h(1)); ev(1, "click", h(2))
    ev(1, "purchase", h(3))
    # user 2: view only BEFORE signup -> stops at stage 1
    ev(2, "view", h(-1)); ev(2, "signup", h(0)); ev(2, "click", h(1))
    # user 3: view outside the 48 h window -> stops at stage 1
    ev(3, "signup", h(0)); ev(3, "view", h(49))
    # user 4: click at the SAME ts as its view with larger event_id
    ev(4, "signup", h(0)); ev(4, "view", h(1)); ev(4, "click", h(1))
    ev(4, "purchase", h(2))
    # user 5: never signs up -> absent from every stage
    ev(5, "view", h(0)); ev(5, "click", h(1)); ev(5, "purchase", h(2))
    # user 6: each step within 48 h of the PREVIOUS step, 80 h total
    ev(6, "signup", h(0)); ev(6, "view", h(40)); ev(6, "click", h(80))

    d = _write_events(spark, rows)
    got = {
        r.stage: (r.stage_name, r.n_users)
        for r in QUERIES["funnel_steps"](spark, d).collect()
    }
    assert got == {
        1: ("signup", 5),
        2: ("view", 3),     # users 1, 4, 6
        3: ("click", 3),    # users 1, 4 (tie rule), 6 (per-step window)
        4: ("purchase", 2),  # users 1, 4
    }


def test_curvature_classes_census_and_paraboloid(spark):
    """The census partitions the 100x100 universe exactly, classes stay
    in {-1, 0, 1, 9}; and on a pure paraboloid bowl every interior cell
    classifies laplacian-convex (+1) — the sign contract of the class
    bands."""
    import numpy as np
    import pandas as pd

    from rgr_pdal_topo_spark.grid import GridSpec
    from rgr_pdal_topo_spark.operators.stencils import run_stencils
    from rgr_pdal_topo_spark.queries import QUERIES, _curv_class_sql
    from pyspark.sql import functions as F

    rows = QUERIES["curvature_classes"](spark, "/root/testdata/sf0.001").collect()
    assert sum(r.n_cells for r in rows) == 10000
    assert {r.lap_class for r in rows} <= {-1, 0, 1, 9}
    assert {r.plan_class for r in rows} <= {-1, 0, 1, 9}

    g = GridSpec(x0=0.0, y0=0.0, cell=10.0, nrows=12, ncols=12)
    rr, cc = np.meshgrid(np.arange(12), np.arange(12), indexing="ij")
    z = ((rr - 5.5) ** 2 + (cc - 5.5) ** 2).astype("float64")
    df = spark.createDataFrame(
        pd.DataFrame({"cell_row": rr.ravel(), "cell_col": cc.ravel(),
                      "value": z.ravel()})
    )
    out = run_stencils(df, g, {"lap": ("laplacian", {})}, tile_cells=6)
    cls = out.select(
        "cell_row", "cell_col",
        F.expr(_curv_class_sql("round(lap, 6)")).alias("c"),
    ).collect()
    interior = [r.c for r in cls
                if 1 <= r.cell_row <= 10 and 1 <= r.cell_col <= 10]
    assert interior and set(interior) == {1}


def test_tile_pyramid_partitions_pages_per_zoom(spark):
    """Each zoom level bins EVERY geocoded page exactly once:
    SUM(n_pages) per zoom == page count, and cell counts grow
    monotonically with zoom (finer tiles split, never merge)."""
    from rgr_pdal_topo_spark.operators import pages
    from rgr_pdal_topo_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    n = pages.geo_lonlat(spark, sf).count()
    rows = QUERIES["tile_pyramid"](spark, sf).collect()
    per_zoom = {}
    cells = {}
    for r in rows:
        per_zoom[r.zoom] = per_zoom.get(r.zoom, 0) + r.n_pages
        cells[r.zoom] = cells.get(r.zoom, 0) + 1
    assert per_zoom == {5: n, 8: n, 12: n}
    assert cells[5] <= cells[8] <= cells[12]


def test_hotspot_cells_exceed_recomputed_expectation(spark):
    """Every returned hotspot really exceeds 2x the uniform expectation
    for its clipped window, recomputed independently in numpy from the
    same planted-augmented binned counts; and the planted cluster cell
    (50, 50) is always found."""
    import numpy as np

    from rgr_pdal_topo_spark.queries import QUERIES
    from rgr_pdal_topo_spark.synth import points_df
    from rgr_pdal_topo_spark.grid import DEFAULT_GRID as G
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    pts = points_df(spark, sf).select(
        F.expr(G.sql_row_of("y")).alias("r"),
        F.expr(G.sql_col_of("x")).alias("c"),
        "pid",
    ).collect()
    grid = np.zeros((100, 100), dtype=np.int64)
    for row in pts:
        grid[row.r, row.c] += 1
        if row.pid % 97 == 0:
            grid[50, 50] += 1
    total = grid.sum()
    got = {
        (r.cell_row, r.cell_col): (r.s9, r.m)
        for r in QUERIES["hotspot_cells"](spark, sf).collect()
    }
    assert (50, 50) in got
    for (r, c), (s9, m) in got.items():
        r0, r1 = max(0, r - 1), min(99, r + 1)
        c0, c1 = max(0, c - 1), min(99, c + 1)
        s = int(grid[r0:r1 + 1, c0:c1 + 1].sum())
        mm = (r1 - r0 + 1) * (c1 - c0 + 1)
        assert (s9, m) == (s, mm), (r, c)
        assert s * 10000 > 2 * total * mm, (r, c)


def test_crawl_segment_diff_inclusion_exclusion(spark):
    """Set-operator invariants: each segment partitions into common +
    only, both sides positive (revisions guarantee asymmetry: even
    fetch indices include f=0 for every url, odd only for
    multi-capture urls)."""
    from rgr_pdal_topo_spark.queries import QUERIES

    r = QUERIES["crawl_segment_diff"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_a == r.n_common + r.n_only_a
    assert r.n_b == r.n_common + r.n_only_b
    assert r.n_a > r.n_b > 0 and r.n_common > 0


def test_morans_i_checkerboard_vs_plane(spark):
    """Sign semantics of the Moran chain (same spelling the query
    uses): a checkerboard is strongly negative, a smooth gradient
    strongly positive."""
    import numpy as np
    import pandas as pd

    from rgr_pdal_topo_spark.queries import _MORAN_I_SQL
    from pyspark.sql import functions as F

    def moran(z: "np.ndarray") -> float:
        rr, cc = np.meshgrid(range(z.shape[0]), range(z.shape[1]),
                             indexing="ij")
        zt = spark.createDataFrame(pd.DataFrame({
            "cell_row": rr.ravel(), "cell_col": cc.ravel(),
            "z": z.ravel().astype("int64")}))
        right = zt.select(F.col("cell_row").alias("r2"),
                          (F.col("cell_col") - 1).alias("c2"),
                          F.col("z").alias("zj"))
        down = zt.select((F.col("cell_row") - 1).alias("r2"),
                         F.col("cell_col").alias("c2"),
                         F.col("z").alias("zj"))
        cond = lambda s: (F.col("cell_row") == F.col("r2")) & (
            F.col("cell_col") == F.col("c2"))
        pr = zt.join(right, cond(right)).select(
            F.col("z").alias("zi"), "zj"
        ).unionAll(zt.join(down, cond(down)).select(
            F.col("z").alias("zi"), "zj"))
        s1 = zt.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("z").alias("sz"),
                    F.sum(F.col("z") * F.col("z")).alias("szz"))
        s2 = pr.agg(F.count(F.lit(1)).alias("e_cnt"),
                    F.sum(F.col("zi") * F.col("zj")).alias("sprod"),
                    F.sum(F.col("zi") + F.col("zj")).alias("sdeg"))
        return s1.crossJoin(s2).select(
            F.expr(_MORAN_I_SQL).alias("i")).collect()[0].i

    checker = np.indices((8, 8)).sum(axis=0) % 2 * 100
    plane = np.arange(64).reshape(8, 8) * 10
    assert moran(checker) < -0.9
    assert moran(plane) > 0.8


def test_geary_c_checkerboard_vs_plane(spark):
    """Sign semantics of the Geary chain (same spelling the query
    uses): a checkerboard reads near 2 (maximal local contrast), a
    smooth gradient near 0 — the complement of Moran's orientation."""
    import numpy as np
    import pandas as pd

    from rgr_pdal_topo_spark.queries import _GEARY_C_SQL
    from pyspark.sql import functions as F

    def geary(z: "np.ndarray") -> float:
        rr, cc = np.meshgrid(range(z.shape[0]), range(z.shape[1]),
                             indexing="ij")
        zt = spark.createDataFrame(pd.DataFrame({
            "cell_row": rr.ravel(), "cell_col": cc.ravel(),
            "z": z.ravel().astype("int64")}))
        right = zt.select(F.col("cell_row").alias("r2"),
                          (F.col("cell_col") - 1).alias("c2"),
                          F.col("z").alias("zj"))
        down = zt.select((F.col("cell_row") - 1).alias("r2"),
                         F.col("cell_col").alias("c2"),
                         F.col("z").alias("zj"))
        cond = lambda s: (F.col("cell_row") == F.col("r2")) & (
            F.col("cell_col") == F.col("c2"))
        pr = zt.join(right, cond(right)).select(
            F.col("z").alias("zi"), "zj"
        ).unionAll(zt.join(down, cond(down)).select(
            F.col("z").alias("zi"), "zj"))
        s1 = zt.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("z").alias("sz"),
                    F.sum(F.col("z") * F.col("z")).alias("szz"))
        s2 = pr.agg(
            F.count(F.lit(1)).alias("e_cnt"),
            F.sum((F.col("zi") - F.col("zj"))
                  * (F.col("zi") - F.col("zj"))).alias("sdiff2"))
        return s1.crossJoin(s2).select(
            F.expr(_GEARY_C_SQL).alias("c")).collect()[0].c

    checker = np.indices((8, 8)).sum(axis=0) % 2 * 100
    plane = np.arange(64).reshape(8, 8) * 10
    assert geary(checker) > 1.8
    assert geary(plane) < 0.2


def test_vrm_plane_exactly_zero_and_numpy_parity(spark):
    """A planar DEM of ANY tilt has identical unit normals everywhere,
    so interior VRM is EXACTLY 0.0 with m == 9 (the property that
    separates VRM from windowed_std, which reads tilt as roughness);
    a +/- alternating surface gives vrm > 0.  Both pinned against an
    independent numpy recomputation of the full q13 chain."""
    import math

    from rgr_pdal_topo_spark.queries import _vrm_core

    def run(zfn, n=7):
        rows = [
            (r, c, int(zfn(r, c)))
            for r in range(n)
            for c in range(n)
        ]
        zt = spark.createDataFrame(
            rows, "cell_row int, cell_col int, z long"
        )
        return {
            (r["cell_row"], r["cell_col"]): r
            for r in _vrm_core(spark, zt).collect()
        }

    # flat plane: identical normals (0, 0, 8192) exactly -> vrm 0.0
    flat = run(lambda r, c: 12345)
    interior = [
        v for (r, c), v in flat.items() if 2 <= r <= 4 and 2 <= c <= 4
    ]
    assert len(interior) == 9
    assert all(v["m"] == 9 and v["vrm"] == 0.0 for v in interior)

    # tilted plane: normals identical up to the q13 pin -> |vrm| tiny
    plane = run(lambda r, c: 3000 * r + 700 * c)
    tilted = [
        v for (r, c), v in plane.items() if 2 <= r <= 4 and 2 <= c <= 4
    ]
    assert all(abs(v["vrm"]) < 3e-4 for v in tilted)

    # irregular surface (period-2 alternation is INVISIBLE to the
    # 2-cell central difference — gradients scatter only if the
    # field varies at longer wavelengths): strictly positive VRM
    rough = run(lambda r, c: ((r * r * 37 + c * c * 91) % 6007) * 31)
    center = rough[(3, 3)]
    assert center["vrm"] > 0.01

    # independent numpy recomputation of the chain at one cell
    def nq(dx2, dy2):
        mag = math.sqrt(float(dx2 * dx2 + dy2 * dy2 + 268435456))
        return (
            math.floor(-dx2 / mag * 8192 + 0.5),
            math.floor(-dy2 / mag * 8192 + 0.5),
            math.floor(16384.0 / mag * 8192 + 0.5),
        )

    # recompute the 3x3 sum at (3,3) from first principles
    zf = lambda r, c: ((r * r * 37 + c * c * 91) % 6007) * 31
    sx = sy = sz = m = 0
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            r, c = 3 + dr, 3 + dc
            dx2 = zf(r, c + 1) - zf(r, c - 1)
            dy2 = zf(r + 1, c) - zf(r - 1, c)
            x, y, zc = nq(dx2, dy2)
            sx += x; sy += y; sz += zc; m += 1
    exp_vrm = round(
        1.0 - math.sqrt(float(sx * sx + sy * sy + sz * sz)) / (m * 8192.0),
        6,
    )
    assert (center["sx"], center["sy"], center["sz"]) == (sx, sy, sz)
    assert center["vrm"] == exp_vrm


def test_tile_skew_planted(spark):
    """Uniform layout (equal count per tile) gives max_over_mean
    EXACTLY 1.0 and gini EXACTLY 0.0; the (1, 1, 98) concentration
    matches the hand-computed sorted-rank Gini."""
    from rgr_pdal_topo_spark.queries import _tile_skew_core

    def run(counts_per_tile):
        rows = []
        for i, cnt in enumerate(counts_per_tile):
            # tile (0, i): cells at row 0, cols i*25..i*25+cnt-1 fit
            # one tile only if cnt <= 25; replicate one cell instead
            rows += [(0, i * 25)] * cnt
        df = spark.createDataFrame(rows, "cell_row int, cell_col int")
        [r] = _tile_skew_core(df).collect()
        return r

    uni = run([5, 5, 5, 5])
    assert (uni["max_over_mean"], uni["gini"]) == (1.0, 0.0)
    assert (uni["n_tiles"], uni["n_points"], uni["max_tile"]) == (4, 20, 5)

    conc = run([1, 1, 98])
    # sorted counts (1, 1, 98), ranks (1, 2, 3):
    # gini = (2*(1+2+294) - 4*100) / (3*100) = 194/300
    assert conc["gini"] == round(194 / 300.0, 6)
    assert conc["top1_share"] == 0.98


def test_openness_analytic_endpoints(spark):
    """Flat DEM: every tangent is exactly 0 -> horizon_tan EXACTLY
    0.0 and only cells with the full 64-sample horizon (8-cell inset)
    are emitted.  A single pit sees terrain ABOVE it in every
    direction (positive); the matching peak reads negative (sign
    antisymmetry of the tangent)."""
    from rgr_pdal_topo_spark.queries import _openness_core

    def run(zfn, n=20):
        rows = [
            (r, c, int(zfn(r, c)))
            for r in range(n)
            for c in range(n)
        ]
        zt = spark.createDataFrame(
            rows, "cell_row int, cell_col int, zq long"
        )
        return {
            (r["cell_row"], r["cell_col"]): r
            for r in _openness_core(spark, zt).collect()
        }

    flat = run(lambda r, c: 5 << 20)
    # 20x20 grid, 8-cell horizon -> interior 4x4 block survives
    assert len(flat) == 16
    assert all(v["horizon_tan"] == 0.0 for v in flat.values())

    pit = run(
        lambda r, c: (5 << 20) - ((10 << 20) if (r, c) == (9, 9) else 0)
    )
    assert pit[(9, 9)]["horizon_tan"] > 0.1
    peak = run(
        lambda r, c: (5 << 20) + ((10 << 20) if (r, c) == (9, 9) else 0)
    )
    assert peak[(9, 9)]["horizon_tan"] < -0.1


def test_semivariogram_aniso_striped_fabric(spark):
    """A row-striped surface (z depends only on cell_row) has
    along-strike gamma EXACTLY 0 at every EW lag, while NS gamma is
    positive and hand-computable: alternating +/-q stripes give
    sdiff2 = n_pairs * (2q)^2 at odd NS lags and exactly 0 at even
    ones."""
    from rgr_pdal_topo_spark.queries import _aniso_core

    q = 8192
    n = 12
    rows = [
        (r, c, q if r % 2 == 0 else -q)
        for r in range(n)
        for c in range(n)
    ]
    zt = spark.createDataFrame(rows, "cell_row int, cell_col int, z long")
    got = {
        (r["dir"], r["h"]): r for r in _aniso_core(zt).collect()
    }
    for h in range(1, 5):
        assert got[("ew", h)]["sdiff2"] == 0
        assert got[("ew", h)]["gamma"] == 0.0
    # NS odd lags: every pair differs by 2q
    for h in (1, 3):
        r = got[("ns", h)]
        assert r["sdiff2"] == r["n_pairs"] * (2 * q) ** 2
        # gamma = sdiff2 / (2 * n_pairs * 8192^2) = 2.0 exactly
        assert r["gamma"] == 2.0
    for h in (2, 4):
        assert got[("ns", h)]["sdiff2"] == 0


def test_resample_error_analytic(spark):
    """A DEM constant within every 2x2 block round-trips EXACTLY
    (rmse 0.0); a checkerboard of +/-8192 (1.0 in z units) has every
    block mean 0, so every cell errs by exactly 1.0 -> rmse 1.0; a
    3-cell partial block exercises the 144/bn^2 = 16 branch (a 16x
    scale would be fractional there)."""
    from rgr_pdal_topo_spark.queries import _resample_error_core

    def run(rows):
        zt = spark.createDataFrame(
            rows, "cell_row int, cell_col int, z long"
        )
        [r] = _resample_error_core(zt).collect()
        return r

    # block-constant: 4x4 grid, z = block id
    bc = run([
        (r, c, 1000 * ((r // 2) * 2 + (c // 2)))
        for r in range(4) for c in range(4)
    ])
    assert (bc["sse144"], bc["rmse"]) == (0, 0.0)

    # checkerboard +/-8192: block means 0, every error exactly 1.0
    cb = run([
        (r, c, 8192 if (r + c) % 2 == 0 else -8192)
        for r in range(4) for c in range(4)
    ])
    assert cb["rmse"] == 1.0

    # 3-cell partial block: cells (0,0),(0,1),(1,0) with z 0,0,3*8192;
    # eq = z*3 - zsum: (-3*8192, -3*8192, 6*8192), factor 144/9 = 16
    pb = run([(0, 0, 0), (0, 1, 0), (1, 0, 3 * 8192)])
    eqs = [-3 * 8192, -3 * 8192, 6 * 8192]
    assert pb["sse144"] == sum(e * e * 16 for e in eqs)
