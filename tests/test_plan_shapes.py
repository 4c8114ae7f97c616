"""Physical-plan audits: the plans must have the scale-safe shapes
(broadcast joins for dims, pushed filters in scans, partial aggregation,
no cartesian products on fact-fact paths)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_join_is_broadcast(spark):
    from rgr_pdal_topo_spark.operators.joins import pip_join_rect
    from rgr_pdal_topo_spark.synth import points_df, polygons_df

    plan = _plan(
        pip_join_rect(points_df(spark, SF_DIR), polygons_df(spark, SF_DIR))
    )
    assert "Broadcast" in plan
    # the fact side must not shuffle for this join
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_to_parquet(spark):
    from rgr_pdal_topo_spark.sources.tables import load_table

    df = load_table(spark, SF_DIR, "lineitem").filter(
        F.col("l_shipdate") < "1996-01-01"
    ).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "PushedFilters" in plan
    # column pruning: the scan must not read all 11 columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_grid_agg_is_partial_final(spark):
    from rgr_pdal_topo_spark.grid import DEFAULT_GRID as G
    from rgr_pdal_topo_spark.operators.gridding import grid_points
    from rgr_pdal_topo_spark.synth import points_df

    plan = _plan(grid_points(points_df(spark, SF_DIR), G, output_type="idw"))
    # two HashAggregate nodes = map-side partial + final
    assert plan.count("HashAggregate") >= 2


def test_knn_grid_no_cartesian_mainpath(spark):
    from rgr_pdal_topo_spark.operators.joins import knn_join_grid
    from rgr_pdal_topo_spark.synth import gps_df, points_df

    df = knn_join_grid(
        points_df(spark, SF_DIR), gps_df(spark, SF_DIR), max_dist=100.0
    )
    plan = _plan(df)
    # the candidate join is materialized eagerly behind a localCheckpoint
    # (the final plan reads the checkpointed RDD); what must NOT appear in
    # the result plan is any cross-join residue
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed candidates


def test_profile_project_no_shuffle(spark):
    from rgr_pdal_topo_spark.operators.joins import profile_project
    from rgr_pdal_topo_spark.synth import points_df

    plan = _plan(profile_project(points_df(spark, SF_DIR)))
    assert "Exchange" not in plan  # pure narrow map: scan->project->explode
    assert "*(1)" in plan  # whole-stage codegen span


def test_profile_project_codegen_size(spark):
    """Each segment's t (and projected point) is a named column below the
    explode, not inlined at every use inside the Generate.  On this input
    the inlined spelling generated 155,115 characters of whole-stage code;
    the pin is 69,000."""
    from tests.conftest import SF_DIR_ORACLE

    from rgr_pdal_topo_spark.operators.joins import profile_project
    from rgr_pdal_topo_spark.synth import points_df

    df = profile_project(points_df(spark, SF_DIR_ORACLE))
    df.write.format("noop").mode("overwrite").save()
    stages = spark._jvm.org.apache.spark.sql.execution.debug.package \
        .codegenStringSeq(df._jdf.queryExecution().executedPlan())
    it, total = stages.iterator(), 0
    while it.hasNext():
        total += len(it.next()._2())
    assert 0 < total < 69_000, total


def test_whole_stage_codegen_on_points(spark):
    from rgr_pdal_topo_spark.synth import points_df

    plan = _plan(points_df(spark, SF_DIR))
    assert "*(1)" in plan  # whole-stage codegen span
    # column pruning reached the scan: only o_orderkey is read
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan


def test_resample_near_broadcasts_dest_universe(spark):
    from rgr_pdal_topo_spark.grid import DEFAULT_GRID as G
    from rgr_pdal_topo_spark.operators.flow import FLOW_GRID as DG
    from rgr_pdal_topo_spark.operators.gridding import grid_points
    from rgr_pdal_topo_spark.operators.raster import resample
    from rgr_pdal_topo_spark.synth import points_df

    g = grid_points(points_df(spark, SF_DIR), G, output_type="mean")
    plan = _plan(resample(g, G, DG, mode="near"))
    # the generated dest-cell universe is tiny: broadcast, not SMJ
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_reproject_is_scan_plus_arrow_udf(spark):
    from rgr_pdal_topo_spark.operators.raster import reproject_4326_to_3857
    from rgr_pdal_topo_spark.synth import points_df

    pts = points_df(spark, SF_DIR).selectExpr(
        "pid", "x / 100.0 - 5.0 AS lon", "y / 100.0 + 40.0 AS lat"
    )
    plan = _plan(reproject_4326_to_3857(pts))
    assert "ArrowEvalPython" in plan  # vectorized, not BatchEvalPython
    assert "Exchange" not in plan  # no shuffle: pure map pipeline


def test_radial_histogram_broadcasts_mids(spark):
    from rgr_pdal_topo_spark.grid import DEFAULT_GRID as G
    from rgr_pdal_topo_spark.operators.gridding import grid_points
    from rgr_pdal_topo_spark.operators.raster import radial_histogram
    from rgr_pdal_topo_spark.synth import points_df

    g = grid_points(points_df(spark, SF_DIR), G, output_type="mean")
    plan = _plan(radial_histogram(g, G))
    assert "BroadcastNestedLoopJoin" in plan  # 8-row theta dim broadcast
    assert plan.count("HashAggregate") >= 2  # partial+final bin counts


def test_stateful_stream_uses_state_operator(spark):
    import tempfile

    from rgr_pdal_topo_spark.grid import GridSpec
    from rgr_pdal_topo_spark.streaming.stateful import incremental_grid_stream

    src = tempfile.mkdtemp()
    stream = spark.readStream.schema(
        "pid long, x double, y double, z double"
    ).parquet(src)
    out = incremental_grid_stream(stream, GridSpec())
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" in plan


def test_cell_index_is_pure_codegen(spark):
    """The spatial-index encode must stay JVM-side: no Python eval node,
    no shuffle — one projected scan."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["cell_index"](spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_multimodal_features_single_python_stage(spark):
    """extract_features is ONE Arrow mapInPandas over the scan — the
    binary payload must not cross extra shuffles."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["multimodal_features"](spark, SF_DIR))
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_stencil_suite_two_arrow_stages(spark):
    """Eleven DEM kernels must share ONE grouped-map stage (plus one for
    the mask grid) — per-kernel stages would multiply the halo shuffle.
    The stencil engine runs on applyInArrow (FlatMapGroupsInArrow)."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["stencil_suite"](spark, SF_DIR))
    assert plan.count("FlatMapGroupsInArrow") == 2
    assert "CartesianProduct" not in plan


TILE_OPERATORS = [
    "fill_empty_cells", "fft_power_tiles", "fft_filter_tiles",
    "fft_binned_power_tiles", "spectral_break_tiles", "diamond_square_tiles",
    "best_fit_roughness",
]


@pytest.mark.parametrize("name", TILE_OPERATORS)
def test_tile_operator_build_runs_no_job(spark, name):
    """Building a per-tile raster operator launches no Spark job, and the
    operator runs on the one tile runner: applyInArrow, never
    applyInPandas."""
    import numpy as np
    import pandas as pd

    from rgr_pdal_topo_spark.grid import GridSpec
    from rgr_pdal_topo_spark.operators import gridding, spectral, terrain

    g = GridSpec(cell=10.0, nrows=48, ncols=48)
    r, c = np.nonzero(np.random.default_rng(1).random((48, 48)) > 0.2)
    dem = spark.createDataFrame(pd.DataFrame({
        "cell_row": r.astype("int32"), "cell_col": c.astype("int32"),
        "value": 100.0 + 0.1 * r + np.sin(c / 3.0),
        "n": np.ones(len(r), "int64"),
    }))
    builders = {
        "fill_empty_cells": lambda: gridding.fill_empty_cells(dem, g),
        "fft_power_tiles": lambda: spectral.fft_power_tiles(dem, g, 24),
        "fft_filter_tiles": lambda: spectral.fft_filter_tiles(
            dem, g, [("lowpass", {"minimum_wavelength": 100.0})], 24),
        "fft_binned_power_tiles": lambda: spectral.fft_binned_power_tiles(
            dem, g, 24),
        "spectral_break_tiles": lambda: spectral.spectral_break_tiles(
            dem, g, 24),
        "diamond_square_tiles": lambda: terrain.diamond_square_tiles(
            spark, g, 0.7, tile_cells=24),
        "best_fit_roughness": lambda: terrain.best_fit_roughness(
            dem, g, n_h=3, tile_cells=24),
    }
    sc = spark.sparkContext
    group = f"tile-build-{name}"
    sc.setJobGroup(group, group)
    try:
        df = builders[name]()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    plan = _plan(df)
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    if name == "fill_empty_cells":  # n rides the tile: no join back
        assert "Join" not in plan


def test_eager_builders_tag_every_build_job(spark, tmp_path):
    """Every job the eager builders start before returning carries the
    builder job tag, inside the caller's job group: the fill_dem rounds
    (3x3 tiles), the kNN checkpoint and fallback test, pip_join's
    strategy count, the rtree's polygon collect, BatchCheckpointer.run and
    the manifest builders' reads, bound collects and commits."""
    import numpy as np
    import pandas as pd

    from rgr_pdal_topo_spark.grid import GridSpec
    from rgr_pdal_topo_spark.operators import flow, joins
    from rgr_pdal_topo_spark.plans.lineage import BatchCheckpointer
    from rgr_pdal_topo_spark.queries import QUERIES
    from rgr_pdal_topo_spark.session import EAGER_JOB_TAG
    from rgr_pdal_topo_spark.synth import gps_df, points_df, polygons_df

    g = GridSpec(cell=10.0, nrows=48, ncols=48)
    r, c = np.nonzero(np.random.default_rng(1).random((48, 48)) > 0.2)
    dem = spark.createDataFrame(pd.DataFrame({
        "cell_row": r.astype("int32"), "cell_col": c.astype("int32"),
        "value": 100.0 + 0.1 * r + np.sin(c / 3.0),
    }))
    pts, gps = points_df(spark, SF_DIR), gps_df(spark, SF_DIR)
    polys = polygons_df(spark, SF_DIR)
    sc = spark.sparkContext
    group = "eager-build-tags"
    sc.setJobGroup(group, group)
    try:
        flow.fill_dem(dem, g, tile_cells=16)
        joins.knn_join_grid(pts, gps, bucket=10.0)
        joins.pip_join(pts, polys)
        joins.pip_join_rtree(pts, polys)
        BatchCheckpointer(str(tmp_path / "cp"), n_batches=2).run(
            pts, lambda df: df
        )
        for name in ("manifest_scan", "manifest_incremental",
                     "manifest_meta_scan", "manifest_bloom_scan"):
            QUERIES[name](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    tagged = set(sc._jsc.sc().statusTracker().getJobIdsForTag(EAGER_JOB_TAG))
    assert jobs and jobs <= tagged, sorted(jobs - tagged)
    assert EAGER_JOB_TAG not in sc.getJobTags()


def test_pages_geocode_zero_shuffle_no_python(spark):
    """Geocoding pages into cell ids is a pure scan -> project: any
    Exchange or Python worker here would serialize 10^12 rows for
    nothing."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["pages_geocode"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_extract_pages_zero_shuffle_no_python(spark):
    """Text extraction is a pure scan -> project in the JVM: decode,
    regex and unescape are built-in expressions, so no Python worker
    sees the html payload."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["extract_pages"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_points_decimate_is_scan_side(spark):
    """Hash-rank decimation must stay a zero-shuffle, Python-free filter
    evaluated at the scan."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["points_decimate"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_manifest_scan_pushes_residual_filter(spark, tmp_path):
    """Manifest pruning composes with, not replaces, parquet pushdown:
    inside each KEPT file the residual interval predicate must still
    reach the scan (row-group skipping is the second pruning tier)."""
    import os

    from rgr_pdal_topo_spark.sources import manifest as M

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    M.commit(df, root, ["k"], n_files=4)
    pruned = M.scan(spark, root, {"k": (100, 200)})
    plan = _plan(pruned)
    assert "PushedFilters" in plan and "GreaterThanOrEqual(k,100)" in plan
    assert len(set(pruned.inputFiles())) == 1  # manifest tier pruned 3/4


def test_hex_pages_single_shuffle_no_python(spark):
    """Hex encoding is pure codegen (scan -> project); the only Exchange
    is the final partial+final aggregation on the cell id."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["hex_pages"](spark, SF_DIR))
    assert "EvalPython" not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg only


def test_hex_ring_is_joinless_scatter_gather(spark):
    """The k-ring neighbourhood query is a JOINLESS scatter-gather: one
    page scan, two narrow aggs, no join of any kind, no Python.  (The
    earlier equi-join spelling scanned the geocode extraction twice —
    column pruning specialized the self-join's two agg subtrees and
    defeated ReusedExchange.)"""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["hex_ring_density"](spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "Join" not in plan
    # one physical scan node ("FileScan parquet" matches both substrings)
    assert max(plan.count("Scan parquet"), plan.count("FileScan")) <= 1


def test_manifest_delete_scan_broadcasts_delete_keys(spark):
    """Merge-on-read applies bounded delete sets as a broadcast
    anti-join — a shuffled anti-join on every read would tax all scans
    for a KB of keys."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["manifest_delete_scan"](spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "LeftAnti" in plan


def test_pii_scrub_zero_shuffle_no_python(spark):
    """PII redaction is scan -> codegen project: no Exchange, no Python
    worker, no join."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["pii_scrub"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Python" not in plan and "Arrow" not in plan
    assert "Join" not in plan


def test_crawl_consolidation_single_partial_agg(spark):
    from rgr_pdal_topo_spark.operators import pages

    plan = _plan(
        pages.consolidate_crawl(pages.fetch_log_df(spark, SF_DIR))
    )
    # COUNT(DISTINCT digest) expands to the two-level aggregate —
    # partial on (url, digest) then final on url — which stays robust
    # when one url has 10^6 recrawls (a collect_set spelling would
    # bound-break there).  No window, no join, and every exchange is
    # preceded by a partial/merge aggregate.
    assert "partial_count" in plan and "merge_count" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 2


def test_contour_cases_single_scan_no_self_join(spark):
    """The quad assembly must be the replicate-to-blocks spelling, not
    self-joins: ONE scan of the source, NO join nodes, exactly two
    explodes (corner fan + level fan), map-side-combinable aggs."""
    from rgr_pdal_topo_spark.operators import raster
    from rgr_pdal_topo_spark import queries as Q

    g = Q.mean_dem(spark, SF_DIR)
    plan = _plan(raster.contour_cases(g, (95, 105, 115, 125)))
    assert plan.count("Scan parquet") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct"):
        assert node not in plan
    assert plan.count("Generate explode") == 2
    assert "partial_count" in plan


def test_grid_mean_salted_two_phase_agg(spark):
    """The salted spelling must show the explicit two-phase shape: the
    first aggregation keys on (cell, _salt), the final fold on the cell
    alone, both combining map-side."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["grid_mean_salted"](spark, SF_DIR))
    assert "_salt" in plan
    assert "partial_sum" in plan
    # two distinct grouping levels: with and without the salt key
    agg_lines = [l for l in plan.splitlines() if "HashAggregate" in l]
    assert any("_salt" in l for l in agg_lines)
    assert any("_salt" not in l and "cell_row" in l for l in agg_lines)


def test_tile_pyramid_single_scan_all_zooms(spark):
    """The 3-level pyramid is ONE parquet scan + explode + one
    partial+final agg — the per-zoom re-scan spelling (the oracle's
    textbook UNION ALL) would read the crawl once per level."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["tile_pyramid"](spark, SF_DIR))
    assert "EvalPython" not in plan
    assert max(plan.count("Scan parquet"), plan.count("FileScan")) == 1
    assert "Generate" in plan  # the explode


def test_pair_statistics_never_cartesian(spark):
    """semivariogram and ripley_k candidate pairs must be EQUI-joins on
    the lag-target / cell key — never a cartesian or broadcast-nested-
    loop product (the oracle spells the naive all-pairs join; the
    engine must not)."""
    from rgr_pdal_topo_spark.queries import QUERIES

    for name in ("semivariogram", "ripley_k"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        # ripley's one BroadcastNestedLoopJoin is the 1x1 scalar cross
        # join of (pair counts) x (n) — never on the pair path; the
        # pair join itself must be hash/sort-merge on the key
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
            or "BroadcastHashJoin" in plan, name
        assert plan.count("Generate explode") == 1, name


def test_market_share_broadcast_chain(spark):
    """The Q8-shaped 8-table join must stream the fact ONCE through a
    chain of broadcast hash joins — no sort-merge/shuffled join, no
    cartesian — the only scalable plan when every dim is small."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["market_share"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 7
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_geomorphons_equi_join_no_python(spark):
    """The geomorphon census must be the explode -> equi-join on the
    exact target key -> two partial+final aggs: no cartesian /
    nested-loop node, no Python in the plan."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["geomorphons"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_zonal_overlay_broadcast_cell_join(spark):
    """The overlay must join the raster on the exact cell key against
    the BROADCAST polygon fan — no shuffle of the grid side for the
    join, no cartesian, no Python."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["zonal_overlay"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_vrm_no_python_no_cartesian(spark):
    """VRM is pure whole-stage-codegen joins + aggregation: no Python
    evaluation nodes, no cartesian products (the 9-offset cross join
    is against a broadcast 9-row table)."""
    from rgr_pdal_topo_spark.queries import QUERIES

    plan = _plan(QUERIES["vrm"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final window sums
