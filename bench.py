#!/usr/bin/env python
"""Per-round benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec}, "sf": ..., "throughput_rows_per_sec": ...}

Each query is forced end-to-end with a noop sink (all columns materialize —
count() would let Catalyst prune the computed columns away).  Each query
executes once: its row count comes from an Observation on the timed write,
so every time is the plan's first execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The headline subset: one per operator family (scan/derive, gridding agg,
# stencil engine, spatial joins, relational, windows).  The
# first 17 entries are the "comparable-20 subtotal" of BENCH/BASELINE.md
# less its cosine_topk, text_stats and MinHash-bucket entries, which are
# no longer registered.
# A query whose builder does its work eagerly (localCheckpoint or collect
# at build time) is left out, because the noop-sink timing would measure
# a checkpoint re-read, not the work; each such absence is noted where it
# would otherwise sit.
HEADLINE = [
    "points_extract",
    "grid_idw",
    "slope_hillshade",
    "tpi",
    "pip_pairs",
    "knn_gps",
    "profile_extract",
    "hag",
    "tpch_pricing",
    "sessionize",
    "flow_chi",
    "fft_binned_power",
    "kmeans_scarp",
    "resample_bilinear",
    "extract_pages",
    "perm_ensemble",
    "network_dissolve",
    "terrain_pipeline",
    "hex_pages",
    "pip_rtree",
    "hex_ring_density",
    "pages_pipeline",
    "crawl_latest",
    "contour_cells",
    "aspect_rose",
    "hypsometry",
    # (twi and grid_mean_salted share upstream passes with flow_chi /
    # grid_idw but time their OWN marginal plans)
    "viewshed",
    "grid_mean_salted",
    "twi",
    "funnel_steps",
    "curvature_classes",
    "tile_pyramid",
    "hotspot_cells",
    "slope_area_fit",
    "crawl_segment_diff",
    "morans_i",
    "semivariogram",
    "ripley_k",
    "trade_volumes",
    "adaptive_grid",
    "geary_c",
    "market_share",
    "hilbert_locality",
    "dbscan_grid",
    # (hand times its OWN marginal plan over the shared memoized flow
    # pass)
    "hand",
    "geomorphons",
    "zonal_overlay",
    "geo_language_map",
    # (cost_distance is absent: the relaxation rounds checkpoint per
    # step.  basin_drainage times its OWN marginal plan over the shared
    # memoized flow pass)
    "vrm",
    "basin_drainage",
    "tile_skew",
    "openness",
    "semivariogram_aniso",
    "resample_error",
    # (order_census times its OWN marginal plan over the shared memoized
    # flow pass)
    "order_census",
]


def main() -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from rgr_pdal_topo_spark.queries import QUERIES
    from rgr_pdal_topo_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # warm the JVM + parquet footers so per-query times measure the plans
    spark.read.parquet(f"{SF_DIR}/orders.parquet").count()

    times: dict[str, float] = {}
    rows_total = 0
    for name in HEADLINE:
        fn = QUERIES[name]
        df = fn(spark, SF_DIR)
        rows = Observation(f"bench_{name}")
        t0 = time.perf_counter()
        df.observe(rows, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        times[name] = round(time.perf_counter() - t0, 3)
        rows_total += rows.get["n"]
    total = sum(times.values())

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "headline_query_suite_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": times,
                "sf": float(sf),
                "throughput_rows_per_sec": round(rows_total / total, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
