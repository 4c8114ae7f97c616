"""Line-of-sight viewshed over the gridded DEM (SURVEY.md §2.12
extension — terrain-analysis sibling of hypsometry / aspect_rose; the
reference ships no viewshed, so this extends its grid-analysis family
the same way the hex index extends cell_index).

Algorithm: nearest-neighbor ray sampling — the classic "R3" reference
viewshed (Franklin & Ray 1994).  For a target cell at Chebyshev
distance ``d`` from the observer, the sight line is sampled at the
``d - 1`` intermediate parameters ``k/d`` (k = 1..d-1), each snapped to
its nearest grid cell, and the target is visible iff no sample's
elevation angle reaches the target's.  Two exactness tricks make the
whole operator BIGINT arithmetic end to end (no trig, no division, no
rounding policy):

* the nearest cell of the fractional position ``o + delta * k / d`` is
  ``(2 * (o * d + delta * k) + d) DIV (2 * d)`` — integer half-up
  rounding (numerator is always >= 0 on an all-positive grid, so
  floor-division == truncation in both engines; Spark spells the
  operator ``DIV``, DuckDB ``//``);
* the angle comparison cross-multiplies instead of dividing:
  ``(z_i - z_o) * d >= (z_t - z_o) * k`` blocks, with elevations as
  Q20 integers (``qint(value, Q20)`` of the bit-stable mean DEM), so
  grazing rays (equality) block in both engines by the same rule.

Scale shape: one explode (each target emits its d-1 samples), one
equi-join against the DEM for sample elevations, one groupBy(target)
max — an O(N * d) plan with no iteration.  On a continental DEM the
sample->DEM join shuffles on cell id (AQE absorbs the ring skew around
the observer); the production refinement is sector decomposition —
each of K angular sectors is an independent partition whose DEM wedge
co-locates with its samples — which this module documents but does not
need at the 100x100 test extent, where the DEM side broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Observer stands 2 m above its DEM cell, in Q20 (2^-20 m) units.
OBS_HEIGHT_Q = 2 * (1 << 20)
# Elevation for ray samples that fall on an empty DEM cell: far below
# any terrain, so a data gap never manufactures a blocker.  Bounded so
# (NEVER_BLOCKS_Q - ozq) * dist stays far from int64 overflow.
NEVER_BLOCKS_Q = -(1 << 40)


def pick_observer(demq: DataFrame) -> DataFrame:
    """One-row observer: the highest DEM cell (ties -> smallest
    (cell_row, cell_col)), eye raised ``OBS_HEIGHT_Q`` above it.

    ``demq`` columns: cell_row, cell_col, vq (Q20-integer elevation).
    """
    return (
        demq.orderBy(F.desc("vq"), "cell_row", "cell_col")
        .limit(1)
        .select(
            F.col("cell_row").alias("orow"),
            F.col("cell_col").alias("ocol"),
            (F.col("vq") + F.lit(OBS_HEIGHT_Q)).alias("ozq"),
        )
    )


def viewshed(demq: DataFrame, observer: DataFrame | None = None
             ) -> DataFrame:
    """Per-cell visibility from ``observer`` over the Q20-integer DEM.

    Returns (cell_row, cell_col, dist, visible) for every cell except
    the observer's own: ``dist`` is the Chebyshev distance and
    ``visible`` is 1 unless some intermediate ray sample blocks the
    line of sight (grazing counts as blocked).  Cells adjacent to the
    observer (dist == 1) have no intermediate samples and are always
    visible.
    """
    obs = observer if observer is not None else pick_observer(demq)
    targets = (
        demq.crossJoin(F.broadcast(obs))
        .filter(
            ~(
                (F.col("cell_row") == F.col("orow"))
                & (F.col("cell_col") == F.col("ocol"))
            )
        )
        .withColumn("dr", F.col("cell_row") - F.col("orow"))
        .withColumn("dc", F.col("cell_col") - F.col("ocol"))
        .withColumn("dist", F.greatest(F.abs("dr"), F.abs("dc")))
    )
    # Spark sequence(1, 0) is a DESCENDING range, not empty — dist >= 2
    # must gate the explode explicitly.
    samples = (
        targets.filter(F.col("dist") >= 2)
        .withColumn(
            "k", F.explode(F.sequence(F.lit(1), F.col("dist") - 1))
        )
        .withColumn(
            "srow",
            F.expr("(2 * (orow * dist + dr * k) + dist) DIV (2 * dist)"),
        )
        .withColumn(
            "scol",
            F.expr("(2 * (ocol * dist + dc * k) + dist) DIV (2 * dist)"),
        )
    )
    dem_s = demq.select(
        F.col("cell_row").alias("srow"),
        F.col("cell_col").alias("scol"),
        F.col("vq").alias("svq"),
    )
    blocked = (
        samples.join(dem_s, ["srow", "scol"], "left")
        .withColumn("svq", F.coalesce(F.col("svq"),
                                      F.lit(NEVER_BLOCKS_Q)))
        .withColumn(
            "blk",
            F.when(
                (F.col("svq") - F.col("ozq")) * F.col("dist")
                >= (F.col("vq") - F.col("ozq")) * F.col("k"),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .groupBy("cell_row", "cell_col")
        .agg(F.max("blk").alias("blocked"))
    )
    return (
        targets.join(blocked, ["cell_row", "cell_col"], "left")
        .select(
            "cell_row",
            "cell_col",
            "dist",
            F.when(F.coalesce(F.col("blocked"), F.lit(0)) == 1, F.lit(0))
            .otherwise(F.lit(1))
            .alias("visible"),
        )
    )
