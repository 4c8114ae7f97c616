"""X11: K-means pixel classification (ClusterScarp.ipynb cell 8).

The notebook runs sklearn KMeans(n_clusters=2) on slope magnitude and
relabels clusters by their mean so the steeper cluster marks the scarp.
The engine re-expresses this as deterministic Lloyd iterations with
min/max initialization — every step is a distributed aggregate (assign =
columnar CASE, update = groupBy mean), only the k center values ever
reach the driver, and the identical chain of CASE/AVG steps is written as
chained CTEs in the DuckDB oracle (queries.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _assign(df: DataFrame, col: str, centers: list[float]) -> DataFrame:
    """Nearest-center assignment; ties go to the lower-index center."""
    dist = [F.abs(F.col(col) - F.lit(c)) for c in centers]
    cl = F.lit(0)
    best = dist[0]
    for i in range(1, len(centers)):
        cl = F.when(dist[i] < best, i).otherwise(cl)
        best = F.when(dist[i] < best, dist[i]).otherwise(best)
    return df.withColumn("cluster", cl.cast("int"))


def kmeans_1d(
    df: DataFrame, col: str, k: int = 2, iters: int = 5,
    checkpoint: bool = True,
) -> tuple[DataFrame, list[float]]:
    """Deterministic 1-D Lloyd: centers init at evenly spaced quantile-free
    positions between min and max, then `iters` assign/update rounds.
    Returns (df + cluster column under final centers, centers).

    checkpoint=True cuts the upstream lineage BEFORE the first action: the
    min/max init, every Lloyd iteration and the final assignment would
    otherwise each recompute the full feature pipeline (gridding + stencil
    shuffle for kmeans_scarp) — ~(iters+2)x redundant.  Callers whose input
    is already cached/materialized should pass checkpoint=False.  Caveat:
    localCheckpoint blocks live in executor storage and are NOT
    fault-tolerant — a lost executor makes the lineage unrecoverable
    mid-run; on a real cluster prefer persist(StorageLevel.DISK_ONLY) or a
    reliable checkpoint() to a distributed store for long Lloyd loops."""
    if checkpoint:
        df = df.localCheckpoint(eager=True)
    row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
    if row["lo"] is None:  # empty / all-NULL feature column
        return df.withColumn("cluster", F.lit(0).cast("int")), [
            float("nan")
        ] * k
    lo, hi = float(row["lo"]), float(row["hi"])
    centers = [lo + (hi - lo) * i / (k - 1) for i in range(k)] if k > 1 else [lo]
    for _ in range(iters):
        assigned = _assign(df, col, centers)
        means = {
            r["cluster"]: r["m"]
            for r in assigned.groupBy("cluster")
            .agg(F.avg(col).alias("m"))
            .collect()
        }
        centers = [
            float(means.get(i, centers[i])) for i in range(k)
        ]  # empty cluster keeps its center
    return _assign(df, col, centers), centers


def kmeans_relabel_hi(
    df: DataFrame, col: str, iters: int = 5, checkpoint: bool = True
) -> DataFrame:
    """2-cluster KMeans on `col`, relabeled so 1 = the higher-mean cluster
    (the notebook's scarp class)."""
    assigned, centers = kmeans_1d(
        df, col, k=2, iters=iters, checkpoint=checkpoint
    )
    hi = 1 if centers[1] >= centers[0] else 0
    return assigned.withColumn(
        "scarp_class", F.when(F.col("cluster") == hi, 1).otherwise(0)
    ).drop("cluster")


# ---------------------------------------------------------------------------
# Grid DBSCAN: density-connected hotspot clustering on an integer lattice.
#
# The cell-granular DBSCAN variant (eps = one cell of 8-adjacency,
# minPts = a per-cell density threshold): cells dense enough to be CORE
# are clustered by density-CONNECTIVITY — the property kmeans cannot
# express (non-convex shapes, cluster count discovered not chosen, noise
# left unlabeled).  The classic point-level DBSCAN needs an eps-radius
# neighbor search per point; at 10^12 rows the grid formulation is the
# scalable spelling (DBSCAN's own authors' gridded variant): ONE
# partial+final groupBy folds the points into cell counts, everything
# after runs on the (bounded) core-cell set.
# ---------------------------------------------------------------------------

DBSCAN_LATTICE = 200        #: gx/gy domain: [0, DBSCAN_LATTICE)
DBSCAN_MINPTS_FLOOR = 5     #: absolute core floor (small scales)
DBSCAN_DENSITY_MULT = 8     #: relative floor: >= 8x uniform density


def duplicate_components(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """(doc_id, cluster): connected components of an undirected
    (doc_a, doc_b) edge list, cluster = MIN id in the component.  Only
    ids that appear in at least one edge are emitted; singletons are
    trivially their own cluster.

    Min-label propagation with per-round path compression (label <-
    label-of-label), each round two hash joins over (id, label) rows.
    Shallow graphs (``dbscan_grid``'s blob-shaped core-cell adjacency)
    converge in a few rounds; a pathologically long chain at 100 TB
    would call for the large-star/small-star CC algorithm — the loop
    raises rather than silently truncating if it has not converged
    within ``max_rounds``."""
    sym = pairs.select(
        F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
    ).union(pairs.select(F.col("doc_b").alias("x"), F.col("doc_a").alias("y")))
    sym = sym.localCheckpoint(eager=True)
    lab = (
        sym.select("x").distinct()
        .select(F.col("x").alias("id"), F.col("x").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nb = (
            sym.join(
                lab.select(F.col("id").alias("y"), F.col("lbl").alias("ylbl")),
                "y",
            )
            .groupBy("x")
            .agg(F.min("ylbl").alias("nlbl"))
        )
        # materialize before the compression self-join: prop feeds both
        # sides and Spark would otherwise run the neighbor-min agg twice
        prop = lab.join(nb, lab.id == nb.x, "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl")))
            .alias("lbl"),
        ).localCheckpoint(eager=True)
        comp = (
            prop.alias("a")
            .join(
                prop.select(
                    F.col("id").alias("bid"), F.col("lbl").alias("blbl")
                ),
                F.col("a.lbl") == F.col("bid"),
                "left",
            )
            .select(
                F.col("a.id").alias("id"),
                F.coalesce(F.col("blbl"), F.col("a.lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        n_moving = (
            comp.alias("n")
            .join(lab.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        lab = comp
        if n_moving == 0:
            return lab.select(
                F.col("id").alias("doc_id"), F.col("lbl").alias("cluster")
            )
    raise RuntimeError(
        f"component labeling did not converge within {max_rounds} rounds"
    )


def dbscan_grid(pts: DataFrame) -> DataFrame:
    """(cluster, n_cells, n_points, min_gx, max_gx, min_gy, max_gy) —
    density-connected clusters of lattice cells.

    pts carries integer (gx, gy).  A cell is CORE when its count
    reaches max(DBSCAN_MINPTS_FLOOR, ceil(DBSCAN_DENSITY_MULT * total /
    lattice^2)) — the relative term makes the rule scale-free (the same
    query means the same thing at sf0.001 and at 100 TB), the absolute
    floor keeps collision noise out when the lattice is nearly empty.
    Core cells 8-adjacent to each other are density-connected; clusters
    are the connected components (min-label propagation with path
    compression, ``duplicate_components`` — shallow blob graphs
    converge in ~2 rounds), singleton core cells are their
    own cluster.  Everything is integer end to end: counts, the
    ceil-division threshold (one `div`), cell ids, extents.

    Scale shape: the only row-proportional work is the first groupBy
    (partial+final count fold); the adjacency join explodes 8 offsets
    per CORE cell only and equi-joins on the (gx, gy) key; the CC loop
    runs on the core-cell graph, whose size the density threshold
    bounds regardless of input rows."""
    l2 = DBSCAN_LATTICE * DBSCAN_LATTICE
    cells = pts.groupBy("gx", "gy").agg(F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.sum("n").alias("tot"))
    core = (
        cells.crossJoin(F.broadcast(tot))
        .filter(
            F.col("n")
            >= F.greatest(
                F.lit(DBSCAN_MINPTS_FLOOR),
                F.expr(
                    f"({DBSCAN_DENSITY_MULT} * tot + {l2 - 1}) div {l2}"
                ),
            )
        )
        .select(
            "gx", "gy", "n",
            (F.col("gy") * DBSCAN_LATTICE + F.col("gx")).alias("cid"),
        )
    )
    core = core.localCheckpoint(eager=True)  # CC loop re-reads it

    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0)
    ])
    probes = core.select(
        "cid",
        F.explode(offs).alias("o"),
        (F.col("gx")).alias("gx0"), (F.col("gy")).alias("gy0"),
    ).select(
        F.col("cid").alias("cid_a"),
        (F.col("gx0") + F.col("o.dx")).alias("gx"),
        (F.col("gy0") + F.col("o.dy")).alias("gy"),
    )
    edges = (
        probes.join(core.select("gx", "gy", "cid"), ["gx", "gy"])
        .filter(F.col("cid_a") < F.col("cid"))
        .select(
            F.col("cid_a").alias("doc_a"), F.col("cid").alias("doc_b")
        )
        .distinct()
    )

    comp = duplicate_components(edges).select(
        F.col("doc_id").alias("cid"), F.col("cluster")
    )
    labeled = core.join(comp, "cid", "left").withColumn(
        "cluster", F.coalesce(F.col("cluster"), F.col("cid"))
    )
    return labeled.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n").alias("n_points"),
        F.min("gx").alias("min_gx"), F.max("gx").alias("max_gx"),
        F.min("gy").alias("min_gy"), F.max("gy").alias("max_gy"),
    )
