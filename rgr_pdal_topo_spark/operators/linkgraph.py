"""Web link graph + integer-exact PageRank.

The webtext twin of the engine's iterative flow-routing family
(functions/flow_kernels.py: the reference's drainage-area sweeps,
flowRoutingGrids.py): hyperlinks extracted from pages build a host-level
directed graph, and link equity propagates over it with the canonical
damped power iteration — the classic whole-crawl analytics job that a
Common-Crawl-scale engine must run (host ranking feeds crawl scheduling
and quality priors such as the harmonic-centrality lists published with
the crawl).

Bit-exact by construction: ranks live on the binary 2^-30 grid as int64
numerators and EVERY arithmetic step is integer (the damping multiply,
the out-degree split, and the teleport base all use an exact
subtract-modulus-then-divide spelling), so Spark and the DuckDB oracle
agree to the last bit with no rounding policy at all — the same doctrine
as the Q20-quantized mean-DEM family, taken to its limit.

Scale shape: extraction is one scan -> regexp_extract_all -> explode
(JVM codegen, zero Python); the graph aggregates to DISTINCT host pairs
before any iteration, so at 10^12 pages the iterated table is the ~10^8
host graph, not the crawl.  Each superstep is one narrow
(int64, int64, int64) shuffle join + partial/final sum — the Pregel
shape — and the edge list is pinned with localCheckpoint exactly like
the dedup connected-components loop (operators/dedup.py
duplicate_components).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.operators.pages import HOST_RE, LINK_RE

#: rank fixed-point scale: ranks are integers on the 2^-30 grid
PR_SCALE = 1 << 30
#: damping factor d = PR_D_NUM / PR_D_DEN (0.85, the canonical value)
PR_D_NUM = 85
PR_D_DEN = 100
PR_ITERS = 4


def _exact_div(a: Column, b: Column) -> Column:
    """floor(a / b) for nonnegative int64 columns, exact in BOTH engines:
    subtracting the modulus first makes the division's true quotient an
    integer < 2^53, which float64 division returns exactly — portable
    where Spark's ``div`` and DuckDB's ``//`` spellings differ."""
    return ((a - a % b) / b).cast("long")


def exact_div_sql(a: str, b: str) -> str:
    """The oracle twin of ``_exact_div`` (same token-for-token math)."""
    return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS BIGINT)"


def extract_links(pages: DataFrame) -> DataFrame:
    """(src, dst) DISTINCT host-level edges from the pages' anchors.

    src is captured from the page's own url, dst from every href in the
    html body — both with the backslash-free patterns shared verbatim
    with the DuckDB oracle.  One scan -> project -> explode -> distinct;
    the distinct collapses the crawl to the host graph, which is the
    object every later iteration touches."""
    page = F.decode(F.col("html"), "UTF-8")
    return (
        pages.select(
            F.regexp_extract(F.col("url"), HOST_RE, 1)
            .cast("long")
            .alias("src"),
            F.explode(F.regexp_extract_all(page, F.lit(LINK_RE), 1)).alias(
                "d"
            ),
        )
        .select("src", F.col("d").cast("long").alias("dst"))
        .distinct()
    )


def pagerank_int(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """(host, rank_q): damped PageRank after ``iters`` supersteps, ranks
    as exact int64 numerators on the 2^-30 grid.

    q_{t+1}(v) = floor((1-d)*S / N) + sum over edges u->v of
                 floor(d * q_t(u) / outdeg(u))        (all integer)

    Nodes are the hosts that appear as a link SOURCE (every crawled host
    links out by construction of the page layer, so the graph has no
    dangling nodes and no teleport-mass correction is needed; a crawl
    frontier with dangling hosts would add one scalar redistribution
    term per superstep).  No overflow anywhere: d*q <= 85 * 2^30 < 2^37
    and per-node sums are bounded by the total mass S = 2^30 — ANSI-safe
    without widening."""
    edges = edges.localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("host")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    # (host, n_nodes): the per-node frame every superstep rebuilds from;
    # checkpointed so the distinct/count subtrees run once, not per iter
    nodes_n = nodes.crossJoin(F.broadcast(nn)).localCheckpoint(eager=True)
    odeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    e = edges.join(odeg, "src").localCheckpoint(eager=True)
    r = nodes_n.select(
        "host", _exact_div(F.lit(PR_SCALE), F.col("n_nodes")).alias("q")
    )
    base = _exact_div(
        F.lit((PR_D_DEN - PR_D_NUM) * PR_SCALE),
        F.lit(PR_D_DEN) * F.col("n_nodes"),
    )
    for _ in range(iters):
        contrib = (
            e.join(r.select(F.col("host").alias("src"), "q"), "src")
            .select(
                F.col("dst").alias("host"),
                _exact_div(
                    F.lit(PR_D_NUM) * F.col("q"),
                    F.lit(PR_D_DEN) * F.col("odeg"),
                ).alias("m"),
            )
            .groupBy("host")
            .agg(F.sum("m").alias("m"))
        )
        r = nodes_n.join(contrib, "host", "left").select(
            "host",
            (base + F.coalesce(F.col("m"), F.lit(0))).alias("q"),
        )
    return r.select("host", F.col("q").alias("rank_q"))



def trustrank_int(
    edges: DataFrame, n_seeds: int = 8, iters: int = PR_ITERS
) -> DataFrame:
    """(host, trust_q, is_seed): TrustRank (Gyongyi, Garcia-Molina &
    Pedersen 2004) — PageRank with teleport restricted to a TRUSTED
    seed set, the canonical link-spam demotion pass: trust flows out
    of the seeds along links and decays by d per hop, so link farms
    far from any trusted host score ~0 even with huge in-link mass
    (where uniform-teleport PageRank rewards them).

      q_0(v)     = [v in T] * floor(S / |T|)
      q_{t+1}(v) = [v in T] * floor((1-d)*S / |T|)
                   + sum over edges u->v of floor(d * q_t(u) / odeg(u))

    Same all-integer 2^-30 arithmetic, damping, exact-div spelling and
    no-dangling-node contract as pagerank_int — parity is bit-exact
    with no rounding policy.  Seed selection is the paper's inverse-
    PageRank idea reduced to its deterministic core: the ``n_seeds``
    nodes of highest in-degree, ties to the smallest host id (a real
    deployment substitutes a curated whitelist; everything downstream
    is identical).

    Scale shape: one extra in-degree fold + a top-``n_seeds`` window
    over the HOST-sized table at setup; per superstep the identical
    narrow join + partial+final sum as pagerank_int; the seed flag
    rides the checkpointed per-node frame."""
    edges = edges.localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("host")).distinct()
    ind = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("ind")
    )
    ranked = (
        nodes.join(ind, "host", "left")
        .select(
            "host", F.coalesce(F.col("ind"), F.lit(0)).alias("ind")
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("ind").desc(), F.col("host").asc())
            ),
        )
    )
    seeded = ranked.select(
        "host", (F.col("rn") <= n_seeds).alias("is_seed")
    )
    nt = seeded.filter("is_seed").agg(
        F.count(F.lit(1)).alias("n_seeds")
    )
    nodes_t = seeded.crossJoin(F.broadcast(nt)).localCheckpoint(
        eager=True
    )
    odeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    e = edges.join(odeg, "src").localCheckpoint(eager=True)
    seed_mass = F.when(
        F.col("is_seed"),
        _exact_div(F.lit(PR_SCALE), F.col("n_seeds")),
    ).otherwise(F.lit(0))
    base = F.when(
        F.col("is_seed"),
        _exact_div(
            F.lit((PR_D_DEN - PR_D_NUM) * PR_SCALE),
            F.lit(PR_D_DEN) * F.col("n_seeds"),
        ),
    ).otherwise(F.lit(0))
    r = nodes_t.select("host", seed_mass.alias("q"))
    for _ in range(iters):
        contrib = (
            e.join(r.select(F.col("host").alias("src"), "q"), "src")
            .select(
                F.col("dst").alias("host"),
                _exact_div(
                    F.lit(PR_D_NUM) * F.col("q"),
                    F.lit(PR_D_DEN) * F.col("odeg"),
                ).alias("m"),
            )
            .groupBy("host")
            .agg(F.sum("m").alias("m"))
        )
        r = nodes_t.join(contrib, "host", "left").select(
            "host",
            "is_seed",
            (base + F.coalesce(F.col("m"), F.lit(0))).alias("q"),
        )
    return r.select("host", F.col("q").alias("trust_q"), "is_seed")


#: HITS fixed-point scale: scores are integers on the 2^-20 grid.
#: L-inf normalization multiplies a raw sum (<= max_indegree * SCALE)
#: by SCALE before the exact divide, so the contract requires
#: max_degree * SCALE^2 < 2^63, i.e. degree < 2^23 at this scale —
#: comfortably above any host graph's fan-in; a larger graph lowers
#: HITS_SCALE rather than widening the arithmetic.
HITS_SCALE = 1 << 20
HITS_ITERS = 2


def hits_int(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """(host, auth_q, hub_q): Kleinberg HITS after ``iters`` rounds,
    scores as exact int64 numerators on the 2^-20 grid.

    a_t(v) = sum over edges u->v of h_{t-1}(u), then L-inf normalized
    to floor(raw * SCALE / max(raw)); h_t symmetric over out-edges with
    the fresh a_t.  L-inf (divide by the max) replaces the textbook L2
    norm because it keeps every step integer — the ranking and the
    relative structure are what the scores are for, and the DuckDB
    oracle replays the chain bit-exactly with no rounding policy (the
    pagerank_int doctrine).

    Nodes are src UNION dst hosts (authorities are usually link
    targets), so both sides of every edge carry scores; hosts never
    linked to keep auth_q = 0, hosts that never link out keep
    hub_q = 0.  Scale shape per half-step: one narrow (int64, int64)
    join + map-side-combinable sum over the host graph, then a scalar
    max broadcast back — the Pregel shape, same as pagerank_int."""
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = nodes.select(
        "host", F.lit(HITS_SCALE).cast("long").alias("hq")
    )
    a = None

    def _half(score: DataFrame, key_in: str, key_out: str,
              col: str) -> DataFrame:
        raw = (
            edges.join(
                score.select(F.col("host").alias(key_in), col), key_in
            )
            .select(F.col(key_out).alias("host"), F.col(col))
            .groupBy("host")
            .agg(F.sum(col).alias("raw"))
        )
        dense = nodes.join(raw, "host", "left").select(
            "host", F.coalesce("raw", F.lit(0)).alias("raw")
        )
        mx = dense.agg(F.max("raw").alias("mx"))
        return dense.crossJoin(F.broadcast(mx)).select(
            "host",
            _exact_div(
                F.col("raw") * F.lit(HITS_SCALE), F.col("mx")
            ).alias(col),
        )

    for _ in range(iters):
        a = _half(h.withColumnRenamed("hq", "aq"), "src", "dst", "aq")
        h = _half(a.withColumnRenamed("aq", "hq"), "dst", "src", "hq")
    return (
        a.select("host", F.col("aq").alias("auth_q"))
        .join(h.select("host", F.col("hq").alias("hub_q")), "host")
    )


#: BFS seeds: src hosts with host % BFS_SEED_MOD == 0 (deterministic,
#: scale-independent); BFS_ITERS bounds the frontier supersteps.
BFS_SEED_MOD = 101
BFS_ITERS = 4


def bfs_hops(
    edges: DataFrame, seed_mod: int = BFS_SEED_MOD, iters: int = BFS_ITERS
) -> DataFrame:
    """(host, dist): minimum hop count from the seed hosts within
    ``iters`` supersteps — crawl-frontier depth / seed-proximity, the
    third iterative graph job beside pagerank_int and hits_int (and the
    webtext twin of the reference's upstream network walks,
    networkGraph.py per-node traversals: distance measured along graph
    edges instead of flow edges).

    Seeds are the crawled (src) hosts with host % seed_mod == 0.  Each
    superstep relaxes every edge once and folds with MIN — after round
    r the table holds min(dist over paths <= r), so cycles are harmless
    and the fixpoint under bounded diameter is the true BFS distance.
    All arithmetic is int64 increments: bit-exact with no rounding
    policy, so the recursive-CTE oracle matches exactly.

    Scale shape: the iterated table is the aggregated host graph (the
    pagerank_int collapse), each round is one narrow (int64, int64)
    equi-join + map-side-combinable MIN — the Pregel shape with a
    statically bounded round count; a production frontier would
    propagate only newly-improved rows (delta iteration), which changes
    traffic, not results."""
    edges = edges.localCheckpoint(eager=True)
    dist = (
        edges.select(F.col("src").alias("host"))
        .distinct()
        .filter(F.col("host") % seed_mod == 0)
        .select("host", F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(iters):
        nxt = (
            edges.join(
                dist.select(F.col("host").alias("src"), "dist"), "src"
            )
            .select(
                F.col("dst").alias("host"),
                (F.col("dist") + F.lit(1)).alias("dist"),
            )
        )
        dist = (
            dist.union(nxt)
            .groupBy("host")
            .agg(F.min("dist").alias("dist"))
        )
    return dist


#: co-citation fan-out cap: sources with more than this many DISTINCT
#: out-hosts are excluded before the pair join (a directory/hub page
#: would otherwise contribute O(odeg^2) pairs — the same
#: quadratic-blowup cap as the LSH MAX_BUCKET, and like it the cut is a
#: property of the source, so the surviving pair counts are exact).
COCITE_MAX_ODEG = 256


def cocitation(
    edges: DataFrame,
    max_odeg: int = COCITE_MAX_ODEG,
    min_common: int = 2,
) -> DataFrame:
    """(host_a, host_b, n_common): host pairs cited together by at
    least ``min_common`` common sources — co-citation similarity
    (Small 1973), the classic related-domain signal next to HITS (two
    authorities are related when many hubs cite both).

    Scale shape: runs entirely on the DISTINCT host graph; sources
    above ``max_odeg`` are dropped FIRST so the self-join's pair count
    is bounded by odeg_cap * |edges| rather than quadratic in a hub's
    fan-out; the a.dst < b.dst triangle keeps each pair once.  Counts
    are exact int64 — no rounding policy."""
    o = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    e = (
        edges.join(o, "src")
        .filter(F.col("odeg") <= max_odeg)
        .select("src", "dst")
    )
    a = e.select("src", F.col("dst").alias("host_a"))
    b = e.select("src", F.col("dst").alias("host_b"))
    return (
        a.join(b, "src")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


LPA_ITERS = 3


def lpa_communities(edges: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """(host, community) after ``iters`` synchronous label-propagation
    rounds (Raghavan et al. 2007) over the UNDIRECTED host graph —
    community detection for related-site grouping / crawl sharding,
    the clustering companion of cocitation (which scores pairs; LPA
    partitions the whole graph).

    Deterministic variant: every node starts as its own label; each
    round a node adopts the label most frequent among its neighbours,
    ties broken by SMALLEST label — spelled as an exact integer argmax
    (MIN over (-cnt, community) structs), so there is no rounding or
    randomness anywhere and the unrolled-CTE oracle replays the rounds
    bit-for-bit.  Synchronous update (all nodes flip together), unlike
    the asynchronous textbook sweep whose result is order-dependent.

    Scale shape: the symmetrized edge list is checkpoint-pinned once;
    each round is one narrow (int64, int64) join + two map-side-
    combinable aggs on the host graph — the Pregel shape with a static
    round bound, same as pagerank_int / bfs_hops."""
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    lbl = (
        und.select(F.col("src").alias("host"))
        .distinct()
        .select("host", F.col("host").alias("community"))
    )
    for _ in range(iters):
        votes = (
            und.join(
                lbl.select(F.col("host").alias("dst"), "community"), "dst"
            )
            .groupBy(F.col("src").alias("host"), F.col("community"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        lbl = (
            votes.groupBy("host")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"),
                        F.col("community").alias("community"),
                    )
                ).alias("m")
            )
            .select("host", F.col("m.community").alias("community"))
        )
    return lbl


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(host, n_triangles): per-host triangle membership counts over
    the UNDIRECTED host graph — the local-clustering census behind web
    spam/link-farm detection (farms are near-cliques) and the classic
    MapReduce-era benchmark for a graph engine.

    The node-iterator-with-ordering algorithm: orient every undirected
    edge low -> high, join wedges (a < b, a < c, b < c) against the
    oriented closing edge (b, c) so each triangle materializes EXACTLY
    once as a < b < c, then credit all three corners.  Exact integer
    counts — no rounding policy.

    Scale shape: the wedge join is per-source pairs on the ORIENTED
    edge list (fan-out bounded by out-degree in the low->high
    orientation, the standard degeneracy trick that caps hub blowup),
    then one equi-join against the oriented edges on the (b, c) key and
    a map-side-combinable count per corner.  At web scale the
    orientation bounds wedge counts by arboricity, not raw degree."""
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    lo = und.filter(F.col("src") < F.col("dst")).localCheckpoint(
        eager=True
    )
    w1 = lo.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    w2 = lo.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = w1.join(w2, "a").filter(F.col("b") < F.col("c"))
    closing = lo.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("host"))
        .union(tri.select(F.col("b").alias("host")))
        .union(tri.select(F.col("c").alias("host")))
    )
    return corners.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


#: local clustering coefficient, ONE spelling over exact integers:
#: 2*triangles / (deg*(deg-1)) — a single division of two
#: integer-valued doubles, correctly rounded hence bit-identical in
#: both engines, ROUND(,6)-guarded.
LCC_SQL = (
    "ROUND(CAST(2 * n_tri AS DOUBLE) / "
    "CAST(deg * (deg - 1) AS DOUBLE), 6)"
)


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(host, deg, n_tri, lcc): local clustering coefficient over the
    UNDIRECTED host graph — triangle_counts normalized by the wedge
    count deg*(deg-1)/2, the per-node cohesion score behind community
    cores vs. pure hubs (a link farm's members read near 1.0, an
    organic directory hub near 0).  Hosts with deg < 2 close no wedge
    and are dropped; hosts with wedges but no triangle report 0.0.

    Exactness: deg and n_tri are exact integers (distinct-neighbor
    count; exactly-once oriented triangles), and lcc is ONE division
    of two integer-valued doubles (LCC_SQL) — bit-identical in both
    engines.

    Scale shape: the undirected edge list materializes once
    (localCheckpoint) and feeds BOTH the degree agg and the oriented
    wedge join of triangle_counts; the final (host, deg) x (host,
    n_tri) join is host-sized, never edge-sized."""
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lo = und.filter(F.col("src") < F.col("dst"))
    w1 = lo.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    w2 = lo.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = w1.join(w2, "a").filter(F.col("b") < F.col("c"))
    closing = lo.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("host"))
        .union(tri.select(F.col("b").alias("host")))
        .union(tri.select(F.col("c").alias("host")))
    )
    tc = corners.groupBy("host").agg(F.count(F.lit(1)).alias("n_tri"))
    deg = und.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tc, "host", "left")
        .select(
            "host",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long")
            .alias("n_tri"),
        )
        .select("host", "deg", "n_tri", F.expr(LCC_SQL).alias("lcc"))
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """(side, bucket, n_hosts): log2-bucketed in/out-degree histogram
    of the host graph — the power-law fingerprint every crawl report
    publishes (and the skew evidence that sizes joins/salting over the
    graph).  bucket = number of bits in the degree (1 -> 1, 2-3 -> 2,
    4-7 -> 3, ...), an exact integer in both engines via LENGTH(BIN()).

    Scale shape: two map-side-combinable degree aggs on the distinct
    host graph, then a bucket fold over the host-sized degree tables."""
    out_d = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    both = out_d.select(F.lit("out").alias("side"), "deg").union(
        in_d.select(F.lit("in").alias("side"), "deg")
    )
    return (
        both.select(
            "side", F.length(F.bin(F.col("deg"))).alias("bucket")
        )
        .groupBy("side", "bucket")
        .agg(F.count(F.lit(1)).alias("n_hosts"))
    )


def bowtie(edges: DataFrame, seed_mod: int, iters: int) -> DataFrame:
    """(component, n_hosts, example_host): the Broder bow-tie census
    relative to the seed set within ``iters`` hops — CORE reaches and
    is reached, IN only reaches, OUT only is reached, DISCONNECTED
    neither.  Two bfs_hops sweeps (forward, and backward over the
    reversed edge list) + one membership census over the host
    universe; the hop horizon is part of the stated contract so the
    bounded rounds are exact, not approximate."""
    fwd = bfs_hops(edges, seed_mod=seed_mod, iters=iters)
    bwd = bfs_hops(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ),
        seed_mod=seed_mod,
        iters=iters,
    )
    hosts = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    cls = (
        hosts.join(
            fwd.select("host", F.lit(1).alias("in_f")), "host", "left"
        )
        .join(bwd.select("host", F.lit(1).alias("in_b")), "host", "left")
        .select(
            "host",
            F.when(
                F.col("in_f").isNotNull() & F.col("in_b").isNotNull(),
                F.lit("CORE"),
            )
            .when(F.col("in_b").isNotNull(), F.lit("IN"))
            .when(F.col("in_f").isNotNull(), F.lit("OUT"))
            .otherwise(F.lit("DISCONNECTED"))
            .alias("component"),
        )
    )
    return cls.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.min("host").alias("example_host"),
    )


def extract_anchor_pairs(pages: DataFrame) -> DataFrame:
    """(host, anchor) — one row per hyperlink: destination host + the
    anchor TEXT of the link.  Anchor text is how the web describes a
    page better than the page describes itself; aggregated per target it
    is the "anchors" field every web-scale index builds (and a
    query↔document training signal).  The webtext twin of the
    reference's per-node attribute gather (networkGraph.py upstream
    attribute joins): attributes flow along edges to the node they
    describe.

    Scale shape: one page scan -> regexp_extract_all(group 0) ->
    explode -> two per-element captures — zero Python, zero shuffle;
    the match list is bounded by links-per-page.  Group-0-then-recapture
    keeps ONE regex text shared with the DuckDB oracle (Spark's
    regexp_extract_all returns a single group, so zipping two aligned
    group-1/group-2 extractions would be the only alternative)."""
    from rgr_pdal_topo_spark.operators.pages import ANCHOR_RE

    page = F.decode(F.col("html"), "UTF-8")
    m = pages.select(
        F.explode(F.regexp_extract_all(page, F.lit(ANCHOR_RE), 0)).alias(
            "mt"
        )
    )
    return m.select(
        F.regexp_extract("mt", ANCHOR_RE, 1).cast("long").alias("host"),
        F.regexp_extract("mt", ANCHOR_RE, 2).alias("anchor"),
    )


def top_anchors(pairs: DataFrame, k: int = 3) -> DataFrame:
    """(host, anchor, n, rnk) — the k most frequent anchor texts per
    destination host, ties broken by anchor string ascending so the cut
    is deterministic in both engines.

    The ranking window runs over the AGGREGATED (host, anchor) table —
    bounded by hosts x vocab, never the raw link stream: the window's
    sort sees one row per distinct (host, anchor), not one per link."""
    from pyspark.sql import Window

    agg = pairs.groupBy("host", "anchor").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n").desc(), F.col("anchor").asc()
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def resolve_pointers(ptr: DataFrame, iters: int = 5) -> DataFrame:
    """(h, root, hops): resolve a FUNCTIONAL graph — every node h
    carries one pointer p (p = h marks a root) — to its terminal root
    with the exact path length, by POINTER DOUBLING: each round joins
    the current mapping with itself, so after k rounds every node sees
    its 2^k-th ancestor (or its root, earlier).  The redirect /
    rel=canonical chain-resolution primitive, and the third iterative
    idiom of the graph family next to bfs_hops (frontier expansion)
    and dedup_clusters (min-label propagation).

    ``iters`` is a STATED horizon (the bfs_hops contract): chains up
    to 2^iters resolve exactly; a longer chain would surface as a
    non-root in the output rather than silently wrong (hops counts
    true steps, never the doubling round).

    Exactness: all-integer; hop counts add exactly under doubling
    because the concatenated segments are disjoint by construction.

    Scale shape: O(log chain-length) self-equi-joins of the node-sized
    mapping (never the raw edge list), each round localCheckpointed so
    the lineage — and with it the shuffle DAG — stays flat."""
    state = ptr.select(
        F.col("h"),
        F.col("p").alias("cur"),
        F.when(F.col("p") == F.col("h"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("hops"),
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        look = state.select(
            F.col("h").alias("cur"),
            F.col("cur").alias("nxt"),
            F.col("hops").alias("d2"),
        )
        state = (
            state.join(look, "cur")
            .select(
                "h",
                F.col("nxt").alias("cur"),
                (F.col("hops") + F.col("d2")).alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
    return state.select("h", F.col("cur").alias("root"), "hops")


KCORE_K = 4       #: peel threshold (4-core: the link-farm / community core)
KCORE_ROUNDS = 5  #: synchronous peel supersteps (stated horizon, bfs_hops contract)


def k_core(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """(host, core_deg): nodes surviving ``rounds`` synchronous peeling
    supersteps of the k-core algorithm over the UNDIRECTED host graph,
    with their degree in the final induced subgraph.  The k-core — the
    maximal subgraph where every node keeps >= k neighbors INSIDE the
    subgraph — is the classic dense-seed extractor (link farms and
    community cores survive; tree-like organic periphery peels away
    layer by layer), and the fourth iterative idiom of the graph family
    next to frontier expansion (bfs_hops), label propagation
    (lpa_communities), and pointer doubling (resolve_pointers): here
    each round REMOVES nodes and degrees must be recomputed over the
    survivors, which no single-pass degree filter gets right.

    ``rounds`` is a STATED horizon: the result after R rounds is the
    exact R-step truncated peel (deterministic whether or not the peel
    has converged), and the oracle replays the same R steps.  A
    converged peel leaves every core_deg >= k; survivors stranded
    mid-peel surface as core_deg < k rather than silently wrong.

    Exactness: all-integer (distinct-neighbor degrees, set shrinkage).

    Scale shape: the undirected edge list materializes once
    (localCheckpoint) and each round is two narrow semi-join-shaped
    equi-joins against the shrinking alive set plus one map-side-
    combinable count — the Pregel shape on the aggregated host graph,
    never the raw crawl; every round localCheckpoints so the lineage
    stays flat (the dedup connected-components discipline)."""
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    alive = und.select(F.col("src").alias("host")).distinct()

    def induced_deg(alive_set: DataFrame) -> DataFrame:
        return (
            und.join(
                alive_set.select(F.col("host").alias("src")), "src"
            )
            .join(alive_set.select(F.col("host").alias("dst")), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    for _ in range(rounds):
        alive = (
            induced_deg(alive)
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("host"))
            .localCheckpoint(eager=True)
        )
    final = induced_deg(alive)
    return alive.join(
        final.select(F.col("src").alias("host"), "deg"), "host", "left"
    ).select(
        "host",
        F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("core_deg"),
    )


def neighborhood_reach(edges: DataFrame) -> DataFrame:
    """Log2-bucketed histogram of the radius-2 NEIGHBORHOOD FUNCTION
    |N(v, 2)| over the undirected host graph — how many hosts each host
    can reach in at most two hops, self included.  N(v, r) is the
    quantity behind effective-diameter and spid estimates (the ANF /
    HyperBall statistic); radius 2 is where it is still exactly
    computable by joins, and the histogram's heavy tail is the measured
    "two hops reach half the web" small-world evidence a crawl
    scheduler plans around.

    Exact: distinct union of {v}, N1 edges, and the wedge join's 2-hop
    endpoints, counted per host; bucket = bit_length(count), the
    degree_histogram / hll rho spelling.

    Scale shape: one wedge self-equi-join on the undirected host list
    plus a distinct fold — per-host cost is O(sum of neighbor degrees),
    the honest quadratic-in-hub-degree cost that makes EXACT
    neighborhood functions infeasible past small radii at web scale;
    beyond radius 2 the sketched path is per-node HLL registers folded
    by max (hll_fold), trading exactness for O(r * |E|) — the ANF
    trade this module's sketch family already implements the
    primitives for."""
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hop2 = (
        und.select(F.col("src").alias("v"), F.col("dst").alias("m"))
        .join(
            und.select(F.col("src").alias("m"), F.col("dst").alias("r")),
            "m",
        )
        .select("v", "r")
    )
    reach = (
        und.select(F.col("src").alias("v"), F.col("dst").alias("r"))
        .union(und.select(F.col("src").alias("v"), F.col("src").alias("r")))
        .union(hop2)
        .distinct()
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_reach"))
    )
    return (
        reach.groupBy(F.length(F.bin(F.col("n_reach"))).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_hosts"))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_hosts").cast("long").alias("n_hosts"),
        )
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a node partition over the UNDIRECTED
    simple host graph (self-loops dropped, each edge once) — the
    partition-quality score that turns lpa_communities from "a
    labeling" into "a measured clustering":
    Q = sum_c [ e_c/m - (D_c/2m)^2 ], e_c = intra-community edges,
    D_c = community degree mass, m = edge count.

    Exactness: everything stays integer by scoring the NUMERATOR of
    Q * 4m^2 = sum_c (4m*e_c - D_c^2); the reported modularity is that
    exact BIGINT over 4m^2 — one correctly-rounded division,
    ROUND(,6)-guarded.  (D_c^2 overflows int64 only past m ~ 1.5e9
    undirected edges; at that scale score per community and aggregate
    in double, trading the exact-hash property this module keeps at
    test scale.)  Communities whose members have no surviving edges
    contribute exactly 0 and may be skipped — only n_communities
    counts them.

    Returns ONE row (n_communities, m, q_num, modularity).

    Scale shape: one symmetrized distinct fold, two label equi-joins
    on the once-per-edge list, community-keyed aggs; the only scalars
    (m, n_communities) broadcast as 1-row frames — no collect."""
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    once = und.filter(F.col("src") < F.col("dst"))
    mrow = once.agg(F.count(F.lit(1)).alias("m"))
    deg = und.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("d")
    )
    dc = (
        deg.join(labels, "host")
        .groupBy("community")
        .agg(F.sum("d").alias("dsum"))
    )
    la = labels.select(F.col("host").alias("src"), "community")
    lb = labels.select(F.col("host").alias("dst"), "community")
    ein = (
        once.join(la, "src")
        .join(lb, ["dst", "community"])
        .groupBy("community")
        .agg(F.count(F.lit(1)).alias("e"))
    )
    q = (
        dc.join(ein, "community", "left")
        .select(
            "dsum", F.coalesce(F.col("e"), F.lit(0)).alias("e")
        )
        .crossJoin(F.broadcast(mrow))
    )
    qrow = q.agg(
        F.sum(
            4 * F.col("m") * F.col("e") - F.col("dsum") * F.col("dsum")
        )
        .cast("long")
        .alias("q_num")
    )
    nrow = labels.agg(
        F.countDistinct("community").cast("long").alias("n_communities")
    )
    return (
        nrow.crossJoin(F.broadcast(mrow))
        .crossJoin(F.broadcast(qrow))
        .select(
            "n_communities",
            F.col("m").cast("long").alias("m"),
            "q_num",
            F.round(
                F.col("q_num").cast("double")
                / (4.0 * F.col("m") * F.col("m")).cast("double"),
                6,
            ).alias("modularity"),
        )
    )


AA_MAX_DEG = 64   #: wedge-center degree cap (the cocitation discipline)
AA_TOP_K = 20     #: predicted links reported
AA_Q = 8192       #: 2^-13 grid for ln(deg) and the reciprocal weights

#: shared integer spelling of the Adamic-Adar wedge weight: pin ln(deg)
#: to the 2^-13 grid (integer-valued double -> bit-identical libm input,
#: the integer-argument ln contract), then one exact floor-division gives the
#: reciprocal on the same grid: rq = floor(8192 * 8192 / wq).
AA_WQ_SQL = (
    "CAST(FLOOR(LN(CAST(deg AS DOUBLE)) * 8192.0 + 0.5) AS BIGINT)"
)


def adamic_adar(
    edges: DataFrame,
    max_deg: int = AA_MAX_DEG,
    k: int = AA_TOP_K,
) -> DataFrame:
    """(host_a, host_b, n_common, aa_q, aa): the top-``k`` predicted
    NEW links by Adamic-Adar similarity (Adamic & Adar 2003) — the
    classic link-prediction scorer: AA(u, v) = sum over common
    neighbours w of 1 / ln(deg(w)), so rare shared neighbours count
    for more than hubs.  Pairs already adjacent are EXCLUDED — the
    output is the crawl frontier's "these two hosts will probably
    link" candidates, the graph-side companion of cocitation's
    related-domain signal.

    Exactness: the graph is the symmetrized simple host graph; per
    wedge centre, wq pins ln(deg) to the 2^-13 grid (deg >= 2 always —
    a centre needs two neighbours — so wq >= 5678, never 0) and
    rq = floor(8192^2 / wq) is one exact integer division; aa_q is an
    exact BIGINT sum of rq and aa is reported via the one
    shared aa_q / 8192.0 spelling (rq already lives on the 2^-13
    grid: rq/8192 ~ 1/ln(deg)).  The k-cut orders on the
    total (aa_q DESC, host_a, host_b) so the reported SET is
    deterministic across engines and partitionings.

    Scale shape: wedge centres above ``max_deg`` are dropped FIRST
    (the cocitation fan-out discipline — a 10^6-degree hub would emit
    10^12 wedges and add the least-informative weight), the pair join
    is centre-keyed with the a < b triangle, the anti-join against
    existing edges runs on the aggregated pair table, and the k-cut is
    a TakeOrdered, never a global sort materialization."""
    und = (
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # four consumers (degrees, wedge legs x2, the anti-join right
        # side) — pin once, the pagerank edge-list discipline
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ctr = (
        deg.filter((F.col("deg") >= 2) & (F.col("deg") <= max_deg))
        .withColumn("wq", F.expr(AA_WQ_SQL))
        .withColumn(
            "rq", _exact_div(F.lit(AA_Q * AA_Q), F.col("wq"))
        )
        .select("src", "rq")
    )
    e = und.join(ctr, "src")
    a = e.select("src", F.col("dst").alias("host_a"), "rq")
    b = e.select("src", F.col("dst").alias("host_b"))
    pairs = (
        a.join(b, "src")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("rq").alias("aa_q"),
        )
    )
    ex = und.select(
        F.col("src").alias("host_a"), F.col("dst").alias("host_b")
    )
    return (
        pairs.join(ex, ["host_a", "host_b"], "left_anti")
        .orderBy(
            F.col("aa_q").desc(),
            F.col("host_a").asc(),
            F.col("host_b").asc(),
        )
        .limit(k)
        .withColumn(
            "aa", F.col("aa_q").cast("double") / F.lit(8192.0)
        )
    )
