"""as-of join (operators/temporal.py): planted semantics + the
simple == bucketed equivalence that makes the skew-bounded plan safe."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from rgr_pdal_topo_spark.operators import pages, temporal


def _frames(spark):
    left = spark.createDataFrame(
        [("k", 5), ("k", 10), ("k", 99), ("q", 7), ("z", 1)],
        "key string, ts long",
    )
    right = spark.createDataFrame(
        # k: captures at 3, 10, 20 — ts=10 view must see the SAME-instant
        # capture (inclusive); q has one earlier capture; z has none
        [("k", 3, "a"), ("k", 10, "b"), ("k", 20, "c"), ("q", 2, "x")],
        "key string, rts long, val string",
    )
    return left, right


def _collect(df):
    return {
        (r["key"], r["ts"]): (r["matched_ts"], r["val"])
        for r in df.collect()
    }


def test_asof_backward_planted(spark):
    left, right = _frames(spark)
    got = _collect(
        temporal.asof_join(left, right, "key", "ts", "rts", ["val"])
    )
    assert got == {
        ("k", 5): (3, "a"),
        ("k", 10): (10, "b"),   # inclusive: same-instant capture wins
        ("k", 99): (20, "c"),
        ("q", 7): (2, "x"),
        ("z", 1): (None, None),  # left semantics: no capture ever
    }


def test_asof_forward_planted(spark):
    left, right = _frames(spark)
    got = _collect(
        temporal.asof_join(
            left, right, "key", "ts", "rts", ["val"], direction="forward"
        )
    )
    assert got == {
        ("k", 5): (10, "b"),
        ("k", 10): (10, "b"),
        ("k", 99): (None, None),
        ("q", 7): (None, None),
        ("z", 1): (None, None),
    }


def test_asof_tolerance(spark):
    left, right = _frames(spark)
    got = _collect(
        temporal.asof_join(
            left, right, "key", "ts", "rts", ["val"], tolerance=2
        )
    )
    # k@5 is 2 past capture@3 (kept); q@7 is 5 past capture@2 (dropped);
    # k@99 is 79 past capture@20 (dropped)
    assert got[("k", 5)] == (3, "a")
    assert got[("k", 10)] == (10, "b")
    assert got[("k", 99)] == (None, None)
    assert got[("q", 7)] == (None, None)


def _corpus_sides(spark):
    views = pages.view_log_df(spark, SF_DIR)
    fetches = pages.fetch_log_df(spark, SF_DIR).select(
        "url", "warc_epoch", F.md5("text").alias("digest")
    )
    return views, fetches


def test_bucketed_equals_simple_backward_and_forward(spark):
    views, fetches = _corpus_sides(spark)
    for direction in ("backward", "forward"):
        simple = temporal.asof_join(
            views, fetches, "url", "view_epoch", "warc_epoch",
            ["digest"], direction=direction,
        )
        bucketed = temporal.asof_join(
            views, fetches, "url", "view_epoch", "warc_epoch",
            ["digest"], direction=direction, bucket_width=86400,
        )
        a = {tuple(r) for r in simple.collect()}
        b = {tuple(r) for r in bucketed.collect()}
        assert a == b, direction
    # the day-wide buckets genuinely split matches across boundaries
    # (otherwise this test pins nothing): some view matches a capture
    # from an earlier bucket
    crossed = (
        temporal.asof_join(
            views, fetches, "url", "view_epoch", "warc_epoch", ["digest"]
        )
        .filter(
            F.col("matched_ts").isNotNull()
            & (
                F.floor(F.col("view_epoch") / 86400)
                != F.floor(F.col("matched_ts") / 86400)
            )
        )
        .count()
    )
    assert crossed > 0


def test_asof_join_has_no_join_node(spark):
    left, right = _frames(spark)
    plan = temporal.asof_join(
        left, right, "key", "ts", "rts", ["val"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_sweep_concurrency_planted(spark):
    """Hand-computed sweep over four intervals that exercise every
    contract clause: closed ends (touching intervals DO overlap at the
    shared instant), the +1us decrement, a bucket with no boundary
    (skipped row, level carried), and a cross-hour carry-in > 0."""
    import datetime as dt

    def t(h, m, s=0, us=0):
        return dt.datetime(2024, 1, 1, h, m, s, us)

    # A 10:00-10:10, B 10:10-10:40 (touches A at 10:10 -> both open),
    # C 10:30-12:30 (spans all of hour 11: no boundary there),
    # D 12:00-12:05 (opens while C still open: carry-in = 1)
    iv = spark.createDataFrame(
        [(t(10, 0), t(10, 10)), (t(10, 10), t(10, 40)),
         (t(10, 30), t(12, 30)), (t(12, 0), t(12, 5))],
        "s_start timestamp, s_end timestamp",
    )
    rows = {
        r["bucket_ts"].hour: (r["n_changes"], r["peak"], r["end_level"])
        for r in temporal.sweep_concurrency(iv, "s_start", "s_end").collect()
    }
    # hour 10: +A(10:00) +B(10:10) -A(10:10+1us) +C(10:30) -B(10:40+1us)
    #   levels 1,2,1,2,1 -> 5 changes, peak 2, ends at 1 (C open)
    # hour 11: no boundary -> NO ROW (C stays open through it)
    # hour 12: +D(12:00) -D(12:05+1us) -C(12:30+1us)
    #   levels 2,1,0 -> 3 changes, peak 2 (carry-in 1 + D), ends at 0
    assert rows == {10: (5, 2, 1), 12: (3, 2, 0)}
    assert 11 not in rows


def test_interval_self_join_exactly_once_and_touch(spark):
    """The bucket-replicated range join: a pair whose overlap spans
    several buckets is emitted EXACTLY once (the meet-bucket rule);
    touching endpoints overlap with ov_us = 0; disjoint intervals are
    absent; keys order lexicographically."""
    import datetime as dt

    def t(h, m, s=0, us=0):
        return dt.datetime(2024, 1, 1, h, m, s, us)

    iv = spark.createDataFrame(
        [
            # A and B overlap from 10:30 to 13:00 — spanning FOUR
            # hour buckets; the naive bucket join would meet 4 times
            (1, 1, t(9, 0), t(13, 0)),
            (2, 1, t(10, 30), t(14, 0)),
            # C touches A exactly at 13:00 (closed intervals: ov 0)
            (3, 1, t(13, 0), t(13, 5)),
            # D is disjoint from everything
            (4, 1, t(20, 0), t(20, 30)),
            # same user, consecutive sessions: 2nd starts later,
            # overlapping the (2,1) session -> ordered by session_id
            (2, 2, t(13, 30), t(13, 45)),
        ],
        "user_id long, session_id long, s_start timestamp, "
        "s_end timestamp",
    )
    got = {
        ((r.user_id_a, r.session_id_a), (r.user_id_b, r.session_id_b)):
            r.ov_us
        for r in temporal.interval_self_join(
            iv, ["user_id", "session_id"]
        ).collect()
    }
    HOUR = 3_600_000_000
    assert got[((1, 1), (2, 1))] == 2 * HOUR + HOUR // 2  # 10:30-13:00
    assert got[((1, 1), (3, 1))] == 0                     # touch
    assert got[((2, 1), (2, 2))] == HOUR // 4             # 13:30-13:45
    assert got[((2, 1), (3, 1))] == 5 * 60 * 1_000_000    # 13:00-13:05
    assert len(got) == 4                                  # nothing else


def test_union_coverage_merge_touch_zero_and_clip(spark):
    """Measure semantics of the interval union: overlap merges, touch
    merges (net delta cancels at the shared instant), zero-length
    contributes nothing, and clipping to buckets preserves the total —
    a 3-bucket-spanning interval's per-bucket pieces sum to its
    length."""
    import datetime as dt

    def t(h, m, s=0):
        return dt.datetime(2024, 1, 1, h, m, s)

    iv = spark.createDataFrame(
        [
            (t(10, 0), t(10, 10)),   # overlaps the next -> union 15 min
            (t(10, 5), t(10, 15)),
            (t(11, 0), t(11, 10)),   # touches the next -> union 20 min
            (t(11, 10), t(11, 20)),
            (t(12, 0), t(12, 0)),    # zero-length: measure 0
            (t(13, 30), t(16, 30)),  # spans 4 hour buckets
        ],
        "s_start timestamp, s_end timestamp",
    )
    got = {
        r.bkt: r.covered_us
        for r in temporal.union_coverage(iv, bucket_s=3600).collect()
    }
    h0 = 473352 + 10  # epoch hours of 2024-01-01 10:00 UTC
    assert got[h0] == 15 * 60_000_000
    assert got[h0 + 1] == 20 * 60_000_000
    assert (h0 + 2) not in got           # the zero-length hour
    # the 13:30-16:30 interval: 30 + 60 + 60 + 30 minutes
    assert got[h0 + 3] == 30 * 60_000_000
    assert got[h0 + 4] == 60 * 60_000_000
    assert got[h0 + 5] == 60 * 60_000_000
    assert got[h0 + 6] == 30 * 60_000_000
    assert sum(got.values()) == (15 + 20 + 180) * 60_000_000


def test_union_coverage_bucket_edge_alignment(spark):
    """An interval exactly aligned to bucket edges covers each bucket
    fully and leaks nothing into the next (half-open [t0, t1)): the
    bucket after the aligned end has no row."""
    import datetime as dt

    iv = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 6, 0), dt.datetime(2024, 1, 1, 8, 0))],
        "s_start timestamp, s_end timestamp",
    )
    got = {
        r.bkt: r.covered_us
        for r in temporal.union_coverage(iv, bucket_s=3600).collect()
    }
    h = 473352 + 6
    assert got == {h: 3_600_000_000, h + 1: 3_600_000_000}


def test_series_autocorr_planted_period(spark):
    """A pure period-24 square wave scores r = 1.0 at lag 24 and
    NEGATIVE at lag 12 (anti-phase); a constant-plus-single-spike
    series scores near 0 at every listed lag — period detection, not
    smoothness."""
    wave = [(t, 10 + (5 if t % 24 < 12 else 0)) for t in range(240)]
    got = {
        r.lag: r.r
        for r in temporal.series_autocorr(
            spark.createDataFrame(wave, "t long, c long"), [12, 24]
        ).collect()
    }
    assert got[24] == 1.0
    assert got[12] == -1.0


def test_traffic_autocorr_detects_the_planted_diurnal(spark):
    """On the real stream + the planted square wave, lag 24 spikes
    while its neighbours 23/25 stay near zero — the fingerprint of a
    true period."""
    from rgr_pdal_topo_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    got = {
        r.lag: r.r
        for r in QUERIES["traffic_autocorr"](spark, SF_DIR).collect()
    }
    assert got[24] > 0.5
    assert abs(got[23]) < 0.25 and abs(got[25]) < 0.25
    assert got[24] > 4 * max(abs(got[23]), abs(got[25]))


def test_seasonal_anomalies_planted_and_echoed(spark):
    """At the test scale both planted spikes fire, and each is ECHOED
    24 hours later with opposite sign — the documented seasonal-naive
    artifact; the daily pulse itself (period 24) never alarms because
    differencing cancels it exactly."""
    from rgr_pdal_topo_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    rows = {r.t: r.r for r in
            QUERIES["seasonal_anomalies"](spark, SF_DIR).collect()}
    h0 = 473352  # first hour of the synthetic event range (2024-01-01)
    for rel in (100, 400):
        assert rows[h0 + rel] >= 40, f"planted +40 at rel {rel} missed"
        assert rows[h0 + rel + 24] <= -40 + 8, f"echo at rel {rel}+24 missed"
    # the pulse hours (rel % 24 == 0 minus the anomalies) never alarm
    pulse_alarms = [t for t in rows if (t - h0) % 24 == 0
                    and (t - h0) not in (100 + 24, 400 + 24)
                    and (t - h0) not in (100, 400)]
    assert pulse_alarms == []


def _mk_events(spark, spec):
    """spec: {etype: {day: count}} -> events-shaped frame."""
    rows = []
    for et, days in spec.items():
        for d, c in days.items():
            for k in range(c):
                rows.append((et, f"2024-01-{d + 1:02d} 0{k % 10}:0{k // 10}:00"))
    return spark.createDataFrame(rows, "event_type string, s string").select(
        "event_type", F.col("s").cast("timestamp").alias("ts")
    )


def test_mann_kendall_planted(spark):
    # type A: days 0..3, counts 1,2,2,5 -> S=5, n=4, ties {2:2},
    # var18 = 4*3*13 - 2*1*9 = 138; q13 slopes sorted
    # [0, 4096, 8192, 10923, 12288, 24576] -> median 9557.5/8192
    # type B: strictly decreasing 3,2,1 -> S=-3, var18=3*2*11=66,
    # every slope -1 -> median -1.0 (odd pair count path)
    ev = _mk_events(
        spark,
        {
            "A": {0: 1, 1: 2, 2: 2, 3: 5},
            "B": {0: 3, 1: 2, 2: 1},
        },
    )
    got = {
        r.event_type: (r.n_days, r.s_stat, r.var18, r.slope_ts)
        for r in temporal.mann_kendall(ev).collect()
    }
    assert got == {
        "A": (4, 5, 138, 9557.5 / 8192.0),
        "B": (3, -3, 66, -1.0),
    }


def test_mann_kendall_flat_series_is_trendless(spark):
    # constant counts: S = 0, every slope 0, maximal tie correction
    ev = _mk_events(spark, {"C": {d: 2 for d in range(5)}})
    [r] = temporal.mann_kendall(ev).collect()
    assert (r.s_stat, r.slope_ts) == (0, 0.0)
    # all 5 days tie on count 2: var18 = 5*4*15 - 5*4*15 = 0
    assert r.var18 == 0


def test_decayed_counts_hand_computed(spark):
    """Exact dyadic decay: 3 events on the newest day (w = 2^40), 2
    one day earlier (2^39), 1 exactly 41 days back (w = 0, excluded
    from n_live): score_q = 3*2^40 + 2*2^39 = 2^42, score = 4.0
    EXACTLY.  A second type with only the stale event scores 0."""
    rows = [
        ("a", "2024-03-01 10:00:00"),
        ("a", "2024-03-01 11:00:00"),
        ("a", "2024-03-01 12:00:00"),
        ("a", "2024-02-29 09:00:00"),
        ("a", "2024-02-29 23:00:00"),
        ("a", "2024-01-20 05:00:00"),  # 41 days before 2024-03-01
        ("b", "2024-01-20 06:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "event_type string, s string"
    ).select("event_type", F.col("s").cast("timestamp").alias("ts"))
    out = {
        r["event_type"]: r
        for r in temporal.decayed_counts(ev).collect()
    }
    a = out["a"]
    assert (a["n_events"], a["n_live"]) == (6, 5)
    assert a["score_q"] == 1 << 42
    assert a["score"] == 4.0
    b = out["b"]
    assert (b["n_events"], b["n_live"], b["score_q"], b["score"]) == (
        1, 0, 0, 0.0,
    )


def test_emerging_hotspots_planted_classes(spark):
    """The two planted ramps classify as their classes (pure up-ramp
    S = 21, var18 = 798 -> z ~ 3.15 emerging; down-ramp diminishing),
    every other cell is stable (the flat synthetic log has no organic
    trend at the z >= 2 gate), and the integer gate matches a float
    z-score recomputation."""
    from rgr_pdal_topo_spark.functions import cells as cellfn
    from rgr_pdal_topo_spark.queries import QUERIES

    out = QUERIES["emerging_hotspots"](spark, SF_DIR).toPandas()
    up = spark.range(1).select(
        cellfn.quad_cell(F.lit(0.5), F.lit(0.5), 5).alias("c")
    ).collect()[0]["c"]
    dn = spark.range(1).select(
        cellfn.quad_cell(F.lit(-0.5), F.lit(-0.5), 5).alias("c")
    ).collect()[0]["c"]
    by = out.set_index("cell")
    # organic captures may also geocode into a planted cell (seen:
    # one extra event turned the down-ramp S from -21 to -20), so pin
    # class + a strong-signal floor rather than the exact pair count
    assert by.loc[up, "trend"] == "emerging"
    assert by.loc[up, "s_stat"] >= 15
    assert by.loc[dn, "trend"] == "diminishing"
    assert by.loc[dn, "s_stat"] <= -15
    rest = out[~out.cell.isin([up, dn])]
    assert (rest.trend == "stable").all()
    # the integer gate == the float z >= 2 definition
    for r in out.itertuples():
        if r.var18 > 0:
            z2 = 18.0 * r.s_stat**2 / r.var18
            sig = z2 >= 4.0
        else:
            sig = True  # degenerate: gate reduces to 9 S^2 >= 0
        want = (
            "emerging" if sig and r.s_stat > 0
            else "diminishing" if sig and r.s_stat < 0
            else "stable"
        )
        assert r.trend == want, (r.cell, r.trend, want)
