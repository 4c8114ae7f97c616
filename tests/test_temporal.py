"""as-of join (operators/joins.py): planted semantics + the simple ==
bucketed equivalence that makes the skew-bounded plan safe; and
seasonal-naive anomaly detection over the pulsed hourly event series:
planted spikes and their seasonal echoes."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from rgr_pdal_topo_spark.operators import joins, pages


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
        joins.asof_join(left, right, "key", "ts", "rts", ["val"])
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
        joins.asof_join(
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
        joins.asof_join(
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
        simple = joins.asof_join(
            views, fetches, "url", "view_epoch", "warc_epoch",
            ["digest"], direction=direction,
        )
        bucketed = joins.asof_join(
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
        joins.asof_join(
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
    plan = joins.asof_join(
        left, right, "key", "ts", "rts", ["val"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan



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

