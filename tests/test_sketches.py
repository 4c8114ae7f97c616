"""CDX crawl consolidation and fetch log (operators/pages.py):
planted-value cases."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from rgr_pdal_topo_spark.operators import pages


def test_crawl_consolidation_planted(spark):
    rows = [
        # url A: content changes on the 2nd of 3 captures
        ("a", 100, "v1"), ("a", 200, "v2"), ("a", 300, "v2"),
        # url B: single capture
        ("b", 50, "only"),
        # url C: two captures, unchanged content (revisit dedup case)
        ("c", 10, "same"), ("c", 20, "same"),
    ]
    fetches = spark.createDataFrame(
        rows, "url string, warc_epoch long, text string"
    )
    out = {
        r["url"]: r
        for r in pages.consolidate_crawl(fetches).collect()
    }
    assert out["a"]["n_captures"] == 3 and out["a"]["n_versions"] == 2
    assert out["a"]["last_epoch"] == 300
    assert out["b"]["n_captures"] == 1 and out["b"]["n_versions"] == 1
    assert out["c"]["n_captures"] == 2 and out["c"]["n_versions"] == 1
    # latest digest is the digest OF the latest text
    md5_v2 = spark.sql("SELECT md5('v2') AS h").collect()[0]["h"]
    assert out["a"]["last_digest"] == md5_v2


def test_fetch_log_shape(spark):
    log = pages.fetch_log_df(spark, SF_DIR)
    per_url = log.groupBy("url").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("warc_epoch").alias("n_ts"),
    )
    # capture counts span 1..FETCH_MAX and epochs never collide per url
    bad = per_url.filter(
        (F.col("n") < 1) | (F.col("n") > pages.FETCH_MAX)
        | (F.col("n_ts") != F.col("n"))
    ).count()
    assert bad == 0
    spread = per_url.select(F.count_distinct("n").alias("k")).collect()[0]
    assert spread["k"] == pages.FETCH_MAX  # all capture counts occur

