"""input_hint page table: byte-identical extraction invariant."""

from __future__ import annotations

from tests.conftest import SF_DIR

from rgr_pdal_topo_spark.operators import pages


def test_extract_is_byte_identical(spark):
    p = pages.extract_text(pages.pages_df(spark, SF_DIR))
    n = p.count()
    assert n > 0
    bad = p.filter("extracted IS NULL OR extracted <> text").count()
    assert bad == 0
    # urls unique per row (the invariant's key)
    assert p.select("url").distinct().count() == n


def test_extract_handles_markup_and_newlines(spark):
    import tempfile

    import pandas as pd

    d = tempfile.mkdtemp()
    df = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["plain words", "embedded </p> closer",
                     "multi\nline\ntext", "entities &lt; already & here"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [1] * 4,
        }
    )
    spark.createDataFrame(df).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    out = pages.extract_text(pages.pages_df(spark, d))
    assert out.filter("extracted IS NULL OR extracted <> text").count() == 0


def test_extract_text_edge_cases(spark):
    """extract_text on raw html bytes: multi-byte UTF-8 survives, a page
    with no paragraph gives NULL (not ''), the first paragraph wins, the
    capture spans lines, &lt; unescapes before &amp;, and malformed UTF-8
    raises instead of extracting garbage."""
    import pytest

    cases = {
        0: ("<p>caf\u00e9 \u20ac \U0001F600</p>".encode(),
            "caf\u00e9 \u20ac \U0001F600"),
        1: (b"<html><body>no paragraph</body></html>", None),
        2: (b"<p>first</p><p>second</p>", "first"),
        3: (b"<p>a\nb\r\nc</p>", "a\nb\r\nc"),
        4: (b"<p>&amp;lt; &lt;b&gt;</p>", "&lt; <b&gt;"),
    }
    df = spark.createDataFrame(
        [(k, bytearray(h)) for k, (h, _) in cases.items()], "id int, html binary"
    )
    got = {r.id: r.extracted for r in pages.extract_text(df).collect()}
    assert got == {k: want for k, (_, want) in cases.items()}
    bad = spark.createDataFrame(
        [(9, bytearray(b"<p>\xff\xfe</p>"))], "id int, html binary"
    )
    with pytest.raises(Exception, match="MALFORMED_CHARACTER_CODING"):
        pages.extract_text(bad).collect()


def test_geo_capture_first_match_wins_over_body_lookalikes(spark):
    """The ICBM capture must read the HEAD meta tag even when the body
    text contains a look-alike content=\"a;b\" substring — both engines
    take the FIRST regex match, and the meta precedes any body text."""
    import tempfile

    import pandas as pd
    import pyspark.sql.functions as F

    d = tempfile.mkdtemp()
    df = pd.DataFrame(
        {
            # doc_id 0 pins the lattice edge: lat_milli = -80000,
            # lon_milli = -180000
            "doc_id": [0, 7, 123456],
            "text": [
                'decoy content="1;2" in plain text',
                "no decoys here",
                'content="999999;-999999" twice content="3;4"',
            ],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [1] * 3,
        }
    )
    spark.createDataFrame(df).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    p = pages.geo_pages_df(spark, d)
    h = F.decode(F.col("html"), "UTF-8")
    got = {
        r["doc_id"]: (r["lat_m"], r["lon_m"])
        for r in p.select(
            "doc_id",
            F.regexp_extract(h, pages.GEO_RE, 1).cast("long").alias("lat_m"),
            F.regexp_extract(h, pages.GEO_RE, 2).cast("long").alias("lon_m"),
        ).collect()
    }
    for doc_id in (0, 7, 123456):
        exp_lat = (doc_id * 7919) % 160001 - 80000
        exp_lon = (doc_id * 104729) % 360001 - 180000
        assert got[doc_id] == (exp_lat, exp_lon), doc_id
    # the encoding formulas keep EVERY doc_id inside valid coordinate
    # ranges (pure-python sweep — independent of the three sampled ids)
    for doc_id in range(0, 500_000, 37):
        assert -80000 <= (doc_id * 7919) % 160001 - 80000 <= 80000
        assert -180000 <= (doc_id * 104729) % 360001 - 180000 <= 180000


def test_extract_deterministic_across_runs(spark):
    a = pages.extract_text(pages.pages_df(spark, SF_DIR))
    b = pages.extract_text(pages.pages_df(spark, SF_DIR))
    ja = a.selectExpr("url", "extracted AS e1")
    jb = b.selectExpr("url AS url2", "extracted AS e2")
    j = ja.join(jb, ja.url == jb.url2)
    assert j.filter("e1 <> e2").count() == 0


def test_canonical_url_planted_cases(spark):
    """Fragments and tracking params strip, kept params survive,
    scheme+host lowercases while the path keeps its case."""
    import pyspark.sql.functions as F

    from rgr_pdal_topo_spark.operators import pages as p

    cases = [
        ("https://a.example/p/1?utm_source=feed&utm_campaign=x",
         "https://a.example/p/1"),
        ("https://a.example/p/1?id=7&utm_medium=email#frag",
         "https://a.example/p/1?id=7"),
        ("https://a.example/p/1#section2", "https://a.example/p/1"),
        ("HTTPS://A.EXAMPLE/P/1", "https://a.example/P/1"),
        ("https://a.example/p/1", "https://a.example/p/1"),
        ("https://a.example/p/1?fbclid=XYZ", "https://a.example/p/1"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string"
    )
    got = {
        r.i: r.c
        for r in df.select(
            "i", p.canonical_url(F.col("u")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_pii_scrub_planted_cases(spark):
    """Known PII shapes: exact counts and exact scrubbed text, clean
    text untouched, counts independent of replacement order."""
    from rgr_pdal_topo_spark.operators import pages as pg

    rows = [
        (1, "reach me at Bob.Jones+spam@Mail-Host.org or bob@ex.org now"),
        (2, "call 555-123-4567 or 555.987.6543 after five"),
        (3, "hosts 10.0.0.1 and 192.168.1.77 are down"),
        (4, "mixed alice@a.io then 555-111-2222 then 8.8.8.8"),
        (5, "no pii here, just 12345 and a.b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pg.pii_scrub(df).collect()}
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (2, 0, 0)
    assert got[1].scrubbed == "reach me at <EMAIL> or <EMAIL> now"
    assert (got[2].n_emails, got[2].n_phones, got[2].n_ips) == (0, 2, 0)
    assert got[2].scrubbed == "call <PHONE> or <PHONE> after five"
    assert (got[3].n_emails, got[3].n_phones, got[3].n_ips) == (0, 0, 2)
    assert got[3].scrubbed == "hosts <IP> and <IP> are down"
    assert (got[4].n_emails, got[4].n_phones, got[4].n_ips) == (1, 1, 1)
    assert got[4].scrubbed == "mixed <EMAIL> then <PHONE> then <IP>"
    assert (got[5].n_emails, got[5].n_phones, got[5].n_ips) == (0, 0, 0)
    assert got[5].scrubbed == rows[4][1]


def test_knn_haversine_known_geometry(spark):
    """Haversine sanity on known geometry: the engine's distance for
    one degree of longitude at the equator and at 60N matches the
    textbook values (cos-latitude shrink), and ranks are exhaustive."""
    import math

    from rgr_pdal_topo_spark.queries import _hav_km_sql

    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 1.0), (60.0, 0.0, 60.0, 1.0)],
        "lat1 double, lon1 double, lat2 double, lon2 double",
    ).selectExpr(_hav_km_sql("lat1", "lon1", "lat2", "lon2") + " AS km")
    eq_km, n60_km = [r.km for r in df.collect()]
    assert abs(eq_km - 111.1949) < 0.01          # 1 deg lon at equator
    assert abs(n60_km - eq_km * math.cos(math.radians(60.0))) < 0.01
    got = spark.createDataFrame(
        [("u1", 0.0, 0.0)], "url string, lat double, lon double"
    )
    from rgr_pdal_topo_spark.queries import QUERIES
    out = QUERIES["knn_haversine"](spark, SF_DIR)
    pdf = out.toPandas()
    assert sorted(pdf["rank"].unique()) == [1, 2, 3]
    assert pdf.groupby("qid").size().eq(3).all()


def test_adaptive_grid_partitions_every_page_exactly_once(spark):
    """The adaptive quadtree's defining invariant: emitted cells are
    disjoint and cover every geocoded page (sum of per-cell counts ==
    page count), no emitted cell except max-res exceeds the cap, and
    no emitted cell is the descendant of another emitted cell."""
    from rgr_pdal_topo_spark.operators import pages as pagesops
    from rgr_pdal_topo_spark.queries import (
        QUERIES, _ADAPT_CAP, _ADAPT_MAX, _ADAPT_MIN,
    )
    from tests.conftest import SF_DIR

    rows = QUERIES["adaptive_grid"](spark, SF_DIR).collect()
    n_pages = pagesops.geo_lonlat(spark, SF_DIR).count()
    assert sum(r["n"] for r in rows) == n_pages > 0
    for r in rows:
        assert _ADAPT_MIN <= r["res"] <= _ADAPT_MAX
        if r["res"] < _ADAPT_MAX:
            assert r["n"] <= _ADAPT_CAP
    # ancestor-disjointness: shifting any emitted cell up to a coarser
    # emitted resolution never lands on another emitted cell
    by_res = {}
    for r in rows:
        by_res.setdefault(r["res"], set()).add(r["cell"])
    for res, cells in by_res.items():
        for coarser in range(_ADAPT_MIN, res):
            anc = {c >> (2 * (res - coarser)) for c in cells}
            assert not (anc & by_res.get(coarser, set()))
    # non-vacuity: at least two resolutions actually emitted
    assert len(by_res) >= 2


def test_geo_language_map_entropy_replay(spark):
    """Pandas replay: per-cell dominant language (count desc, lang asc)
    and the exact-integer entropy identity H = (ln_n_q*N - sum c*lnq)
    / (8192 N) recomputed from the engine's own (cell, lang) counts;
    single-language cells have entropy exactly 0."""
    import math

    from rgr_pdal_topo_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    out = QUERIES["geo_language_map"](spark, SF_DIR).toPandas()
    assert len(out) > 50
    assert (out.n_docs >= out.n_langs).all()
    single = out[out.n_langs == 1]
    assert len(single) > 0 and (single.lang_entropy == 0.0).all()
    multi = out[out.n_langs > 1]
    assert len(multi) > 0 and (multi.lang_entropy > 0).all()
    # replay one multi-lang cell from raw data
    from pyspark.sql import functions as FF

    from rgr_pdal_topo_spark.functions import cells as cellfn
    from rgr_pdal_topo_spark.operators import pages as pagesops

    cell = multi.iloc[0]["cell"]
    geo = pagesops.geo_lonlat(spark, SF_DIR).select(
        "url", cellfn.quad_cell(FF.col("lon"), FF.col("lat"), 5).alias("c")
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        FF.expr(pagesops.URL_SQL).alias("url"), "lang"
    )
    rows = (
        geo.filter(FF.col("c") == cell).join(docs, "url").groupBy("lang")
        .count().collect()
    )
    counts = {r["lang"]: r["count"] for r in rows}
    n = sum(counts.values())
    lnq = lambda v: math.floor(math.log(v) * 8192 + 0.5)  # noqa: E731
    h = (lnq(n) * n - sum(c * lnq(c) for c in counts.values())) / (
        8192.0 * n
    )
    row = out.set_index("cell").loc[cell]
    assert row["lang_entropy"] == round(h, 6)
    assert row["top_lang"] == min(
        sorted(counts), key=lambda k: (-counts[k], k)
    )
