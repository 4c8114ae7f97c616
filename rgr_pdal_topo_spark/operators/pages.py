"""Canonical page table + text extraction (BASELINE input_hint /
FIXTURES.md §1).

The input_hint table is (url, warc_ts, html binary, text, lang) with the
per-row invariant "byte-identical extracted text per url".  The driver
tables carry `documents(doc_id, text, lang, ...)`; the page layer wraps
each document into a deterministic html payload and `extract_text` is its
inverse, a built-in expression — so `extract(html) == text` holds
byte-for-byte for every url, which tests/test_pages.py and the
extract_pages oracle assert literally.

Construction and extraction are both shared SQL-dialect string
arithmetic: extraction is a regex over the decoded bytes (the JVM
replacement for the reference's out-of-process text handling), and the
same regex and unescape run in DuckDB for the oracle.  Nothing in this
module starts a Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: html template (SQL fragment shared with the DuckDB oracle): no
#: whitespace outside tags, and the text is entity-escaped (& then <) so
#: markup-like content round-trips byte-identically.
_ESCAPED_TEXT_SQL = (
    "replace(replace(text, '&', '&amp;'), '<', '&lt;')"
)
HTML_SQL = (
    "'<html lang=\"' || lang || '\"><head><title>doc-' || "
    f"CAST(doc_id AS STRING) || '</title></head><body><p>' || "
    f"{_ESCAPED_TEXT_SQL} || '</p></body></html>'"
)
#: SQL unescape applied to the regex capture (reverse order)
def unescape_sql(expr: str) -> str:
    return f"replace(replace({expr}, '&lt;', '<'), '&amp;', '&')"
URL_SQL = (
    "'https://site' || CAST(doc_id % 1000 AS STRING) || '.example/p/' || "
    "CAST(doc_id AS STRING)"
)
EPOCH0 = 1700000000
WARC_EPOCH_SQL = f"CAST({EPOCH0} + doc_id * 37 AS BIGINT)"

#: extraction regex: body paragraph content (lazy, RE2- and Java-compatible)
EXTRACT_RE = "(?s)<p>(.*?)</p>"  # (?s): text may span lines

# ---------------------------------------------------------------------------
# geo-tagged page variant (north_star: cell ids batch-encoded from
# coordinates extracted from each page).  Coordinates are embedded as
# MILLI-DEGREE INTEGERS in an ICBM-style meta tag: integer -> string is
# engine-identical (double formatting is NOT — Spark and DuckDB disagree
# on trailing digits), so the page bytes, the regex capture, and the
# derived lat/lon doubles (one correctly-rounded division each) are all
# deterministic and bit-equal in both engines.
# ---------------------------------------------------------------------------
LAT_MILLI_SQL = "CAST((doc_id * 7919) % 160001 AS BIGINT) - 80000"
LON_MILLI_SQL = "CAST((doc_id * 104729) % 360001 AS BIGINT) - 180000"
GEO_HTML_SQL = (
    "'<html lang=\"' || lang || '\"><head><title>doc-' || "
    "CAST(doc_id AS STRING) || "
    "'</title><meta name=\"ICBM\" content=\"' || "
    f"CAST({LAT_MILLI_SQL} AS STRING) || ';' || "
    f"CAST({LON_MILLI_SQL} AS STRING) || "
    "'\"></head><body><p>' || "
    f"{_ESCAPED_TEXT_SQL} || '</p></body></html>'"
)
#: geo capture: first match wins in both engines, and the head's meta tag
#: precedes any body text that could contain a look-alike substring
GEO_RE = 'content="(-?\\d+);(-?\\d+)"'


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> the input_hint page table
    (url, warc_ts, html binary, text, lang)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.selectExpr(
        f"{URL_SQL} AS url",
        f"timestamp_seconds({WARC_EPOCH_SQL}) AS warc_ts",
        f"{WARC_EPOCH_SQL} AS warc_epoch",
        f"encode({HTML_SQL}, 'UTF-8') AS html",
        "text",
        "lang",
        "doc_id",
    )


def geo_pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> geo-tagged pages (url, html binary, doc_id) whose head
    carries an ICBM meta tag with deterministic milli-degree coordinates;
    input to the pages_geocode cell-encoding pipeline."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.selectExpr(
        f"{URL_SQL} AS url",
        f"encode({GEO_HTML_SQL}, 'UTF-8') AS html",
        "doc_id",
    )


#: host capture of a page url — no backslash escapes, portable across
#: regex dialects
HOST_RE = "site([0-9]+)[.]example"


# ---------------------------------------------------------------------------
# recrawl fetch-log variant (CDX-style snapshot consolidation).  Every real
# crawl captures a url many times; the consolidation job collapses the
# capture log to latest-content-per-url plus change statistics — the CDX /
# WARC-revisit dedup every Common-Crawl-shaped pipeline runs before any
# text processing.  The synthetic log is deterministic: url doc_id is
# fetched 1 + doc_id % 3 times one day apart, odd doc_ids change content
# every fetch (a "(rev f)" suffix), even doc_ids never do — so capture
# counts, version counts, and revisit-dedup behavior all vary.  Capture
# epochs never collide: 37 and 86400 are coprime and |f - g| <= 2 < 37.
# ---------------------------------------------------------------------------
FETCH_MAX = 3  #: max captures per url (f in 0 .. doc_id % FETCH_MAX)


def rev_text_sql(fetch_col: str) -> str:
    """SQL fragment (shared text, both engines): content of capture
    ``fetch_col`` — odd doc_ids get a per-fetch revision suffix."""
    return (
        "CASE WHEN doc_id % 2 = 1 THEN text || ' (rev ' || "
        f"CAST({fetch_col} AS STRING) || ')' ELSE text END"
    )


def fetch_epoch_sql(fetch_col: str) -> str:
    return f"CAST({EPOCH0} + doc_id * 37 + {fetch_col} * 86400 AS BIGINT)"


def fetch_log_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> the capture log (url, warc_epoch, text), one row per
    (url, fetch)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.selectExpr(
        "doc_id",
        "text",
        f"explode(sequence(CAST(0 AS BIGINT), doc_id % {FETCH_MAX})) AS f",
    ).selectExpr(
        f"{URL_SQL} AS url",
        f"{fetch_epoch_sql('f')} AS warc_epoch",
        f"{rev_text_sql('f')} AS text",
    )


def consolidate_crawl(fetches: DataFrame) -> DataFrame:
    """CDX consolidation: one row per url — capture count, distinct
    content versions, latest capture epoch, latest content digest.

    Scale shape: ONE groupBy(url) with full partial aggregation; content
    travels as its md5 digest (never the body, so the shuffle row width
    stays bounded), and the latest digest rides a max_by (argmax
    struct-max, no window).  Capture epochs
    are unique per url so the argmax is deterministic."""
    digest = F.md5("text")
    return fetches.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_captures"),
        F.count_distinct(digest).alias("n_versions"),
        F.max("warc_epoch").alias("last_epoch"),
        F.max_by(digest, F.col("warc_epoch")).alias("last_digest"),
    )


def geo_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, lat_milli, lon_milli) captured back OUT of the geo pages'
    binary html — the one Spark-side extraction spelling shared by every
    pages_* query (decode -> regex -> integer cast, all JVM-side)."""
    p = geo_pages_df(spark, sf_dir)
    h = F.decode(F.col("html"), "UTF-8")
    return p.select(
        "url",
        F.regexp_extract(h, GEO_RE, 1).cast("long").alias("lat_milli"),
        F.regexp_extract(h, GEO_RE, 2).cast("long").alias("lon_milli"),
    )


def geo_lonlat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_coords + degree doubles (one correctly-rounded division per
    axis — bit-equal to the oracle's identical spelling)."""
    c = geo_coords(spark, sf_dir)
    return c.select(
        "url",
        "lat_milli",
        "lon_milli",
        (F.col("lat_milli").cast("double") / F.lit(1000.0)).alias("lat"),
        (F.col("lon_milli").cast("double") / F.lit(1000.0)).alias("lon"),
    )


def extract_text(pages: DataFrame) -> DataFrame:
    """The extraction invariant: adds `extracted` (byte-identical to the
    original text per url) — decode the binary html as UTF-8 (malformed
    bytes raise), take the first ``EXTRACT_RE`` capture (NULL when no
    paragraph matches; ``regexp_extract`` would give ''), unescape.  A
    JVM projection: no Python worker."""
    first = (
        f"get(regexp_extract_all(decode(html, 'UTF-8'), '{EXTRACT_RE}', 1), 0)"
    )
    return pages.withColumn("extracted", F.expr(unescape_sql(first)))


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-dedup key normalization)
# ---------------------------------------------------------------------------

# tracking parameters stripped by the canonicalizer (the usual suspects)
TRACKING_PARAM_RE = "[?&](utm_[a-z]+|fbclid|gclid)=[^&]*"
_SCHEME_HOST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/]+"


def canonical_url(url: Column) -> Column:
    """Canonical crawl-dedup key for a URL: strip the fragment, strip
    tracking parameters (utm_*/fbclid/gclid), lowercase scheme+host
    (path/query case is significant per RFC 3986 and preserved), drop a
    dangling '?'.  Two fetches of the same page through different
    campaign links then dedup to one key — upstream of exact dedup this
    collapses the largest class of spurious "distinct" URLs in a crawl.

    Deliberately NOT a full parser: parameter REORDERING (?b=1&a=2 vs
    ?a=2&b=1) and percent-encoding normalization need one, and a
    tracking param in first position followed by a kept param leaves
    '&kept' (a full parser would promote it to '?kept') — rare shapes
    a production canonicalizer handles in a UDF; the regex chain here
    is the portable, oracle-replayable core.  Every step is a plain
    regex substitution with NO replacement backreferences, because
    Spark (Java regex, $1) and DuckDB (RE2, \\1) disagree on
    backreference syntax — avoiding them keeps the SQL twin
    character-identical."""
    u = F.regexp_replace(url, "#.*", "")
    u = F.regexp_replace(u, TRACKING_PARAM_RE, "")
    u = F.regexp_replace(u, "\\?$", "")
    scheme_host = F.lower(F.regexp_extract(u, _SCHEME_HOST_RE, 0))
    rest = F.regexp_replace(u, _SCHEME_HOST_RE, "")
    return F.concat(scheme_host, rest)


def canonical_url_sql(url: str) -> str:
    """DuckDB twin of :func:`canonical_url` (same regexes; DuckDB needs
    the explicit 'g' flag where Spark replaces globally by default)."""
    u = f"regexp_replace({url}, '#.*', '', 'g')"
    u = f"regexp_replace({u}, '{TRACKING_PARAM_RE}', '', 'g')"
    u = f"regexp_replace({u}, '\\?$', '', 'g')"
    sh = f"lower(regexp_extract({u}, '{_SCHEME_HOST_RE}', 0))"
    rest = f"regexp_replace({u}, '{_SCHEME_HOST_RE}', '', 'g')"
    return f"({sh} || {rest})"


# ---------------------------------------------------------------------------
# PII scrubbing (pre-training redaction pass)
# ---------------------------------------------------------------------------

# Patterns chosen to evaluate identically under Java regex (Spark) and
# RE2 (DuckDB): \b / \d / bounded quantifiers only, no backreferences,
# no lookaround (RE2 has none).  Replacement tokens contain neither $
# nor \, the two engines' replacement metacharacters.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
PII_IP_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII = (
    (PII_EMAIL_RE, "<EMAIL>", "n_emails"),
    (PII_PHONE_RE, "<PHONE>", "n_phones"),
    (PII_IP_RE, "<IP>", "n_ips"),
)


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses — the standard
    pre-training PII pass (the C4/Dolma-style regex tier; NER-grade
    scrubbing is a model call layered on top, out of scope here).

    Adds per-category match COUNTS (taken on the ORIGINAL text, so the
    counts are independent of replacement order) and ``scrubbed`` with
    replacements applied email -> phone -> IP (the categories cannot
    create each other's matches: replacement tokens contain no digits,
    phones contain no dots, the email pattern requires '@').

    Scale shape: pure scan -> project string work, whole-stage codegen,
    zero shuffles, zero Python — exactly like canonical_url."""
    out = df
    scrubbed = F.col(text_col)
    for pat, rep, cnt in _PII:
        out = out.withColumn(
            # group 0 explicitly: Spark's default group index is 1 and
            # throws on group-less patterns (DuckDB defaults to 0)
            cnt,
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)),
        )
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    return out.withColumn("scrubbed", scrubbed)


def pii_scrub_sql(text: str) -> tuple[list[str], str]:
    """DuckDB twin: ([count exprs in _PII order], scrubbed expr)."""
    counts = [
        f"CAST(len(regexp_extract_all({text}, '{pat}')) AS INT)"
        for pat, _, _ in _PII
    ]
    scrubbed = text
    for pat, rep, _ in _PII:
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{rep}', 'g')"
    return counts, scrubbed
