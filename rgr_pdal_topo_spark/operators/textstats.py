"""Text analysis operators for a training-data pipeline over ``documents``.

All columnar (split / explode / aggregate higher-order functions) — no
Python in the hot path.  The language-ID heuristic is a stopword-scoring
rule kept SQL-expressible so the DuckDB oracle can replicate it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword profiles (public-knowledge function words)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "les"),
}

STOPWORDS_FLAT = tuple(sorted({w for ws in LANG_STOPWORDS.values() for w in ws}))


def _toks():
    """The ONE tokenizer spelling (whitespace split, empties dropped)."""
    return F.filter(F.split(F.col("text"), " "), lambda t: t != "")


def _stat_cols(toks) -> list:
    """text_stats' output columns as expressions over a token array —
    shared by text_stats and the one-pass quality_langid."""
    stop_list = F.array(*[F.lit(w) for w in STOPWORDS_FLAT])
    n_tokens = F.size(toks)
    return [
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
            / n_tokens.cast("double")
        ).alias("avg_token_len"),
        (
            F.size(F.filter(toks, lambda t: F.array_contains(stop_list, t)))
            / n_tokens.cast("double")
        ).alias("stopword_ratio"),
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)),
        ).alias("bpe_tokens_est"),
    ]


def _keep_expr(
    min_tokens: int, max_avg_token_len: float, min_distinct_ratio: float
):
    """C4 keep decision over already-computed stat columns."""
    return (
        (F.col("n_tokens") >= min_tokens)
        & (F.col("avg_token_len") <= max_avg_token_len)
        & (
            F.col("n_distinct_tokens") / F.col("n_tokens").cast("double")
            >= min_distinct_ratio
        )
    ).cast("int")


def _score_cols(toks) -> list:
    """Per-language stopword-profile score columns."""
    cols = []
    for code, words in LANG_STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        cols.append(
            F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
            .alias(f"score_{code}")
        )
    return cols


def _pred_lang_expr():
    """Deterministic argmax over score_* columns: highest wins, ties by
    the explicit preference order en < es < de < fr."""
    pred = F.lit("en")
    best = F.col("score_en")
    for code in ("es", "de", "fr"):
        cond = F.col(f"score_{code}") > best
        pred = F.when(cond, F.lit(code)).otherwise(pred)
        best = F.when(cond, F.col(f"score_{code}")).otherwise(best)
    return pred


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-doc quality statistics: token counts, average token length,
    stopword ratio, distinct-token ratio, BPE-ish token estimate
    (sum of ceil(len(tok)/4))."""
    return documents.select("doc_id", "lang", *_stat_cols(_toks()))


def quality_filter(
    documents: DataFrame,
    min_tokens: int = 20,
    max_avg_token_len: float = 12.0,
    min_distinct_ratio: float = 0.1,
) -> DataFrame:
    """C4-style heuristic keep/drop decision as a column (keep=1)."""
    s = text_stats(documents)
    return s.withColumn(
        "keep",
        _keep_expr(min_tokens, max_avg_token_len, min_distinct_ratio),
    )


def langid_scores(documents: DataFrame) -> DataFrame:
    """Stopword-profile language scores + argmax prediction.

    Deterministic tie-break: highest score wins, ties resolved by language
    code order (en < es < de < fr by explicit preference list order)."""
    df = documents.select("doc_id", "lang", _toks().alias("toks"))
    df = df.select("doc_id", "lang", *_score_cols(F.col("toks")))
    return df.withColumn("pred_lang", _pred_lang_expr())


def quality_langid(
    documents: DataFrame,
    min_tokens: int = 20,
    max_avg_token_len: float = 12.0,
    min_distinct_ratio: float = 0.1,
) -> DataFrame:
    """quality_filter + langid_scores in ONE projection over ONE scan:
    the composed-pipeline spelling.  Joining the two solo operators on
    doc_id would rescan and retokenize every document and add a join
    shuffle; here codegen's common-subexpression elimination computes the
    token split once per row and every downstream column reads it.  Same
    expression builders as the solo operators, so semantics cannot
    drift."""
    s = documents.select(
        "doc_id", "lang", *_stat_cols(_toks()), *_score_cols(_toks())
    )
    return s.withColumn(
        "keep",
        _keep_expr(min_tokens, max_avg_token_len, min_distinct_ratio),
    ).withColumn("pred_lang", _pred_lang_expr())


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Order-sensitive rolling fingerprint: sum over positions of
    (pos+1) * polyhash(token) mod 2^61-1, plus token count.  Uses
    posexplode (position matters — permutations get different prints)."""
    M = (1 << 61) - 1
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    ex = documents.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    # polynomial char hash of the token via built-ins: use crc32 (JVM) is
    # engine-specific — instead hash on length+first/last char codes, which
    # is weak but deterministic & portable; full-strength hashing is the
    # md5-based variant below.
    th = (
        F.length("tok") * F.lit(1000003)
        + F.ascii(F.col("tok")) * F.lit(257)
        + F.ascii(F.substring(F.col("tok"), -1, 1))
    )
    contrib = ((F.col("pos") + 1) * th) % F.lit(M)
    return ex.groupBy("doc_id").agg(
        (F.sum(contrib) % F.lit(M)).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


MIX_M = 1 << 20  # integer sampling-threshold grid (exact in both engines)


def temperature_mix_sample(
    documents: DataFrame,
    alpha: float = 0.5,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based language rebalancing — the data-MIXING stage of
    a multilingual training pipeline (the XLM-R / mT5 recipe): sample
    languages with probability q_l proportional to p_l^alpha, realized as
    pure DOWN-sampling with per-language keep rate
    ``r_l = (n_min / n_l) ** (1 - alpha)`` (the rarest language keeps
    everything, head languages shed mass; alpha=1 keeps the natural
    distribution, alpha=0 equalizes to the rarest).

    Determinism contract: a document's fate is a pure function of its id
    — keep iff ``portable_hash(id) % MIX_M < floor(MIX_M * r_l)`` — so
    the sample is replayable across runs, engines, and retries (the same
    property points_decimate relies on), and the integer threshold
    compare is exact.  At the default ``alpha=0.5`` the rate is
    ``SQRT(n_min/n_l)``: sqrt is IEEE-correctly-rounded in both engines,
    so the oracle replays thresholds bit-for-bit (general alpha uses
    POWER, which is not a correctly-rounded libm op — fine in practice,
    pinned only at 0.5).

    Scale shape: one partial+final count agg (languages-sized output),
    the rates broadcast back, one filtered partial+final agg — the
    corpus never shuffles; only (lang, int) rows move.

    Returns one row per language: n_total, n_kept, thr (the integer
    threshold actually applied)."""
    counts = documents.groupBy(lang_col).agg(
        F.count(F.lit(1)).alias("n_total")
    )
    nmin = counts.agg(F.min("n_total").alias("n_min"))
    ratio = F.col("n_min").cast("double") / F.col("n_total").cast("double")
    rate = (
        F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    )
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        lang_col,
        "n_total",
        F.floor(F.lit(float(MIX_M)) * rate).cast("long").alias("thr"),
    )
    from rgr_pdal_topo_spark.operators.dedup import _portable_id

    hv = F.pmod(
        _portable_id(F.md5(F.col(id_col).cast("string"))), F.lit(MIX_M)
    )
    return (
        documents.select(id_col, lang_col)
        .join(F.broadcast(rates), lang_col)
        .groupBy(lang_col, "n_total", "thr")
        .agg(F.sum((hv < F.col("thr")).cast("long")).alias("n_kept"))
        .select(lang_col, "n_total", "n_kept", "thr")
    )


DSIR_BUCKETS = 1024  #: hashed bigram feature space (DSIR's n-gram buckets)
#: per-bucket importance weight over columns (ct, cr, nr, nt) — the
#: add-one-smoothed log-ratio ln(p_target[b] / p_raw[b]) pinned to the
#: repo-wide 2^-13 integer grid.  ONE fragment, run verbatim by Spark
#: (F.expr) and DuckDB: the ln argument is a single division of two
#: integer-valued doubles (the integer-ratio ln contract — decimal-literal
#: arguments shift the ARGUMENT by an ulp across engines, integer-ratio
#: arguments do not), * 8192 is an exact exponent shift, and
#: FLOOR(+0.5) (never ROUND: engines disagree on halves) lands on the
#: grid, so every weight is an exact BIGINT.
DSIR_W_SQL = (
    f"CAST(FLOOR(ln(CAST((ct + 1) * (nr + {DSIR_BUCKETS}) AS DOUBLE) / "
    f"CAST((cr + 1) * (nt + {DSIR_BUCKETS}) AS DOUBLE)) * 8192 + 0.5) "
    "AS BIGINT)"
)


def dsir_weights(documents: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, score): DSIR-style importance weighting
    ("Data Selection for Language Models via Importance Resampling",
    Xie et al. 2023): documents scored by how much more likely their
    hashed-bigram features are under a TARGET distribution than under
    the raw corpus.  The target here is the corpus' own C4-gate-passing
    slice (the quality_filter keep rule — self-contained, no external
    reference set needed), so the score ranks every document by
    "looks like the data we want to train on".  A selection pass keeps
    the top fraction by score (deterministically: order by score,
    doc_id).

    All arithmetic is exact: bucket counts are BIGINTs, each bucket's
    log-ratio weight is pinned to the 2^-13 integer grid by DSIR_W_SQL
    (one spelling, both engines), and a document's score is the exact
    BIGINT sum of its occurrences' bucket weights.

    Scale shape: bigrams fold to (doc_id, keep, int bucket) — nothing
    wider shuffles; the bucket-count agg is partial+final into a
    DSIR_BUCKETS-row table that BROADCASTS back for the scoring join;
    totals are one scalar row.  The bigram stream feeds both the count
    agg and the scoring join, so it is localCheckpoint-pinned (narrow
    rows, a fraction of corpus bytes) rather than recomputed."""
    toks = _toks()
    s = documents.select("doc_id", toks.alias("t"), *_stat_cols(toks))
    base = s.withColumn("keep", _keep_expr(20, 12.0, 0.1)).select(
        "doc_id", "t", "keep"
    )
    from rgr_pdal_topo_spark.operators.dedup import (
        _portable_id,
        _shingle_array,
    )

    bg = (
        base.select(
            "doc_id",
            "keep",
            F.explode(
                _shingle_array(F.col("t"), 2, distinct=False)
            ).alias("bigram"),
        )
        .select(
            "doc_id",
            "keep",
            (_portable_id(F.md5("bigram")) % F.lit(DSIR_BUCKETS)).alias(
                "b"
            ),
        )
        .localCheckpoint(eager=True)
    )
    bucket = bg.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum("keep").cast("long").alias("ct"),
    )
    tot = bucket.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    w = bucket.crossJoin(F.broadcast(tot)).select(
        "b", F.expr(DSIR_W_SQL).alias("w")
    )
    return (
        bg.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("w").alias("score"),
        )
    )


def source_quality(documents: DataFrame) -> DataFrame:
    """(source, n_docs, n_kept, total_tokens, total_shingles,
    total_dup_shingles): the per-domain datasheet rollup — what a crawl
    operator reads before adding a domain to a blocklist (UT1-style) or
    an allowlist: volume, C4-gate pass count, and duplicated-content
    burden (how many of the domain's distinct shingles occur in other
    documents — the shingle_dup_stats signal, rolled up as counts
    rather than a thresholded flag: the synthetic corpus is so
    internally duplicated at sf0.1 that ANY fixed per-doc flag
    saturates, while the counts discriminate at every scale).  Composes
    the quality gate and the corpus-duplication pass over the `source`
    grouping column so per-domain policy derives from already-verified
    stages.  n_docs is constant across sources BY CONSTRUCTION of the
    synthetic corpus (doc_id % 20 assignment) and kept as the
    datasheet's volume column.

    Scale shape: the quality stats are one projection; the duplication
    counts reuse shingle_dup_stats' tid-keyed join (document-frequency
    agg + join back, nothing wider than (doc_id, int64)); the rollup is
    one partial+final groupBy(source) whose output is domains-sized.
    All outputs are exact BIGINTs."""
    from rgr_pdal_topo_spark.operators.dedup import shingle_dup_stats

    toks = _toks()
    n_tokens = F.size(toks)
    # quality leg: stat expressions inlined next to `source` (the
    # quality_langid one-pass discipline), then aggregated STRAIGHT to
    # the source grain — partials combine map-side to ~|sources| rows,
    # so this leg never shuffles per-doc rows at all.  The previous
    # spelling joined quality_filter back on doc_id first, which cost a
    # third corpus scan plus a docs-sized shuffle join before the same
    # rollup.  Same expression builders as quality_filter, so the keep
    # decision cannot drift.
    per_doc = documents.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
            / n_tokens.cast("double")
        ).alias("avg_token_len"),
    ).withColumn("keep", _keep_expr(20, 12.0, 0.1))
    a = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    # duplication leg: per-doc dup counts pick up `source` through one
    # narrow (int64 -> source) join, then roll up; docs too short to
    # shingle contribute zero via the sources-sized LEFT join below.
    dup = shingle_dup_stats(documents).select(
        "doc_id", "n_shingles", "n_dup"
    )
    b = (
        dup.join(documents.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_shingles").alias("ts"),
            F.sum("n_dup").alias("td"),
        )
    )
    return a.join(b, "source", "left").select(
        "source",
        "n_docs",
        "n_kept",
        "total_tokens",
        F.coalesce(F.col("ts"), F.lit(0))
        .cast("long")
        .alias("total_shingles"),
        F.coalesce(F.col("td"), F.lit(0))
        .cast("long")
        .alias("total_dup_shingles"),
    )


PACK_CHUNK = 512  #: training context window, in whitespace tokens
#: (512 keeps the accounting non-degenerate on the small synthetic
#: shards — at 2048 every ~13k-token shard rounds to the same bin
#: count; the operator itself takes any chunk size)


def token_packing(
    documents: DataFrame,
    chunk: int = PACK_CHUNK,
    shard_col: str = "source",
) -> DataFrame:
    """(source, n_docs, total_tokens, n_bins, n_split_docs): GPT-style
    sequence packing accounting — documents are concatenated in doc_id
    order within a shard and the token stream is chunked into fixed
    ``chunk``-token context windows (the standard "concat then split"
    packing of pre-training pipelines).  Reports, per shard, how many
    context windows the shard fills and how many documents straddle a
    window boundary (the quantity a packing policy trades against
    padding waste).  Zero-token documents are excluded (they occupy no
    window).

    Deterministic contract: packing order is (shard, doc_id), so bin
    assignment is a pure window cumsum — exact BIGINT arithmetic,
    replayable across engines and retries.

    Scale shape: one projection to (shard, doc_id, n_tokens) — bodies
    never enter the window — then a per-shard cumulative-sum window
    (real pipelines pack per shard/worker exactly because a global
    order would serialize; the window is bounded by shard size) and one
    partial+final rollup whose output is shards-sized."""
    from pyspark.sql import Window

    t = documents.select(
        shard_col, "doc_id", F.size(_toks()).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy(shard_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    x = (
        t.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "start_bin", F.expr(f"(cum - n_tokens) DIV {chunk}")
        )
        .withColumn("end_bin", F.expr(f"(cum - 1) DIV {chunk}"))
    )
    return x.groupBy(shard_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.max("end_bin") + F.lit(1)).alias("n_bins"),
        F.sum(
            (F.col("start_bin") != F.col("end_bin")).cast("long")
        ).alias("n_split_docs"),
    )


#: per-bigram log-probability ln P(w2 | w1) under the add-one-smoothed
#: target bigram LM, over columns (cb, cu, vv) — pinned to the 2^-13
#: integer grid; ONE fragment run verbatim by Spark (F.expr) and DuckDB
#: (the DSIR_W_SQL integer-ratio ln contract).  Always negative.
PPL_W_SQL = (
    "CAST(FLOOR(ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + vv AS DOUBLE)) "
    "* 8192 + 0.5) AS BIGINT)"
)


def bigram_ppl(documents: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, nll_q): the CCNet-style perplexity gate —
    a bigram language model with add-one smoothing is trained on the
    corpus' clean slice (the C4-gate keep rule standing in for CCNet's
    Wikipedia reference), and every document is scored by its negative
    log-likelihood under it.  High-nll-per-token documents are the
    gibberish/boilerplate tail CCNet's head/middle/tail split cuts.

    Exactness contract: each distinct bigram's log-probability is
    pinned to the 2^-13 integer grid by PPL_W_SQL (one spelling, both
    engines; the ln argument is a single division of integer-valued
    doubles), and a document's nll_q is the exact BIGINT sum over its
    bigram occurrences (callers divide by 8192 * n_bigrams for the
    per-token nll; perplexity = exp of that).  Unseen bigrams cost
    ln(1 / (c(w1) + V)); unseen contexts ln(1 / V).

    Scale shape: the occurrence stream is (doc_id, keep, int64, int64)
    — checkpoint-pinned because it feeds the two count aggs and the
    scoring join; the LM tables are bigram-vocabulary-sized and join
    back on (b1, b2); the vocab size is one broadcast scalar."""
    from rgr_pdal_topo_spark.operators.dedup import (
        _portable_id,
        _shingle_array,
    )

    toks = _toks()
    s = documents.select("doc_id", toks.alias("t"), *_stat_cols(toks))
    base = s.withColumn("keep", _keep_expr(20, 12.0, 0.1)).select(
        "doc_id", "t", "keep"
    )
    occ = (
        base.select(
            "doc_id",
            "keep",
            "t",
            F.posexplode(
                _shingle_array(F.col("t"), 2, distinct=False)
            ).alias("pos0", "bigram"),
        )
        .select(
            "doc_id",
            "keep",
            _portable_id(
                F.md5(F.element_at(F.col("t"), F.col("pos0") + 1))
            ).alias("b1"),
            _portable_id(F.md5("bigram")).alias("b2"),
        )
        .localCheckpoint(eager=True)
    )
    tgt = occ.filter(F.col("keep") == 1)
    cb = tgt.groupBy("b2").agg(F.count(F.lit(1)).alias("cb"))
    cu = tgt.groupBy("b1").agg(F.count(F.lit(1)).alias("cu"))
    vv = (
        base.filter(F.col("keep") == 1)
        .select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("vv"))
    )
    wtab = (
        occ.select("b1", "b2")
        .distinct()
        .join(cb, "b2", "left")
        .join(cu, "b1", "left")
        .crossJoin(F.broadcast(vv))
        .select(
            "b1",
            "b2",
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
            F.coalesce(F.col("cu"), F.lit(0)).alias("cu"),
            "vv",
        )
        .select("b1", "b2", F.expr(PPL_W_SQL).alias("w"))
    )
    return (
        occ.join(wtab, ["b1", "b2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("w")).alias("nll_q"),
        )
    )


def bpe_pair_counts(documents: DataFrame, top_k: int = 20) -> DataFrame:
    """(rank, pair, cnt): the inner statistic of one BPE tokenizer
    training step — adjacent character-pair frequencies over every word
    occurrence, highest first.  Rank 1 IS the merge classic BPE
    (Sennrich et al. 2016) would perform next; re-running after applying
    it yields the merge table.  Counts are occurrence-weighted (a word
    seen N times contributes N to each of its pairs), matching BPE's
    word-frequency weighting.

    Determinism: ties broken by pair text ascending; all-integer/string
    output so the oracle is exact.

    Scale shape: the pair stream is one narrow projection of the token
    explode (no Python, no shuffle before the count); the count groupBy
    is map-side combinable onto a key space bounded by alphabet^2, so
    the aggregated table is tiny and the final top-k window runs on
    that table, not the corpus.  Words shorter than 2 chars emit
    nothing (filtered explicitly — Spark's sequence(1, 0) would yield a
    DESCENDING two-element range, not an empty one)."""
    from pyspark.sql import Window

    words = documents.select(F.explode(_toks()).alias("w"))
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            "w",
            F.explode(
                F.sequence(F.lit(1), F.length("w") - F.lit(1))
            ).alias("i"),
        )
        .select(F.expr("substring(w, i, 2)").alias("pair"))
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    order = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return (
        counts.withColumn(
            "rank", F.row_number().over(order).cast("long")
        )
        .filter(F.col("rank") <= top_k)
        .select("rank", "pair", "cnt")
    )


def ccnet_buckets(documents: DataFrame) -> DataFrame:
    """(lang, bucket, n_docs, total_bigrams, total_nll_q, min_nll_q,
    max_nll_q): CCNet's head/middle/tail corpus split — every document
    is scored by the add-one bigram LM (``bigram_ppl``), ordered within
    its language by per-token negative log-likelihood, and cut into
    three equal-count buckets (1 = head/cleanest).

    Ordering contract: the sort key is the exact integer
    ``(nll_q * 1024) div n_bigrams`` (per-token nll on a 2^-10-per-unit
    grid of the already-2^-13-pinned nll_q), ties broken by doc_id —
    one spelling in both engines, no float comparisons anywhere.

    Scale shape — NO per-language global window: a textbook
    ``NTILE(3) OVER (PARTITION BY lang ORDER BY ...)`` funnels each
    language's every row through one task, a wall at 10^9+ docs/lang.
    Instead the global rank is assembled two-level, so no window ever
    orders a whole language: (a) per-(lang, key) counts -> cumulative
    offsets via a window over the TINY aggregated key table, (b) row_number
    partitioned by (lang, key) — bounded partitions (docs sharing one
    quantized per-token nll; heavy only if the corpus is itself
    degenerate), (c) rank = offset + within-rank, and bucket =
    ``(rank-1) * 3 div n_lang + 1``, which reproduces NTILE's
    ceil-first tile sizes exactly (first n mod k tiles get the extra
    row).  The DuckDB oracle IS the textbook NTILE spelling, pinning
    the equivalence.  The per-language totals (a handful of rows)
    broadcast by hint; the offset table joins WITHOUT a forced hint —
    its cardinality is the distinct-key count, bounded by the 2^-23
    per-token-nll grid (~1e8 worst case at extreme corpora), so AQE
    broadcasts it when small and falls back to a shuffle join that
    reuses the (lang, key) partitioning the row_number window already
    established when it is not."""
    from pyspark.sql import Window

    ppl = bigram_ppl(documents)
    scored = (
        ppl.join(documents.select("doc_id", "lang"), "doc_id")
        .withColumn("key", F.expr("(nll_q * 1024) div n_bigrams"))
    )
    per_key = scored.groupBy("lang", "key").agg(
        F.count(F.lit(1)).alias("kc")
    )
    cum = Window.partitionBy("lang").orderBy("key").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = per_key.select(
        "lang",
        "key",
        F.coalesce(F.sum("kc").over(cum), F.lit(0)).alias("off"),
    )
    totals = scored.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    within = Window.partitionBy("lang", "key").orderBy("doc_id")
    ranked = (
        scored.withColumn("rk", F.row_number().over(within))
        .join(offs, ["lang", "key"])
        .join(F.broadcast(totals), "lang")
        .withColumn(
            "bucket",
            F.expr("((off + rk - 1) * 3) div n_l + 1").cast("long"),
        )
    )
    return ranked.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("total_bigrams"),
        F.sum("nll_q").alias("total_nll_q"),
        F.min("nll_q").alias("min_nll_q"),
        F.max("nll_q").alias("max_nll_q"),
    )


def pareto_skyline(documents: DataFrame) -> DataFrame:
    """(doc_id, n_chars, n_distinct_tokens): the 2-D Pareto frontier of
    the corpus under (MINIMIZE length, MAXIMIZE lexical diversity) — a
    doc survives iff no other doc is at most as long AND at least as
    diverse with one inequality strict.  The skyline is the classic
    multi-criteria shortlist ("the most diversity money can buy at
    every length budget"): data-selection curricula read it as the
    efficient frontier of the quality/cost trade-off.  Docs tied on
    BOTH coordinates dominate neither side and all survive (standard
    skyline semantics, and the oracle's NOT-EXISTS spelling agrees).

    2-D skylines need no quadratic dominance join: sort one axis and
    the frontier is a strictly-increasing running maximum of the other.
    The implementation exploits the stronger property that dominance
    only depends on the PAIR (length, diversity): per-length maxima
    fold first (one map-side-combinable groupBy), the running-max
    window runs over that AGGREGATED table only (one row per distinct
    length — bounded by the value domain, never the corpus), and the
    surviving (length, diversity) pairs broadcast back to tag the
    docs.  No doc-level window, no shuffle wider than the stats
    projection — the same aggregate-then-window discipline as the
    quantile sketch.

    All-integer; no rounding policy anywhere."""
    from pyspark.sql import Window

    s = documents.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(F.array_distinct(_toks())).alias("n_distinct_tokens"),
    )
    per_len = s.groupBy("n_chars").agg(
        F.max("n_distinct_tokens").alias("__m2")
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    front = (
        per_len.withColumn("__m1", F.max("__m2").over(w))
        .filter(F.col("__m1").isNull() | (F.col("__m2") > F.col("__m1")))
        .select("n_chars", F.col("__m2").alias("n_distinct_tokens"))
    )
    return s.join(
        F.broadcast(front), ["n_chars", "n_distinct_tokens"]
    ).select("doc_id", "n_chars", "n_distinct_tokens")


def grouped_median2(vals: DataFrame, keys: list, col: str) -> DataFrame:
    """(keys..., n, m2) where m2 = a + b, the lower/upper middle values
    of ``col`` per key group — i.e. TWICE the interpolated median, an
    exact integer.  COUNTING-SORT selection: counts fold per
    (keys, value) with map-side combine, the cumulative window runs
    over that aggregated table (bounded by the value DOMAIN, never the
    row count), and the middles are conditional mins over cumulative
    counts.  Shared by robust_outliers (per-lang doc lengths) and
    seasonal_anomalies (residual MAD)."""
    from pyspark.sql import Window

    c = vals.groupBy(*keys, col).agg(F.count(F.lit(1)).alias("c"))
    n = c.groupBy(*keys).agg(F.sum("c").alias("n"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = c.withColumn("cum", F.sum("c").over(w)).join(
        F.broadcast(n), list(keys)
    )
    lo = F.expr("(n + 1) DIV 2")
    hi = F.expr("(n + 2) DIV 2")
    return cum.groupBy(*keys).agg(
        F.max("n").alias("n"),
        (
            F.min(F.when(F.col("cum") >= lo, F.col(col)))
            + F.min(F.when(F.col("cum") >= hi, F.col(col)))
        ).alias("m2"),
    )


def robust_outliers(documents: DataFrame) -> DataFrame:
    """Per-language robust outlier census on doc length: exact
    interpolated MEDIAN, exact MAD (median absolute deviation), and the
    count of docs beyond the classic 3-MAD fence — the outlier detector
    that, unlike mean/stddev z-scores, a few giant pages cannot drag
    (both mean and stddev have unbounded breakdown; median/MAD break
    down only past 50% contamination).

    Exactness without a per-group value gather: medians come from
    COUNTING-SORT selection — counts fold per (lang, value) with
    map-side combine, the cumulative window runs over that AGGREGATED
    table (bounded by the VALUE DOMAIN, never the corpus — doc lengths
    are capped), and the lower/upper middle elements are conditional
    mins over cumulative counts.  The interpolated median is
    (a + b) / 2 — a dyadic rational, exact in float64.  The MAD pass
    repeats the trick on the INTEGER deviation 2*|v - med| = |2v-(a+b)|
    so nothing leaves integer arithmetic until two final dyadic
    divisions, and the 3-MAD fence is the pure-integer comparison
    2 * dev2 > 3 * (da + db).  The oracle states the DEFINITION
    (DuckDB's native median / quantile_cont twice), so the parity row
    certifies the counting-sort reformulation.

    Returns (lang, n, med, mad, n_outliers).

    Scale shape: two narrow (lang, value)-keyed count folds, two
    windows over domain-bounded aggregates, one broadcast of the
    per-lang medians (languages are few).  No percentile() gather, no
    Python, no doc-level window."""
    s = documents.select("lang", F.length("text").alias("v"))

    def _med2(vals: DataFrame, col: str) -> DataFrame:
        return grouped_median2(vals, ["lang"], col)

    med = _med2(s, "v").withColumnRenamed("m2", "med2")
    dev = s.join(F.broadcast(med), "lang").select(
        "lang", F.abs(2 * F.col("v") - F.col("med2")).alias("d2")
    )
    mad = (
        _med2(dev, "d2")
        .withColumnRenamed("m2", "mad4")
        .select("lang", "mad4")
    )
    fences = med.join(F.broadcast(mad), "lang")
    out = (
        s.join(F.broadcast(fences), "lang")
        .groupBy("lang")
        .agg(
            F.sum(
                F.when(
                    2 * F.abs(2 * F.col("v") - F.col("med2"))
                    > 3 * F.col("mad4"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return (
        fences.join(out, "lang")
        .select(
            "lang",
            "n",
            (F.col("med2").cast("double") / F.lit(2.0)).alias("med"),
            (F.col("mad4").cast("double") / F.lit(4.0)).alias("mad"),
            "n_outliers",
        )
    )
