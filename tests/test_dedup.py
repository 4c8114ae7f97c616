"""Dedup operator tests: shingling, portable ids, digest-keyed exact
dedup, the pair operators' semantics, and the connected-components
labeling that ``cluster.dbscan_grid`` runs on its core-cell graph.
"""

from __future__ import annotations

from rgr_pdal_topo_spark.operators import cluster, dedup


def test_shingles_short_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a b c d"), (4, "")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.shingle) for r in dedup.shingles(df, k=3).collect()
    }
    assert got == {(2, "a b c"), (3, "a b c"), (3, "b c d")}


def test_exact_dedup_digest_grouping(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")],
        "doc_id long, text string",
    )
    got = {
        (r.canonical_doc, r.group_size)
        for r in dedup.exact_duplicates(df).collect()
    }
    assert got == {(1, 3), (2, 1)}
    # the aggregate key must be the md5 digest, not the text column
    plan = dedup.exact_duplicates(df)._jdf.queryExecution().executedPlan()
    assert "md5" in plan.toString().lower()


def test_horner_hash_matches_duckdb(spark, ddb):
    samples = ["hello", "a", "", "Zw3 9!", "über tok"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    expr = dedup.horner_hash_sql("h")
    got = [
        r.tid
        for r in df.selectExpr("md5(s) AS h")
        .selectExpr(f"{expr} AS tid")
        .collect()
    ]
    exp = [
        ddb.execute(
            f"SELECT {expr} FROM (SELECT md5(?) AS h)", [s]
        ).fetchone()[0]
        for s in samples
    ]
    assert got == exp
    assert all(0 <= t < dedup.ID_SPACE for t in got)


def test_duplicate_components_chain_and_clique(spark):
    """Component labeling: a 4-chain (needs propagation across hops), a
    3-clique, and an isolated pair all resolve to min-doc_id clusters;
    docs not in any pair are not emitted."""
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),   # chain 10-11-12-13
         (5, 6), (6, 7), (5, 7),         # clique {5,6,7}
         (2, 9)],                        # pair
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster
        for r in cluster.duplicate_components(pairs).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 13: 10,
                   5: 5, 6: 5, 7: 5, 2: 2, 9: 2}


def test_decontaminate_planted_overlap(spark):
    """A doc that quotes an eval question is flagged with the exact
    number of distinct shared shingles; clean docs are absent."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text with no overlap at all here"),
            (3, "quotes the quick brown fox verbatim in its body"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    got = {r.doc_id: r.n_hits for r in
           dedup.decontaminate(docs, bench).collect()}
    # doc 1 shares all 3 shingles of the 5-token bench doc; doc 3 shares
    # "the quick brown" + "quick brown fox"; doc 2 is clean
    assert got == {1: 3, 3: 2}


def test_repetition_stats_planted_spam(spark):
    """A keyword-stuffed doc shows a dominant shingle; a clean doc's
    shingles are all unique."""
    docs = spark.createDataFrame(
        [
            (1, "buy cheap pills buy cheap pills buy cheap pills now"),
            (2, "every token here is completely unique in this text"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_shingles, r.n_distinct, r.top_count)
        for r in dedup.repetition_stats(docs).collect()
    }
    # doc 1: 10 tokens -> 8 shingles; "buy cheap pills" occurs 3x
    assert got[1][0] == 8 and got[1][2] == 3 and got[1][1] < 8
    # doc 2: 9 tokens -> 7 shingles, all distinct
    assert got[2] == (7, 7, 1)
    # the spam doc's top-shingle ratio strictly dominates the clean one
    assert got[1][2] * got[2][0] > got[2][2] * got[1][0]


def test_shingle_dup_stats_planted(spark):
    """A doc assembled from another doc's text shows the shared shingles
    as duplicated; unique text shows zero."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma zeta eta"),       # shares 1 shingle with 1
            (3, "one two three four five six"),     # unique
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup.shingle_dup_stats(docs).collect()}
    # doc 1: shingles {abg, bgd, gde}; doc 2: {abg, bgz, gze}
    assert (got[1].n_shingles, got[1].n_dup) == (3, 1)
    assert (got[2].n_shingles, got[2].n_dup) == (3, 1)
    assert (got[3].n_shingles, got[3].n_dup) == (4, 0)
    assert got[1].dup_ratio == round(1 / 3, 6)
    assert got[3].dup_ratio == 0.0


def test_line_dedup_planted_boilerplate(spark):
    """A nav-menu line shared by 3 docs is dropped everywhere; a line in
    only 2 docs survives; reassembly preserves original line order and
    all-boilerplate docs come back empty (not missing)."""
    nav = "home | products | contact"
    promo = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, nav + "\nalpha body one\n" + promo),
            (2, nav + "\nbeta body two\nbeta body two"),
            (3, "gamma opening\n" + nav + "\n" + promo),
            (4, nav),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_lines, r.n_kept, r.n_intra_dup, r.clean_text)
        for r in dedup.line_dedup(docs, min_docs=3).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    # nav (3 docs) dropped; promo (2 docs) kept
    assert got[1] == (3, 2, 0, "alpha body one\n" + promo)
    # intra-doc duplicate counted once in n_intra_dup; both copies kept
    assert got[2] == (3, 2, 1, "beta body two\nbeta body two")
    # order preserved around the removed middle line
    assert got[3] == (3, 2, 0, "gamma opening\n" + promo)
    # a document that was pure boilerplate is present and empty
    assert got[4] == (1, 0, 0, "")


def test_duplicated_spans_planted(spark):
    """Maximal-span semantics: a shared 7-token run reports as ONE
    7-token span in each doc (not five 3-gram hits); non-adjacent
    duplicated windows that overlap merge across the gap; spans under
    min_span (6) are suppressed entirely."""
    docs = spark.createDataFrame(
        [
            # docs 1/2 share the run a1..a7 at different offsets
            (1, "a1 a2 a3 a4 a5 a6 a7 z1 z2"),
            (2, "w1 w2 a1 a2 a3 a4 a5 a6 a7"),
            # doc 3: internal 3-token repeat -> two 3-token spans,
            # both under min_span -> absent from the output
            (3, "u1 u2 u3 x1 x2 u1 u2 u3"),
            # doc 4: duplicated windows at pos 1/3/5 only (via doc 5's
            # scattered copies) -> gaps overlap -> ONE merged [1,7] span
            (4, "b1 b2 b3 b4 b5 b6 b7"),
            # doc 5: the three copies are isolated 3-token spans -> absent
            (5, "b1 b2 b3 q1 b3 b4 b5 q2 b5 b6 b7"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["max_span"], r["dup_tokens"])
        for r in dedup.duplicated_spans(docs).collect()
    }
    assert got == {
        1: (1, 7, 7),   # span [1,7]
        2: (1, 7, 7),   # span [3,9]
        4: (1, 7, 7),   # merged [1,7] despite non-dup windows at 2/4
    }


def test_split_leakage_python_replay(spark):
    """Independent pure-Python replay of the whole audit — split
    assignment (md5 -> 60-bit fold -> mod 10), exact digest leakage,
    and the >= 50% one-sided shingle-containment near-dup rule — over a
    corpus with planted duplicate groups."""
    import hashlib

    texts = {}
    for i in range(40):
        g = i % 7
        if g < 2:       # verbatim mirror groups
            texts[i] = f"exact mirror group {g} body tokens here"
        elif g < 4:     # near-dup: shared 6-token prefix, distinct tail
            texts[i] = f"shared near duplicate prefix run {g} tail{i}"
        else:           # unique
            texts[i] = f"unique document {i} with its own content words"
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )

    def split_of(i):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10
        return {8: "val", 9: "test"}.get(b, "train")

    def shingle_set(t):
        toks = [x for x in t.split(" ") if x]
        return {" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)}

    splits = {i: split_of(i) for i in texts}
    train = [i for i, s in splits.items() if s == "train"]
    train_dg = {texts[i] for i in train}
    train_sh = set().union(*(shingle_set(texts[i]) for i in train))
    expected = {}
    for sp in ("val", "test"):
        ev = [i for i, s in splits.items() if s == sp]
        if not ev:
            continue
        n_exact = sum(1 for i in ev if texts[i] in train_dg)
        n_near = 0
        for i in ev:
            sh = shingle_set(texts[i])
            if sh and 2 * len(sh & train_sh) >= len(sh):
                n_near += 1
        expected[sp] = (len(ev), n_exact, n_near)
    # the planted corpus must actually exercise both arms
    assert any(v[1] > 0 for v in expected.values())
    assert any(v[2] > 0 for v in expected.values())

    got = {
        r["split"]: (r["n_docs"], r["n_exact_leaked"], r["n_near_leaked"])
        for r in dedup.split_leakage(docs).collect()
    }
    assert got == expected


def test_winnow_fingerprints_python_replay(spark):
    """Full pure-Python replay of robust winnowing (all-integer, so the
    replay is exact): rightmost minimum per 4-window of 3-gram hashes,
    distinct (pos, hash) pairs, xor fold — plus the winnowing coverage
    guarantee (every full window contains a selected position)."""
    import hashlib

    texts = {
        1: " ".join(f"a{j % 5}" for j in range(20)),   # repetitive
        2: " ".join(f"b{j}" for j in range(15)),       # all-distinct
        3: "c1 c2 c3 c4 c5 c6",                        # m = 4, one window
        4: "d1 d2 d3 d4 d5",                           # m = 3 < w -> no row
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )

    def hashes(t):
        toks = [x for x in t.split(" ") if x]
        return [
            int(hashlib.md5(
                " ".join(toks[i:i + 3]).encode()
            ).hexdigest()[:15], 16)
            for i in range(len(toks) - 2)
        ]

    expected = {}
    for i, t in texts.items():
        hs = hashes(t)
        m = len(hs)
        if m < 4:
            continue
        sel = set()
        for q in range(4, m + 1):            # 1-based window ends
            wnd = [(hs[p - 1], p) for p in range(q - 3, q + 1)]
            mn = min(h for h, _ in wnd)
            sel.add((max(p for h, p in wnd if h == mn), mn))
        fp = 0
        for p, h in sel:
            fp ^= h ^ p
        # coverage guarantee: every window has a selected position
        for q in range(4, m + 1):
            assert any(q - 3 <= p <= q for p, _ in sel)
        expected[i] = (m, len(sel), fp)

    got = {
        r["doc_id"]: (r["n_grams"], r["n_selected"], r["fp_xor"])
        for r in dedup.winnow_fingerprints(docs).collect()
    }
    assert got == expected
    assert 4 not in got   # no full window -> no row


def test_editdist_pairs_semantics(spark):
    """Hand corpus: a single substitution (dist 1) and a double
    substitution (dist 2) are caught; three edits exceed the cap; a
    length-changing insertion breaks the blocking key (documented
    contract); same text in another lang never pairs."""
    rows = [
        (1, "the quick brown fox jumps over it", "en"),
        (2, "the quick briwn fox jumps over it", "en"),   # 1 sub
        (3, "the quack briwn fox jumps over it", "en"),   # 2 subs vs 1
        (4, "xhe xuick xrown fox jumps over it", "en"),   # 3 subs vs 1
        (5, "the quick brown foxx jumps over i", "en"),   # same len, 2-ish
        (6, "the quick brown fox jumps over it", "de"),   # other lang
        (7, "the quick brown foxes jumps over", "en"),    # same len? no
    ]
    docs = spark.createDataFrame(
        [(i, t, l, len(t)) for i, t, l in rows],
        "doc_id long, text string, lang string, n_chars int",
    )
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in dedup.editdist_pairs(docs).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(2, 3)] == 1          # quick->quack is 1 more edit
    assert got[(1, 3)] == 2
    assert (1, 4) not in got         # 3 edits > cap
    assert all(6 not in p for p in got)  # lang block
    # the banded engine distance equals the true DP distance
    assert got[(1, 5)] == 2


def _tid_df(spark, sets):
    rows = [(d, t) for d, ts in sets.items() for t in ts]
    return spark.createDataFrame(rows, "doc_id long, tid long")


def test_allpairs_jaccard_threshold_boundary(spark):
    """tau = 4/5 is INCLUSIVE and integer-gated: a pair at exactly 0.8
    qualifies, one shingle more on one side (8/11) does not, and the
    exact duplicate scores 1.0."""
    A = set(range(1, 10))              # s=9
    B = set(range(1, 9)) | {100}       # inter=8, uni=10 -> J=0.8 exactly
    C = set(range(1, 9)) | {100, 101}  # vs A: inter=8, uni=11 -> J<0.8
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.uni, r.jaccard)
        for r in dedup.allpairs_jaccard(
            _tid_df(spark, {0: A, 1: B, 2: C, 3: set(A)})
        ).collect()
    }
    assert got[(0, 1)] == (8, 10, 0.8)
    assert got[(0, 3)] == (9, 9, 1.0)
    assert (0, 2) not in got
    # B vs C: inter=9, uni=10 -> 0.9 qualifies
    assert got[(1, 2)] == (9, 10, 0.9)


def test_allpairs_prefix_meet_is_exactly_the_smallest_common_id(spark):
    """The prefix-filtering lemma's tightest geometry: a qualifying pair
    whose ONLY meeting point between the two 2-id prefixes is c*, the
    globally smallest common id — each doc's other prefix slot is its
    own unique rarest id.  Rotating c* out of either prefix (by making
    it globally common) is impossible without changing J, so instead we
    pin the mechanics: the pair IS found, and the computed prefixes
    intersect in exactly {c*}."""
    shared = set(range(10, 18))            # df boosted by fillers below
    A = shared | {1}                       # s=9, prefix = {1, 10}
    B = shared | {2}                       # s=9, prefix = {2, 10}
    fillers = {
        100 + i: set(range(11, 19)) | {1000 + i} for i in range(3)
    }  # boost df of 11..17 (NOT 10) so c* = 10 is the rarest shared id
    sets = {0: A, 1: B, **fillers}
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.allpairs_jaccard(_tid_df(spark, sets)).collect()
    }
    assert got[(0, 1)] == 0.8              # inter=8, uni=10
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    dt = _tid_df(spark, sets)
    dfreq = dt.groupBy("tid").agg(FF.count(FF.lit(1)).alias("df"))
    sz = dt.groupBy("doc_id").agg(FF.count(FF.lit(1)).alias("s"))
    w = Window.partitionBy("doc_id").orderBy("df", "tid")
    pref = (
        dt.join(dfreq, "tid").join(sz, "doc_id")
        .withColumn("rn", FF.row_number().over(w))
        .filter("rn <= s - ((4 * s + 4) DIV 5) + 1")
    )
    pa = {r.tid for r in pref.filter("doc_id = 0").collect()}
    pb = {r.tid for r in pref.filter("doc_id = 1").collect()}
    assert pa == {1, 10} and pb == {2, 10}
    assert pa & pb == {10}                 # the lemma's c*, and only it


def test_allpairs_completeness_vs_brute_force(spark):
    """Deterministic pseudo-random sets: the prefix-filtered join must
    return EXACTLY the brute-force qualifying pair set."""
    sets = {}
    for d in range(40):
        # LCG-ish deterministic set of 12-20 ids from a 120-id pool,
        # with planted heavy overlap between 2k and 2k+1 for k < 5
        base = {(d * 37 + j * 13) % 120 for j in range(12 + d % 9)}
        if d % 2 == 1 and d < 10:
            prev = {((d - 1) * 37 + j * 13) % 120 for j in range(12 + (d - 1) % 9)}
            base = prev | {999 + d} if len(prev) >= 5 else base
        sets[d] = base
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.allpairs_jaccard(_tid_df(spark, sets)).collect()
    }
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                i = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                if 5 * i >= 4 * u:
                    want.add((a, b))
    assert got == want and want  # nonempty by the planted overlaps


def test_containment_boundary_and_asymmetry(spark):
    """tau = 9/10 inclusive, and the relation is ORDERED: a strict
    subset is contained in its superset (containment 1.0) while the
    superset is NOT contained back; a doc with exactly 9 of its 10 ids
    in the superset sits on the boundary and qualifies; 8 of 10 does
    not."""
    SUP = set(range(100))                     # s=100
    A = set(range(10))                        # subset: c(A,SUP)=1
    B = set(range(9)) | {500}                 # 9/10 -> boundary in
    C = set(range(8)) | {500, 501}            # 8/10 -> out
    got = {
        (r.doc_sub, r.doc_sup): (r.inter, r.size_sub, r.containment)
        for r in dedup.containment_pairs(
            _tid_df(spark, {0: SUP, 1: A, 2: B, 3: C})
        ).collect()
    }
    assert got[(1, 0)] == (10, 10, 1.0)
    assert (0, 1) not in got                  # 10/100 back-direction
    assert got[(2, 0)] == (9, 10, 0.9)
    assert (3, 0) not in got
    # A vs B: inter 9, size 10 -> 0.9 both present? c(A,B)=9/10 in;
    # c(B,A)=9/10 in too (sizes equal) — mutual near-containment
    assert got[(1, 2)] == (9, 10, 0.9) and got[(2, 1)] == (9, 10, 0.9)


def test_containment_completeness_vs_brute_force(spark):
    """The same 40 deterministic sets as the Jaccard sweep: the
    prefix-indexed join must return EXACTLY the brute-force ordered
    qualifying pairs."""
    sets = {}
    for d in range(40):
        base = {(d * 37 + j * 13) % 120 for j in range(12 + d % 9)}
        if d % 2 == 1 and d < 10:
            prev = {((d - 1) * 37 + j * 13) % 120 for j in range(12 + (d - 1) % 9)}
            base = prev | {999 + d} if len(prev) >= 5 else base
        sets[d] = base
    # plant true subsets: 50 ⊂ 51, and a small doc quoted by a big one
    sets[50] = set(range(1000, 1010))
    sets[51] = set(range(1000, 1040))
    sets[52] = sets[50] | {2000 + i for i in range(90)}
    got = {
        (r.doc_sub, r.doc_sup)
        for r in dedup.containment_pairs(_tid_df(spark, sets)).collect()
    }
    want = set()
    for a in sets:
        for b in sets:
            if a != b:
                i = len(sets[a] & sets[b])
                if 10 * i >= 9 * len(sets[a]):
                    want.add((a, b))
    assert got == want
    assert (50, 51) in want and (50, 52) in want  # the planted subsets


def test_bag_jaccard_separates_repetition_from_identity(spark):
    """The case set Jaccard cannot see: doc 1 = doc 0's vocabulary with
    one sentence looped — set J = 1, bag J collapses; exact duplicates
    score 1.0 on both; and the min/max identity is exact on a hand
    pair."""
    base = "alpha beta gamma delta"
    rows = [
        (0, base),
        (1, base + (" alpha beta" * 10)),   # same vocab, heavy repeats
        (2, base),                           # exact duplicate of 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): (r.w_inter, r.w_uni, r.w_jaccard)
        for r in dedup.bag_jaccard(docs, pairs).collect()
    }
    # doc0 bag: a1 b1 g1 d1 (tot 4); doc1: a11 b11 g1 d1 (tot 24)
    # min-sum = 1+1+1+1 = 4; uni = 4+24-4 = 24
    assert got[(0, 1)] == (4, 24, round(4 / 24, 6))
    assert got[(0, 2)] == (4, 4, 1.0)


def test_good_turing_hand_computed(spark):
    """Four docs with engineered shingle document-frequencies:
    'a b c d' appears verbatim in docs 0 and 1 (its 2 shingles have
    df = 2) while docs 2 and 3 contribute 4 unique-shingle docs
    (df = 1 x 8): N_1 = 8, N_2 = 2, r*(1) = 2*2/8 = 0.5, r*(2)
    NULL (no N_3) — the raw estimator's honest gap."""
    from rgr_pdal_topo_spark.queries import QUERIES
    import os
    import tempfile

    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "a b c d",
                "a b c d",
                "e f g h i j",          # 4 shingles, unique
                "k l m n o p",          # 4 shingles, unique
            ],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [7, 7, 11, 11],
        }
    )
    with tempfile.TemporaryDirectory() as d:
        docs.to_parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["r"]: r
            for r in QUERIES["good_turing"](spark, d).collect()
        }
    assert (out[1]["n_r"], out[1]["n_next"], out[1]["r_star"]) == (
        8, 2, 0.5,
    )
    assert out[2]["n_r"] == 2
    assert out[2]["n_next"] is None and out[2]["r_star"] is None
    assert set(out) == {1, 2}
