"""Unit semantics for the round-8 evaluation operators (oracle parity
locks engine agreement; these lock the MATH on hand-built cases where
the right answer is known a priori)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kassette_server_spark.operators.evaluation import (
    NDCG_DISCOUNTS,
    cohens_kappa,
    decile_lift,
    ndcg_at_k,
    roc_auc_by,
    threshold_metrics,
)


# -- roc_auc_by ---------------------------------------------------------------
def test_auc_perfect_separation(spark):
    """pos={3,4} all above neg={1,2} → AUC 1 (U = n_pos*n_neg)."""
    df = spark.createDataFrame(
        [("g", 0, 1), ("g", 0, 2), ("g", 1, 3), ("g", 1, 4)],
        "g string, y int, s long",
    )
    r = roc_auc_by(df, "g", "y", "s").collect()[0]
    assert (r.n_pos, r.n_neg) == (2, 2)
    assert r.two_u == 8  # 2 * U = 2 * 4
    assert r.auc == 1.0


def test_auc_all_tied_is_half(spark):
    """Every score identical → midranks make U = n_pos*n_neg/2 → 0.5."""
    df = spark.createDataFrame(
        [("g", 1, 7), ("g", 0, 7), ("g", 1, 7), ("g", 0, 7)],
        "g string, y int, s long",
    )
    r = roc_auc_by(df, "g", "y", "s").collect()[0]
    assert r.two_u == 4  # 2 * (n_pos*n_neg/2) = 4
    assert r.auc == 0.5


def test_auc_hand_midrank_case(spark):
    """pos=[3], neg=[1,2,3]: the tied 3s midrank to 3.5 → R1 = 3.5,
    U = 3.5 - 1 = 2.5, AUC = 2.5/3."""
    df = spark.createDataFrame(
        [("g", 1, 3), ("g", 0, 1), ("g", 0, 2), ("g", 0, 3)],
        "g string, y int, s long",
    )
    r = roc_auc_by(df, "g", "y", "s").collect()[0]
    assert r.two_u == 5
    assert r.auc == 5.0 / 6.0


def test_auc_single_class_is_null(spark):
    df = spark.createDataFrame([("g", 1, 1), ("g", 1, 2)], "g string, y int, s long")
    r = roc_auc_by(df, "g", "y", "s").collect()[0]
    assert r.n_neg == 0 and r.auc is None


# -- decile_lift --------------------------------------------------------------
def test_decile_lift_two_buckets(spark):
    """Scores 1,1,2,2 with positives only at score 2, B=2: cut t1=1,
    decile 1 = {2,2} (resp 1.0, lift 2.0), decile 2 = {1,1} (resp 0,
    cumulative lift 1.0 by construction)."""
    df = spark.createDataFrame(
        [(1, 0), (1, 0), (2, 1), (2, 1)], "s long, y int"
    )
    out = {r.decile: r for r in decile_lift(df, "s", "y", n_buckets=2).collect()}
    assert out[1].n == 2 and out[1].pos == 2
    assert out[1].resp_rate == 1.0 and out[1].cum_lift == 2.0
    assert out[2].n == 2 and out[2].pos == 0
    assert out[2].resp_rate == 0.0 and out[2].cum_lift == 1.0


def test_decile_lift_distinct_scores_full_table(spark):
    """Scores 1..10, positives at 9 and 10, B=10: one score per decile
    (decile 1 = score 10); top decile lift = (1*10)/(1*2) = 5."""
    rows = [(s, 1 if s >= 9 else 0) for s in range(1, 11)]
    df = spark.createDataFrame(rows, "s long, y int")
    out = {r.decile: r for r in decile_lift(df, "s", "y", n_buckets=10).collect()}
    assert len(out) == 10
    assert out[1].pos == 1 and out[1].cum_lift == 5.0
    assert out[2].cum_lift == 5.0  # 2/2 positives in top 2 deciles
    assert out[10].cum_lift == 1.0  # whole population = base rate


def test_decile_lift_ties_share_bucket(spark):
    """All-identical scores collapse into ONE decile (deterministic tie
    handling — ntile would split them by physical row order)."""
    df = spark.createDataFrame([(5, 1), (5, 0), (5, 0)], "s long, y int")
    rows = decile_lift(df, "s", "y", n_buckets=10).collect()
    assert len(rows) == 1
    assert rows[0].n == 3 and rows[0].pos == 1


# -- threshold_metrics --------------------------------------------------------
def test_threshold_metrics_hand_counts(spark):
    """scores [1,2,3,4], labels [0,0,1,1]; at t=3: tp=2 fp=0 fn=0 tn=2
    → P=R=F1=1; at t=2: tp=2 fp=1 tn=1 → P=2/3, R=1, F1=4/5."""
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], "s long, y int"
    )
    out = {
        r.threshold: r
        for r in threshold_metrics(df, "s", "y", (2, 3)).collect()
    }
    t3 = out[3]
    assert (t3.tp, t3.fp, t3.fn, t3.tn) == (2, 0, 0, 2)
    assert t3.precision == 1.0 and t3.recall == 1.0 and t3.f1 == 1.0
    t2 = out[2]
    assert (t2.tp, t2.fp, t2.fn, t2.tn) == (2, 1, 0, 1)
    assert t2.precision == 2.0 / 3.0 and t2.recall == 1.0 and t2.f1 == 0.8


def test_threshold_metrics_empty_prediction_guards(spark):
    """Threshold above every score: no predicted positives → precision
    NULL (0/0), recall 0."""
    df = spark.createDataFrame([(1, 1), (2, 0)], "s long, y int")
    r = threshold_metrics(df, "s", "y", (100,)).collect()[0]
    assert r.tp == 0 and r.fp == 0
    assert r.precision is None and r.recall == 0.0 and r.f1 == 0.0


# -- cohens_kappa -------------------------------------------------------------
def test_kappa_textbook_contingency(spark):
    """The classic 2x2 case [[20,5],[10,15]] (n=50): po=0.7, pe=0.5,
    kappa = 0.4 — exact, from the integer identity
    (n*agree - Σrm*cm) / (n² - Σrm*cm) = 500/1250."""
    rows = (
        [("x", "x")] * 20 + [("x", "y")] * 5 + [("y", "x")] * 10 + [("y", "y")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert (r.n, r.agree, r.sum_rc) == (50, 35, 1250)
    assert r.po == 0.7 and r.pe == 0.5
    assert r.kappa == 0.4


def test_kappa_perfect_and_degenerate(spark):
    """Perfect agreement on 2 categories → kappa 1; single-category
    data → pe = 1 → NULL (0/0 guarded)."""
    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y")], "a string, b string"
    )
    assert cohens_kappa(perfect, "a", "b").collect()[0].kappa == 1.0
    degenerate = spark.createDataFrame(
        [("x", "x"), ("x", "x")], "a string, b string"
    )
    assert cohens_kappa(degenerate, "a", "b").collect()[0].kappa is None


def test_kappa_one_sided_category_counts(spark):
    """A category used by only one rater must still contribute its
    marginal product (= 0) without dropping rows: a=[x,z], b=[x,y]."""
    df = spark.createDataFrame([("x", "x"), ("z", "y")], "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    # rowm: x=1,z=1; colm: x=1,y=1 → sum_rc = 1 (only x overlaps)
    assert r.n == 2 and r.agree == 1 and r.sum_rc == 1
    assert r.kappa == (2 * 1 - 1) / (4 - 1)


# -- ndcg_at_k ----------------------------------------------------------------
def test_ndcg_perfect_ranking_is_one(spark):
    """Score order == relevance order → dcg == idcg → ndcg exactly 1."""
    df = spark.createDataFrame(
        [("g", 1, 30, 3), ("g", 2, 20, 2), ("g", 3, 10, 1)],
        "g string, id long, s long, r long",
    )
    row = ndcg_at_k(df, "g", "id", "s", "r", k=3).collect()[0]
    assert row.dcg == row.idcg
    assert row.ndcg == 1.0


def test_ndcg_reversed_ranking_hand_value(spark):
    """Score order exactly reverses relevance [3,2,1]: the polynomial
    is the same left-to-right fold the engine computes, so the expected
    value is bit-exact, not approximate."""
    df = spark.createDataFrame(
        [("g", 1, 10, 3), ("g", 2, 20, 2), ("g", 3, 30, 1)],
        "g string, id long, s long, r long",
    )
    row = ndcg_at_k(df, "g", "id", "s", "r", k=3).collect()[0]

    def fold(rels):
        acc = 0.0
        for d, r in zip(NDCG_DISCOUNTS, rels):
            acc = acc + d * float(r)
        return acc

    assert row.dcg == fold([1, 2, 3])
    assert row.idcg == fold([3, 2, 1])
    assert row.ndcg == fold([1, 2, 3]) / fold([3, 2, 1])


def test_ndcg_ties_break_by_id(spark):
    """Equal scores rank by ascending id — the doc with the lower id
    takes position 1 in the model ranking."""
    df = spark.createDataFrame(
        [("g", 2, 10, 3), ("g", 1, 10, 0)],
        "g string, id long, s long, r long",
    )
    row = ndcg_at_k(df, "g", "id", "s", "r", k=2).collect()[0]
    # model order: id 1 (rel 0) then id 2 (rel 3); ideal: [3, 0]
    assert row.dcg == NDCG_DISCOUNTS[1] * 3.0
    assert row.idcg == 3.0


def test_ndcg_k_exceeds_discount_table(spark):
    df = spark.createDataFrame([("g", 1, 1, 1)], "g string, id long, s long, r long")
    with pytest.raises(ValueError):
        ndcg_at_k(df, "g", "id", "s", "r", k=11)


# -- key_skew_profile ---------------------------------------------------------
def test_skew_profile_hand_distribution(spark):
    """Keys a*4, b*2, c*1, d*1 (8 rows, 4 keys): max=4, avg=2,
    skew_ratio=2, p50=1 (cum 2 of 4 keys at cnt 1), p99=4,
    salt_r = ceil(4*32/8) = 16, top key a with share 0.5."""
    from kassette_server_spark.operators.diagnostics import key_skew_profile

    rows = [("a",)] * 4 + [("b",)] * 2 + [("c",)] + [("d",)]
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_profile(df, "k", target_partitions=32, top_n=2).collect()
    assert [r.rank for r in out] == [1, 2]
    top = out[0]
    assert (top.key, top.cnt) == ("a", 4)
    assert top.key_share == 0.5
    assert (top.n_rows, top.n_keys, top.max_cnt) == (8, 4, 4)
    assert top.avg_cnt == 2.0 and top.skew_ratio == 2.0
    assert (top.p50_cnt, top.p99_cnt) == (1, 4)
    assert top.salt_r == 16
    assert (out[1].key, out[1].cnt) == ("b", 2)


def test_skew_profile_uniform_needs_no_salt(spark):
    """Perfectly uniform keys → skew_ratio 1.0 and salt_r = ceil(P/n_keys)
    (= 1 once keys >= partitions would be even; here 4 keys, P=4 → 1)."""
    from kassette_server_spark.operators.diagnostics import key_skew_profile

    rows = [(k,) for k in "abcd" for _ in range(3)]
    df = spark.createDataFrame(rows, "k string")
    top = key_skew_profile(df, "k", target_partitions=4, top_n=1).collect()[0]
    assert top.skew_ratio == 1.0
    assert top.salt_r == 1


# -- triangle_count -----------------------------------------------------------
def test_triangles_k4_complete_graph(spark):
    """K4: C(4,3) = 4 triangles; every vertex participates in 3."""
    from kassette_server_spark.operators.graph import triangle_count

    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = triangle_count(df, "src", "dst", top_n=10).collect()
    assert all(r.total_triangles == 4 for r in out)
    assert sorted((r.vertex, r.triangles) for r in out) == [
        (1, 3), (2, 3), (3, 3), (4, 3)
    ]


def test_triangles_pendant_and_duplicates(spark):
    """One triangle {1,2,3} plus pendant edge 3-4, with duplicate and
    reversed edges thrown in: count 1, vertex 4 absent."""
    from kassette_server_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (3, 4), (4, 3), (2, 2)],
        "src long, dst long",
    )
    out = triangle_count(df, "src", "dst", top_n=10).collect()
    assert sorted((r.vertex, r.triangles) for r in out) == [(1, 1), (2, 1), (3, 1)]
    assert all(r.total_triangles == 1 for r in out)


def test_triangles_none(spark):
    """A path graph has no triangles → empty result frame."""
    from kassette_server_spark.operators.graph import triangle_count

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_count(df, "src", "dst").count() == 0


# -- rrf_fuse -----------------------------------------------------------------
def test_rrf_hand_fusion(spark):
    """A ranks {x:1, y:2}, B ranks {y:1, z:2} with k=60:
    rrf(y) = 1/62 + 1/61 tops, then x (1/61), then z (1/62) — exact
    doubles, same arithmetic as the engine."""
    from kassette_server_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(20, 1), (30, 2)], "doc_id long, rank long")
    out = rrf_fuse(a, b, id_col="doc_id", k=60, top_n=10).collect()
    assert [r.id for r in out] == [20, 10, 30]
    assert out[0].rrf == 1.0 / 62.0 + 1.0 / 61.0
    assert out[0].rank_a == 2 and out[0].rank_b == 1
    assert out[1].rrf == 1.0 / 61.0 and out[1].rank_b is None
    assert out[2].rrf == 1.0 / 62.0 and out[2].rank_a is None


def test_rrf_tie_breaks_by_id(spark):
    """Symmetric ranks → equal rrf; order falls back to ascending id."""
    from kassette_server_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(2, 1), (1, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long")
    out = rrf_fuse(a, b, id_col="doc_id", k=60, top_n=10).collect()
    assert [r.id for r in out] == [1, 2]
    assert out[0].rrf == out[1].rrf


# -- degree_assortativity -----------------------------------------------------
def test_assortativity_star_is_minus_one(spark):
    """Star K1,3: hub degree 3 links only to degree-1 leaves — the
    perfectly disassortative case, r = -1 exactly."""
    from kassette_server_spark.operators.graph import degree_assortativity

    df = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "src long, dst long")
    r = degree_assortativity(df).collect()[0]
    assert r.m_samples == 6
    assert r.r == -1.0


def test_assortativity_regular_graph_is_null(spark):
    """A cycle is 2-regular: zero degree variance → NULL, not NaN."""
    from kassette_server_spark.operators.graph import degree_assortativity

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    r = degree_assortativity(df).collect()[0]
    assert r.r is None


# -- label_propagation --------------------------------------------------------
def test_lpa_two_triangles_with_bridge(spark):
    """Two triangles {1,2,3} and {4,5,6} joined by bridge 3-4: after 3
    deterministic rounds the communities are {1,2,3}→label 1 and
    {4,5,6}→label 3 (hand-simulated: ties adopt the LOWEST label,
    synchronous updates)."""
    from kassette_server_spark.operators.graph import label_propagation

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.label for r in label_propagation(df, iters=3).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_lpa_single_edge_converges_to_min_label(spark):
    """Two nodes, one edge: each adopts the other's label in round 1
    (node 1 → 2, node 2 → 1), and the swap repeats — after an odd
    number of rounds labels are swapped, after even they return."""
    from kassette_server_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    odd = {r.node: r.label for r in label_propagation(df, iters=1).collect()}
    assert odd == {1: 2, 2: 1}
    even = {r.node: r.label for r in label_propagation(df, iters=2).collect()}
    assert even == {1: 1, 2: 2}


# -- prefix_filtered_jaccard_pairs --------------------------------------------
def test_prefix_filter_equals_all_pairs_exact(spark):
    """The prefix-filtered join must be EXACT: bit-identical pairs and
    jaccards to the all-shared-shingle baseline on the real corpus —
    this is the recall proof the mirrored oracle cannot provide."""
    from kassette_server_spark.catalog import load
    from kassette_server_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    fast = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in prefix_filtered_jaccard_pairs(docs, t_num=4, t_den=5).collect()
    }
    assert exact == fast and len(exact) > 0


def test_prefix_filter_hand_case(spark):
    """Two docs sharing 4 of 5 shingles (J = 4/6 < 0.8 — dropped) and
    two identical docs (J = 1 — kept): the prefix join must find the
    identical pair and the verify must reject the 2/3 pair."""
    from kassette_server_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    rows = [
        (1, "a b c d e f g"),   # shingles: 5
        (2, "a b c d e f x"),   # shares 4 of its 5
        (3, "p q r s t u v"),
        (4, "p q r s t u v"),   # identical to 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.doc_a, r.doc_b): r.jaccard for r in
           prefix_filtered_jaccard_pairs(df, t_num=4, t_den=5).collect()}
    assert out == {(3, 4): 1.0}


def test_prefix_filter_volume_guard(spark):
    """max_candidate_volume enforces the rare-tail scaling contract:
    a saturated hand corpus (every doc the same shingles → all-pairs
    candidates) trips the guard with the actionable message; a
    generous budget leaves the output bit-identical to the unguarded
    run; and the guard counts C(df_p, 2), so 10 docs sharing one
    prefix shingle is a volume of 45."""
    import pytest

    from kassette_server_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    # 10 identical docs: every prefix shingle has df_p = 10
    rows = [(i, "a b c d e f g") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(ValueError, match="saturated"):
        prefix_filtered_jaccard_pairs(df, max_candidate_volume=10).collect()
    # the 7-token doc has 5 shingles, prefix length 5-4+1=2 → two
    # prefix shingles each shared by all 10 docs → volume 2*C(10,2)=90
    guarded = prefix_filtered_jaccard_pairs(df, max_candidate_volume=90)
    plain = prefix_filtered_jaccard_pairs(df)
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, plain.collect())
    )
    assert guarded.count() == 45  # all C(10,2) identical pairs, J=1


# -- bpe_merge_steps ----------------------------------------------------------
def test_bpe_hand_merges(spark):
    """Corpus 'aaab aaab ab': hand-run BPE — merge 1 'a a'(4) since
    each 'aaab' contributes two overlap-free-counted adjacent 'a a'
    pairs, greedy application turns 'a a a b' into 'aa a b' (left-to-
    right, non-overlapping); merge 2 'a b'(3); merge 3 'aa ab'(2)."""
    from kassette_server_spark.operators.textstats import bpe_merge_steps

    df = spark.createDataFrame([("aaab aaab ab",)], "text string")
    rows = [(r.step, r.pair, r.merged, r.freq) for r in
            bpe_merge_steps(df, k_merges=3).collect()]
    assert rows == [(1, "a a", "aa", 4), (2, "a b", "ab", 3),
                    (3, "aa ab", "aaab", 2)]


def test_bpe_pad_prevents_boundary_bleed(spark):
    """After 'a b'→'ab' exists as a SYMBOL, the pair 'b b' must not
    match across the boundary of symbol 'ab' followed by 'b' — the pad
    spaces make ' b b ' unfindable inside ' ab b '."""
    from kassette_server_spark.operators.textstats import bpe_merge_steps

    # words: 'abb' x3 → chars 'a b b'; pair counts: (a b)=3, (b b)=3 →
    # tie breaks to 'a b' (lexicographically smaller). After merge 1
    # symbols are 'ab b'; merge 2 must be ('ab b'), NOT ('b b').
    df = spark.createDataFrame([("abb abb abb",)], "text string")
    rows = [(r.step, r.pair, r.merged) for r in
            bpe_merge_steps(df, k_merges=2).collect()]
    assert rows == [(1, "a b", "ab"), (2, "ab b", "abb")]


def test_bpe_adjacent_repeats_fully_merge(spark):
    """Greedy BPE application must merge BOTH occurrences in 'a b a b'
    (→ 'ab ab'), not just the first. With a single-space separator the
    two occurrences of ' a b ' share the middle delimiter, so one
    replace pass under-merges to 'ab a b'; the two-space separator
    gives each occurrence its own delimiters (ADVICE r8 item 1).
    Corpus 'abab abab ab': merge 1 'a b'(5); after a CORRECT greedy
    apply the abab words are symbols 'ab ab', so merge 2 must be
    ('ab ab' → 'abab', freq 2) — the under-merged 'ab a b' would
    instead offer pairs (ab,a) and (a,b)."""
    from kassette_server_spark.operators.textstats import bpe_merge_steps

    df = spark.createDataFrame([("abab abab ab",)], "text string")
    rows = [(r.step, r.pair, r.merged, r.freq) for r in
            bpe_merge_steps(df, k_merges=2).collect()]
    assert rows == [(1, "a b", "ab", 5), (2, "ab ab", "abab", 2)]


def test_bpe_triple_repeat_left_to_right(spark):
    """Overlapping occurrences stay greedy left-to-right: 'aaa' with
    winning pair (a,a) merges positions (0,1) only → 'aa a', never
    'a aa'. Corpus 'aaaa aaaa': merge 1 (a,a) freq 6 (three adjacent
    pairs per word, overlap-counted); apply → 'aa aa'; merge 2 is then
    ('aa aa' → 'aaaa', 2)."""
    from kassette_server_spark.operators.textstats import bpe_merge_steps

    df = spark.createDataFrame([("aaaa aaaa",)], "text string")
    rows = [(r.step, r.pair, r.merged, r.freq) for r in
            bpe_merge_steps(df, k_merges=2).collect()]
    assert rows == [(1, "a a", "aa", 6), (2, "aa aa", "aaaa", 2)]


def test_bpe_single_char_words_no_pairs(spark):
    """One-letter words produce no adjacent pairs; with nothing to
    merge the rule table is empty (limit over an empty frame)."""
    from kassette_server_spark.operators.textstats import bpe_merge_steps

    df = spark.createDataFrame([("a b c a",)], "text string")
    assert bpe_merge_steps(df, k_merges=2).count() == 0


def test_shingle_saturation_hand_case(spark):
    """Hand-computed: docs {a b c d, a b c e, x y z w} give shingle
    dfs {a b c: 2, four others: 1} → instances 6, distinct 5, max 2,
    allpairs volume C(2,2)=1, vocab 9, avg 1.2; p99 by the cumulative
    rule: cum(df=1)=4 < 0.99*5 → p99 lands on df=2."""
    from kassette_server_spark.operators.diagnostics import (
        shingle_saturation_report,
    )

    rows = [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = shingle_saturation_report(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (
        r.n_docs,
        r.vocab_size,
        r.k,
        r.instances,
        r.distinct_shingles,
        r.max_df,
        r.p99_df,
        r.allpairs_volume,
    ) == (3, 9, 3, 6, 5, 2, 2, 1)
    assert abs(r.avg_df - 1.2) < 1e-12


def test_shingle_saturation_duplicate_shingles_in_doc_count_once(spark):
    """Per-doc shingle sets are DISTINCT (shingle_table contract), so
    a doc repeating a shingle contributes df=1 for it — the df is a
    document frequency, not an occurrence count."""
    from kassette_server_spark.operators.diagnostics import (
        shingle_saturation_report,
    )

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c")], "doc_id long, text string"
    )
    r = shingle_saturation_report(df).collect()[0]
    # 7 shingle positions but only 3 distinct ("a b c","b c a","c a b")
    assert r.instances == 3 and r.distinct_shingles == 3 and r.max_df == 1
    assert r.allpairs_volume == 0
