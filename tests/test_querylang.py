"""Semantic contracts of the extended query language (querylang.py):
boolean AND/NOT, attribute filtering (global idf), prefix expansion,
group/conversation roll-up, snippet windows.  Cross-engine value identity
is the gate's job (gate entries bool/filtered/prefix/group_bm25_topk,
snippets); here we pin the SEMANTICS against the plain BM25 scorer on the
tiny transcript fixture."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from igd_spark.config import DEFAULT_CONF
from igd_spark.corpus import assign_doc_ids
from igd_spark.querylang import (
    bool_bm25_topk,
    conv_bm25_topk,
    filtered_bm25_topk,
    group_bm25_topk,
    prefix_bm25_topk,
    snippets,
)
from igd_spark.search import bm25_scores, exact_bm25_topk, query_terms

K = 10


@pytest.fixture(scope="module")
def docs(spark, tiny_docs):
    return assign_doc_ids(tiny_docs).cache()


def _queries(spark, rows, schema="query_id long, query_text string"):
    return spark.createDataFrame(rows, schema)


def _pick_terms(docs, n=4, lo=5, hi=40):
    """Mid-frequency corpus terms, deterministic."""
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    ts = term_stats(postings(docs)).filter(
        (F.col("df") >= lo) & (F.col("df") <= hi)
    )
    return [r["term"] for r in ts.orderBy("term").limit(n).collect()]


def test_bool_and_semantics(spark, docs):
    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    out = bool_bm25_topk(docs, q, k=10_000).toPandas()
    # every returned doc contains BOTH terms
    got = set(out["doc_id"])
    texts = docs.select("doc_id", F.lower("text").alias("t")).toPandas()
    both = {
        r.doc_id
        for r in texts.itertuples()
        if t1 in str(r.t).split() and t2 in str(r.t).split()
    }
    # token-level check: use postings to be split-exact
    from igd_spark.tokenizer import postings

    p = postings(docs).filter(F.col("term").isin([t1, t2])).toPandas()
    per_doc = p.groupby("doc_id")["term"].nunique()
    both = set(per_doc[per_doc == 2].index)
    assert got == both and len(both) > 0


def test_bool_absent_term_matches_nothing(spark, docs):
    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, f"{t1} zzznotavocab")])
    assert bool_bm25_topk(docs, q, k=100).count() == 0


def test_bool_not_exclusion(spark, docs):
    t1, t2 = _pick_terms(docs, 2)
    q = spark.createDataFrame(
        [(0, t1, t2), (1, t1, None)],
        "query_id long, query_text string, exclude_text string",
    )
    out = bool_bm25_topk(docs, q, k=10_000, exclude_col="exclude_text").toPandas()
    from igd_spark.tokenizer import postings

    p = postings(docs).filter(F.col("term").isin([t1, t2])).toPandas()
    has_t1 = set(p[p["term"] == t1]["doc_id"])
    has_t2 = set(p[p["term"] == t2]["doc_id"])
    assert set(out[out["query_id"] == 0]["doc_id"]) == has_t1 - has_t2
    assert set(out[out["query_id"] == 1]["doc_id"]) == has_t1
    # scores of surviving docs equal the plain disjunctive scorer's
    plain = bm25_scores(docs, _queries(spark, [(0, t1)])).toPandas()
    m = out[out["query_id"] == 1].merge(plain, on="doc_id", suffixes=("_b", "_p"))
    assert (abs(m["score_b"] - m["score_p"]) < 1e-9).all()


def test_filtered_subset_and_global_idf(spark, docs):
    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, t1)])
    cond = "role = 'user'"
    out = filtered_bm25_topk(docs, q, cond, k=10_000).toPandas()
    allowed = set(
        r["doc_id"] for r in docs.filter(cond).select("doc_id").collect()
    )
    assert set(out["doc_id"]) <= allowed and len(out) > 0
    # idf must stay GLOBAL: scores equal the unfiltered scorer on the same docs
    plain = bm25_scores(docs, q).toPandas()
    m = out.merge(plain, on="doc_id", suffixes=("_f", "_p"))
    assert len(m) == len(out)
    assert (abs(m["score_f"] - m["score_p"]) < 1e-9).all()


def test_prefix_equals_manual_expansion(spark, docs):
    terms = _pick_terms(docs, 6)
    pre = terms[0][:3]
    q = _queries(spark, [(0, pre)])
    out = prefix_bm25_topk(docs, q, k=K).toPandas()
    # manual expansion: all corpus terms with that prefix as one OR query
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    expand = [
        r["term"]
        for r in term_stats(postings(docs))
        .filter(F.col("term").startswith(pre))
        .collect()
    ]
    assert expand, "fixture must contain terms with the chosen prefix"
    manual = exact_bm25_topk(docs, _queries(spark, [(0, " ".join(expand))]), k=K).toPandas()
    assert list(out["doc_id"]) == list(manual["doc_id"])
    assert (abs(out["score"] - manual["score"]) < 1e-9).all()


def test_group_rollup_sum_and_max(spark, docs):
    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, t1)])
    scored = bm25_scores(docs, q).toPandas()
    groups = docs.select("doc_id", "conv_id").toPandas()
    j = scored.merge(groups, on="doc_id")
    for agg in ("sum", "max"):
        out = conv_bm25_topk(docs, q, k=10_000, agg=agg).toPandas()
        exp = getattr(j.groupby("conv_id")["score"], agg)().sort_values(
            ascending=False
        )
        got = out.set_index("group")["score"]
        assert set(got.index) == set(exp.index)
        for cid in got.index:
            assert abs(got[cid] - exp[cid]) < 1e-9
        # rank 1 is the arg-max group (ties broken by group asc)
        top_score = exp.max()
        best = sorted(exp[exp >= top_score - 1e-12].index)[0]
        assert out[out["rank"] == 1]["group"].iloc[0] == best


def test_group_agg_validation(spark, docs):
    q = _queries(spark, [(0, "x")])
    with pytest.raises(ValueError):
        group_bm25_topk(docs, q, "conv_id", agg="median")


def test_snippets_window_contains_term(spark, docs):
    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    width = 12
    out = snippets(docs, q, k=5, width=width).toPandas()
    assert len(out) > 0
    texts = dict(
        (r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()
    )
    for r in out.itertuples():
        # pos is the 1-based first occurrence in lower(text)
        assert str(texts[r.doc_id]).lower().find(r.term) + 1 == r.pos
        # the snippet window contains the matched term
        assert r.term in r.snippet.lower()
        assert len(r.snippet) <= 2 * width + len(r.term)
    # one snippet per (query, doc) hit; ranks are the top-k ranks
    assert out.groupby(["query_id", "doc_id"]).size().max() == 1
    assert set(out["rank"]) <= set(range(1, 6))


# ---------------------------------------------------------------------------
# Index-backed variants: rank/score identity with the DataFrame paths
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def built_idx(spark, docs, tmp_path_factory):
    from igd_spark import IndexConf, build_index

    conf = IndexConf(block_size=32, n_shards=8, salt_df_threshold=64, max_salts=4,
                     store_positions=True)
    path = str(tmp_path_factory.mktemp("qlidx") / "idx")
    return build_index(spark, docs, path, conf=conf)


def _sorted(df):
    return df.toPandas().sort_values(list(df.columns)).reset_index(drop=True)


def test_bool_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import bool_bm25_topk_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = spark.createDataFrame(
        [(0, f"{t1} {t2}", None), (1, t1, t2), (2, f"{t1} zzznotavocab", None)],
        "query_id long, query_text string, exclude_text string",
    )
    a = _sorted(bool_bm25_topk(docs, q, k=50, conf=built_idx.conf,
                               exclude_col="exclude_text", round_dp=9))
    b = _sorted(bool_bm25_topk_indexed(spark, built_idx, q, k=50,
                                       exclude_col="exclude_text", round_dp=9))
    pd.testing.assert_frame_equal(a, b)


def test_filtered_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import filtered_bm25_topk_indexed

    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, t1)])
    cond = "role = 'user'"
    a = _sorted(filtered_bm25_topk(docs, q, cond, k=50, conf=built_idx.conf, round_dp=9))
    b = _sorted(filtered_bm25_topk_indexed(spark, built_idx, q, docs, cond,
                                           k=50, round_dp=9))
    pd.testing.assert_frame_equal(a, b)


def test_prefix_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import prefix_bm25_topk_indexed

    pre = _pick_terms(docs, 1)[0][:3]
    q = _queries(spark, [(0, pre), (1, "zzz")])
    a = _sorted(prefix_bm25_topk(docs, q, k=20, conf=built_idx.conf, round_dp=9))
    b = _sorted(prefix_bm25_topk_indexed(spark, built_idx, q, k=20, round_dp=9))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_group_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import group_bm25_topk_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    for agg in ("sum", "max"):
        a = _sorted(group_bm25_topk(docs, q, "conv_id", k=30, agg=agg,
                                    conf=built_idx.conf, round_dp=9))
        b = _sorted(group_bm25_topk_indexed(
            spark, built_idx, q, docs.select("doc_id", "conv_id"), k=30,
            agg=agg, group_col="conv_id", round_dp=9))
        pd.testing.assert_frame_equal(a, b)


def test_match_enumerate_with_dl(spark, docs, built_idx):
    # the dl column decoded from the blocks equals the doc's true token count
    from igd_spark.search import match_enumerate
    from igd_spark.stats import doc_stats

    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, t1)])
    me = match_enumerate(spark, built_idx, q, with_dl=True).toPandas()
    assert len(me) > 0 and "dl" in me.columns
    ds = doc_stats(docs).toPandas().set_index("doc_id")["dl"]
    for r in me.itertuples():
        assert int(ds[r.doc_id]) == int(r.dl)


def test_snippets_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import _maybe_round, snippets_indexed
    from igd_spark.search import rank_topk

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    out = _sorted(snippets_indexed(spark, built_idx, q, docs, k=5, width=10,
                                   round_dp=9))
    # identical to the DataFrame path fed the equivalently-rounded exact top-k
    top = rank_topk(_maybe_round(bm25_scores(docs, q, conf=built_idx.conf), 9), 5)
    exp = _sorted(snippets(docs, q, k=5, width=10, conf=built_idx.conf, top=top))
    pd.testing.assert_frame_equal(out, exp)
    assert len(out) > 0


# ---------------------------------------------------------------------------
# Proximity (NEAR / slop)
# ---------------------------------------------------------------------------


def _min_cover_span(tokens, terms, window):
    """Brute-force oracle: (min_span, n_anchors) or None if no window of
    span <= window contains every term."""
    positions = {t: [i for i, x in enumerate(tokens) if x == t] for t in terms}
    if any(not v for v in positions.values()):
        return None
    anchors = sorted({i for v in positions.values() for i in v})
    best, n_anchors = None, 0
    for p in anchors:
        mins = []
        ok = True
        for t in terms:
            inside = [i for i in positions[t] if p <= i <= p + window]
            if not inside:
                ok = False
                break
            mins.append(min(inside))
        if ok:
            n_anchors += 1
            span = max(mins) - p
            best = span if best is None else min(best, span)
    return (best, n_anchors) if n_anchors else None


def test_near_match_bruteforce(spark, docs):
    from igd_spark.querylang import near_match
    from igd_spark.tokenizer import TOKEN_SPLIT_RE
    import re as _re

    t1, t2 = _pick_terms(docs, 2, lo=15, hi=200)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    texts = docs.select("doc_id", "text").collect()
    nonempty = 0
    for window in (5, 20, 80):
        out = near_match(docs, q, window=window).toPandas()
        got = {int(r.doc_id): (int(r.min_span), int(r.n_anchors))
               for r in out.itertuples()}
        exp = {}
        for r in texts:
            toks = [t for t in _re.split(TOKEN_SPLIT_RE, str(r["text"]).lower()) if t]
            res = _min_cover_span(toks, [t1, t2], window)
            if res is not None:
                exp[int(r["doc_id"])] = res
        assert got == exp
        nonempty += bool(exp)
    assert nonempty > 0, "fixture produced no co-occurrence at any window"


def test_near_match_single_and_absent(spark, docs):
    from igd_spark.querylang import near_match
    from igd_spark.tokenizer import postings

    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, t1), (1, f"{t1} zzznotavocab")])
    out = near_match(docs, q, window=4).toPandas()
    # absent term -> no rows for query 1
    assert (out["query_id"] == 1).sum() == 0
    # single term: min_span 0, n_anchors == tf
    tf = postings(docs).filter(F.col("term") == t1).toPandas().set_index("doc_id")["tf"]
    sub = out[out["query_id"] == 0]
    assert (sub["min_span"] == 0).all()
    assert set(sub["doc_id"]) == set(tf.index)
    for r in sub.itertuples():
        assert int(tf[r.doc_id]) == int(r.n_anchors)


def test_near_match_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import near_match, near_match_indexed

    t1, t2, t3 = _pick_terms(docs, 3)
    q = _queries(spark, [(0, f"{t1} {t2}"), (1, f"{t1} {t2} {t3}"), (2, t3)])
    for window in (3, 10):
        a = _sorted(near_match(docs, q, window=window))
        b = _sorted(near_match_indexed(spark, built_idx, q, window=window))
        pd.testing.assert_frame_equal(a, b)
        assert len(a) > 0


def test_boosted_scores(spark, docs):
    from igd_spark.querylang import boosted_bm25_topk

    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, t1)])
    boost = "CASE WHEN role = 'user' THEN 2.0 ELSE 0.5 END"
    out = boosted_bm25_topk(docs, q, boost, k=10_000).toPandas()
    plain = bm25_scores(docs, q).toPandas()
    roles = docs.select("doc_id", "role").toPandas().set_index("doc_id")["role"]
    m = out.merge(plain, on="doc_id", suffixes=("_b", "_p"))
    assert len(m) == len(out) > 0
    for r in m.itertuples():
        f = 2.0 if roles[r.doc_id] == "user" else 0.5
        assert abs(r.score_b - r.score_p * f) < 1e-9
    # ranking follows the boosted score
    s = out.sort_values("rank")["score"].to_numpy()
    assert (s[:-1] >= s[1:] - 1e-12).all()


def test_more_like_this(spark, docs):
    from igd_spark.querylang import more_like_this
    from igd_spark.stats import corpus_stats, doc_stats, term_stats
    from igd_spark.tokenizer import postings

    import math

    seed = int(docs.select("doc_id").orderBy("doc_id").limit(1).collect()[0][0])
    n_terms = 4
    out = more_like_this(docs, [seed], n_terms=n_terms, k=10_000).toPandas()
    # self-exclusion
    assert seed not in set(out["doc_id"])
    assert (out["query_id"] == seed).all() and len(out) > 0
    # python oracle: pick the seed's top-n tf*ln(n/df) terms, score with bm25
    post = postings(docs).toPandas()
    ts = term_stats(postings(docs)).toPandas().set_index("term")["df"]
    n_docs = docs.count()
    sp = post[post["doc_id"] == seed]
    kw = sorted(
        ((r.tf * math.log(n_docs / ts[r.term]), r.term) for r in sp.itertuples()),
        key=lambda x: (-x[0], x[1]),
    )[:n_terms]
    terms = [t for _, t in kw]
    # every returned doc contains at least one selected keyword
    docs_with_kw = set(post[post["term"].isin(terms)]["doc_id"]) - {seed}
    assert set(out["doc_id"]) == docs_with_kw
    # scores equal the plain scorer on the same term set
    manual = exact_bm25_topk(
        docs, _queries(spark, [(0, " ".join(terms))]), k=10_000
    ).toPandas()
    m = out.merge(manual, on="doc_id", suffixes=("_m", "_e"))
    assert (abs(m["score_m"] - m["score_e"]) < 1e-9).all()


def test_more_like_this_seed_df_input(spark, docs):
    from igd_spark.querylang import more_like_this

    seeds = docs.select("doc_id").orderBy("doc_id").limit(2)
    out = more_like_this(docs, seeds, n_terms=3, k=5).toPandas()
    assert set(out["query_id"]) == set(seeds.toPandas()["doc_id"])
    assert (out["rank"] <= 5).all()


def test_more_like_this_seed_column_by_name(spark, docs):
    # review fix: a multi-column seed DF must resolve doc_id by NAME
    from igd_spark.querylang import more_like_this

    seeds2 = docs.select("conv_id", "doc_id").orderBy("doc_id").limit(2)
    by_name = more_like_this(docs, seeds2, n_terms=3, k=5).toPandas()
    ids = docs.select("doc_id").orderBy("doc_id").limit(2)
    by_plain = more_like_this(docs, ids, n_terms=3, k=5).toPandas()
    pd.testing.assert_frame_equal(
        by_name.sort_values(["query_id", "rank"]).reset_index(drop=True),
        by_plain.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )
    # ambiguous seed DF (no doc_id, multiple columns) fails loudly
    with pytest.raises(ValueError):
        more_like_this(docs, docs.select("conv_id", "role"), n_terms=3)


def test_boosted_null_boost_is_one(spark, docs):
    # review fix: NULL boost = factor 1.0 (Lucene missing-boost convention)
    from igd_spark.querylang import boosted_bm25_topk

    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, t1)])
    # boost NULL for every doc -> identical to the unboosted scorer
    out = boosted_bm25_topk(docs, q, F.lit(None).cast("double"), k=10_000).toPandas()
    plain = bm25_scores(docs, q).toPandas()
    m = out.merge(plain, on="doc_id", suffixes=("_b", "_p"))
    assert len(m) == len(out) > 0
    assert (abs(m["score_b"] - m["score_p"]) < 1e-12).all()
    assert m["score_b"].notna().all()


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) retrieval + faceting
# ---------------------------------------------------------------------------


def test_fuzzy_deletes_equals_scan(spark, docs):
    # the SymSpell deletes equi-join must produce EXACTLY the brute-force
    # levenshtein match set (superset candidates + exact verify), d=1 and d=2
    from igd_spark.querylang import fuzzy_expand
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    ts = term_stats(postings(docs))
    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1[:-1]}x {t2}"), (1, "zzznotavocab"), (2, "a")])
    qt = query_terms(q, DEFAULT_CONF)
    for d in (1, 2):
        a = fuzzy_expand(qt, ts, max_edits=d, mode="deletes")
        b = fuzzy_expand(qt, ts, max_edits=d, mode="scan")
        pd.testing.assert_frame_equal(_sorted(a), _sorted(b))
    with pytest.raises(ValueError):
        fuzzy_expand(qt, ts, mode="nope")


def test_fuzzy_semantics(spark, docs):
    from igd_spark.querylang import fuzzy_bm25_topk

    t1 = _pick_terms(docs, 1)[0]
    # absent-neighbourhood query matches nothing
    q_absent = _queries(spark, [(0, "zzznotavocab")])
    assert fuzzy_bm25_topk(docs, q_absent, k=100).count() == 0
    # an exact vocab term expands to at least itself with boost 1: every
    # doc scored by the plain scorer appears with score >= its plain score
    q = _queries(spark, [(0, t1)])
    out = fuzzy_bm25_topk(docs, q, k=10_000).toPandas()
    plain = bm25_scores(docs, q).toPandas()
    m = plain.merge(out, on="doc_id", suffixes=("_p", "_f"))
    assert len(m) == len(plain) > 0
    assert (m["score_f"] >= m["score_p"] - 1e-12).all()


def test_fuzzy_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import fuzzy_bm25_topk, fuzzy_bm25_topk_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1[:-1]}x"), (1, t2), (2, "zzznotavocab")])
    a = _sorted(fuzzy_bm25_topk(docs, q, k=30, conf=built_idx.conf, round_dp=9))
    b = _sorted(fuzzy_bm25_topk_indexed(spark, built_idx, q, k=30, round_dp=9))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)
    # the expansion cap fails loudly, not with a driver OOM
    with pytest.raises(ValueError):
        fuzzy_bm25_topk_indexed(spark, built_idx, q, max_expanded_terms=0)


def test_facet_counts_hand_check(spark, docs):
    from igd_spark.querylang import facet_counts

    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, t1)])
    out = facet_counts(docs, q, "role", k=100).toPandas()
    # facet doc counts equal the match set grouped by role, by hand
    match = bm25_scores(docs, q).toPandas()
    roles = docs.select("doc_id", "role").toPandas()
    expect = (
        match.merge(roles, on="doc_id").groupby("role")["doc_id"].count()
    )
    got = out.set_index("facet")["n_docs"]
    assert got.sort_index().astype(int).equals(expect.sort_index().astype(int))
    # ranks follow (n_docs desc, facet asc)
    srt = out.sort_values("rank")
    assert list(srt["n_docs"]) == sorted(srt["n_docs"], reverse=True) or len(srt) <= 1


def test_wildcard_semantics(spark, docs):
    from igd_spark.querylang import wildcard_bm25_topk

    t1 = _pick_terms(docs, 1)[0]
    # a pre* pattern is exactly the prefix query
    qa = _queries(spark, [(0, f"{t1[:3]}*")])
    qb = _queries(spark, [(0, t1[:3])])
    a = _sorted(wildcard_bm25_topk(docs, qa, k=50, round_dp=9))
    b = _sorted(prefix_bm25_topk(docs, qb, k=50, round_dp=9))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)
    # '?' matches exactly one char: pattern t1 with last char -> '?' equals
    # the union of vocab terms of the same length with that prefix
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    q = _queries(spark, [(0, f"{t1[:-1]}?")])
    out = set(
        wildcard_bm25_topk(docs, q, k=10_000).toPandas()["doc_id"]
    )
    terms = [
        r["term"]
        for r in term_stats(postings(docs)).collect()
        if len(r["term"]) == len(t1) and r["term"].startswith(t1[:-1])
    ]
    expect = set(
        postings(docs).filter(F.col("term").isin(terms)).toPandas()["doc_id"]
    )
    assert out == expect and len(out) > 0
    # no-match pattern
    assert wildcard_bm25_topk(docs, _queries(spark, [(0, "zzz*")]), k=10).count() == 0


def test_wildcard_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import wildcard_bm25_topk, wildcard_bm25_topk_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"*{t1[-3:]}"), (1, f"{t2[:2]}*{t2[-1]}"), (2, "zzz*")])
    a = _sorted(wildcard_bm25_topk(docs, q, k=30, conf=built_idx.conf, round_dp=9))
    b = _sorted(wildcard_bm25_topk_indexed(spark, built_idx, q, k=30, round_dp=9))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)
    with pytest.raises(ValueError):
        wildcard_bm25_topk_indexed(spark, built_idx, q, max_expanded_terms=0)


def test_synonym_empty_equals_plain(spark, docs):
    from igd_spark.querylang import synonym_bm25_topk
    from igd_spark.search import rank_topk
    from igd_spark.querylang import _maybe_round

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    empty = spark.createDataFrame([], "term string, group string")
    a = _sorted(synonym_bm25_topk(docs, q, empty, k=50, round_dp=9))
    b = _sorted(rank_topk(_maybe_round(bm25_scores(docs, q), 9), 50))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_synonym_blended_semantics(spark, docs):
    # querying ONE member matches docs containing only the OTHER member,
    # and the blended score uses sum(tf) with max(df) — hand-computed
    from igd_spark.querylang import synonym_bm25_topk
    from igd_spark.stats import corpus_stats, doc_stats, term_stats
    from igd_spark.tokenizer import postings
    import math

    t1, t2 = _pick_terms(docs, 2)
    syn = spark.createDataFrame([(t1, "g"), (t2, "g")], "term string, group string")
    q = _queries(spark, [(0, t1)])
    out = synonym_bm25_topk(docs, q, syn, k=10_000).toPandas()
    p = postings(docs).filter(F.col("term").isin([t1, t2])).toPandas()
    assert set(out["doc_id"]) == set(p["doc_id"])  # union of both members
    # hand-compute the blended weight for every matched doc
    ts = term_stats(postings(docs)).filter(F.col("term").isin([t1, t2])).toPandas()
    df_max = int(ts["df"].max())
    ds = doc_stats(docs).toPandas().set_index("doc_id")["dl"]
    cs = corpus_stats(doc_stats(docs)).collect()[0]
    n_docs, avgdl = int(cs["n_docs"]), float(cs["avgdl"])
    k1, b = 1.2, 0.75
    idf = math.log((n_docs - df_max + 0.5) / (df_max + 0.5) + 1.0)
    tf_sum = p.groupby("doc_id")["tf"].sum()
    for r in out.itertuples():
        tf = float(tf_sum[r.doc_id])
        dl = float(ds[r.doc_id])
        expect = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        assert abs(r.score - expect) < 1e-9


def test_synonym_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import synonym_bm25_topk, synonym_bm25_topk_indexed

    t1, t2, t3 = _pick_terms(docs, 3)
    syn = spark.createDataFrame([(t1, "g"), (t2, "g")], "term string, group string")
    q = _queries(spark, [(0, f"{t1} {t3}"), (1, t2), (2, "zzznotavocab")])
    a = _sorted(synonym_bm25_topk(docs, q, syn, k=30, conf=built_idx.conf, round_dp=9))
    b = _sorted(synonym_bm25_topk_indexed(spark, built_idx, q, syn, k=30, round_dp=9))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_lm_dirichlet_hand_check(spark, docs):
    # hand-compute the Dirichlet score for a one-term query on every doc
    import math

    from igd_spark.querylang import lm_dirichlet_topk
    from igd_spark.stats import corpus_stats, doc_stats
    from igd_spark.tokenizer import postings

    t1 = _pick_terms(docs, 1)[0]
    mu = 1500.0
    q = _queries(spark, [(0, t1)])
    out = lm_dirichlet_topk(docs, q, mu=mu, k=10_000).toPandas()
    p = postings(docs).filter(F.col("term") == t1).toPandas()
    ds = doc_stats(docs).toPandas().set_index("doc_id")["dl"]
    cs = corpus_stats(doc_stats(docs)).collect()[0]
    total = int(cs["sum_dl"])
    cf = int(p["tf"].sum())
    assert set(out["doc_id"]) == set(p["doc_id"]) and len(out) > 0
    tfm = p.set_index("doc_id")["tf"]
    for r in out.itertuples():
        tf, dl = float(tfm[r.doc_id]), float(ds[r.doc_id])
        expect = max(
            0.0,
            math.log(1.0 + tf / (mu * (cf / total))) + math.log(mu / (dl + mu)),
        )
        assert abs(r.score - expect) < 1e-9
    # absent term matches nothing
    assert lm_dirichlet_topk(docs, _queries(spark, [(0, "zzznotavocab")])).count() == 0


def test_lm_dirichlet_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import lm_dirichlet_topk, lm_dirichlet_topk_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}"), (1, t2), (2, "zzznotavocab")])
    a = _sorted(lm_dirichlet_topk(docs, q, k=30, conf=built_idx.conf, round_dp=9))
    b = _sorted(lm_dirichlet_topk_indexed(spark, built_idx, q, k=30, round_dp=9))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_fuzzy_boost_floor(spark, docs):
    # review fix: boost floors at 0 and zero-boost terms are DROPPED —
    # a 1-char query term at max_edits=2 must not subtract score
    from igd_spark.querylang import fuzzy_expand
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    ts = term_stats(postings(docs))
    q = _queries(spark, [(0, "a")])
    for d in (1, 2):
        exp = fuzzy_expand(query_terms(q, DEFAULT_CONF), ts, max_edits=d).toPandas()
        assert (exp["boost"] > 0).all()
        assert (exp["boost"] <= 1.0).all()


def test_suggest_terms_semantics(spark, docs):
    from igd_spark.querylang import suggest_terms
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    ts = term_stats(postings(docs))
    t1 = _pick_terms(docs, 1)[0]
    typo = t1[:-1] + ("x" if t1[-1] != "x" else "y")
    q = _queries(spark, [(0, f"{typo} zzznotavocab")])
    out = suggest_terms(q, ts, max_edits=1, n=5).toPandas()
    # the corrected term is suggested for the typo; the impossible term gets none
    assert t1 in set(out[out["qterm"] == typo]["suggestion"])
    assert (out["qterm"] != "zzznotavocab").all()
    # never suggest the term itself, ranks follow (boost desc, df desc, asc)
    q2 = _queries(spark, [(0, t1)])
    out2 = suggest_terms(q2, ts, max_edits=2, n=10).toPandas()
    assert t1 not in set(out2["suggestion"])
    srt = out2.sort_values("rank")
    keys = list(zip(-srt["boost"], -srt["df"], srt["suggestion"]))
    assert keys == sorted(keys)
    # deletes == scan for the suggestion surface too
    a = suggest_terms(q, ts, max_edits=2, n=5, mode="deletes")
    b = suggest_terms(q, ts, max_edits=2, n=5, mode="scan")
    pd.testing.assert_frame_equal(_sorted(a), _sorted(b))


def test_explain_scores_sums_to_score(spark, docs):
    from igd_spark.querylang import explain_scores

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    ex = explain_scores(docs, q).toPandas()
    plain = bm25_scores(docs, q).toPandas().set_index("doc_id")["score"]
    summed = ex.groupby("doc_id")["weight"].sum()
    assert set(summed.index) == set(plain.index) and len(summed) > 0
    for d, s in summed.items():
        assert abs(s - plain[d]) < 1e-9
    # every ingredient is exposed and consistent: weight = idf * tf-shape
    assert {"query_id", "doc_id", "term", "tf", "dl", "df", "idf", "weight"} == set(ex.columns)


def test_boosted_and_facet_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import (
        boosted_bm25_topk,
        boosted_bm25_topk_indexed,
        facet_counts,
        facet_counts_indexed,
    )

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}"), (1, t1)])
    expr = "CASE WHEN role = 'user' THEN 2.0 ELSE 0.5 END"
    a = _sorted(boosted_bm25_topk(docs, q, expr, k=30, conf=built_idx.conf, round_dp=9))
    b = _sorted(boosted_bm25_topk_indexed(spark, built_idx, q, docs, expr, k=30, round_dp=9))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)
    fa = _sorted(facet_counts(docs, q, "role", k=10, conf=built_idx.conf, round_dp=9))
    fb = _sorted(facet_counts_indexed(spark, built_idx, q, docs, "role", k=10, round_dp=9))
    assert len(fa) > 0
    pd.testing.assert_frame_equal(fa, fb)


def test_rrf_fuse_hand_check(spark):
    from igd_spark.querylang import rrf_fuse

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 20, 2), (0, 30, 3)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 20, 1), (0, 40, 2), (1, 50, 1)], "query_id long, doc_id long, rank int"
    )
    out = rrf_fuse([a, b], k=10, kappa=60.0).toPandas()
    got = {(r.query_id, r.doc_id): (r.rank, r.score) for r in out.itertuples()}
    # doc 20 fuses both lists: 1/62 + 1/61 — must outrank every single-list doc
    assert got[(0, 20)][0] == 1
    assert abs(got[(0, 20)][1] - (1 / 62 + 1 / 61)) < 1e-12
    assert abs(got[(0, 10)][1] - 1 / 61) < 1e-12
    assert got[(0, 10)][0] == 2  # 1/61 > 1/62, no tie involved
    assert got[(1, 50)][0] == 1
    # a TRUE tie: two docs both at rank 1 of different lists (1/61 each)
    # must break on doc_id asc
    c = spark.createDataFrame([(2, 9, 1)], "query_id long, doc_id long, rank int")
    d = spark.createDataFrame([(2, 4, 1)], "query_id long, doc_id long, rank int")
    tie = rrf_fuse([c, d], k=10, kappa=60.0).toPandas().sort_values("rank")
    assert list(tie["doc_id"]) == [4, 9] and list(tie["rank"]) == [1, 2]
    assert abs(tie["score"].iloc[0] - tie["score"].iloc[1]) < 1e-15
    with pytest.raises(ValueError):
        rrf_fuse([])
    with pytest.raises(ValueError):
        rrf_fuse([a], kappa=0.0)


def test_regexp_alternation_equals_disjunction(spark, docs):
    from igd_spark.querylang import regexp_bm25_topk
    from igd_spark.search import exact_bm25_topk

    t1, t2 = _pick_terms(docs, 2)
    rq = _queries(spark, [(0, f"{t1}|{t2}")])
    plain = _queries(spark, [(0, f"{t1} {t2}")])
    a = _sorted(regexp_bm25_topk(docs, rq, k=50, round_dp=9))
    b = _sorted(exact_bm25_topk(docs, plain, k=50).withColumn(
        "score", F.round("score", 9)))
    pd.testing.assert_frame_equal(a, b)


def test_regexp_full_term_anchoring(spark, docs):
    from igd_spark.querylang import regexp_bm25_topk
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    vocab = {r["term"] for r in term_stats(postings(docs)).select("term").collect()}
    t = next(
        w for w in sorted(vocab) if len(w) >= 4 and w[:-1] not in vocab
    )
    sub = t[:-1]
    # a substring of a vocab term matches NOTHING without explicit .* —
    # Lucene RegexpQuery implicit anchoring
    anchored = regexp_bm25_topk(docs, _queries(spark, [(0, sub)]), k=5)
    assert anchored.count() == 0
    wrapped = regexp_bm25_topk(docs, _queries(spark, [(0, f"{sub}.*")]), k=5)
    assert wrapped.count() > 0


def test_regexp_indexed_identity(spark, docs, built_idx):
    from igd_spark.querylang import regexp_bm25_topk, regexp_bm25_topk_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(
        spark,
        [(0, f"{t1}|{t2}"), (1, f"{t1[:2]}.*"), (2, "zzznotavocab")],
    )
    a = _sorted(regexp_bm25_topk(docs, q, k=50, conf=built_idx.conf, round_dp=9))
    b = _sorted(regexp_bm25_topk_indexed(spark, built_idx, q, k=50, round_dp=9))
    pd.testing.assert_frame_equal(a, b)


def test_term_vectors_bruteforce_and_dictionary_parity(spark, docs, built_idx):
    from igd_spark import term_vectors

    ids = docs.select("doc_id").orderBy("doc_id").limit(3)
    a = _sorted(term_vectors(docs, ids, conf=built_idx.conf))
    # df from the persisted dictionary must equal the corpus-pass df
    b = _sorted(term_vectors(docs, ids, conf=built_idx.conf,
                             dictionary=built_idx.dictionary))
    pd.testing.assert_frame_equal(a, b)
    g = a.groupby("doc_id").agg(tf_sum=("tf", "sum"), dl=("dl", "first"))
    assert (g["tf_sum"] == g["dl"]).all(), "per-doc tf must sum to dl"


def test_mlt_and_explain_indexed_identity(spark, docs, built_idx):
    from igd_spark import (
        explain_scores,
        explain_scores_indexed,
        more_like_this,
        more_like_this_indexed,
    )

    seeds = [r["doc_id"] for r in docs.select("doc_id").orderBy("doc_id").limit(3).collect()]
    a = _sorted(more_like_this(docs, seeds, n_terms=5, k=20,
                               conf=built_idx.conf, round_dp=9))
    b = _sorted(more_like_this_indexed(spark, built_idx, docs, seeds,
                                       n_terms=5, k=20, round_dp=9))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    c = _sorted(explain_scores(docs, q, conf=built_idx.conf, round_dp=9))
    d = _sorted(explain_scores_indexed(spark, built_idx, q, round_dp=9))
    pd.testing.assert_frame_equal(c, d, check_dtype=False)


def test_analyze_matches_index_analyzer(spark, docs):
    from collections import defaultdict

    from igd_spark import IndexConf, analyze
    from igd_spark.search import positional_postings
    from igd_spark.stats import doc_stats

    conf = IndexConf(stopwords=("the", "a"), min_token_len=2)
    # deterministic sample: a doc_id predicate, not an unordered limit
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())[:20]
    sample = docs.filter(F.col("doc_id").isin(ids)).cache()
    out = analyze(sample, conf=conf)
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["token"] not in ("the", "a") and len(r["token"]) >= 2
    # per-doc surviving-token count == the dl the index stores (the
    # _analyze contract: what you see is what gets indexed)
    got = defaultdict(int)
    for r in rows:
        got[r["doc_id"]] += 1
    dl = {r["doc_id"]: r["dl"] for r in doc_stats(sample, conf=conf).collect()}
    for d, c in got.items():
        assert c == dl[d]
    # positions are RAW-stream coordinates: every analyze row is literally
    # present at that position in positional_postings (gap semantics) —
    # the coordinate a phrase/span query will see
    raw = {(r["doc_id"], r["pos"]): r["term"]
           for r in positional_postings(sample, conf=conf).collect()}
    for r in rows:
        assert raw[(r["doc_id"], r["pos"])] == r["token"]
    # and the filtered-out raw positions are exactly the analyzed-away ones
    kept = {(r["doc_id"], r["pos"]) for r in rows}
    for (d, p), t in raw.items():
        if (d, p) not in kept:
            assert t in ("the", "a") or len(t) < 2


def test_span_first_indexed_identity(spark, docs, built_idx):
    from igd_spark import span_first_match, span_first_match_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}"), (1, "zzznotavocab")])
    a = _sorted(span_first_match(docs, q, 6, conf=built_idx.conf))
    b = _sorted(span_first_match_indexed(spark, built_idx, q, 6))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # the bound is real: end=1 admits only the position-0 token, so no doc
    # can register more than one qualifying occurrence
    first_only = span_first_match(docs, q, 1, conf=built_idx.conf)
    assert first_only.filter("n_hits > 1").count() == 0
    # and it matches exactly the docs whose position-0 token is a query term
    from igd_spark.search import positional_postings

    openers = (
        positional_postings(docs, conf=built_idx.conf)
        .filter((F.col("pos") == 0) & F.col("term").isin(t1, t2))
        .select("doc_id").distinct().count()
    )
    assert first_only.filter(F.col("query_id") == 0).count() == openers
    with pytest.raises(ValueError):
        span_first_match(docs, q, 0)


def test_multi_field_indexed_identity(spark, docs, tmp_path_factory):
    """Per-field persisted indexes (field=<col> subdirs) must reproduce the
    corpus-scan most_fields ranking exactly, and reopen from disk."""
    from igd_spark import (
        build_field_indexes,
        multi_field_bm25_topk,
        multi_field_bm25_topk_indexed,
        open_field_indexes,
    )

    fields = {"text": 1.0, "role": 2.5}
    t1, t2 = _pick_terms(docs, 2)
    q = _queries(
        spark,
        [(0, f"{t1} user"), (1, t2), (2, "assistant"), (3, "zzznotavocab")],
    )
    mem = _sorted(multi_field_bm25_topk(docs, q, fields, k=K, round_dp=6))

    path = str(tmp_path_factory.mktemp("mfidx"))
    fidx = build_field_indexes(spark, docs, path, fields)
    idx = _sorted(multi_field_bm25_topk_indexed(spark, fidx, q, k=K, round_dp=6))
    pd.testing.assert_frame_equal(mem, idx, check_dtype=False)

    reopened = open_field_indexes(spark, path, fields)
    idx2 = _sorted(multi_field_bm25_topk_indexed(spark, reopened, q, k=K, round_dp=6))
    pd.testing.assert_frame_equal(mem, idx2, check_dtype=False)

    with pytest.raises(ValueError):
        multi_field_bm25_topk_indexed(spark, {}, q)
