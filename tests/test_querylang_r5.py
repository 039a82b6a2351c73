"""Round-5 query-surface additions: minimum_should_match, field collapsing,
dis_max (best_fields), highlighting, completion suggestions, percentiles and
date_histogram aggregations.  Semantics pinned against the plain scorer /
numpy on the tiny transcript fixture; indexed twins pinned row-identical to
their corpus-path operators (cross-engine value identity is the gate's job)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from igd_spark.corpus import assign_doc_ids
from igd_spark.search import bm25_scores, exact_bm25_topk, query_terms
from igd_spark.stats import term_stats
from igd_spark.tokenizer import postings

K = 10


@pytest.fixture(scope="module")
def docs(spark, tiny_docs):
    return assign_doc_ids(tiny_docs).cache()


@pytest.fixture(scope="module")
def r5_idx(spark, docs, tmp_path_factory):
    from igd_spark import IndexConf, build_index

    conf = IndexConf(block_size=32, n_shards=8, salt_df_threshold=64, max_salts=4)
    path = str(tmp_path_factory.mktemp("r5idx") / "idx")
    return build_index(spark, docs, path, conf=conf)


def _queries(spark, rows, schema="query_id long, query_text string"):
    return spark.createDataFrame(rows, schema)


def _pick_terms(docs, n=4, lo=5, hi=40):
    ts = term_stats(postings(docs)).filter(
        (F.col("df") >= lo) & (F.col("df") <= hi)
    )
    return [r["term"] for r in ts.orderBy("term").limit(n).collect()]


def _sorted(df):
    return df.toPandas().sort_values(list(df.columns)).reset_index(drop=True)


# ---------------------------------------------------------------------------
# minimum_should_match
# ---------------------------------------------------------------------------


def test_msm_degenerate_bounds(spark, docs):
    """msm=1 == plain disjunctive top-k; msm=n_terms == boolean AND."""
    from igd_spark import bool_bm25_topk, msm_bm25_topk

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    plain = _sorted(exact_bm25_topk(docs, q, k=K))
    msm1 = _sorted(msm_bm25_topk(docs, q, min_should_match=1, k=K))
    pd.testing.assert_frame_equal(plain, msm1, check_dtype=False)

    allq = _sorted(bool_bm25_topk(docs, q, k=K))
    msm2 = _sorted(msm_bm25_topk(docs, q, min_should_match=2, k=K))
    pd.testing.assert_frame_equal(allq, msm2, check_dtype=False)

    with pytest.raises(ValueError):
        msm_bm25_topk(docs, q, min_should_match=0)


def test_msm_counts_distinct_terms(spark, docs):
    """Every returned doc token-matches >= msm distinct query terms."""
    from igd_spark import msm_bm25_topk

    t1, t2, t3 = _pick_terms(docs, 3)
    q = _queries(spark, [(0, f"{t1} {t2} {t3}")])
    out = msm_bm25_topk(docs, q, min_should_match=2, k=10_000).toPandas()
    post = (
        postings(docs)
        .filter(F.col("term").isin([t1, t2, t3]))
        .select("doc_id", "term")
        .toPandas()
    )
    n_by_doc = post.groupby("doc_id")["term"].nunique()
    for d in out["doc_id"]:
        assert n_by_doc.get(d, 0) >= 2


def test_msm_indexed_identity(spark, docs, r5_idx):
    from igd_spark import msm_bm25_topk, msm_bm25_topk_indexed

    t1, t2, t3 = _pick_terms(docs, 3)
    q = _queries(spark, [(0, f"{t1} {t2}"), (1, f"{t1} {t2} {t3}"), (2, "zzznota")])
    a = _sorted(msm_bm25_topk(docs, q, min_should_match=2, k=K,
                              conf=r5_idx.conf, round_dp=6))
    b = _sorted(msm_bm25_topk_indexed(spark, r5_idx, q, min_should_match=2,
                                      k=K, round_dp=6))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


# ---------------------------------------------------------------------------
# collapse (field collapsing)
# ---------------------------------------------------------------------------


def test_collapse_one_per_key_and_head(spark, docs):
    from igd_spark import collapse_topk

    (t1,) = _pick_terms(docs, 1)
    q = _queries(spark, [(0, t1)])
    out = collapse_topk(docs, q, "conv_id", k=10_000, round_dp=6).toPandas()
    # one survivor per collapse key
    assert out.groupby("ckey").size().max() == 1
    # each survivor is its group's argmax (score desc, doc_id asc)
    scored = bm25_scores(docs, q).withColumn("score", F.round("score", 6))
    full = (
        scored.join(docs.select("doc_id", "conv_id"), "doc_id")
        .toPandas()
        .sort_values(["score", "doc_id"], ascending=[False, True])
    )
    heads = full.groupby("conv_id").first().reset_index()
    expect = {r.conv_id: r.doc_id for r in heads.itertuples()}
    for r in out.itertuples():
        assert expect[r.ckey] == r.doc_id
    # ranking over heads follows the Q11 tie-break
    srt = out.sort_values("rank")
    assert list(srt["score"]) == sorted(srt["score"], reverse=True)


def test_collapse_indexed_identity(spark, docs, r5_idx):
    from igd_spark import collapse_topk, collapse_topk_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, t1), (1, f"{t1} {t2}")])
    a = _sorted(collapse_topk(docs, q, "conv_id", k=K, conf=r5_idx.conf,
                              round_dp=6))
    keys = docs.select("doc_id", F.col("conv_id").alias("ckey"))
    b = _sorted(collapse_topk_indexed(spark, r5_idx, q, keys, k=K, round_dp=6))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


# ---------------------------------------------------------------------------
# dis_max / best_fields
# ---------------------------------------------------------------------------


def test_dismax_bounds_and_tie_breaker(spark, docs):
    from igd_spark import dismax_bm25_topk, multi_field_bm25_topk

    t1, t2 = _pick_terms(docs, 2)
    fields = {"text": 1.0, "role": 2.0}
    q = _queries(spark, [(0, f"{t1} user"), (1, t2), (2, "assistant")])
    # tie_breaker=1 degrades to most_fields (sum across fields)
    mf = _sorted(multi_field_bm25_topk(docs, q, fields, k=K, round_dp=6))
    dm1 = _sorted(dismax_bm25_topk(docs, q, fields, tie_breaker=1.0, k=K,
                                   round_dp=6))
    pd.testing.assert_frame_equal(mf, dm1, check_dtype=False)

    # tie_breaker=0 is the pure best field: score == max over per-field scores
    dm0 = dismax_bm25_topk(docs, q, fields, tie_breaker=0.0, k=10_000,
                           round_dp=6).toPandas()
    per = []
    for fcol, boost in fields.items():
        s = bm25_scores(docs, q, text_col=fcol).toPandas()
        s["score"] *= boost
        per.append(s)
    mx = (
        pd.concat(per)
        .groupby(["query_id", "doc_id"])["score"]
        .max()
        .round(6)
    )
    for r in dm0.itertuples():
        assert r.score == pytest.approx(mx.loc[(r.query_id, r.doc_id)], abs=1e-6)

    with pytest.raises(ValueError):
        dismax_bm25_topk(docs, q, {})


def test_dismax_indexed_identity(spark, docs, tmp_path_factory):
    from igd_spark import (
        build_field_indexes,
        dismax_bm25_topk,
        dismax_bm25_topk_indexed,
    )

    fields = {"text": 1.0, "role": 2.0}
    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} user"), (1, t2)])
    mem = _sorted(dismax_bm25_topk(docs, q, fields, tie_breaker=0.3, k=K,
                                   round_dp=6))
    path = str(tmp_path_factory.mktemp("dmidx"))
    fidx = build_field_indexes(spark, docs, path, fields)
    idx = _sorted(dismax_bm25_topk_indexed(spark, fidx, q, tie_breaker=0.3,
                                           k=K, round_dp=6))
    pd.testing.assert_frame_equal(mem, idx, check_dtype=False)


# ---------------------------------------------------------------------------
# highlight
# ---------------------------------------------------------------------------


def test_highlight_fragment_math(spark, docs):
    from igd_spark import highlight, snippets

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    hl = highlight(docs, q, k=K, width=20).toPandas()
    sn = snippets(docs, q, k=K, width=20).toPandas()
    assert len(hl) == len(sn)
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    merged = hl.merge(sn, on=["query_id", "rank", "doc_id", "term", "pos"])
    assert len(merged) == len(hl)  # same term/pos selection rule
    for r in hl.itertuples():
        text = texts[r.doc_id]
        # the tagged span is the ORIGINAL text at the match position
        tagged = f"<em>{text[r.pos - 1:r.pos - 1 + len(r.term)]}</em>"
        assert tagged in r.fragment
        # untagging reproduces the plain snippet cut
        plain = r.fragment.replace("<em>", "").replace("</em>", "")
        start = max(0, r.pos - 1 - 20)
        assert plain == text[start:r.pos - 1 + len(r.term) + 20]


def test_highlight_indexed_identity(spark, docs, r5_idx):
    from igd_spark import highlight, highlight_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}"), (1, t2)])
    a = _sorted(highlight(docs, q, k=K, conf=r5_idx.conf))
    b = _sorted(highlight_indexed(spark, r5_idx, q, docs, k=K))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


# ---------------------------------------------------------------------------
# completion suggester
# ---------------------------------------------------------------------------


def test_complete_terms_ranking(spark, docs):
    from igd_spark import complete_terms

    ts = term_stats(postings(docs))
    vocab = {r["term"]: r["df"] for r in ts.collect()}
    prefix = sorted(vocab)[0][:2]
    q = _queries(spark, [(0, prefix), (1, "zzzzzzz"), (2, "")])
    out = complete_terms(q, ts, n=3).toPandas()
    expect = sorted(
        ((t, d) for t, d in vocab.items() if t.startswith(prefix)),
        key=lambda td: (-td[1], td[0]),
    )[:3]
    got = out[out["query_id"] == 0].sort_values("rank")
    assert list(zip(got["term"], got["df"])) == expect
    assert (out["query_id"] != 1).all()  # no-match prefix yields nothing
    assert (out["query_id"] != 2).all()  # empty prefix yields nothing


def test_complete_terms_index_dictionary(spark, docs, r5_idx):
    from igd_spark import complete_terms

    ts = term_stats(postings(docs, conf=r5_idx.conf))
    prefix = sorted(r["term"] for r in ts.select("term").collect())[0][:2]
    q = _queries(spark, [(0, prefix)])
    a = _sorted(complete_terms(q, ts, n=5))
    b = _sorted(complete_terms(q, r5_idx.dictionary, n=5))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_complete_terms_indexed_driver_route_identity(spark, docs, r5_idx):
    """The in-process autocomplete route must equal the distributed
    LIKE-expansion plan, including empty/no-match prefixes, and the driver
    route must actually engage (zero Spark jobs in the kernel)."""
    from igd_spark import complete_terms_indexed

    ts = term_stats(postings(docs, conf=r5_idx.conf))
    prefix = sorted(r["term"] for r in ts.select("term").collect())[0][:2]
    q = [(0, prefix), (1, "zzzzzzz"), (2, ""), (3, prefix[:1])]
    tel: dict = {}
    drv = _sorted(complete_terms_indexed(
        spark, r5_idx, q, n=4, engine="driver", telemetry=tel))
    assert tel["engine"] == "driver" and tel["route_ms"] >= 0.0
    qdf = _queries(spark, q)
    spk = _sorted(complete_terms_indexed(spark, r5_idx, qdf, n=4, engine="spark"))
    pd.testing.assert_frame_equal(drv, spk, check_dtype=False)

    with pytest.raises(ValueError):
        complete_terms_indexed(spark, r5_idx, q, engine="bogus")


# ---------------------------------------------------------------------------
# percentiles / date_histogram aggregations
# ---------------------------------------------------------------------------


def test_percentiles_exact_vs_numpy(spark, docs):
    from igd_spark import percentiles_agg

    (t1,) = _pick_terms(docs, 1)
    q = _queries(spark, [(0, t1)])
    ids = {
        r["doc_id"]
        for r in postings(docs).filter(F.col("term") == t1).select("doc_id").collect()
    }
    vals = np.array(
        [
            r["turn_idx"]
            for r in docs.select("doc_id", "turn_idx").collect()
            if r["doc_id"] in ids and r["turn_idx"] is not None
        ],
        dtype=float,
    )
    pcts = [25.0, 50.0, 75.0, 99.0]
    out = percentiles_agg(docs, q, "turn_idx", percents=pcts).toPandas()
    assert len(out) == len(pcts)
    for r in out.itertuples():
        # Spark exact percentile == numpy linear interpolation
        assert r.value == pytest.approx(np.percentile(vals, r.pct), abs=1e-9)

    with pytest.raises(ValueError):
        percentiles_agg(docs, q, "turn_idx", percents=[])
    with pytest.raises(ValueError):
        percentiles_agg(docs, q, "turn_idx", percents=[120.0])


def test_percentiles_approx_close(spark, docs):
    from igd_spark import percentiles_agg

    (t1,) = _pick_terms(docs, 1)
    q = _queries(spark, [(0, t1)])
    exact = percentiles_agg(docs, q, "turn_idx", percents=[50.0]).collect()[0]
    approx = percentiles_agg(
        docs, q, "turn_idx", percents=[50.0], approx=True
    ).collect()[0]
    # GK sketch at default accuracy is near-exact at fixture scale
    assert abs(approx["value"] - exact["value"]) <= 1.0


def test_date_histogram_buckets(spark, docs):
    from igd_spark import date_histogram_agg

    (t1,) = _pick_terms(docs, 1)
    q = _queries(spark, [(0, t1)])
    ids = {
        r["doc_id"]
        for r in postings(docs).filter(F.col("term") == t1).select("doc_id").collect()
    }
    out = date_histogram_agg(docs, q, "ts", interval="day").toPandas()
    n_ts = docs.filter(F.col("ts").isNotNull()).filter(
        F.col("doc_id").isin(list(ids))
    ).count()
    assert out["n_docs"].sum() == n_ts
    for b in out["bucket"]:
        assert (b.hour, b.minute, b.second, b.microsecond) == (0, 0, 0, 0)

    with pytest.raises(ValueError):
        date_histogram_agg(docs, q, "ts", interval="fortnight")


def test_new_aggs_indexed_identity(spark, docs, r5_idx):
    from igd_spark import (
        date_histogram_agg,
        date_histogram_agg_indexed,
        percentiles_agg,
        percentiles_agg_indexed,
    )

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, t1), (1, f"{t1} {t2}")])
    conf = r5_idx.conf
    pairs = [
        (percentiles_agg(docs, q, "turn_idx", conf=conf, round_dp=6),
         percentiles_agg_indexed(spark, r5_idx, docs, q, "turn_idx", round_dp=6)),
        (date_histogram_agg(docs, q, "ts", interval="hour", conf=conf),
         date_histogram_agg_indexed(spark, r5_idx, docs, q, "ts", interval="hour")),
    ]
    for a, b in pairs:
        pd.testing.assert_frame_equal(_sorted(a), _sorted(b), check_dtype=False)


def test_did_you_mean_semantics(spark, docs):
    """OOV tokens corrected to the best neighbour, in-vocab tokens kept,
    original token order preserved, uncorrectable tokens pass through."""
    from igd_spark import did_you_mean

    ts = term_stats(postings(docs))
    vocab = {r["term"]: r["df"] for r in ts.collect()}
    good = sorted(t for t in vocab if len(t) >= 4)[0]
    typo = good[:-1] + ("x" if good[-1] != "x" else "y")  # 1 substitution
    assert typo not in vocab
    q = _queries(spark, [
        (0, f"{good} {typo}"),      # in-vocab + correctable
        (1, "zzzzqqqqzzzz"),        # uncorrectable -> unchanged, n_changed 0
        (2, good),                  # all in-vocab
    ])
    out = {r["query_id"]: r for r in did_you_mean(q, ts, max_edits=1).collect()}
    r0 = out[0]
    parts = r0["suggestion"].split(" ")
    assert parts[0] == good                 # in-vocab token untouched
    assert parts[1] in vocab                # typo corrected INTO the vocab
    assert r0["n_changed"] == 1
    # best-candidate rule: boost desc, df desc, term asc at distance<=1
    import numpy as np
    def lev1(a, b):
        if a == b: return 0
        la, lb = len(a), len(b)
        if abs(la - lb) > 1: return 2
        d = np.zeros((la + 1, lb + 1), dtype=int)
        d[:, 0] = np.arange(la + 1); d[0, :] = np.arange(lb + 1)
        for i in range(1, la + 1):
            for j in range(1, lb + 1):
                d[i, j] = min(d[i-1, j] + 1, d[i, j-1] + 1,
                              d[i-1, j-1] + (a[i-1] != b[j-1]))
        return d[la, lb]
    cands = [
        (1.0 - lev1(t, typo) / min(len(t), len(typo)), vocab[t], t)
        for t in vocab if lev1(t, typo) <= 1
    ]
    cands = [c for c in cands if c[0] > 0]
    expect = sorted(cands, key=lambda c: (-c[0], -c[1], c[2]))[0][2]
    assert parts[1] == expect
    assert out[1]["suggestion"] == "zzzzqqqqzzzz" and out[1]["n_changed"] == 0
    assert out[2]["suggestion"] == good and out[2]["n_changed"] == 0


def test_match_count_and_sort_topk(spark, docs, r5_idx):
    """_count equals the distinct match-set size; sort_topk orders by the
    field with doc_id tie-break; indexed twins identical."""
    from igd_spark import (
        match_count,
        match_count_indexed,
        sort_topk,
        sort_topk_indexed,
    )

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}"), (1, "zzznotavocab")])
    conf = r5_idx.conf

    mc = {r["query_id"]: r["n_matched"] for r in match_count(docs, q, conf=conf).collect()}
    expect = (
        bm25_scores(docs, q, conf=conf).select("query_id", "doc_id").distinct()
        .groupBy("query_id").count().collect()
    )
    assert mc == {r["query_id"]: r["count"] for r in expect}
    assert 1 not in mc  # no-match query yields no row

    st = sort_topk(docs, q, "turn_idx", k=5, conf=conf).toPandas()
    for qid, grp in st.groupby("query_id"):
        g = grp.sort_values("rank")
        keys = list(zip(-g["sort_value"], g["doc_id"]))
        assert keys == sorted(keys)

    a = _sorted(match_count(docs, q, conf=conf))
    b = _sorted(match_count_indexed(spark, r5_idx, q))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    c = _sorted(sort_topk(docs, q, "turn_idx", k=5, conf=conf))
    d = _sorted(sort_topk_indexed(spark, r5_idx, docs, q, "turn_idx", k=5))
    pd.testing.assert_frame_equal(c, d, check_dtype=False)


# ---------------------------------------------------------------------------
# context_turns (hit ± w neighboring turns)
# ---------------------------------------------------------------------------


def test_context_turns_neighbors(spark, docs):
    """Every hit yields its own turn at offset 0; every context row is the
    hit's conversation at turn_idx + offset; conversation edges are absent
    rows, never NULLs."""
    from igd_spark import context_turns

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    top = exact_bm25_topk(docs, q, k=K)
    out = context_turns(docs, q, k=K, window=1)
    pdf = out.toPandas()
    assert not pdf.isnull().any().any()

    key = docs.select("doc_id", "conv_id", "turn_idx").toPandas()
    by_id = key.set_index("doc_id")
    hits = top.toPandas()
    # offset 0 = the hit itself, present for every hit
    zero = pdf[pdf["offset"] == 0]
    assert set(zip(zero["query_id"], zero["doc_id"])) == set(
        zip(hits["query_id"], hits["doc_id"])
    )
    assert (zero["ctx_doc_id"] == zero["doc_id"]).all()
    # every row: same conversation, turn_idx shifted by offset
    for row in pdf.itertuples():
        hit, ctx = by_id.loc[row.doc_id], by_id.loc[row.ctx_doc_id]
        assert ctx["conv_id"] == hit["conv_id"]
        assert ctx["turn_idx"] == hit["turn_idx"] + row.offset
    # edge turns contribute fewer rows, not NULL rows
    n_turns = key.groupby("conv_id")["turn_idx"].agg(["min", "max"])
    for row in hits.itertuples():
        h = by_id.loc[row.doc_id]
        lo, hi = n_turns.loc[h["conv_id"]]
        expect = int(h["turn_idx"] > lo) + 1 + int(h["turn_idx"] < hi)
        got = len(pdf[(pdf["query_id"] == row.query_id) & (pdf["doc_id"] == row.doc_id)])
        assert got == expect


def test_context_turns_window_zero_is_topk(spark, docs):
    from igd_spark import context_turns

    t1 = _pick_terms(docs, 1)[0]
    q = _queries(spark, [(0, t1)])
    out = _sorted(
        context_turns(docs, q, k=K, window=0).select("query_id", "doc_id", "ctx_doc_id")
    )
    top = exact_bm25_topk(docs, q, k=K)
    exp = _sorted(
        top.select("query_id", "doc_id", F.col("doc_id").alias("ctx_doc_id"))
    )
    pd.testing.assert_frame_equal(out, exp, check_dtype=False)


def test_context_turns_indexed_identity(spark, docs, r5_idx):
    from igd_spark import context_turns, context_turns_indexed

    t1, t2, t3 = _pick_terms(docs, 3)
    q = _queries(spark, [(0, f"{t1} {t3}"), (1, t2)])
    corpus = _sorted(context_turns(docs, q, k=K, window=2))
    indexed = _sorted(context_turns_indexed(spark, r5_idx, docs, q, k=K, window=2))
    pd.testing.assert_frame_equal(corpus, indexed, check_dtype=False)


# ---------------------------------------------------------------------------
# boosting query (negative-clause demotion)
# ---------------------------------------------------------------------------


def _boost_q(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, query_text string, negative_text string"
    )


def test_boosting_demotes_by_factor(spark, docs):
    """Demoted docs keep eligibility at score × nb; clean docs unchanged;
    nb=1.0 degenerates to the plain top-k."""
    from igd_spark import boosting_bm25_topk
    from igd_spark.search import bm25_scores
    from igd_spark.tokenizer import postings

    t1, t2, t3 = _pick_terms(docs, 3)
    q = _boost_q(spark, [(0, f"{t1} {t2}", t3)])
    plain = bm25_scores(docs, q).toPandas().set_index("doc_id")["score"]
    neg_ids = {
        r["doc_id"]
        for r in postings(docs).filter(F.col("term") == t3).select("doc_id").collect()
    }
    out = boosting_bm25_topk(docs, q, negative_boost=0.25, k=10_000).toPandas()
    for row in out.itertuples():
        exp = plain[row.doc_id] * (0.25 if row.doc_id in neg_ids else 1.0)
        assert abs(row.score - exp) < 1e-9

    ident = _sorted(boosting_bm25_topk(docs, q, negative_boost=1.0, k=K))
    base = _sorted(exact_bm25_topk(docs, q, k=K))
    pd.testing.assert_frame_equal(ident, base, check_dtype=False)


def test_boosting_null_negative_and_indexed_identity(spark, docs, r5_idx):
    from igd_spark import boosting_bm25_topk, boosting_bm25_topk_indexed

    t1, t2, t3 = _pick_terms(docs, 3)
    q = _boost_q(spark, [(0, f"{t1} {t2}", t3), (1, t2, None)])
    corpus = _sorted(boosting_bm25_topk(docs, q, negative_boost=0.5, k=K, round_dp=6))
    indexed = _sorted(
        boosting_bm25_topk_indexed(spark, r5_idx, q, negative_boost=0.5, k=K, round_dp=6)
    )
    pd.testing.assert_frame_equal(corpus, indexed, check_dtype=False)
    # the NULL-negative query must equal its plain top-k
    plain = _sorted(exact_bm25_topk(docs, q.filter("query_id = 1"), k=K))
    sub = corpus[corpus["query_id"] == 1].reset_index(drop=True)
    assert list(sub["doc_id"]) == list(plain["doc_id"])
    assert np.allclose(sub["score"], np.round(plain["score"], 6))


# ---------------------------------------------------------------------------
# combined_fields (BM25F)
# ---------------------------------------------------------------------------


def test_combined_fields_single_field_degenerates_to_plain(spark, docs):
    """One field at weight 1.0 is ordinary BM25 — the BM25F merge must be
    the identity when there is nothing to merge."""
    from igd_spark import combined_fields_bm25_topk

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    cf = _sorted(combined_fields_bm25_topk(docs, q, {"text": 1.0}, k=K, round_dp=6))
    plain = exact_bm25_topk(docs, q, k=K)
    plain = _sorted(
        plain.withColumn("score", F.round("score", 6))
    )
    pd.testing.assert_frame_equal(cf, plain, check_dtype=False)

    with pytest.raises(ValueError):
        combined_fields_bm25_topk(docs, q, {})


def test_combined_fields_saturates_once_vs_most_fields(spark, docs):
    """A term present in BOTH fields saturates once under BM25F: with both
    fields at weight 1.0 and the term in role and text, the combined score
    must differ from most_fields' per-field-sum on some doc."""
    from igd_spark import combined_fields_bm25_topk, multi_field_bm25_topk

    # 'user'/'assistant' live in role; pick a term guaranteed in role
    roles = [r["role"] for r in docs.select("role").distinct().collect()]
    term = sorted(roles)[0].lower()
    q = _queries(spark, [(0, term)])
    fields = {"text": 1.0, "role": 1.0}
    cf = combined_fields_bm25_topk(docs, q, fields, k=K, round_dp=6).toPandas()
    mf = multi_field_bm25_topk(docs, q, fields, k=K, round_dp=6).toPandas()
    assert len(cf) and len(mf)
    # both non-empty; scores must not be the per-field sum (saturation once)
    merged = cf.merge(mf, on=["query_id", "doc_id"], suffixes=("_cf", "_mf"))
    assert (merged["score_cf"] != merged["score_mf"]).any()


def test_combined_fields_indexed_identity(spark, docs, tmp_path_factory):
    from igd_spark import (
        build_field_indexes,
        combined_fields_bm25_topk,
        combined_fields_bm25_topk_indexed,
    )
    from igd_spark import IndexConf

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}"), (1, t1)])
    fields = {"text": 1.0, "role": 2.0}
    conf = IndexConf(block_size=32, n_shards=8, salt_df_threshold=64, max_salts=4)
    path = str(tmp_path_factory.mktemp("cfidx") / "idx")
    fidx = build_field_indexes(spark, docs, path, fields, conf=conf)
    corpus = _sorted(
        combined_fields_bm25_topk(docs, q, fields, k=K, conf=conf, round_dp=6)
    )
    indexed = _sorted(
        combined_fields_bm25_topk_indexed(spark, fidx, q, k=K, round_dp=6)
    )
    pd.testing.assert_frame_equal(corpus, indexed, check_dtype=False)


# ---------------------------------------------------------------------------
# pinned query (editorial promotion)
# ---------------------------------------------------------------------------


def test_pinned_order_and_organic_tail(spark, docs):
    """Pins occupy ranks 1..P in pin order (matching or not, score NULL when
    non-matching); organic results follow pins-excluded in scorer order."""
    from igd_spark import pinned_bm25_topk

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}")])
    top = exact_bm25_topk(docs, q, k=K).toPandas().sort_values("rank")
    organic_ids = list(top["doc_id"])
    # pin one matching doc (the organic #2) and one guaranteed non-match
    non_match = int(
        docs.join(
            bm25_scores(docs, q).select("doc_id"), "doc_id", "left_anti"
        ).selectExpr("min(doc_id)").collect()[0][0]
    )
    pins = spark.createDataFrame(
        [(0, 1, non_match), (0, 2, int(organic_ids[1]))],
        "query_id long, pin_pos int, doc_id long",
    )
    out = pinned_bm25_topk(docs, q, pins, k=K, round_dp=6).toPandas()
    out = out.sort_values("rank").reset_index(drop=True)
    assert out.loc[0, "doc_id"] == non_match and pd.isna(out.loc[0, "score"])
    assert out.loc[1, "doc_id"] == organic_ids[1] and not pd.isna(out.loc[1, "score"])
    # organic tail: original order minus the pinned doc, offset by 2
    expect_tail = [d for d in organic_ids if d != organic_ids[1]][: K - 2]
    assert list(out["doc_id"][2:]) == expect_tail
    assert list(out["rank"]) == list(range(1, len(out) + 1))


def test_pinned_indexed_identity(spark, docs, r5_idx):
    from igd_spark import pinned_bm25_topk, pinned_bm25_topk_indexed

    t1, t2 = _pick_terms(docs, 2)
    q = _queries(spark, [(0, f"{t1} {t2}"), (1, t1)])
    ids = [int(r["doc_id"]) for r in docs.select("doc_id").orderBy("doc_id").limit(3).collect()]
    pins = spark.createDataFrame(
        [(0, 1, ids[0]), (0, 2, ids[1]), (1, 1, ids[2])],
        "query_id long, pin_pos int, doc_id long",
    )
    a = _sorted(pinned_bm25_topk(docs, q, pins, k=K, round_dp=6))
    b = _sorted(pinned_bm25_topk_indexed(spark, r5_idx, q, pins, k=K, round_dp=6))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_distance_feature_additive_contract(spark, docs):
    """score = bm25 + boost·pivot/(pivot+dist): dist=0 adds exactly boost,
    dist=pivot exactly boost/2, NULL field exactly 0 — checked per doc
    against the plain scorer."""
    from igd_spark import distance_feature_topk

    q = _queries(spark, [(0, "error timeout")])
    boost, pivot = 4.0, 50.0
    # synthesize a controllable feature column: dl-based distances
    base = bm25_scores(docs, q)
    with_field = docs.withColumn(
        "feat",
        F.when(F.col("turn_idx") == 0, F.lit(None).cast("double"))  # NULL arm
        .when(F.col("turn_idx") % 2 == 1, F.lit(100.0))             # dist=0
        .otherwise(F.lit(150.0)),                                   # dist=pivot
    )
    got = {
        r["doc_id"]: r["score"]
        for r in distance_feature_topk(
            with_field, q, field="feat", origin=100.0, pivot=pivot,
            boost=boost, k=10_000,
        ).collect()
    }
    plain = {r["doc_id"]: r["score"] for r in base.collect()}
    arms = {
        r["doc_id"]: r["arm"]
        for r in with_field.select(
            "doc_id",
            F.when(F.col("turn_idx") == 0, "null")
            .when(F.col("turn_idx") % 2 == 1, "zero")
            .otherwise("pivot")
            .alias("arm"),
        ).collect()
    }
    assert got, "scored set is non-empty"
    for d, s in got.items():
        want = {"null": 0.0, "zero": boost, "pivot": boost / 2.0}[arms[d]]
        assert abs(s - (plain[d] + want)) < 1e-9, (d, arms[d])


def test_distance_feature_indexed_identity(spark, docs, r5_idx):
    from igd_spark import distance_feature_topk, distance_feature_topk_indexed

    q = _queries(spark, [(0, "error timeout"), (1, "t00001 t00002")])
    docs_f = docs.withColumn("feat", (F.col("turn_idx") * 37 % 211).cast("double"))
    a = _sorted(
        distance_feature_topk(
            docs_f, q, field="feat", origin=90.0, pivot=40.0, boost=2.0,
            k=K, round_dp=6,
        )
    )
    b = _sorted(
        distance_feature_topk_indexed(
            spark, r5_idx, q, docs_f, field="feat", origin=90.0, pivot=40.0,
            boost=2.0, k=K, round_dp=6,
        )
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_terms_set_per_doc_requirement(spark, docs):
    """terms_set: requirement read per doc — req=1 behaves as OR, req=|q|
    as AND, NULL req never matches; checked against msm at the two
    degenerate settings."""
    from igd_spark import msm_bm25_topk, terms_set_topk

    terms = _pick_terms(docs, n=3)
    q = _queries(spark, [(0, " ".join(terms))])
    big_k = 10_000
    for req, msm in ((1, 1), (3, 3)):
        d = docs.withColumn("req", F.lit(req).cast("int"))
        a = _sorted(terms_set_topk(d, q, msm_field="req", k=big_k, round_dp=6))
        b = _sorted(msm_bm25_topk(docs, q, min_should_match=msm, k=big_k, round_dp=6))
        pd.testing.assert_frame_equal(a, b, check_dtype=False)
    d_null = docs.withColumn("req", F.lit(None).cast("int"))
    assert terms_set_topk(d_null, q, msm_field="req", k=big_k).count() == 0


def test_terms_set_indexed_identity(spark, docs, r5_idx):
    from igd_spark import terms_set_topk, terms_set_topk_indexed

    terms = _pick_terms(docs, n=3)
    q = _queries(spark, [(0, " ".join(terms)), (1, f"{terms[0]} {terms[1]}")])
    d = docs.withColumn("req", (F.lit(1) + F.col("doc_id") % 3).cast("int"))
    a = _sorted(terms_set_topk(d, q, msm_field="req", k=K, round_dp=6))
    b = _sorted(
        terms_set_topk_indexed(spark, r5_idx, q, d, msm_field="req", k=K, round_dp=6)
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_rank_feature_functions(spark, docs):
    """The three ES rank_feature score functions: saturation is bounded by
    boost and hits boost/2 at f=pivot; log == boost·ln(sf+f); sigmoid with
    exponent 1 == saturation.  Checked per doc vs the plain scorer."""
    import math

    from igd_spark import rank_feature_topk

    q = _queries(spark, [(0, "error timeout")])
    boost, pivot = 3.0, 40.0
    d = docs.withColumn("feat", (F.col("turn_idx") * 10).cast("double"))
    plain = {r["doc_id"]: r["score"] for r in bm25_scores(docs, q).collect()}
    feats = {r["doc_id"]: r["feat"] for r in d.select("doc_id", "feat").collect()}

    def got(fn, **kw):
        return {
            r["doc_id"]: r["score"]
            for r in rank_feature_topk(
                d, q, field="feat", function=fn, boost=boost, k=10_000, **kw
            ).collect()
        }

    sat = got("saturation", pivot=pivot)
    for doc, s in sat.items():
        f = feats[doc]
        assert abs(s - (plain[doc] + boost * f / (f + pivot))) < 1e-9
        assert s - plain[doc] < boost  # bounded
    lg = got("log", scaling_factor=1.0)
    for doc, s in lg.items():
        assert abs(s - (plain[doc] + boost * math.log(1.0 + feats[doc]))) < 1e-9
    sig = got("sigmoid", pivot=pivot, exponent=1.0)
    for doc, s in sig.items():
        assert abs(s - sat[doc]) < 1e-9  # exponent 1 degenerates to saturation
    with pytest.raises(ValueError):
        rank_feature_topk(d, q, field="feat", function="saturation")  # no pivot
    with pytest.raises(ValueError):
        rank_feature_topk(d, q, field="feat", function="nope", pivot=1.0)


def test_rank_feature_indexed_identity(spark, docs, r5_idx):
    from igd_spark import rank_feature_topk, rank_feature_topk_indexed

    q = _queries(spark, [(0, "error timeout"), (1, "t00001 t00002")])
    d = docs.withColumn("feat", (F.col("turn_idx") * 7 % 50).cast("double"))
    a = _sorted(rank_feature_topk(d, q, "feat", "sigmoid", pivot=20.0,
                                  exponent=2.0, boost=1.5, k=K, round_dp=6))
    b = _sorted(rank_feature_topk_indexed(spark, r5_idx, q, d, "feat", "sigmoid",
                                          pivot=20.0, exponent=2.0, boost=1.5,
                                          k=K, round_dp=6))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_script_score_semantics(spark, docs):
    """script_score: the expression sees _score and doc columns; NULL
    evaluations drop the doc; pure '_score' degenerates to the plain
    ranking."""
    import math

    from igd_spark import script_score_topk

    q = _queries(spark, [(0, "error timeout")])
    big_k = 10_000
    plain = {r["doc_id"]: r["score"] for r in bm25_scores(docs, q).collect()}
    got = {
        r["doc_id"]: r["score"]
        for r in script_score_topk(
            docs, q, "sqrt(_score) * 2.0 + turn_idx / 10.0", k=big_k
        ).collect()
    }
    ti = {r["doc_id"]: r["turn_idx"] for r in docs.select("doc_id", "turn_idx").collect()}
    assert got and set(got) == set(plain)
    for d, s in got.items():
        assert abs(s - (math.sqrt(plain[d]) * 2.0 + ti[d] / 10.0)) < 1e-9
    # NULL-evaluating docs vanish from the ranking
    nulled = script_score_topk(
        docs, q, "CASE WHEN turn_idx = 0 THEN NULL ELSE _score END", k=big_k
    )
    kept = {r["doc_id"] for r in nulled.collect()}
    assert kept and all(ti[d] != 0 for d in kept)
    assert kept == {d for d in plain if ti[d] != 0}


def test_script_score_indexed_identity(spark, docs, r5_idx):
    from igd_spark import script_score_topk, script_score_topk_indexed

    q = _queries(spark, [(0, "error timeout"), (1, "t00001 t00002")])
    expr = "sqrt(_score) + n_chars / 300.0"
    d = docs.withColumn("n_chars", F.length("text"))
    a = _sorted(script_score_topk(d, q, expr, k=K, round_dp=6))
    b = _sorted(script_score_topk_indexed(spark, r5_idx, q, d, expr, k=K, round_dp=6))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_field_route_engine_identity(spark, docs, tmp_path_factory):
    """multi_field/dismax per-field DRIVER route == distributed plan,
    rank-for-rank; engine='driver' raises when the budgets are off."""
    from igd_spark import (
        IndexConf,
        build_field_indexes,
        dismax_bm25_topk_indexed,
        multi_field_bm25_topk_indexed,
    )

    conf = IndexConf(block_size=32, n_shards=4)
    path = str(tmp_path_factory.mktemp("fridx") / "mf")
    d2 = docs.withColumn("tool2", F.coalesce("tool", F.lit("none")))
    fidx = build_field_indexes(
        spark, d2, path, {"text": 1.0, "tool2": 2.0}, conf=conf
    )
    q = _queries(spark, [(0, "error timeout"), (1, "t00001 none")])
    for fn, kw in (
        (multi_field_bm25_topk_indexed, {}),
        (dismax_bm25_topk_indexed, {"tie_breaker": 0.3}),
    ):
        a = _sorted(fn(spark, fidx, q, k=K, round_dp=6, engine="spark", **kw))
        b = _sorted(fn(spark, fidx, q, k=K, round_dp=6, engine="driver", **kw))
        pd.testing.assert_frame_equal(a, b, check_dtype=False)
        assert len(a) > 0
    # budget miss is loud under engine='driver' (conf is frozen: swap in a
    # budget-1 replacement on the handle, restore after)
    import dataclasses

    tiny = [(i, f"t{i:05d}") for i in range(3)]
    olds = {f: fidx[f][0].conf for f in fidx}
    try:
        for f in fidx:
            fidx[f][0].conf = dataclasses.replace(
                olds[f], driver_search_max_postings=1
            )
        with pytest.raises(ValueError, match="postings"):
            multi_field_bm25_topk_indexed(
                spark, fidx, _queries(spark, tiny), engine="driver"
            )
    finally:
        for f in fidx:
            fidx[f][0].conf = olds[f]


def test_field_route_merges_repeated_query_ids(spark, docs, tmp_path_factory):
    """A query_id on several rows is ONE query whose terms union (the
    query_terms convention) on the per-field driver route too."""
    from igd_spark import (
        IndexConf,
        build_field_indexes,
        multi_field_bm25_topk_indexed,
    )

    path = str(tmp_path_factory.mktemp("fqidx") / "mf")
    fidx = build_field_indexes(
        spark, docs, path, {"text": 1.0}, conf=IndexConf(block_size=32, n_shards=4)
    )
    rows = [(0, "error"), (0, "timeout")]
    spk = _sorted(multi_field_bm25_topk_indexed(
        spark, fidx, _queries(spark, rows), k=K, round_dp=6, engine="spark"))
    drv = _sorted(multi_field_bm25_topk_indexed(
        spark, fidx, rows, k=K, round_dp=6, engine="driver"))
    pd.testing.assert_frame_equal(spk, drv, check_dtype=False)
    assert len(spk) > 0


def test_random_score_deterministic_and_uniform(spark, tiny_docs):
    from igd_spark import random_score_topk
    from igd_spark.corpus import assign_doc_ids
    from igd_spark.hashing import h60_seeded_py

    docs = assign_doc_ids(tiny_docs)
    q = spark.createDataFrame([(0, "error")], "query_id long, query_text string")
    a = random_score_topk(docs, q, seed=3, k=5).collect()
    b = random_score_topk(docs, q, seed=3, k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]  # same seed = same order
    c = random_score_topk(docs, q, seed=4, k=5).collect()
    assert [r["doc_id"] for r in a] != [r["doc_id"] for r in c]  # seed matters
    # the score IS the h60-derived uniform, reproducible in plain python
    for r in a:
        assert r["score"] == pytest.approx(
            h60_seeded_py(3, str(r["doc_id"])) / 2**60, rel=1e-12
        )
        assert 0.0 <= r["score"] < 1.0


# ---------------------------------------------------------------------------
# terms_enum / field_caps (ES _terms_enum and _field_caps APIs)
# ---------------------------------------------------------------------------


def test_terms_enum_alphabetical_and_pagination(spark, docs):
    """Alphabetical order, size cap, strictly-after cursor; two size-3 pages
    walked with the keyset cursor must equal the first 6 alphabetical
    matches (the ES search_after contract)."""
    from igd_spark import terms_enum

    ts = term_stats(postings(docs))
    vocab = sorted(r["term"] for r in ts.select("term").collect())
    # pick the first letter with the most matches so the cursor walk has room
    prefix = max({t[0] for t in vocab},
                 key=lambda c: sum(t.startswith(c) for t in vocab))
    matches = [t for t in vocab if t.startswith(prefix)]
    assert len(matches) >= 4, "fixture vocab too small for the walk"

    q = _queries(spark, [(0, prefix), (1, "zzzzzzz"), (2, "")])
    out = terms_enum(q, ts, size=3).toPandas()
    got = out[out["query_id"] == 0].sort_values("rank")
    assert list(got["term"]) == matches[:3]          # alphabetical page 1
    assert (out["query_id"] != 1).all()              # no-match prefix: nothing
    assert (out["query_id"] != 2).all()              # empty prefix: nothing

    # page 2 via the cursor — strictly after page 1's last term
    q2 = spark.createDataFrame(
        [(0, prefix, matches[2])],
        "query_id long, query_text string, after_term string",
    )
    page2 = terms_enum(q2, ts, size=3, after_col="after_term").toPandas()
    assert list(page2.sort_values("rank")["term"]) == matches[3:6]


def test_terms_enum_indexed_identity(spark, docs, r5_idx):
    """The persisted-index dictionary enumerates identically to the
    corpus-derived term_stats (same vocabulary, same order)."""
    from igd_spark import terms_enum, terms_enum_indexed

    ts = term_stats(postings(docs, conf=r5_idx.conf))
    prefix = sorted(r["term"] for r in ts.select("term").collect())[0][:1]
    q = _queries(spark, [(0, prefix), (1, prefix[:1])])
    a = _sorted(terms_enum(q, ts, size=5))
    b = _sorted(terms_enum_indexed(spark, r5_idx, q, size=5))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_field_caps_schema_and_counts(spark, tiny_docs):
    """One row per column; the analyzed text column is searchable but not
    aggregatable; other strings are keywords; non_null_count matches
    pandas' notna() per column."""
    from igd_spark import field_caps
    from igd_spark.corpus import assign_doc_ids

    docs = assign_doc_ids(tiny_docs)
    pdf = docs.toPandas()
    out = field_caps(docs).toPandas().set_index("field")
    assert sorted(out.index) == sorted(pdf.columns)
    assert out.loc["text", "es_type"] == "text"
    assert bool(out.loc["text", "searchable"]) is True
    assert bool(out.loc["text", "aggregatable"]) is False
    for name in pdf.columns:
        assert out.loc[name, "non_null_count"] == int(pdf[name].notna().sum()), name
        if name != "text" and str(pdf[name].dtype) == "object":
            assert out.loc[name, "es_type"] == "keyword"
            assert bool(out.loc[name, "aggregatable"]) is True


def test_terms_enum_random_cursor_property(spark, docs):
    """Randomized cursor property vs a pure-python enumeration: for any
    prefix and any cursor (including mid-vocabulary strings that are not
    themselves terms), the page equals the python-sorted matches strictly
    after the cursor, capped at size."""
    import random

    from igd_spark import terms_enum

    ts = term_stats(postings(docs))
    vocab = sorted(r["term"] for r in ts.select("term").collect())
    rng = random.Random(7)
    cases = []
    for qid in range(12):
        t = rng.choice(vocab)
        prefix = t[: rng.randint(1, min(3, len(t)))]
        after = rng.choice(
            [None, t, t[:-1], prefix, vocab[rng.randrange(len(vocab))]]
        )
        cases.append((qid, prefix, after))
    q = spark.createDataFrame(
        cases, "query_id long, query_text string, after_term string"
    )
    size = 4
    out = terms_enum(q, ts, size=size, after_col="after_term").toPandas()
    for qid, prefix, after in cases:
        expect = [
            t for t in vocab
            if t.startswith(prefix) and (after is None or t > after)
        ][:size]
        got = list(
            out[out["query_id"] == qid].sort_values("rank")["term"]
        )
        assert got == expect, (qid, prefix, after)
