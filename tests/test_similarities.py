"""Alternative similarities (ClassicSimilarity TF-IDF, LM Jelinek-Mercer):
brute-force score verification against hand-computed formulas and
indexed-twin rank identity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from igd_spark import (
    IndexConf,
    build_index,
    dfi_topk,
    dfi_topk_indexed,
    dfr_pl2_topk,
    dfr_pl2_topk_indexed,
    ib_ll_topk,
    ib_ll_topk_indexed,
    lm_jelinek_mercer_topk,
    lm_jelinek_mercer_topk_indexed,
    tfidf_topk,
    tfidf_topk_indexed,
)
from igd_spark.corpus import assign_doc_ids
from igd_spark.stats import corpus_stats, doc_stats, term_stats
from igd_spark.tokenizer import postings


@pytest.fixture(scope="module")
def docs(spark, tiny_docs):
    return assign_doc_ids(tiny_docs).cache()


@pytest.fixture(scope="module")
def sim_idx(spark, docs, tmp_path_factory):
    conf = IndexConf(block_size=32, n_shards=8, salt_df_threshold=64, max_salts=4)
    path = str(tmp_path_factory.mktemp("simidx") / "idx")
    return build_index(spark, docs, path, conf=conf)


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id long, query_text string")


def _stats(docs):
    post = {(r["term"], r["doc_id"]): r["tf"] for r in postings(docs).collect()}
    ds = {r["doc_id"]: r["dl"] for r in doc_stats(docs).collect()}
    cs = corpus_stats(doc_stats(docs)).collect()[0]
    ts = {r["term"]: r["df"] for r in term_stats(postings(docs)).collect()}
    return post, ds, cs, ts


def test_tfidf_bruteforce(spark, docs):
    post, ds, cs, ts = _stats(docs)
    out = tfidf_topk(docs, _queries(spark, [(0, "error timeout")]), k=5).collect()
    assert out and out[0]["rank"] == 1
    for r in out:
        expect = 0.0
        for t in ("error", "timeout"):
            tf = post.get((t, r["doc_id"]))
            if tf:
                idf = 1.0 + math.log(cs["n_docs"] / (ts[t] + 1.0))
                expect += math.sqrt(tf) * idf * idf / math.sqrt(ds[r["doc_id"]])
        assert r["score"] == pytest.approx(expect, rel=1e-9)


def test_lmjm_bruteforce_and_lambda_validation(spark, docs):
    post, ds, cs, ts = _stats(docs)
    total = sum(ds.values())
    cf = {t: sum(tf for (tt, _), tf in post.items() if tt == t) for t in ("error", "timeout")}
    lam = 0.3
    out = lm_jelinek_mercer_topk(
        docs, _queries(spark, [(0, "error timeout")]), lam=lam, k=5
    ).collect()
    assert out
    for r in out:
        expect = 0.0
        for t in ("error", "timeout"):
            tf = post.get((t, r["doc_id"]))
            if tf:
                x = ((1 - lam) * tf / ds[r["doc_id"]]) / (lam * cf[t] / total)
                expect += math.log(1.0 + x)
        assert r["score"] == pytest.approx(expect, rel=1e-9)
    with pytest.raises(ValueError):
        lm_jelinek_mercer_topk(docs, _queries(spark, [(0, "x")]), lam=0.0)


def test_similarities_indexed_identity(spark, docs, sim_idx):
    q = _queries(spark, [(0, "error timeout"), (1, "deploy")])
    a = tfidf_topk(docs, q, k=8, round_dp=6, conf=sim_idx.conf).collect()
    b = tfidf_topk_indexed(spark, sim_idx, q, k=8, round_dp=6).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    a = lm_jelinek_mercer_topk(
        docs, q, lam=0.2, k=8, round_dp=6, conf=sim_idx.conf
    ).collect()
    b = lm_jelinek_mercer_topk_indexed(
        spark, sim_idx, q, lam=0.2, k=8, round_dp=6
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_similarity_driver_route_rank_identity(spark, docs, sim_idx):
    import time

    q = spark.createDataFrame(
        [(0, "error timeout"), (1, "deploy")], "query_id long, query_text string"
    )
    for model, fn in (
        ("tfidf", tfidf_topk_indexed),
        ("lm_jm", lm_jelinek_mercer_topk_indexed),
    ):
        a = fn(spark, sim_idx, q, k=8, round_dp=6, engine="spark").collect()
        b = fn(spark, sim_idx, q, k=8, round_dp=6, engine="driver").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), model
    # driver-native rows reach the distributed plan too (a demoted batch)
    rows = [(0, "error timeout"), (1, "deploy")]
    c = lm_jelinek_mercer_topk_indexed(
        spark, sim_idx, rows, k=8, round_dp=6, engine="spark"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, c))  # a: lm_jm on q
    # warm driver path is ms-scale (no Spark job): measure the kernel alone
    from igd_spark.local import local_searcher

    ls = local_searcher(sim_idx)
    ls.sim_topk_n(rows, model="tfidf", k=8, round_dp=6)  # warm the lists
    t0 = time.perf_counter()
    ls.sim_topk_n(rows, model="tfidf", k=8, round_dp=6)
    assert (time.perf_counter() - t0) < 0.25
    with pytest.raises(ValueError):
        ls.sim_topk_n(rows, model="bm11")
    with pytest.raises(ValueError):
        ls.sim_topk_n(rows, model="lm_jm", lam=1.5)


_INV_LN2 = 1.4426950408889634
_TWO_PI = 6.283185307179586


def test_dfi_bruteforce(spark, docs):
    post, ds, cs, ts = _stats(docs)
    total = sum(ds.values())
    out = dfi_topk(docs, _queries(spark, [(0, "error timeout")]), k=5).collect()
    assert out and out[0]["rank"] == 1
    cf = {
        t: sum(tf for (tt, _), tf in post.items() if tt == t)
        for t in ("error", "timeout")
    }
    for r in out:
        expect = 0.0
        for t in ("error", "timeout"):
            tf = post.get((t, r["doc_id"]))
            if tf:
                e = (cf[t] + 1.0) * ds[r["doc_id"]] / (total + 1)
                if tf > e:
                    expect += _INV_LN2 * math.log(1.0 + (tf - e) / math.sqrt(e))
        assert r["score"] == pytest.approx(expect, rel=1e-9)


def test_dfr_pl2_bruteforce(spark, docs):
    post, ds, cs, ts = _stats(docs)
    c = 1.0
    out = dfr_pl2_topk(
        docs, _queries(spark, [(0, "error timeout")]), c=c, k=5
    ).collect()
    assert out and out[0]["rank"] == 1
    cf = {
        t: sum(tf for (tt, _), tf in post.items() if tt == t)
        for t in ("error", "timeout")
    }
    for r in out:
        expect = 0.0
        for t in ("error", "timeout"):
            tf = post.get((t, r["doc_id"]))
            if tf:
                tfn = tf * _INV_LN2 * math.log(
                    1.0 + c * cs["avgdl"] / ds[r["doc_id"]]
                )
                lam = cf[t] / cs["n_docs"]
                w = (
                    _INV_LN2
                    * (
                        tfn * math.log(tfn / lam)
                        + (lam - tfn)
                        + 0.5 * math.log(_TWO_PI * tfn)
                    )
                    / (tfn + 1.0)
                )
                expect += max(0.0, w)
        assert r["score"] == pytest.approx(expect, rel=1e-9)


def test_ib_ll_bruteforce(spark, docs):
    post, ds, cs, ts = _stats(docs)
    c = 1.0
    out = ib_ll_topk(
        docs, _queries(spark, [(0, "error timeout")]), c=c, k=5
    ).collect()
    assert out and out[0]["rank"] == 1
    for r in out:
        expect = 0.0
        for t in ("error", "timeout"):
            tf = post.get((t, r["doc_id"]))
            if tf:
                tfn = tf * _INV_LN2 * math.log(
                    1.0 + c * cs["avgdl"] / ds[r["doc_id"]]
                )
                lam = (ts[t] + 1.0) / (cs["n_docs"] + 1)
                expect += _INV_LN2 * math.log(1.0 + tfn / lam)
        assert r["score"] == pytest.approx(expect, rel=1e-9)


def test_dfr_family_indexed_identity(spark, docs, sim_idx):
    q = _queries(spark, [(0, "error timeout"), (1, "deploy")])
    pairs = (
        (lambda **kw: dfi_topk(docs, q, **kw),
         lambda **kw: dfi_topk_indexed(spark, sim_idx, q, **kw)),
        (lambda **kw: dfr_pl2_topk(docs, q, c=1.0, **kw),
         lambda **kw: dfr_pl2_topk_indexed(spark, sim_idx, q, c=1.0, **kw)),
        (lambda **kw: ib_ll_topk(docs, q, c=1.0, **kw),
         lambda **kw: ib_ll_topk_indexed(spark, sim_idx, q, c=1.0, **kw)),
    )
    for corpus_fn, indexed_fn in pairs:
        a = corpus_fn(k=8, round_dp=6, conf=sim_idx.conf).collect()
        b = indexed_fn(k=8, round_dp=6).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_dfr_family_driver_route_rank_identity(spark, docs, sim_idx):
    q = _queries(spark, [(0, "error timeout"), (1, "deploy")])
    for fn, kw in (
        (dfi_topk_indexed, {}),
        (dfr_pl2_topk_indexed, {"c": 1.0}),
        (ib_ll_topk_indexed, {"c": 1.0}),
    ):
        a = fn(spark, sim_idx, q, k=8, round_dp=6, engine="spark", **kw).collect()
        b = fn(spark, sim_idx, q, k=8, round_dp=6, engine="driver", **kw).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), fn.__name__


def test_axiomatic_bruteforce(spark, docs):
    from igd_spark import axiomatic_topk

    post, ds, cs, ts = _stats(docs)
    s, kx = 0.5, 0.35
    for variant in ("f2exp", "f2log"):
        out = axiomatic_topk(
            docs, _queries(spark, [(0, "error timeout")]),
            variant=variant, k_exp=kx, k=5,
        ).collect()
        assert out and out[0]["rank"] == 1
        for r in out:
            expect = 0.0
            for t in ("error", "timeout"):
                tf = post.get((t, r["doc_id"]))
                if tf:
                    tf_part = tf / (tf + s + s * ds[r["doc_id"]] / cs["avgdl"])
                    ratio = (cs["n_docs"] + 1) / ts[t]
                    idf = ratio**kx if variant == "f2exp" else math.log(ratio)
                    expect += tf_part * idf
            assert r["score"] == pytest.approx(expect, rel=1e-9), variant
    with pytest.raises(ValueError):
        axiomatic_topk(docs, _queries(spark, [(0, "x")]), variant="f3exp")


def test_axiomatic_indexed_and_driver_identity(spark, docs, sim_idx):
    from igd_spark import axiomatic_topk, axiomatic_topk_indexed

    q = _queries(spark, [(0, "error timeout"), (1, "deploy")])
    for variant in ("f2exp", "f2log"):
        a = axiomatic_topk(
            docs, q, variant=variant, k=8, round_dp=6, conf=sim_idx.conf
        ).collect()
        b = axiomatic_topk_indexed(
            spark, sim_idx, q, variant=variant, k=8, round_dp=6, engine="spark"
        ).collect()
        c = axiomatic_topk_indexed(
            spark, sim_idx, q, variant=variant, k=8, round_dp=6, engine="driver"
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), variant
        assert sorted(map(tuple, b)) == sorted(map(tuple, c)), variant


def test_sim_family_deletes_consistency(spark, docs, tmp_path_factory):
    """After delete_by_query, every alternative-similarity indexed twin
    must (a) stop returning tombstoned docs and (b) stay rank-identical
    between the distributed plan and the driver-route kernel — both
    derive df/cf from the tombstone-filtered postings."""
    from igd_spark import axiomatic_topk_indexed, build_index, delete_by_query
    from igd_spark.index import open_index

    conf = IndexConf(block_size=32, n_shards=8, salt_df_threshold=64)
    path = str(tmp_path_factory.mktemp("simdel") / "idx")
    build_index(spark, docs, path, conf=conf)
    delete_by_query(
        spark, path, _queries(spark, [(0, "deploy")]), delete_tag="t1"
    )
    idx = open_index(spark, path)
    gone = {
        r["doc_id"]
        for r in idx.tombstones.collect()
    }
    assert gone
    q = _queries(spark, [(0, "error timeout"), (1, "deploy rollback")])
    fns = (
        lambda eng: tfidf_topk_indexed(spark, idx, q, k=20, round_dp=6, engine=eng),
        lambda eng: lm_jelinek_mercer_topk_indexed(
            spark, idx, q, lam=0.3, k=20, round_dp=6, engine=eng),
        lambda eng: dfi_topk_indexed(spark, idx, q, k=20, round_dp=6, engine=eng),
        lambda eng: dfr_pl2_topk_indexed(
            spark, idx, q, c=1.0, k=20, round_dp=6, engine=eng),
        lambda eng: ib_ll_topk_indexed(
            spark, idx, q, c=1.0, k=20, round_dp=6, engine=eng),
        lambda eng: axiomatic_topk_indexed(
            spark, idx, q, variant="f2exp", k=20, round_dp=6, engine=eng),
        lambda eng: axiomatic_topk_indexed(
            spark, idx, q, variant="f2log", k=20, round_dp=6, engine=eng),
    )
    for fn in fns:
        a = fn("spark").collect()
        b = fn("driver").collect()
        assert a, "spark path returned no rows"
        assert not ({r["doc_id"] for r in a} & gone)
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_sim_family_randomized_engine_identity(spark, docs, sim_idx):
    """Randomized query batches (vocabulary draws + OOV + duplicates)
    across every similarity model: the driver-route kernel must be
    row-identical to the distributed pruned-block plan at 6-dp rounding.
    Seeded — deterministic across runs."""
    import random

    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    vocab = [r["term"] for r in term_stats(postings(docs)).collect()]
    rng = random.Random(1234)
    rows = []
    for qid in range(12):
        n = rng.randint(1, 4)
        terms = [rng.choice(vocab) for _ in range(n)]
        if qid % 4 == 0:
            terms.append(f"zz-oov-{qid}")
        if qid % 5 == 0 and terms:
            terms.append(terms[0])  # duplicate term in the query text
        rows.append((qid, " ".join(terms)))
    q = _queries(spark, rows)
    fns = (
        lambda eng: tfidf_topk_indexed(spark, sim_idx, q, k=7, round_dp=6, engine=eng),
        lambda eng: lm_jelinek_mercer_topk_indexed(
            spark, sim_idx, q, lam=0.3, k=7, round_dp=6, engine=eng),
        lambda eng: dfi_topk_indexed(spark, sim_idx, q, k=7, round_dp=6, engine=eng),
        lambda eng: dfr_pl2_topk_indexed(
            spark, sim_idx, q, c=1.2, k=7, round_dp=6, engine=eng),
        lambda eng: ib_ll_topk_indexed(
            spark, sim_idx, q, c=0.8, k=7, round_dp=6, engine=eng),
    )
    for fn in fns:
        a = fn("spark").collect()
        b = fn("driver").collect()
        assert a and sorted(map(tuple, a)) == sorted(map(tuple, b))
    from igd_spark import axiomatic_topk_indexed, bm25_variant_topk_indexed

    for fn, variant in (
        (axiomatic_topk_indexed, "f2exp"),
        (axiomatic_topk_indexed, "f2log"),
        (bm25_variant_topk_indexed, "plus"),
        (bm25_variant_topk_indexed, "l"),
    ):
        a = fn(
            spark, sim_idx, q, variant=variant, k=7, round_dp=6, engine="spark"
        ).collect()
        b = fn(
            spark, sim_idx, q, variant=variant, k=7, round_dp=6, engine="driver"
        ).collect()
        assert a and sorted(map(tuple, a)) == sorted(map(tuple, b)), variant


def test_h2_c_validation(spark, docs, sim_idx):
    """Every bad similarity parameter raises ValueError from all three entry
    points: the corpus scan, the distributed indexed plan and the driver
    kernel."""
    from igd_spark import (
        axiomatic_topk,
        axiomatic_topk_indexed,
        bm25_variant_topk,
        bm25_variant_topk_indexed,
    )
    from igd_spark.local import local_searcher

    q = _queries(spark, [(0, "x")])
    ls = local_searcher(sim_idx)
    # (corpus *_topk, *_topk_indexed, keyword args, sim_topk_n model, lam)
    cases = [
        (lm_jelinek_mercer_topk, lm_jelinek_mercer_topk_indexed, {"lam": lam},
         "lm_jm", lam)
        for lam in (0.0, 1.5)
    ] + [
        (corpus_fn, indexed_fn, {"c": c}, model, c)
        for corpus_fn, indexed_fn, model in (
            (dfr_pl2_topk, dfr_pl2_topk_indexed, "pl2"),
            (ib_ll_topk, ib_ll_topk_indexed, "ib_ll"),
        )
        for c in (0.0, -1.0)
    ] + [
        (bm25_variant_topk, bm25_variant_topk_indexed, {"variant": "okapi"},
         "bm25_okapi", 1.0),
        (bm25_variant_topk, bm25_variant_topk_indexed, {"delta": -0.1},
         "bm25_plus", -0.1),
        (axiomatic_topk, axiomatic_topk_indexed, {"variant": "f2bogus"},
         "ax_f2bogus", 0.35),
    ]
    for corpus_fn, indexed_fn, kw, model, lam in cases:
        with pytest.raises(ValueError):
            corpus_fn(docs, q, **kw)
        with pytest.raises(ValueError):
            indexed_fn(spark, sim_idx, q, engine="spark", **kw)
        with pytest.raises(ValueError):
            ls.sim_topk_n([(0, "error")], model=model, lam=lam)


def test_bm25_variants_bruteforce(spark, docs):
    from igd_spark import bm25_variant_topk

    post, ds, cs, ts = _stats(docs)
    k1, b = 1.2, 0.75
    for variant, delta in (("plus", 1.0), ("l", 0.5)):
        out = bm25_variant_topk(
            docs, _queries(spark, [(0, "error timeout")]),
            variant=variant, delta=delta, k=5,
        ).collect()
        assert out and out[0]["rank"] == 1
        for r in out:
            expect = 0.0
            for t in ("error", "timeout"):
                tf = post.get((t, r["doc_id"]))
                if tf:
                    idf = math.log1p(
                        (cs["n_docs"] - ts[t] + 0.5) / (ts[t] + 0.5)
                    )
                    tfn = tf / ((1.0 - b) + b * ds[r["doc_id"]] / cs["avgdl"])
                    if variant == "plus":
                        expect += idf * ((k1 + 1.0) * tfn / (k1 + tfn) + delta)
                    else:
                        expect += idf * (
                            (k1 + 1.0) * (tfn + delta) / (k1 + tfn + delta)
                        )
            assert r["score"] == pytest.approx(expect, rel=1e-9), variant
    with pytest.raises(ValueError):
        bm25_variant_topk(docs, _queries(spark, [(0, "x")]), variant="okapi")
    with pytest.raises(ValueError):
        bm25_variant_topk(docs, _queries(spark, [(0, "x")]), delta=-0.1)


def test_bm25_variants_engine_identity(spark, docs, sim_idx):
    from igd_spark import bm25_variant_topk, bm25_variant_topk_indexed

    q = _queries(spark, [(0, "error timeout"), (1, "deploy")])
    for variant in ("plus", "l"):
        a = bm25_variant_topk(
            docs, q, variant=variant, k=8, round_dp=6, conf=sim_idx.conf
        ).collect()
        b = bm25_variant_topk_indexed(
            spark, sim_idx, q, variant=variant, k=8, round_dp=6, engine="spark"
        ).collect()
        c = bm25_variant_topk_indexed(
            spark, sim_idx, q, variant=variant, k=8, round_dp=6, engine="driver"
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), variant
        assert sorted(map(tuple, b)) == sorted(map(tuple, c)), variant
