"""Parser + evaluator semantics of the Lucene-style query language
(queryparse.py): the gate pins cross-engine value identity; here we pin
the parse itself and the evaluator's equivalence to the standalone
operators it compiles to."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from igd_spark.corpus import assign_doc_ids
from igd_spark.queryparse import Clause, parse_query, parsed_bm25_topk
from igd_spark.querylang import (
    _maybe_round,
    bool_bm25_topk,
    fuzzy_bm25_topk,
    prefix_bm25_topk,
)
from igd_spark.search import bm25_scores, phrase_match, rank_topk


@pytest.fixture(scope="module")
def docs(spark, tiny_docs):
    return assign_doc_ids(tiny_docs).cache()


def _pick_terms(docs, n=4, lo=5, hi=40):
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    ts = term_stats(postings(docs)).filter((F.col("df") >= lo) & (F.col("df") <= hi))
    return [r["term"] for r in ts.orderBy("term").limit(n).collect()]


def _sorted(df):
    p = df.toPandas() if not isinstance(df, pd.DataFrame) else df
    return p.sort_values(list(p.columns)).reset_index(drop=True)


def _occurring_phrase(docs) -> str:
    """A two-word phrase guaranteed to occur: the first two tokens of some
    doc under the ENGINE's own tokenization (regex split, not str.split —
    punctuation-adjacent words must not yield a never-matching phrase)."""
    import re as _re

    for row in docs.select("text").filter(F.length("text") > 20).limit(20).collect():
        toks = [t for t in _re.split(r"[^a-z0-9]+", str(row["text"]).lower()) if t]
        if len(toks) >= 2:
            return f"{toks[0]} {toks[1]}"
    pytest.skip("fixture has no doc with two tokens")


def test_parse_grammar():
    assert parse_query("+a b -c") == [
        Clause("must", "term", "a"),
        Clause("should", "term", "b"),
        Clause("must_not", "term", "c"),
    ]
    assert parse_query('"x y" z*') == [
        Clause("should", "phrase", "x y"),
        Clause("should", "prefix", "z"),
    ]
    assert parse_query("w~ v~1 u?x") == [
        Clause("should", "fuzzy", "w", 2),
        Clause("should", "fuzzy", "v", 1),
        Clause("should", "wildcard", "u?x"),
    ]
    # normalization: case, punctuation-split words, one-word phrase -> term,
    # empty/meta-only tokens dropped, ~9 clamps to 2
    assert parse_query('Can\'t "Solo" q~9') == [
        Clause("should", "term", "can"),
        Clause("should", "term", "t"),
        Clause("should", "term", "solo"),
        Clause("should", "fuzzy", "q", 2),
    ]
    assert parse_query(' ** "" ~ - + ') == []


def test_parsed_disjunctive_equals_plain(spark, docs):
    t1, t2 = _pick_terms(docs, 2)
    out = _sorted(parsed_bm25_topk(docs, [(0, f"{t1} {t2}")], k=50, round_dp=9))
    q = spark.createDataFrame([(0, f"{t1} {t2}")], "query_id long, query_text string")
    ref = _sorted(rank_topk(_maybe_round(bm25_scores(docs, q), 9), 50))
    assert len(out) > 0
    pd.testing.assert_frame_equal(out, ref)


def test_parsed_must_equals_bool(spark, docs):
    t1, t2, t3 = _pick_terms(docs, 3)
    # plain AND: non-empty and identical to bool_bm25_topk
    out = _sorted(parsed_bm25_topk(docs, [(0, f"+{t1} +{t2}")], k=50, round_dp=9))
    q = spark.createDataFrame(
        [(0, f"{t1} {t2}", None)],
        "query_id long, query_text string, exclude_text string",
    )
    ref = _sorted(bool_bm25_topk(docs, q, k=50, exclude_col="exclude_text", round_dp=9))
    assert len(out) > 0
    pd.testing.assert_frame_equal(out, ref)
    # AND + NOT: still identical (may legitimately be empty on the fixture)
    out2 = _sorted(parsed_bm25_topk(docs, [(0, f"+{t1} +{t2} -{t3}")], k=50, round_dp=9))
    q2 = spark.createDataFrame(
        [(0, f"{t1} {t2}", t3)],
        "query_id long, query_text string, exclude_text string",
    )
    ref2 = _sorted(bool_bm25_topk(docs, q2, k=50, exclude_col="exclude_text", round_dp=9))
    pd.testing.assert_frame_equal(out2, ref2)


def test_parsed_prefix_and_fuzzy_equal_operators(spark, docs):
    t1 = _pick_terms(docs, 1)[0]
    pre = t1[:3]
    out = _sorted(parsed_bm25_topk(docs, [(0, f"{pre}*")], k=30, round_dp=9))
    q = spark.createDataFrame([(0, pre)], "query_id long, query_text string")
    ref = _sorted(prefix_bm25_topk(docs, q, k=30, round_dp=9))
    assert len(out) > 0
    pd.testing.assert_frame_equal(out, ref)
    typo = t1[:-1] + ("x" if t1[-1] != "x" else "y")
    out2 = _sorted(parsed_bm25_topk(docs, [(0, f"{typo}~1")], k=30, round_dp=9))
    q2 = spark.createDataFrame([(0, typo)], "query_id long, query_text string")
    ref2 = _sorted(fuzzy_bm25_topk(docs, q2, max_edits=1, k=30, round_dp=9))
    pd.testing.assert_frame_equal(out2, ref2)


def test_parsed_phrase_filters_and_scores(spark, docs):
    phrase = _occurring_phrase(docs)
    out = parsed_bm25_topk(docs, [(0, f'"{phrase}"')], k=10_000).toPandas()
    q = spark.createDataFrame([(0, phrase)], "query_id long, query_text string")
    ph = phrase_match(docs, q).toPandas()
    assert set(out["doc_id"]) == set(ph["doc_id"]) and len(out) > 0
    # scores = constituent-term disjunctive BM25 on the phrase hit set
    ref = bm25_scores(docs, q).toPandas()
    m = out.merge(ref, on="doc_id", suffixes=("_p", "_r"))
    assert len(m) == len(out)
    assert (abs(m["score_p"] - m["score_r"]) < 1e-9).all()


def test_parsed_unsatisfiable_must_and_empty(spark, docs):
    t1 = _pick_terms(docs, 1)[0]
    assert parsed_bm25_topk(docs, [(0, f"+zzznotavocab {t1}")], k=10).count() == 0
    assert parsed_bm25_topk(docs, [(0, ""), (1, "-" + t1)], k=10).count() == 0


def test_parsed_pandas_input(spark, docs):
    t1 = _pick_terms(docs, 1)[0]
    pdf = pd.DataFrame({"query_id": [0], "query_text": [t1]})
    a = _sorted(parsed_bm25_topk(docs, pdf, k=20, round_dp=9))
    b = _sorted(parsed_bm25_topk(docs, [(0, t1)], k=20, round_dp=9))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_parse_fuzzy_multidigit_clamps():
    # review fix: ~10 clamps to 2 like ~9 (NOT two plain terms)
    assert parse_query("spark~10") == [Clause("should", "fuzzy", "spark", 2)]
    assert parse_query("spark~0") == [Clause("should", "term", "spark")]


def test_parsed_duplicate_query_rows_merge(spark, docs):
    # review fix: duplicate query_id rows merge clauses (the query_terms /
    # search() convention) instead of last-row-wins
    t1, t2 = _pick_terms(docs, 2)
    a = _sorted(parsed_bm25_topk(docs, [(0, t1), (0, t2)], k=50, round_dp=9))
    b = _sorted(parsed_bm25_topk(docs, [(0, f"{t1} {t2}")], k=50, round_dp=9))
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_percolate_empty_batch(spark, docs):
    # review fix: an empty micro-batch returns the empty frame, it does not
    # kill the streaming query
    from igd_spark.queryparse import percolate

    empty = docs.filter(F.lit(False))
    out = percolate(empty, [(0, "+table")])
    assert out.count() == 0
    assert out.columns == ["query_id", "doc_id", "score"]


def test_parsed_indexed_identity(spark, docs):
    # the full query language off a persisted positional index must be
    # rank-identical to the corpus-scan path
    import tempfile

    from igd_spark import IndexConf, build_index
    from igd_spark.queryparse import parsed_bm25_topk_indexed

    conf = IndexConf(block_size=32, n_shards=8, salt_df_threshold=64,
                     max_salts=4, store_positions=True)
    idx = build_index(spark, docs, tempfile.mkdtemp() + "/pidx", conf=conf)
    t1, t2, t3 = _pick_terms(docs, 3)
    phrase = _occurring_phrase(docs)
    qs = [
        (0, f"+{t1} {t2} -{t3}"),
        (1, f'"{phrase}" {t2[:3]}*'),
        (2, f"{t1[:-1]}x~1 {t2}"),
        (3, "+zzznotavocab"),
    ]
    a = _sorted(parsed_bm25_topk(docs, qs, k=30, conf=conf, round_dp=9))
    b = _sorted(parsed_bm25_topk_indexed(spark, idx, qs, k=30, round_dp=9))
    assert len(a) > 0
    # the phrase query must have hits, or the indexed phrase-restrict path
    # (phrase_match_indexed) silently goes untested
    assert (a["query_id"] == 1).any()
    pd.testing.assert_frame_equal(a, b)
    with pytest.raises(ValueError):
        parsed_bm25_topk_indexed(spark, idx, qs, max_expanded_terms=0)


def test_parse_query_fuzz_never_crashes():
    # the parser consumes arbitrary user strings: it must never raise on
    # any input (only the clause-count cap may), and every clause it emits
    # must be well-formed
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=80))
    def check(s):
        clauses = parse_query(s)
        for c in clauses:
            assert c.occur in ("must", "should", "must_not")
            assert c.kind in ("term", "phrase", "prefix", "wildcard", "fuzzy")
            assert c.text != ""
            if c.kind == "fuzzy":
                assert 1 <= c.max_edits <= 2
            else:
                assert c.max_edits == 0
            if c.kind in ("term", "fuzzy"):
                assert c.text.isalnum()
            if c.kind == "phrase":
                assert all(w.isalnum() for w in c.text.split(" "))
            if c.kind in ("prefix", "wildcard"):
                assert set(c.text) <= set("abcdefghijklmnopqrstuvwxyz0123456789*?")

    check()


def test_compiled_percolator_matches_uncompiled(spark, docs):
    """compile_percolator: identical results to per-call percolate on every
    clause kind (term/must/must_not/prefix/wildcard/fuzzy/phrase), across
    SUCCESSIVE batches, with the compile cost paid once."""
    from igd_spark import compile_percolator, percolate

    t1, t2, t3 = _pick_terms(docs, 3)
    phrase = _occurring_phrase(docs)
    standing = [
        (0, f"+{t1} {t2} -{t3}"),
        (1, f'"{phrase}" {t2[:3]}*'),
        (2, f"{t1[:-1]}x~1 {t2}"),
        (3, f"{t1[:2]}?{t1[3:]} {t2}"),
        (4, "+zzznotavocab"),
    ]
    comp = compile_percolator(spark, standing)
    batches = [
        docs.filter(F.col("doc_id") % 3 == i).cache() for i in range(3)
    ]
    try:
        any_rows = 0
        for b in batches:
            want = _sorted(percolate(b, standing, round_dp=9))
            got = _sorted(percolate(b, comp, round_dp=9))
            pd.testing.assert_frame_equal(got, want)
            any_rows += len(want)
        assert any_rows > 0
        # the phrase standing query must fire on at least one batch, or the
        # compiled phrase path went untested
        fired = pd.concat(
            [percolate(b, comp).toPandas() for b in batches]
        )
        assert (fired["query_id"] == 1).any()
    finally:
        comp.unpersist()
        for b in batches:
            b.unpersist()


def test_compiled_percolator_empty_batch_and_set(spark, docs):
    from igd_spark import compile_percolator, percolate

    comp = compile_percolator(spark, [(0, "+table")])
    out = percolate(docs.filter(F.lit(False)), comp)
    assert out.count() == 0 and out.columns == ["query_id", "doc_id", "score"]
    comp.unpersist()
    empty = compile_percolator(spark, [])
    assert percolate(docs, empty).count() == 0


# ---------------------------------------------------------------------------
# simple_query_string: DNF parser + evaluator
# ---------------------------------------------------------------------------


def test_simple_parser_dnf_shapes():
    from igd_spark.queryparse import parse_simple_query

    assert parse_simple_query("a + -b | c") == [
        [("a", False), ("b", True)], [("c", False)]
    ]
    assert parse_simple_query("a b", "and") == [[("a", False), ("b", False)]]
    assert parse_simple_query("a b", "or") == [[("a", False)], [("b", False)]]
    assert parse_simple_query("a|b + c") == [
        [("a", False)], [("b", False), ("c", False)]
    ]
    # whitespace=or makes each bare atom a group; repeated groups stay
    # (Lucene repeated-clause: each contributes) — only atoms WITHIN a
    # group dedupe
    assert parse_simple_query("a a | a") == [
        [("a", False)], [("a", False)], [("a", False)]
    ]
    assert parse_simple_query("a + a + b") == [[("a", False), ("b", False)]]


def test_simple_parser_rejects_pure_negation():
    from igd_spark.queryparse import parse_simple_query

    with pytest.raises(ValueError, match="positive"):
        parse_simple_query("-a")
    with pytest.raises(ValueError, match="positive"):
        parse_simple_query("a | -b")


def test_simple_query_string_matchset_bruteforce(spark, docs):
    """(t0 AND NOT t1) OR t2 match set equals set algebra over postings."""
    from igd_spark import simple_query_string_topk
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    ts = term_stats(postings(docs)).filter(
        (F.col("df") >= 10) & (F.col("df") <= 60)
    )
    t = [r["term"] for r in ts.orderBy("term").limit(3).collect()]
    post = postings(docs).select("doc_id", "term").toPandas()
    ids = lambda term: set(post[post.term == term].doc_id)
    expected = (ids(t[0]) - ids(t[1])) | ids(t[2])
    got = simple_query_string_topk(
        docs, [(0, f"{t[0]} + -{t[1]} | {t[2]}")], k=10**6
    ).toPandas()
    assert set(got.doc_id) == expected
    assert len(expected) > 0


def test_simple_query_string_indexed_identity(spark, docs, tmp_path):
    from igd_spark import (
        IndexConf,
        build_index,
        simple_query_string_topk,
        simple_query_string_topk_indexed,
    )
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    ts = term_stats(postings(docs)).filter(
        (F.col("df") >= 10) & (F.col("df") <= 60)
    )
    t = [r["term"] for r in ts.orderBy("term").limit(4).collect()]
    qs = [
        (0, f"{t[0]} + -{t[1]} | {t[2]}"),
        (1, f"{t[0]} {t[3]}"),
        (2, f"{t[0]}|{t[1]} + {t[2]}"),
        (3, f"{t[0]} + zzznotavocab"),
    ]
    idx = build_index(
        spark, docs, str(tmp_path / "sqsidx"),
        conf=IndexConf(block_size=32, n_shards=8),
    )
    a = simple_query_string_topk(docs, qs, k=10, round_dp=6)
    b = simple_query_string_topk_indexed(spark, idx, qs, k=10, round_dp=6)

    def srt(df):
        return df.toPandas().sort_values(list(df.columns)).reset_index(drop=True)

    pd.testing.assert_frame_equal(srt(a), srt(b), check_dtype=False)
    # the unsatisfiable AND group matches nothing
    assert a.filter("query_id = 3").count() == 0


# ---------------------------------------------------------------------------
# validate_query (the ES _validate/query API)
# ---------------------------------------------------------------------------


def test_validate_query_verdicts(spark):
    """Valid queries report their clause count; lenient drops are counted
    not failed; the clause-count cap rejects with valid=false and the
    error message; every driver-native input shape works."""
    from igd_spark import validate_query
    from igd_spark.queryparse import _MAX_CLAUSES, parse_query

    qs = [
        (0, '+"table scan" quer~1 tab* -slow'),
        (1, "spark join"),
        (2, '!!! ?* ""'),          # three lexemes, all normalize to nothing
        (3, ""),
        (4, " ".join(f"t{i}" for i in range(_MAX_CLAUSES + 1))),
    ]
    rows = {r["query_id"]: r for r in validate_query(spark, qs).collect()}
    # n_clauses agrees with parse_query itself on the valid ones
    for qid, text in qs[:4]:
        assert rows[qid]["valid"] is True
        assert rows[qid]["n_clauses"] == len(parse_query(text))
        assert rows[qid]["error"] is None
    assert rows[2]["n_dropped"] == 3 and rows[2]["n_clauses"] == 0
    assert rows[4]["valid"] is False and "clauses" in rows[4]["error"]
    # pandas input shape gives the identical frame
    pdf = pd.DataFrame(qs[:2], columns=["query_id", "query_text"])
    a = validate_query(spark, qs[:2]).collect()
    b = validate_query(spark, pdf).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_clause_words_split_like_the_index_tokens(spark, tmp_path):
    """Clause words follow the conf's token_split_re, with the query
    syntax characters still splitting them: on a [^a-z0-9_]+ index
    `alpha_beta` is one term clause, so both evaluators return search()'s
    rows; and a prefix clause's literal `_` is not a LIKE wildcard."""
    from igd_spark import IndexConf, build_index, search
    from igd_spark.queryparse import _clauses, parsed_bm25_topk_indexed

    conf = IndexConf(block_size=8, n_shards=2, token_split_re=r"[^a-z0-9_]+")
    assert _clauses('+alpha_beta~1 "beta_gamma x-y" al?ha_b*', conf.token_split_re) == [
        Clause("must", "fuzzy", "alpha_beta", 1),
        Clause("should", "phrase", "beta_gamma x y"),
        Clause("should", "wildcard", "al?ha_b*"),
    ]
    texts = [
        "alpha_beta gamma", "alpha beta", "alpha beta gamma", "beta_gamma alpha",
        "alpha_beta alpha_beta delta", "gamma delta", "beta", "alpha_beta beta_gamma",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    idx = build_index(spark, docs, str(tmp_path / "re_idx"), conf=conf)
    rows = [(0, "alpha_beta"), (1, "alpha_beta gamma"), (2, "beta_gamma delta")]

    def key(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in df.collect()
        )

    want = key(search(spark, idx, rows, k=5))
    assert len(want) == 12
    assert key(parsed_bm25_topk(docs, rows, k=5, conf=conf)) == want
    assert key(parsed_bm25_topk_indexed(spark, idx, rows, k=5)) == want

    lit = spark.createDataFrame([(0, "alpha_x"), (1, "alphax")], "doc_id long, text string")
    got = parsed_bm25_topk(lit, [(0, "alpha_*")], k=5, conf=conf).collect()
    assert [r["doc_id"] for r in got] == [0]
