"""Driver-side positional route (LocalSearcher.phrase_n / near_n /
span_first_n): must be value-identical to the distributed positional
readers on every phrase/NEAR/span shape, cover appends and tombstones,
demote to the cluster when the occurrence budget is exceeded, and run
warm without launching any Spark job — the in-process proximity analog
of the reference's getOverlaps (src_py/igd_py.pyx:31-38)."""

from __future__ import annotations

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from igd_spark import (
    IndexConf,
    build_index,
    delete_docs,
    phrase_match,
    phrase_match_indexed,
    span_first_match,
    span_first_match_indexed,
)
from igd_spark.corpus import assign_doc_ids
from igd_spark.index import append_index
from igd_spark.querylang import near_match, near_match_indexed

CONF = IndexConf(
    block_size=32,
    n_shards=8,
    salt_df_threshold=64,
    max_salts=4,
    store_positions=True,
)

PHRASES = [
    (0, "the import"),
    (1, "error timeout"),
    (2, "the the"),            # duplicate term in phrase
    (3, "t00000"),
    (4, "no such phrase zz"),  # zero hits
    (5, ""),                   # empty phrase
]


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id long, query_text string")


def _sorted(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return (
        pdf.sort_values(list(pdf.columns))
        .reset_index(drop=True)
        .astype({c: "int64" for c in pdf.columns})
    )


@pytest.fixture(scope="module")
def built(spark, tiny_docs, tmp_path_factory):
    docs = assign_doc_ids(tiny_docs, CONF).cache()
    path = str(tmp_path_factory.mktemp("lposidx") / "idx")
    return docs, build_index(spark, docs, path, conf=CONF)


def test_xxh64_matches_spark(spark):
    """hashing.xxh64_py must reproduce F.xxhash64 bit-for-bit — the literal
    positional contract hangs on term_id == xxhash64(term) for terms the
    analyzer removed from the dictionary."""
    from igd_spark.hashing import xxh64_py

    strs = [
        "", "a", "the", "abcdefg", "12345678", "123456789",
        "x" * 31, "x" * 32, "x" * 33, "x" * 100,
        "Ünïcødé tøkén", "日本語のテスト", "tab\tand\nnewline",
    ]
    rows = spark.createDataFrame(
        [(s,) for s in strs], "s string"
    ).select("s", F.xxhash64("s").alias("h")).collect()
    for r in rows:
        assert xxh64_py(r["s"]) == int(r["h"]), r["s"]


def test_phrase_driver_matches_spark(spark, built):
    docs, idx = built
    ph = _queries(spark, PHRASES)
    want = _sorted(phrase_match(docs, ph, conf=CONF))
    a = _sorted(phrase_match_indexed(spark, idx, ph, engine="driver"))
    b = _sorted(phrase_match_indexed(spark, idx, ph, engine="spark"))
    pd.testing.assert_frame_equal(a, want)
    pd.testing.assert_frame_equal(b, want)
    assert len(want) > 0


def test_near_driver_matches_spark(spark, built):
    docs, idx = built
    q = _queries(
        spark,
        [(0, "error timeout"), (1, "the import hash"), (2, "t00000"),
         (3, "zzznope error")],
    )
    for window in (3, 10):
        want = _sorted(near_match(docs, q, window=window, conf=CONF))
        a = _sorted(near_match_indexed(spark, idx, q, window=window, engine="driver"))
        b = _sorted(near_match_indexed(spark, idx, q, window=window, engine="spark"))
        pd.testing.assert_frame_equal(a, want)
        pd.testing.assert_frame_equal(b, want)
        assert len(want) > 0


def test_span_first_driver_matches_spark(spark, built):
    docs, idx = built
    q = _queries(spark, [(0, "error timeout"), (1, "the"), (2, "zzznope")])
    for end in (1, 6):
        want = _sorted(span_first_match(docs, q, end, conf=CONF))
        a = _sorted(span_first_match_indexed(spark, idx, q, end, engine="driver"))
        b = _sorted(span_first_match_indexed(spark, idx, q, end, engine="spark"))
        pd.testing.assert_frame_equal(a, want)
        pd.testing.assert_frame_equal(b, want)
        assert len(want) > 0


def test_positional_route_native_input(spark, built):
    """list / pandas query input short-circuits createDataFrame on the
    driver route and materializes on the spark route — all four forms
    value-identical."""
    docs, idx = built
    ph_rows = [(0, "the import"), (1, "error timeout")]
    want = _sorted(phrase_match(docs, _queries(spark, ph_rows), conf=CONF))
    for qin in (ph_rows, pd.DataFrame(ph_rows, columns=["query_id", "query_text"])):
        a = _sorted(phrase_match_indexed(spark, idx, qin, engine="driver"))
        b = _sorted(phrase_match_indexed(spark, idx, qin, engine="spark"))
        pd.testing.assert_frame_equal(a, want)
        pd.testing.assert_frame_equal(b, want)


def test_positional_route_covers_appends(spark, built, tmp_path):
    docs, _ = built
    path = str(tmp_path / "apidx")
    first = docs.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    second = docs.filter(F.crc32(F.col("conv_id")) % 2 == 1)
    build_index(spark, first, path, conf=CONF)
    idx = append_index(spark, path, second, batch_tag="lp1")
    ph = _queries(spark, PHRASES)
    want = _sorted(phrase_match_indexed(spark, idx, ph, engine="spark"))
    got = _sorted(phrase_match_indexed(spark, idx, ph, engine="driver"))
    pd.testing.assert_frame_equal(got, want)
    assert len(want) > 0


def test_positional_route_respects_tombstones(spark, built, tmp_path):
    docs, _ = built
    path = str(tmp_path / "delidx")
    build_index(spark, docs, path, conf=CONF)
    ph = _queries(spark, PHRASES)
    full = _sorted(phrase_match_indexed(spark, open_idx(spark, path), ph, engine="driver"))
    victims = sorted({int(d) for d in full["doc_id"]})[:3]
    idx = delete_docs(
        spark, path,
        spark.createDataFrame([(d,) for d in victims], "doc_id long"),
    )
    want = _sorted(phrase_match_indexed(spark, idx, ph, engine="spark"))
    got = _sorted(phrase_match_indexed(spark, idx, ph, engine="driver"))
    pd.testing.assert_frame_equal(got, want)
    assert not set(victims) & set(want["doc_id"])


def open_idx(spark, path):
    from igd_spark import open_index

    return open_index(spark, path)


def test_positional_budget_demotion(spark, built, monkeypatch):
    """Over-budget batches demote to the distributed plan under "auto"
    (identical results) and raise under "driver" — the 100 TB guard."""
    docs, idx = built
    from igd_spark.local import local_searcher

    ls = local_searcher(idx)
    ls._pos_cache.clear()  # force the footer-bound admission tier
    ls._pos_cache_occ = 0
    monkeypatch.setenv("IGD_SEARCH_DRIVER_MAX_POSTINGS", "1")
    ph = _queries(spark, [(0, "the import")])
    want = _sorted(phrase_match(docs, ph, conf=CONF))
    got = _sorted(phrase_match_indexed(spark, idx, ph, engine="auto"))
    pd.testing.assert_frame_equal(got, want)
    with pytest.raises(ValueError, match="driver_search_max_postings"):
        phrase_match_indexed(spark, idx, ph, engine="driver")
    # every driver-routed entry point goes through one admission gate:
    # disabled budgets refuse engine="driver" and an unknown engine is
    # rejected, both before any Spark job
    import igd_spark as ig

    entry_points = {
        "search": lambda e: ig.search(spark, idx, ph, engine=e),
        "phrase": lambda e: phrase_match_indexed(spark, idx, ph, engine=e),
        "near": lambda e: near_match_indexed(spark, idx, ph, engine=e),
        "intervals": lambda e: ig.intervals_match_indexed(spark, idx, ph, engine=e),
        "span_first": lambda e: span_first_match_indexed(spark, idx, ph, 3, engine=e),
        "span_or": lambda e: ig.span_or_match_indexed(spark, idx, ph, "t00000", engine=e),
        "span_containing": lambda e: ig.span_containing_match_indexed(
            spark, idx, ph, "t00000", engine=e),
        "span_within": lambda e: ig.span_within_match_indexed(
            spark, idx, ph, "t00000", engine=e),
        "span_multi": lambda e: ig.span_multi_match_indexed(spark, idx, ph, "t0", engine=e),
        "span_not": lambda e: ig.span_not_match_indexed(spark, idx, ph, "t00000", engine=e),
        "phrase_prefix": lambda e: ig.match_phrase_prefix_indexed(spark, idx, ph, engine=e),
        "bool": lambda e: ig.bool_bm25_topk_indexed(spark, idx, ph, engine=e),
        "prefix": lambda e: ig.prefix_bm25_topk_indexed(spark, idx, ph, engine=e),
        "wildcard": lambda e: ig.wildcard_bm25_topk_indexed(spark, idx, ph, engine=e),
        "complete": lambda e: ig.complete_terms_indexed(spark, idx, ph, engine=e),
        "tfidf": lambda e: ig.tfidf_topk_indexed(spark, idx, ph, engine=e),
    }
    monkeypatch.setenv("IGD_SEARCH_DRIVER_MAX_QUERIES", "0")
    for name, call in entry_points.items():
        with pytest.raises(ValueError, match="disabled"):
            call("driver")
        with pytest.raises(ValueError, match="engine must be"):
            call("bogus")


def test_phrase_driver_warm_launches_no_jobs(spark, built):
    """The point of the route: warm proximity queries at interactive
    latency with zero cluster scheduling."""
    _, idx = built
    ph = [(0, "t00000"), (1, "error timeout")]  # t00000 occurs by fixture
    phrase_match_indexed(spark, idx, ph, engine="driver").collect()  # warm
    from igd_spark.local import local_searcher

    ls = local_searcher(idx)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = tracker.getJobIdsForGroup(None)
    t0 = time.time()
    out = ls.phrase_n(ph)
    dt = time.time() - t0
    assert len(out) > 0
    assert tracker.getJobIdsForGroup(None) == jobs_before
    assert dt < 2.0, f"warm phrase driver path took {dt:.2f}s"


def test_no_positions_demotes_loudly(spark, tiny_docs, tmp_path):
    conf = IndexConf(block_size=32, n_shards=8)  # no positions
    docs = assign_doc_ids(tiny_docs, conf)
    idx = build_index(spark, docs, str(tmp_path / "npidx"), conf=conf)
    ph = _queries(spark, [(0, "the import")])
    with pytest.raises(ValueError, match="positions"):
        phrase_match_indexed(spark, idx, ph, engine="driver")


def test_span_or_driver_matches_spark(spark, built):
    from igd_spark import span_or_match, span_or_match_indexed

    docs, idx = built
    q = _queries(
        spark,
        [(0, "t00001 whatever"), (1, "t00003 zzz"), (2, "zzznotavocab x")],
    )
    alts = "t00000 t00002"
    want = _sorted(span_or_match(docs, q, alts, span=5, conf=CONF))
    a = _sorted(span_or_match_indexed(spark, idx, q, alts, span=5, engine="driver"))
    b = _sorted(span_or_match_indexed(spark, idx, q, alts, span=5, engine="spark"))
    pd.testing.assert_frame_equal(a, want)
    pd.testing.assert_frame_equal(b, want)
    assert len(want) > 0
    # per-query alternative FRAMES must demote (shared-string contract)
    altf = spark.createDataFrame([(0, "timeout")], "query_id long, alt_text string")
    with pytest.raises(ValueError, match="distributed plan"):
        span_or_match_indexed(spark, idx, q, altf, span=5, engine="driver")


def test_span_pair_driver_matches_spark(spark, built):
    from igd_spark import (
        span_containing_match,
        span_containing_match_indexed,
        span_within_match,
        span_within_match_indexed,
    )

    docs, idx = built
    q = _queries(
        spark,
        [(0, "t00000 t00001"), (1, "t00002 t00000"), (2, "zzz t00001")],
    )
    little = "t00003"
    for corpus_fn, idx_fn in (
        (span_containing_match, span_containing_match_indexed),
        (span_within_match, span_within_match_indexed),
    ):
        want = _sorted(corpus_fn(docs, q, little, span=6, conf=CONF))
        a = _sorted(idx_fn(spark, idx, q, little, span=6, engine="driver"))
        b = _sorted(idx_fn(spark, idx, q, little, span=6, engine="spark"))
        pd.testing.assert_frame_equal(a, want)
        pd.testing.assert_frame_equal(b, want)
        assert len(want) > 0
    # per-query little FRAMES must demote (shared-string contract)
    lf = spark.createDataFrame([(0, "t00003")], "query_id long, exclude_text string")
    with pytest.raises(ValueError, match="distributed plan"):
        span_containing_match_indexed(spark, idx, q, lf, span=6, engine="driver")


def test_span_multi_driver_matches_spark(spark, built):
    from igd_spark import span_multi_match, span_multi_match_indexed

    docs, idx = built
    q = _queries(spark, [(0, "t00001 x"), (1, "t00004 y")])
    want = _sorted(span_multi_match(docs, q, "t0000", span=4, conf=CONF))
    a = _sorted(span_multi_match_indexed(spark, idx, q, "t0000", span=4,
                                         engine="driver"))
    b = _sorted(span_multi_match_indexed(spark, idx, q, "t0000", span=4,
                                         engine="spark"))
    pd.testing.assert_frame_equal(a, want)
    pd.testing.assert_frame_equal(b, want)
    assert len(want) > 0
    # the expansion cap stays loud on the driver route too
    with pytest.raises(ValueError, match="max_expanded_terms"):
        span_multi_match_indexed(spark, idx, q, "t", span=4,
                                 max_expanded_terms=2, engine="driver")


def test_span_not_driver_matches_spark(spark, built):
    from igd_spark import span_not_match, span_not_match_indexed

    docs, idx = built
    q = _queries(spark, [(0, "t00001 t00002"), (1, "t00004")])
    exc = "t00000"
    want = _sorted(span_not_match(docs, q, exc, pre=2, post=2, conf=CONF))
    a = _sorted(span_not_match_indexed(spark, idx, q, exc, pre=2, post=2,
                                       engine="driver"))
    b = _sorted(span_not_match_indexed(spark, idx, q, exc, pre=2, post=2,
                                       engine="spark"))
    pd.testing.assert_frame_equal(a, want)
    pd.testing.assert_frame_equal(b, want)
    assert len(want) > 0
    lf = spark.createDataFrame([(0, "t00000")], "query_id long, exclude_text string")
    with pytest.raises(ValueError, match="distributed plan"):
        span_not_match_indexed(spark, idx, q, lf, pre=2, post=2, engine="driver")
