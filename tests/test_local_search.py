"""Driver-side single-query path (igd_spark.local): must be rank- and
score-identical to the distributed scorer, cover append batches, and run
without launching any Spark job."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from igd_spark import IndexConf, build_index, search, search_one
from igd_spark.corpus import assign_doc_ids
from igd_spark.index import append_index

CONF = IndexConf(block_size=32, n_shards=8, salt_df_threshold=64, max_salts=4)

QUERIES = ["error timeout", "t00000", "the import hash", "zzznope", "", "t00001 t00001"]


def _key(df):
    return [(r["rank"], r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.fixture(scope="module")
def built(spark, tiny_docs, tmp_path_factory):
    docs = assign_doc_ids(tiny_docs, CONF).cache()
    path = str(tmp_path_factory.mktemp("lidx") / "idx")
    return docs, build_index(spark, docs, path, conf=CONF)


def test_driver_path_matches_spark_path(spark, built):
    _, idx = built
    for q in QUERIES:
        got = _key(search_one(spark, idx, q, k=10, engine="driver"))
        want = _key(search_one(spark, idx, q, k=10, engine="spark"))
        assert got == want, q


def test_driver_path_min_tf(spark, built):
    _, idx = built
    got = _key(search_one(spark, idx, "the import", k=10, min_tf=2, engine="driver"))
    want = _key(search_one(spark, idx, "the import", k=10, min_tf=2, engine="spark"))
    assert got == want


def test_driver_path_covers_appends(spark, built, tmp_path):
    docs, _ = built
    path = str(tmp_path / "alidx")
    first = docs.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    second = docs.filter(F.crc32(F.col("conv_id")) % 2 == 1)
    build_index(spark, first, path, conf=CONF)
    idx = append_index(spark, path, second, batch_tag="lb1")
    q = spark.createDataFrame([(0, "error timeout")], "query_id long, query_text string")
    want = [
        (r["rank"], r["doc_id"], round(r["score"], 9))
        for r in search(spark, idx, q, k=10).collect()
    ]
    assert _key(search_one(spark, idx, "error timeout", k=10, engine="driver")) == want


BATCH = [
    (0, "error timeout"),
    (1, "t00000"),
    (2, "the import hash"),
    (3, "zzznope"),
    (4, ""),
    (5, "t00001 t00001"),
    (6, "error deploy timeout error"),
]


def _batch_key(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    )


def test_search_n_matches_spark_batch(spark, built):
    """The round-4 headline path: batched driver kernel must be
    rank-identical to the distributed scorer on a mixed batch."""
    _, idx = built
    q = spark.createDataFrame(BATCH, "query_id long, query_text string")
    want = _batch_key(search(spark, idx, q, k=10, engine="spark"))
    from igd_spark.local import local_searcher

    pdf = local_searcher(idx).search_n(BATCH, k=10)
    got = sorted(
        (int(r.query_id), int(r.rank), int(r.doc_id), round(float(r.score), 9))
        for r in pdf.itertuples()
    )
    assert got == want


def test_search_auto_routes_and_matches(spark, built):
    """search() default engine must pick the driver route for a small batch
    (zero Spark kernel jobs aside from collect/convert) and return the same
    ranks/scores as the forced distributed plan, min_tf included."""
    _, idx = built
    q = spark.createDataFrame(BATCH, "query_id long, query_text string")
    for mtf in (0, 2):
        tel = {}
        got = _batch_key(search(spark, idx, q, k=10, min_tf=mtf, telemetry=tel))
        assert tel.get("engine") == "driver", tel
        want = _batch_key(search(spark, idx, q, k=10, min_tf=mtf, engine="spark"))
        assert got == want, f"min_tf={mtf}"


def test_driver_route_budgets(spark, built, monkeypatch):
    """Both admission budgets must demote to the distributed plan (auto) or
    raise (engine='driver') — the 100 TB guard: hot batches never land on
    the driver."""
    _, idx = built
    q = spark.createDataFrame(BATCH, "query_id long, query_text string")
    for env, val in (
        ("IGD_SEARCH_DRIVER_MAX_POSTINGS", "5"),
        ("IGD_SEARCH_DRIVER_MAX_QUERIES", "2"),
    ):
        monkeypatch.setenv(env, val)
        tel = {}
        out = _batch_key(search(spark, idx, q, k=10, telemetry=tel))
        assert tel.get("engine") == "spark-small", (env, tel)
        assert out == _batch_key(search(spark, idx, q, k=10, engine="spark"))
        with pytest.raises(ValueError, match="driver"):
            search(spark, idx, q, k=10, engine="driver")
        monkeypatch.delenv(env)


def test_prune_max_terms_both_sides(spark, built, monkeypatch):
    """search_prune_max_terms: below the threshold the segment scan carries
    the In(shard)/In(term_id) filters, above it the scan stays wide — and
    results are identical either way (the broadcast bucket-join filters)."""
    _, idx = built
    q = spark.createDataFrame(BATCH, "query_id long, query_text string")
    tel_on, tel_off = {}, {}
    monkeypatch.setenv("IGD_SEARCH_PRUNE_MAX_TERMS", "512")
    on = _batch_key(search(spark, idx, q, k=10, engine="spark", telemetry=tel_on))
    monkeypatch.setenv("IGD_SEARCH_PRUNE_MAX_TERMS", "0")
    off = _batch_key(search(spark, idx, q, k=10, engine="spark", telemetry=tel_off))
    assert tel_on["scan_pruned"] is True and tel_off["scan_pruned"] is False
    assert on == off


def test_small_max_rows_both_sides(spark, built, tmp_path, monkeypatch):
    """search_small_max_rows: a file-backed query batch takes the
    one-collect small prologue under the threshold and the fully
    distributed plan above it (telemetry engine spark-small vs spark-huge),
    with identical results."""
    _, idx = built
    qpath = str(tmp_path / "queries.parquet")
    spark.createDataFrame(BATCH, "query_id long, query_text string").write.parquet(qpath)
    q = spark.read.parquet(qpath)
    tel_small, tel_huge = {}, {}
    small = _batch_key(search(spark, idx, q, k=10, engine="spark", telemetry=tel_small))
    monkeypatch.setenv("IGD_SEARCH_SMALL_MAX_ROWS", "0")
    huge = _batch_key(search(spark, idx, q, k=10, engine="spark", telemetry=tel_huge))
    assert tel_small["engine"] == "spark-small", tel_small
    assert tel_huge["engine"] == "spark-huge", tel_huge
    assert small == huge


def test_list_lru_eviction_stays_correct(spark, built):
    """Shrink the decoded-list budget below the working set: results must
    stay identical while the cache thrashes, and the postings accounting
    must not leak."""
    from igd_spark.local import LocalSearcher

    _, idx = built
    ls = LocalSearcher(idx)
    ls.CACHE_MAX_POSTINGS = 50  # far below any real list
    want = {
        q: [(int(r.rank), int(r.doc_id), round(float(r.score), 9))
            for r in ls.search_one(q, k=10).itertuples()]
        for q in QUERIES
    }
    for _ in range(3):  # re-run: every call faults lists back in
        for q in QUERIES:
            got = [(int(r.rank), int(r.doc_id), round(float(r.score), 9))
                   for r in ls.search_one(q, k=10).itertuples()]
            assert got == want[q], q
    assert ls._cache_postings == sum(
        v[0].size for v in ls._list_cache.values()
    )


def test_randomized_batches_driver_vs_spark(spark, built):
    """Randomized guard: arbitrary query batches (mixed vocab/OOV/dup-term/
    multi-row queries) must be rank-identical between the driver route and
    the distributed plan, with and without min_tf."""
    import random

    _, idx = built
    rng = random.Random(97)
    vocab = ["error", "timeout", "deploy", "the", "import", "hash",
             "t00000", "t00001", "t00042", "zzznope", ""]
    for trial in range(3):
        batch = []
        for qid in range(rng.randint(1, 12)):
            terms = rng.choices(vocab, k=rng.randint(1, 4))
            batch.append((qid, " ".join(terms)))
        if trial == 2:  # same query_id on multiple rows: terms must union
            batch.append((0, "deploy hash"))
        q = spark.createDataFrame(batch, "query_id long, query_text string")
        mtf = rng.choice([0, 2])
        tel = {}
        got = _batch_key(search(spark, idx, q, k=7, min_tf=mtf, telemetry=tel))
        assert tel.get("engine") == "driver", tel
        want = _batch_key(search(spark, idx, q, k=7, min_tf=mtf, engine="spark"))
        assert got == want, (trial, mtf, batch)


def test_search_n_covers_appends(spark, built, tmp_path):
    docs, _ = built
    path = str(tmp_path / "blidx")
    first = docs.filter(F.crc32(F.col("conv_id")) % 2 == 0)
    second = docs.filter(F.crc32(F.col("conv_id")) % 2 == 1)
    build_index(spark, first, path, conf=CONF)
    from igd_spark.index import append_index as _append

    idx = _append(spark, path, second, batch_tag="blb1")
    q = spark.createDataFrame(BATCH, "query_id long, query_text string")
    got = _batch_key(search(spark, idx, q, k=10))
    want = _batch_key(search(spark, idx, q, k=10, engine="spark"))
    assert got == want


def test_driver_path_launches_no_jobs(spark, built):
    """The whole point: interactive latency without cluster scheduling.
    Assert zero Spark jobs via the status tracker, and a sane wall time
    (loose bound — the VM is noisy; BENCH.md records the real p50)."""
    _, idx = built
    from igd_spark.local import local_searcher

    ls = local_searcher(idx)
    ls.search_one("error timeout", k=10)  # warm the dictionary cache
    tracker = spark.sparkContext.statusTracker()
    jobs_before = tracker.getJobIdsForGroup(None)
    t0 = time.time()
    out = ls.search_one("error timeout deploy", k=10)
    dt = time.time() - t0
    assert len(out) > 0
    assert tracker.getJobIdsForGroup(None) == jobs_before  # no Spark job ran
    assert dt < 2.0, f"driver path took {dt:.2f}s"


def test_local_query_input_forms(spark, built, monkeypatch):
    """search() must accept driver-native query input (pandas DataFrame /
    list of pairs — the reference's query-FILE shape) and return exactly
    the Spark-DataFrame-input results on every route: auto (driver kernel),
    forced distributed, and budget-demoted auto."""
    import pandas as pd

    _, idx = built
    q_spark = spark.createDataFrame(BATCH, "query_id long, query_text string")
    q_pd = pd.DataFrame(BATCH, columns=["query_id", "query_text"])
    want = _batch_key(search(spark, idx, q_spark, k=10, engine="spark"))

    for q_in in (q_pd, BATCH):
        tel = {}
        assert _batch_key(search(spark, idx, q_in, k=10, telemetry=tel)) == want
        assert tel.get("engine") == "driver", tel
        # forced distributed: local input materializes to a Spark DF
        assert _batch_key(search(spark, idx, q_in, k=10, engine="spark")) == want

    # budget demotion must ship the local input to the cluster, not fail
    monkeypatch.setenv("IGD_SEARCH_DRIVER_MAX_QUERIES", "2")
    tel = {}
    assert _batch_key(search(spark, idx, q_pd, k=10, telemetry=tel)) == want
    assert tel.get("engine") == "spark-small", tel

    # empty local input → empty result with the contract schema
    out = search(spark, idx, [], k=10)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "rank", "doc_id", "score"]


def test_segmented_block_decode_matches_per_block(monkeypatch):
    """_ensure_lists' single-pass segmented varint decode must equal the
    per-block codec.decode_doc_ids reference on multi-block, multi-term,
    interleaved reads — and drop (not mis-offset) a zero-posting row."""
    import pandas as pd
    from collections import OrderedDict

    import numpy as np

    from igd_spark import codec
    from igd_spark.local import LocalSearcher

    rng = np.random.default_rng(11)
    lists = {}  # tid -> list of (doc_ids, tfs, dls) blocks
    rows = []
    for tid in (3, 7, 9):
        docs = np.unique(rng.integers(0, 2**40, size=rng.integers(5, 60)))
        tfs = rng.integers(1, 9, size=docs.size)
        dls = rng.integers(1, 200, size=docs.size)
        blks = []
        for lo in range(0, docs.size, 16):
            d, t, l = docs[lo:lo+16], tfs[lo:lo+16], dls[lo:lo+16]
            blks.append((d, t, l))
            rows.append({
                "term_id": tid, "salt": 0, "n": d.size,
                "doc_ids": codec.encode_doc_ids(d),
                "tfs": codec.varint_encode(t.astype(np.uint64)),
                "dls": codec.varint_encode(l.astype(np.uint64)),
            })
        lists[tid] = (docs, tfs, dls)
    # adversarial zero-posting rows: LEADING (the case where a naive
    # ends[:-1]-1 offset index wraps to c[-1] and corrupts every id) and
    # mid-frame (harmless, must stay harmless)
    rows.insert(2, {"term_id": 7, "salt": 0, "n": 0,
                    "doc_ids": b"", "tfs": b"", "dls": b""})
    rows.insert(0, {"term_id": 3, "salt": 0, "n": 0,
                    "doc_ids": b"", "tfs": b"", "dls": b""})
    blocks = pd.DataFrame(rows)

    ls = LocalSearcher.__new__(LocalSearcher)
    ls._list_cache = OrderedDict()
    ls._cache_postings = 0
    ls._deleted = None
    ls.conf = type("C", (), {"n_shards": 1})()
    monkeypatch.setattr(ls, "_read_blocks", lambda tids, shards: blocks)
    tmap = {f"t{tid}": (tid, 1, 1) for tid in lists}
    ls._ensure_lists(tmap)
    for tid, (docs, tfs, dls) in lists.items():
        d, t, l = ls._list_cache[tid]
        assert np.array_equal(d, docs), tid
        assert np.array_equal(t.astype(np.int64), tfs), tid
        assert np.array_equal(l.astype(np.int64), dls), tid


def test_local_input_null_semantics(spark, built):
    """NaN/None query_text in driver-native input must behave exactly like
    a null in a Spark DataFrame (empty query → no rows), on both the driver
    route and the demoted distributed path; a null query_id raises."""
    import numpy as np
    import pandas as pd

    _, idx = built
    q_pd = pd.DataFrame(
        {"query_id": [0, 1], "query_text": ["error timeout", None]}
    )
    q_spark = spark.createDataFrame(
        [(0, "error timeout"), (1, None)], "query_id long, query_text string"
    )
    want = _batch_key(search(spark, idx, q_spark, k=10, engine="spark"))
    assert _batch_key(search(spark, idx, q_pd, k=10)) == want
    assert _batch_key(search(spark, idx, q_pd, k=10, engine="spark")) == want
    assert {r[0] for r in want} == {0}  # the null query contributes no rows

    with pytest.raises(ValueError, match="query_id"):
        search(spark, idx, pd.DataFrame(
            {"query_id": [np.nan], "query_text": ["x"]}), k=10)


def test_unbounded_path_tokenizes_with_the_index_regex(spark, tmp_path, monkeypatch):
    """An index built with a custom token_split_re must tokenize queries
    the same way on every route: the unbounded distributed plan
    (IGD_SEARCH_SMALL_MAX_ROWS=0) must match the driver route on queries
    whose tokens only the custom regex keeps whole."""
    conf = IndexConf(block_size=8, n_shards=2, token_split_re=r"[^a-z0-9_]+")
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

    driver = key(search(spark, idx, rows, k=5, engine="driver"))
    monkeypatch.setenv("IGD_SEARCH_SMALL_MAX_ROWS", "0")
    tel: dict = {}
    # a file-backed batch: driver-local frames always take the small prologue
    qpath = str(tmp_path / "re_queries.parquet")
    spark.createDataFrame(rows, "query_id long, query_text string").write.parquet(qpath)
    q = spark.read.parquet(qpath)
    unbounded = key(search(spark, idx, q, k=5, engine="spark", telemetry=tel))
    assert tel["engine"] == "spark-huge", tel
    assert {r[0] for r in driver} == {0, 1, 2}
    assert unbounded == driver
