"""Block-max skipping inside the MaxScore kernel: deferred (hot) lists must
skip decoding blocks whose [first_doc, last_doc] range contains no surviving
candidate — and the skips must not change a single rank or score (the skip
is exactness-preserving by construction: a skipped block holds no survivor).
The kernel is invoked directly on collected block rows so the decode
counters are observable (Spark python workers are separate processes)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import math

from igd_spark import IndexConf, build_index, exact_bm25_topk
from igd_spark.corpus import assign_doc_ids
from igd_spark.search import _maxscore_kernel, query_terms


def idf_py(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)

CONF = IndexConf(block_size=8, n_shards=4, salt_df_threshold=64, max_salts=4)
K = 5


@pytest.fixture(scope="module")
def kernel_inputs(spark, tiny_docs, tmp_path_factory):
    docs = assign_doc_ids(tiny_docs, CONF).cache()
    path = str(tmp_path_factory.mktemp("bmx") / "idx")
    idx = build_index(spark, docs, path, conf=CONF)
    # one query mixing a rare probe term (essential bootstrap) with the
    # hottest Zipf term (big, low-idf list -> deferred)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "query_text": ["error t00000"]})
    )
    qt = {r["term"] for r in query_terms(queries).collect()}
    drows = idx.dictionary.filter(idx.dictionary.term.isin(list(qt))).collect()
    term_ids = {r["term"]: int(r["term_id"]) for r in drows}
    dfs = {r["term"]: int(r["df"]) for r in drows}
    blocks = (
        idx.segments.filter(idx.segments.term_id.isin(list(term_ids.values())))
        .toPandas()
    )
    qpdf = pd.DataFrame(
        {
            "query_id": [0] * len(drows),
            "term_id": [term_ids[t] for t in sorted(term_ids)],
            "idf": [idf_py(idx.n_docs, dfs[t]) for t in sorted(term_ids)],
        }
    )
    return docs, idx, blocks, qpdf


def test_deferred_fold_skips_blocks_and_stays_exact(spark, kernel_inputs):
    docs, idx, blocks, qpdf = kernel_inputs
    stats: dict = {}
    kernel = _maxscore_kernel(K, 0, CONF.k1, CONF.b, idx.avgdl, stats=stats)
    out = kernel(blocks, qpdf)
    assert stats["blocks_skipped"] > 0, (
        f"hot-list fold decoded every block ({stats}) — block-max skipping "
        "is not engaging on the Zipf fixture"
    )
    assert stats["blocks_decoded"] < len(blocks)
    # exactness: identical ranks AND scores vs the index-free scorer
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "query_text": ["error t00000"]})
    )
    want = exact_bm25_topk(docs, queries, k=K, conf=CONF).collect()
    want_key = [(r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9)) for r in want]
    got = out.sort_values("rank")
    got_key = [
        (int(q), int(rk), int(d), round(float(s), 9))
        for q, rk, d, s in zip(got["query_id"], got["rank"], got["doc_id"], got["score"])
    ]
    assert got_key == want_key


def test_skip_never_engages_without_deferral(spark, kernel_inputs):
    """A pure rare-term query has no deferred lists — the skip path must not
    fire (and the kernel must still answer correctly)."""
    docs, idx, blocks, qpdf = kernel_inputs
    one = qpdf[qpdf["idf"] == qpdf["idf"].max()].reset_index(drop=True)
    stats: dict = {}
    kernel = _maxscore_kernel(K, 0, CONF.k1, CONF.b, idx.avgdl, stats=stats)
    out = kernel(blocks, one)
    assert len(out) > 0
    assert stats["blocks_skipped"] == 0


def test_essential_demotion_skips_and_stays_exact():
    """Full-BMW essential side, SOUND variant: demotion may only fire when
    suffix[i] + deferred σ-sum < θ, where θ has RISEN above the bootstrap
    via per-minted-list kth refresh. Constructed so the anchor list (σ=25,
    8 docs) lifts θ to 25, the remaining essential mass (11 + 10, deferred
    empty) is below it, and the multi-block tail list t_tail shares no doc
    with the candidates — its 2 blocks must be skipped outright
    (blocks_skipped_essential == 2) with zero change to the exact result
    (doc 1 = 25 + 10 = 35)."""
    avgdl = 10.0
    blocks = pd.DataFrame(
        [
            _block_row(1, [1], avgdl=avgdl),                 # boot: idf 10, cheapest -> θ0 = 10
            _block_row(2, list(range(1, 9)), avgdl=avgdl),   # anchor: idf 25 -> θ -> 25
            _block_row(3, list(range(200, 208)), avgdl=avgdl, block_id=0),  # tail blk 0
            _block_row(3, list(range(208, 216)), avgdl=avgdl, block_id=1),  # tail blk 1
        ]
    )
    qpdf = pd.DataFrame(
        {
            "query_id": [0, 0, 0],
            "term_id": [1, 2, 3],
            "idf": [10.0, 25.0, 11.0],
        }
    )
    stats: dict = {}
    kernel = _maxscore_kernel(1, 0, 1.2, 0.75, avgdl, stats=stats)
    out = kernel(blocks, qpdf).sort_values("rank")
    assert stats["blocks_skipped_essential"] == 2, (
        f"tail list's 2 non-intersecting blocks must be skipped: {stats}"
    )
    # exact: doc 1 is in boot (10) + anchor (25); tail docs score only 11
    assert list(out["doc_id"]) == [1]
    assert list(np.round(out["score"], 9)) == [35.0]


def _block_row(term_id: int, doc_ids, idf_unused=None, avgdl=10.0, block_id=0):
    """One block row holding the given postings, all tf=1 and dl=avgdl so
    every posting's tf-dl weight is exactly 1.0 (and ub_tf_dl = 1.0):
    a doc's score is then just the sum of idf over its lists."""
    from igd_spark import codec

    d = np.asarray(sorted(doc_ids), dtype=np.int64)
    ones = np.ones(d.size, dtype=np.int64)
    return {
        "term_id": term_id,
        "salt": 0,
        "block_id": block_id,
        "n": int(d.size),
        "first_doc": int(d[0]),
        "last_doc": int(d[-1]),
        "doc_ids": codec.encode_doc_ids(d),
        "tfs": codec.varint_encode(ones),
        "dls": codec.varint_encode(ones * int(avgdl)),
        "max_tf": 1,
        "min_dl": int(avgdl),
        "ub_tf_dl": 1.0,
        "b_avgdl": float(avgdl),
    }


def test_demoted_tail_plus_deferred_cannot_drop_true_topk():
    """Adversarial soundness case for essential-list demotion: a doc that
    appears ONLY in the demoted tail essential list and a deferred list,
    whose combined score exceeds the kth candidate, must still be found.
    The demotion bound must include Σ_deferred σ — suffix[i] < θ0 alone is
    unsound (suffix + Σ_def can exceed θ0 ≤ kth-final). Constructed so the
    bootstrap θ0 = 6.0, σs are (t2=6, t1=5, t4=4.5, t3=4), t3 defers,
    t4's demotion test sees suffix=4.5 < θ0 but 4.5 + 4.0 = 8.5 ≥ θ0,
    and doc 99 (in t4 + t3 only) is the true top-1 at 8.5."""
    avgdl = 10.0
    blocks = pd.DataFrame(
        [
            _block_row(1, [1], avgdl=avgdl),    # idf 5.0 → doc1 = 5.0
            _block_row(2, [2], avgdl=avgdl),    # idf 6.0 → doc2 = 6.0
            _block_row(3, [99], avgdl=avgdl),   # idf 4.0 ┐ doc99 = 8.5
            _block_row(4, [99], avgdl=avgdl),   # idf 4.5 ┘ (true top-1)
        ]
    )
    qpdf = pd.DataFrame(
        {
            "query_id": [0, 0, 0, 0],
            "term_id": [1, 2, 3, 4],
            "idf": [5.0, 6.0, 4.0, 4.5],
        }
    )
    kernel = _maxscore_kernel(1, 0, 1.2, 0.75, avgdl)
    out = kernel(blocks, qpdf).sort_values("rank")
    assert list(out["doc_id"]) == [99], (
        f"top-1 must be doc 99 (score 8.5 from tail+deferred lists); got "
        f"{list(zip(out['doc_id'], out['score']))}"
    )
    assert list(np.round(out["score"], 9)) == [8.5]


@pytest.mark.parametrize("min_tf", [0, 2])
def test_kernel_matches_bruteforce_on_random_lists(min_tf):
    """Randomized guard over the whole kernel (bootstrap, essential split,
    demotion, triage, deferred fold, min_tf filtering, tie-break): random
    multi-block lists with varied tf/dl and idfs vs a plain numpy
    brute-force scorer. Any unsound pruning path shows up as a
    dropped/mis-ranked doc."""
    from igd_spark import codec

    rng = np.random.default_rng(20260817 + min_tf)
    k1, b, avgdl, K = 1.2, 0.75, 12.0, 4
    for trial in range(25):
        n_terms = int(rng.integers(2, 6))
        rows, truth = [], {}
        qp = {"query_id": [], "term_id": [], "idf": []}
        for tid in range(1, n_terms + 1):
            idf = float(np.round(rng.uniform(0.05, 8.0), 3))
            n_docs = int(rng.integers(1, 40))
            docs = np.sort(rng.choice(np.arange(1, 120), size=n_docs, replace=False))
            tfs = rng.integers(1, 6, size=n_docs)
            dls = rng.integers(4, 30, size=n_docs)
            # split into blocks of ≤8 postings
            for bi, st in enumerate(range(0, n_docs, 8)):
                d = docs[st:st + 8]
                t = tfs[st:st + 8].astype(np.int64)
                l = dls[st:st + 8].astype(np.int64)
                w = t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * l / avgdl))
                rows.append({
                    "term_id": tid, "salt": 0, "block_id": bi, "n": int(d.size),
                    "first_doc": int(d[0]), "last_doc": int(d[-1]),
                    "doc_ids": codec.encode_doc_ids(d.astype(np.int64)),
                    "tfs": codec.varint_encode(t), "dls": codec.varint_encode(l),
                    "max_tf": int(t.max()), "min_dl": int(l.min()),
                    "ub_tf_dl": float(w.max()), "b_avgdl": avgdl,
                })
            w_all = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
            for doc, tfv, wv in zip(docs, tfs, w_all):
                if tfv >= min_tf:
                    truth[int(doc)] = truth.get(int(doc), 0.0) + idf * float(wv)
            qp["query_id"].append(0); qp["term_id"].append(tid); qp["idf"].append(idf)
        kernel = _maxscore_kernel(K, min_tf, k1, b, avgdl)
        got = kernel(pd.DataFrame(rows), pd.DataFrame(qp)).sort_values("rank")
        want = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:K]
        assert list(got["doc_id"]) == [d for d, _ in want], f"trial {trial}"
        assert np.allclose(got["score"], [s for _, s in want]), f"trial {trial}"


class _Bc:
    """Spark-broadcast stand-in: the kernel reads only ``.value``."""

    def __init__(self, value):
        self.value = value


def _random_bucket(rng, k1, b, avgdl):
    """Block rows of random multi-salt lists plus the exact postings.

    Every term's docs are split over pmod(doc, n_salts) salts like the
    builder's; some lists arrive as two batches whose block ids both
    start at 0 (an append before compaction), and some blocks carry a
    stale b_avgdl with a bound computed under it, so the kernel must take
    the loose (max_tf, min_dl) bound for them. Rows come back shuffled."""
    from igd_spark import codec

    rows, postings = [], {}
    for tid in range(1, int(rng.integers(4, 9)) + 1):
        hot = rng.random() < 0.4
        n_docs = int(rng.integers(60, 160)) if hot else int(rng.integers(1, 25))
        docs = np.sort(rng.choice(np.arange(1, 400), size=n_docs, replace=False))
        tfs = rng.integers(1, 6, size=n_docs)
        dls = rng.integers(4, 30, size=n_docs)
        postings[tid] = (docs, tfs, dls)
        n_salts = int(rng.choice([1, 2, 3]))
        for salt in range(n_salts):
            m = docs % n_salts == salt
            d, t, l = docs[m], tfs[m], dls[m]
            batches = [np.arange(d.size)]
            if d.size > 4 and rng.random() < 0.3:
                cut = rng.random(d.size) < 0.5
                batches = [np.flatnonzero(cut), np.flatnonzero(~cut)]
            for sel in batches:
                for bi, st in enumerate(range(0, sel.size, 8)):
                    j = sel[st:st + 8]
                    bd, bt, bl = d[j], t[j].astype(np.int64), l[j].astype(np.int64)
                    b_avgdl = avgdl if rng.random() < 0.7 else avgdl * 0.75
                    w = bt * (k1 + 1.0) / (bt + k1 * (1.0 - b + b * bl / b_avgdl))
                    rows.append({
                        "term_id": tid, "salt": salt, "block_id": bi,
                        "n": int(bd.size), "first_doc": int(bd[0]),
                        "last_doc": int(bd[-1]),
                        "doc_ids": codec.encode_doc_ids(bd.astype(np.int64)),
                        "tfs": codec.varint_encode(bt), "dls": codec.varint_encode(bl),
                        "max_tf": int(bt.max()), "min_dl": int(bl.min()),
                        "ub_tf_dl": float(w.max()), "b_avgdl": b_avgdl,
                    })
    blocks = pd.DataFrame(rows).sample(frac=1.0, random_state=int(rng.integers(1 << 30)))
    return blocks.reset_index(drop=True), postings


def _random_queries(rng, term_ids, first_qid):
    """qmap rows of queries over a small term pool, so lists are shared."""
    idf = {t: float(np.round(rng.uniform(0.05, 8.0), 3)) for t in term_ids}
    qp = {"query_id": [], "term_id": [], "idf": []}
    for qid in range(first_qid, first_qid + int(rng.integers(3, 8))):
        for t in rng.choice(term_ids, size=int(rng.integers(1, 5)), replace=False):
            qp["query_id"].append(qid)
            qp["term_id"].append(int(t))
            qp["idf"].append(idf[int(t)])
    return pd.DataFrame(qp).sample(frac=1.0, random_state=int(rng.integers(1 << 30)))


def _bruteforce(postings, qpdf, k, min_tf, k1, b, avgdl, deleted):
    want = {}
    for qid, g in qpdf.groupby("query_id"):
        acc: dict[int, float] = {}
        for tid, idf in zip(g["term_id"], g["idf"]):
            docs, tfs, dls = postings[int(tid)]
            w = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
            for doc, tf, wv in zip(docs, tfs, w):
                if tf >= min_tf and int(doc) not in deleted:
                    acc[int(doc)] = acc.get(int(doc), 0.0) + float(idf) * float(wv)
        want[int(qid)] = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return want


@pytest.mark.parametrize("min_tf", [0, 2])
def test_kernel_matches_bruteforce_on_random_multi_query_buckets(min_tf):
    """Whole-bucket guard: several queries sharing multi-salt lists, rows in
    shuffled order, stale-avgdl blocks, tombstones and min_tf — two buckets
    through ONE kernel instance, so the second call runs on warm list and
    block caches. Doc ids must match a brute-force scorer exactly and
    scores within 1e-9."""
    rng = np.random.default_rng(20261017 + min_tf)
    k1, b, avgdl, K = 1.2, 0.75, 12.0, 3
    skipped = 0
    for trial in range(12):
        blocks, postings = _random_bucket(rng, k1, b, avgdl)
        term_ids = np.array(sorted(postings))
        deleted = np.unique(rng.integers(1, 400, size=int(rng.integers(0, 40))))
        stats: dict = {}
        kernel = _maxscore_kernel(
            K, min_tf, k1, b, avgdl, stats=stats, deleted_bc=_Bc(deleted)
        )
        for call in range(2):
            qpdf = _random_queries(rng, term_ids, 100 * call)
            shuffled = blocks.sample(frac=1.0, random_state=trial * 2 + call)
            got = kernel(shuffled, qpdf)
            want = _bruteforce(postings, qpdf, K, min_tf, k1, b, avgdl, set(deleted.tolist()))
            for qid, top in want.items():
                g = got[got["query_id"] == qid].sort_values("rank")
                assert list(g["rank"]) == list(range(1, len(top) + 1)), (trial, call, qid)
                assert list(g["doc_id"]) == [d for d, _ in top], (trial, call, qid)
                assert np.allclose(g["score"], [s for _, s in top], rtol=0, atol=1e-9)
            assert set(got["query_id"]) <= set(want)
        skipped += stats["blocks_skipped"]
    assert skipped > 0, "block-max skipping never engaged on the random buckets"


def test_block_cache_positions_survive_tied_block_ids_in_any_order():
    """Append batches restart block ids, so a list's middle blocks can tie
    on block_id. The per-block cache addresses blocks by their position in
    the list, so two buckets that receive the tied blocks in opposite
    orders must still agree on every position. List t3 holds base blocks
    0-2 and one appended block 1; the rare lists t1/t2 (one doc each)
    defer t3, whose survivor-only decode then goes through the per-block
    cache. The first bucket caches the base block holding doc 150; the
    second needs the appended block holding doc 1050 and must not be
    handed the cached base block instead (doc 1050 would lose t3's 1.0)."""
    avgdl = 10.0
    base = [
        _block_row(3, range(10, 18), avgdl=avgdl, block_id=0),
        _block_row(3, [*range(100, 107), 150], avgdl=avgdl, block_id=1),
        _block_row(3, range(200, 208), avgdl=avgdl, block_id=2),
    ]
    appended = [_block_row(3, range(1050, 1058), avgdl=avgdl, block_id=1)]
    stats: dict = {}
    kernel = _maxscore_kernel(1, 0, 1.2, 0.75, avgdl, stats=stats)
    for rare, doc, t3_rows in (
        (1, 150, base + appended),
        (2, 1050, appended + base),
    ):
        skipped = stats.get("blocks_skipped", 0)
        blocks = pd.DataFrame([_block_row(rare, [doc], avgdl=avgdl), *t3_rows])
        qpdf = pd.DataFrame(
            {"query_id": [0, 0], "term_id": [rare, 3], "idf": [10.0, 1.0]}
        )
        out = kernel(blocks, qpdf)
        assert stats["blocks_skipped"] - skipped == 3, stats
        assert list(out["doc_id"]) == [doc]
        assert list(np.round(out["score"], 9)) == [11.0]
