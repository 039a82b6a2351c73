"""Query-side operators — the `igd search` analog (src/igd_search.c).

Two scorers, required to be rank-identical:

* exact_bm25_topk — index-free pure-DataFrame BM25 (join + hash agg + window
  top-k). The semantic baseline; every plan node is Catalyst-optimized JVM
  code. Analog of the reference's role as a counting engine: the hits[]
  accumulation (src/igd_search.c:491) is the groupBy(query_id, doc_id) sum.

* search — index-backed scorer: shard/row-group-pruned scan of the segment
  table (tile pruning analog, src/igd_search.c:459-464), broadcast of query
  terms (the reference streams queries one at a time, src/igd_search.c:708-714;
  Spark inverts this: set-at-a-time, one pass for the whole query set), then a
  per-query vectorized MaxScore/block-max kernel (block-max WAND family —
  descendant of the reference's running-max early-exit, src/igd_search.c:790-812)
  inside applyInPandas. Safe pruning: only provably sub-threshold docs are
  skipped, so top-k is exactly the exact scorer's top-k.
"""

from __future__ import annotations

import time
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from igd_spark import codec
from igd_spark.config import DEFAULT_CONF, IndexConf
from igd_spark.index import InvertedIndex
from igd_spark.local import _bm25_idf, _tokenize_ordered, local_searcher
from igd_spark.scoring import bm25_saturation, bm25_weight_col, idf_col
from igd_spark.stats import corpus_stats, doc_stats, term_stats
from igd_spark.tokenizer import postings, tokens_col

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def query_terms(
    queries: DataFrame, conf: IndexConf, text_col: str = "query_text"
) -> DataFrame:
    """(query_id, term) — distinct terms per query (duplicates score once,
    shared convention with oracle + SQL). The cross-row dropDuplicates also
    covers a query_id appearing on multiple input rows — without it, shared
    terms would double their BM25 contribution. The query side is always
    tiny relative to the corpus, so the extra shuffle is noise.

    ``conf`` IS the query analyzer: pass the conf (or ``idx.conf``) whose
    tokenizer produced the postings the terms are joined against — a query
    split with any other regex silently misses conf-tokenized terms."""
    return (
        queries.select(
            "query_id",
            F.explode(
                F.array_distinct(tokens_col(F.col(text_col), conf.token_split_re))
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .dropDuplicates(["query_id", "term"])
    )


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(score desc, doc_id asc) top-k per query — the Q11 tie-break rule."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _idf_join(
    terms: DataFrame, ts: DataFrame, n_docs: int, on: str | list | Column = "term"
) -> DataFrame:
    """``terms`` ⋈ a (term, df) table on ``on``, plus the BM25 ``idf``
    column — the one idf join of every DataFrame-statistics scorer.  Terms
    without a df row drop (unknown terms → 0 hits)."""
    return terms.join(ts, on).withColumn("idf", idf_col(n_docs, "df"))


class _Corpus(NamedTuple):
    """One corpus scan's scoring inputs (`_corpus_parts`)."""

    post: DataFrame  # (term, doc_id, tf)
    ds: DataFrame  # (doc_id, dl) for every doc
    ts: DataFrame  # (term, df)
    n_docs: int
    avgdl: float  # 0.0 for an empty corpus
    sum_dl: int
    qt: DataFrame | None  # conf-tokenized (query_id, term); None without queries

    @property
    def qt_idf(self) -> DataFrame:
        """(query_id, term, df, idf) — corpus-absent query terms drop."""
        return _idf_join(self.qt, self.ts, self.n_docs)


def _corpus_parts(
    docs: DataFrame,
    queries: DataFrame | None,
    conf: IndexConf,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> _Corpus:
    """The ONE prologue of every corpus-scan (index-free) scorer: postings,
    doc_stats and term_stats off the ``conf`` tokenizer, n_docs / avgdl /
    sum_dl from ONE stats job, and the query terms split by the same conf.
    An empty corpus yields avgdl 0.0 (SQL's average is NULL there) and
    empty postings, so every scorer built on it returns no rows."""
    post = postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    ds = doc_stats(docs, text_col=text_col, id_col=id_col, conf=conf)
    cs = corpus_stats(ds).collect()[0]
    qt = None if queries is None else query_terms(queries, conf)
    return _Corpus(
        post, ds, term_stats(post), int(cs["n_docs"]), float(cs["avgdl"] or 0.0),
        int(cs["sum_dl"]), qt,
    )


def _score_terms(
    post: DataFrame,
    ds: DataFrame,
    avgdl: float,
    qt_idf: DataFrame,
    conf: IndexConf,
    extra_aggs: tuple[Column, ...] = (),
    broadcast_terms: bool = True,
    min_tf: int = 0,
) -> DataFrame:
    """Score an explicit (query_id, term, idf) set: postings ⋈(broadcast)
    terms ⋈ doc_stats → hash agg on (query_id, doc_id), with optional extra
    aggregates riding the same agg.  min_tf is the value-threshold filter
    (src/igd_search.c:623-694 analog) pushed below the aggregation.
    ``broadcast_terms=False`` leaves the join strategy to Catalyst/AQE —
    for term sets of unbounded size (prefix expansion)."""
    qsel = qt_idf.select("query_id", "term", "idf")
    scored = post.join(F.broadcast(qsel) if broadcast_terms else qsel, "term")
    if min_tf > 0:
        scored = scored.filter(F.col("tf") >= min_tf)
    scored = scored.join(ds, "doc_id")
    w = bm25_weight_col(F.col("idf"), "tf", "dl", avgdl, conf.k1, conf.b)
    return scored.groupBy("query_id", "doc_id").agg(
        F.sum(w).alias("score"), *extra_aggs
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tf: int = 0,
) -> DataFrame:
    """Unranked exact BM25 scores (query_id, doc_id, score), pure DataFrame
    ops: the corpus prologue + `_score_terms`.  Plan shape: postings
    ⋈(broadcast) query-terms → ⋈ doc_stats on doc_id → partial+final hash
    agg on (query_id, doc_id)."""
    c = _corpus_parts(docs, queries, conf, text_col, id_col)
    return _score_terms(c.post, c.ds, c.avgdl, c.qt_idf, conf, min_tf=min_tf)


def exact_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tf: int = 0,
) -> DataFrame:
    """Index-free BM25 top-k (SURVEY §7.2 M2): bm25_scores + window top-k."""
    return rank_topk(
        bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col, min_tf=min_tf),
        k,
    )


# --------------------------------------------------------------------------
# Indexed scorer
# --------------------------------------------------------------------------


class _Bucket(NamedTuple):
    """One cogrouped bucket's block rows as flat numpy columns, lexsorted by
    (term_id, salt, block_id, first_doc). List ``li`` — one (term, salt)
    posting list — is the row range ``lo[li]:hi[li]``; the per-list fields
    are python lists so the per-query loop indexes them without numpy
    scalars."""

    n: np.ndarray  # per row: postings in the block
    first: np.ndarray  # per row: first_doc
    last: np.ndarray  # per row: last_doc
    doc_ids: np.ndarray  # per row: varint buffers (object arrays)
    tfs: np.ndarray
    dls: np.ndarray
    lo: list  # per list: first row
    hi: list  # per list: one past the last row
    tid: list
    salt: list
    npost: list  # postings in the list (bootstrap cost)
    ub: list  # max block score bound (list σ before idf)
    key: list  # task-cache key


def _bucket(pdf: pd.DataFrame, k1: float, b: float, avgdl: float) -> _Bucket:
    """Lexsort the bucket's rows once, cut them into lists with one
    change-point pass over (term_id, salt), and compute every list's
    bound, posting count and cache key with vectorized reduceat.

    Append batches restart block ids, so one list's rows can tie on
    block_id; first_doc breaks the tie (batches hold disjoint doc ranges).
    Arrival order must not decide it: the per-block cache addresses a
    list's blocks by position under a key that the shuffle order of tied
    middle blocks does not change.

    Block bounds: blocks whose stored ub was computed under the CURRENT
    avgdl use it (tight); blocks built before an append (different avgdl)
    get a safe bound from (max_tf, min_dl) — f(tf, dl) is increasing in tf
    and decreasing in dl."""
    tid = pdf["term_id"].to_numpy(dtype=np.int64)
    salt = pdf["salt"].to_numpy(dtype=np.int64)
    order = np.lexsort((
        pdf["first_doc"].to_numpy(dtype=np.int64),
        pdf["block_id"].to_numpy(dtype=np.int64),
        salt,
        tid,
    ))
    tid, salt = tid[order], salt[order]
    cut = np.ones(tid.size, dtype=bool)
    cut[1:] = (tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])
    lo = np.flatnonzero(cut)
    hi = np.append(lo[1:], tid.size)

    def col(name, dtype=None):
        return pdf[name].to_numpy(dtype=dtype)[order]

    n = col("n", np.int64)
    first = col("first_doc", np.int64)
    ub = col("ub_tf_dl", np.float64)
    stored_ok = np.isclose(col("b_avgdl", np.float64), avgdl, rtol=1e-12)
    if not stored_ok.all():
        mt = col("max_tf", np.float64)
        md = col("min_dl", np.float64)
        loose = bm25_saturation(mt, md, avgdl, k1, b)
        ub = np.where(stored_ok, ub, loose)
    npost = np.add.reduceat(n, lo).tolist()
    lo_l, hi_l = lo.tolist(), hi.tolist()
    tid_l, salt_l = tid[lo].tolist(), salt[lo].tolist()
    head_first, tail_first = first[lo].tolist(), first[hi - 1].tolist()
    return _Bucket(
        n=n,
        first=first,
        last=col("last_doc", np.int64),
        doc_ids=col("doc_ids"),
        tfs=col("tfs"),
        dls=col("dls"),
        lo=lo_l,
        hi=hi_l,
        tid=tid_l,
        salt=salt_l,
        npost=npost,
        ub=np.maximum.reduceat(ub, lo).tolist(),
        key=[
            (t, s, p, f0, f1, h - l)
            for t, s, p, f0, f1, l, h in zip(
                tid_l, salt_l, npost, head_first, tail_first, lo_l, hi_l
            )
        ],
    )


def _maxscore_kernel(
    k: int,
    min_tf: int,
    k1: float,
    b: float,
    avgdl: float,
    stats: dict | None = None,
    deleted_bc=None,
):
    """Bucketed, per-query-vectorized MaxScore (cogrouped form).

    Each kernel call receives ONE bucket of queries: the deduplicated union
    of their terms' posting blocks (a block travels the shuffle once per
    bucket, not once per query) cogrouped with the bucket's
    (query_id, term_id, idf) rows — the query map arrives as DATA, not in
    the closure, so a 10^6-query batch never materializes on the driver.
    Inside, every query runs the safe MaxScore loop over its own lists;
    decode work is shared through a task-local list cache (the reference's
    block cache, src/igd_search.c:469-475, generalized).

    Columnar layout (the reference's flat tile records,
    src/igd_search.c:454-534): the bucket's columns become numpy arrays
    once and are lexsorted by (term_id, salt, block_id, first_doc); each
    (term, salt) list is then a ROW RANGE of those arrays (_Bucket), with
    its score bound, posting count and cache key computed for the whole
    bucket by reduceat. The per-query loop touches no DataFrame, and the bucket's
    top-k leaves as ONE frame built from concatenated arrays.

    Safe (rank-identical) pruning: a doc is eliminated only when its score
    upper bound is provably below the k-th best final score, so exact ties
    (broken by doc_id asc) survive.

    Decode strategy: varint framing is self-delimiting, so an entire
    (term, salt) list decodes in ONE numpy pass over the concatenation of
    its block buffers (codec.decode_blocks, segmented cumsum). Block-level
    IO pruning happens a level up (shard partitions + term_id row-group
    min/max at the scan); once block rows reach the kernel, full-list
    decode + one searchsorted beats per-block lazy decode by ~10x in CPU.
    """

    _cache: dict = {}  # list key → (d, w) of the FULL list
    _bcache: dict = {}  # list key → {block idx in list → (d, w)} — per-BLOCK cache
    _cache_postings = [0]
    _CACHE_MAX_POSTINGS = 4_000_000  # ~64 MB of decoded arrays per task
    _stats = stats if stats is not None else {}
    _stats.setdefault("blocks_decoded", 0)
    _stats.setdefault("blocks_skipped", 0)
    _stats.setdefault("blocks_skipped_essential", 0)

    def _decode_rows(
        bk: _Bucket, rows
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Uncached decode of block rows ``rows`` (a slice or index array;
        any subset of a list — every block's first varint is an absolute
        doc id, so blocks decode independently). Returns (d, w, lens)
        where lens[i] = surviving postings of the i-th row (post-min_tf),
        so callers can split the concatenation back into per-block arrays."""
        n_arr = bk.n[rows]
        d, tf, dl = codec.decode_blocks(
            n_arr, bk.doc_ids[rows], bk.tfs[rows], bk.dls[rows]
        )
        m = tf >= min_tf if min_tf > 0 else None
        if deleted_bc is not None:
            # live-docs filter (Lucene tombstone semantics): deleted docs
            # vanish from results here at the decode boundary, while
            # idf/avgdl stay the handle's frozen stats — surviving docs'
            # scores are bit-identical pre/post delete. Stored block
            # bounds remain valid upper bounds (filtering only shrinks).
            from igd_spark.build import _live_mask

            live = _live_mask(d, deleted_bc.value)
            m = live if m is None else (m & live)
        if m is not None:
            # per-row surviving counts via padded cumsum, not reduceat:
            # reduceat mis-sizes zero-n rows (duplicate start indices)
            mc = np.concatenate(([0], np.cumsum(m.astype(np.int64))))
            ends = np.cumsum(n_arr)
            lens = mc[ends] - mc[ends - n_arr]
            d, tf, dl = d[m], tf[m], dl[m]
        else:
            lens = n_arr
        w = bm25_saturation(tf, dl, avgdl, k1, b)
        _stats["blocks_decoded"] += n_arr.size
        return d, w, lens

    def _evict() -> None:
        # evict BOTH caches: _cache_postings tracks their union, so
        # clearing only _cache would leave _bcache entries untracked and
        # let the 64 MB per-task bound be exceeded when the full-list and
        # block-skip paths interleave
        _cache.clear()
        _bcache.clear()
        _cache_postings[0] = 0

    def decode_list(bk: _Bucket, li: int) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, w) for one FULL (term, salt) list, task-cached. d is
        NOT globally sorted when base+delta appends interleave — consumers
        must not assume sortedness."""
        key = bk.key[li]
        hit = _cache.get(key)
        if hit is not None:
            return hit
        d, w, _ = _decode_rows(bk, slice(bk.lo[li], bk.hi[li]))
        if _cache_postings[0] + d.size > _CACHE_MAX_POSTINGS:
            _evict()
        _cache[key] = (d, w)
        _cache_postings[0] += d.size
        return d, w

    def blocks_hit(bk: _Bucket, li: int, uids: np.ndarray) -> np.ndarray:
        """Mask of list li's blocks whose [first_doc, last_doc] range
        contains ≥1 of the sorted ``uids``."""
        lo, hi = bk.lo[li], bk.hi[li]
        return np.searchsorted(uids, bk.first[lo:hi], side="left") < np.searchsorted(
            uids, bk.last[lo:hi], side="right"
        )

    def decode_for_survivors(
        bk: _Bucket, li: int, uids: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Block-max skipping for the deferred fold (the true block-max use
        of first_doc/last_doc, src/igd_search.c:790-812 descendant): only
        blocks whose [first_doc, last_doc] range contains ≥1 surviving
        candidate can change the final top-k — the rest are SKIPPED without
        decoding. Exactness-preserving by construction (a skipped block
        holds no surviving doc).

        Partially-decoded blocks land in a per-BLOCK cache (the reference's
        block cache, src/igd_search.c:469-475, at true block granularity):
        across a bucket's queries each block of a shared hot list decodes
        AT MOST once — without this, per-query partial decodes re-do the
        hot list's work per query and forfeit the 10× shared-decode win.
        Falls back to the full-list decode when the list is already cached
        or most blocks intersect anyway."""
        hit = _cache.get(bk.key[li])
        if hit is not None:
            return hit
        mask = blocks_hit(bk, li, uids)
        n_hit = int(mask.sum())
        if n_hit >= 0.5 * mask.size:
            return decode_list(bk, li)
        _stats["blocks_skipped"] += mask.size - n_hit
        return _assemble_blocks(bk, li, np.flatnonzero(mask))

    def _assemble_blocks(
        bk: _Bucket, li: int, need: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Concatenated (d, w) of list li's `need` blocks, through the
        per-BLOCK cache: across a bucket's queries each block of a shared
        hot list decodes AT MOST once, whichever skip path asks for it."""
        if need.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        # overflow check happens ON ENTRY only: clearing mid-assembly would
        # evict blocks this very call still needs (the cache may overshoot
        # by at most one list's worth, bounded by the largest posting list)
        if _cache_postings[0] > _CACHE_MAX_POSTINGS:
            _evict()
        blocks = _bcache.setdefault(bk.key[li], {})
        need = need.tolist()
        missing = [i for i in need if i not in blocks]
        if missing:
            d_all, w_all, lens = _decode_rows(
                bk, bk.lo[li] + np.asarray(missing, dtype=np.int64)
            )
            offs = np.concatenate(([0], np.cumsum(lens))).tolist()
            for j, bi in enumerate(missing):
                db = d_all[offs[j]:offs[j + 1]]
                blocks[bi] = (db, w_all[offs[j]:offs[j + 1]])
                _cache_postings[0] += db.size
        parts = [blocks[i] for i in need]
        if len(parts) == 1:
            return parts[0]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )

    def fold(scores, uids, d, contrib) -> None:
        """scores[uids == d] += contrib, for the d that are candidates."""
        pos = np.searchsorted(uids, d)
        valid = pos < uids.size
        pos_v = pos[valid]
        hitm = uids[pos_v] == d[valid]
        np.add.at(scores, pos_v[hitm], contrib[valid][hitm])

    def score_one(
        bk: _Bucket, lists: list
    ) -> tuple[np.ndarray, np.ndarray] | None:
        """lists: [(sigma, term_id, salt, idf, li)] for this query.
        Returns the query's ranked (doc_ids, scores)."""
        if not lists:
            return None
        # order: sigma desc, then ids for determinism
        lists.sort(key=lambda x: (-x[0], x[1], x[2]))

        # --- bootstrap θ0: fully score the cheapest list (fewest postings)
        bi = int(np.argmin([bk.npost[l[4]] for l in lists]))
        _, _, _, idf_b, li_b = lists[bi]
        _, w_b = decode_list(bk, li_b)
        bs_all = idf_b * w_b
        theta = float(np.partition(bs_all, -k)[-k]) if bs_all.size >= k else 0.0

        # --- split essential / non-essential (ascending-sigma prefix whose
        # total is strictly below θ0 can be deferred)
        sigmas = np.array([l[0] for l in lists])
        asc = np.argsort(sigmas, kind="stable")  # ascending
        csum = np.cumsum(sigmas[asc])
        non_essential_pos = set()
        for i, p in enumerate(asc):
            if csum[i] < theta:
                non_essential_pos.add(int(p))
            else:
                break
        essential = [lists[i] for i in range(len(lists)) if i not in non_essential_pos]
        deferred = [lists[i] for i in range(len(lists)) if i in non_essential_pos]

        # --- phase 1: scores over essential lists, with DYNAMIC DEMOTION —
        # the essential-side half of full BMW (completing the
        # src/igd_search.c:790-812 lesson). Essential lists are processed in
        # DESCENDING σ; once the remaining suffix sum Σ_{j≥i} σ_j PLUS the
        # deferred lists' total Σ_def σ drops strictly below θ0, a doc
        # absent from the fully-decoded head lists has total ≤ suffix + Σ_def
        # < θ0 ≤ kth final score (zero contribution from the head lists —
        # were it in one, it would already be a candidate; its ONLY other
        # possible contributions are tail + deferred, both in the bound —
        # suffix alone is NOT sound: a doc in tail+deferred lists can beat
        # θ0 on their combined mass) — so the tail lists cannot mint a new
        # top-k candidate and are demoted to REFINE-ONLY: their blocks holding no current
        # candidate are skipped outright (decode_for_survivors), while
        # blocks that do intersect are decoded so candidate scores stay
        # exact. Candidate ELIMINATION only — reported top-k scores are
        # unchanged (rank-identity-tested).
        essential.sort(key=lambda x: (-x[0], x[1], x[2]))
        ess_sig = np.array([l[0] for l in essential])
        suffix = np.cumsum(ess_sig[::-1])[::-1] if essential else np.empty(0)
        # θ is refreshed after each minted list: the kth-best contribution
        # WITHIN one fully-decoded list lower-bounds the kth final score
        # (those k docs each end with at least that much) — the same
        # argument as the bootstrap θ0, applied to every head list. With a
        # static θ0 the demotion test can provably never fire: the
        # ascending-σ split guarantees Σ_def + σ_smallest_essential ≥ θ0,
        # which contradicts suffix[i] + Σ_def < θ0 for every tail position.
        # Only a θ that has RISEN above θ0 demotes anything.
        n_mint = len(essential)
        def_sum = float(sum(l[0] for l in deferred))
        all_ids, all_w = [], []
        for i, (_, _, _, idf, li) in enumerate(essential):
            if i >= 1 and suffix[i] + def_sum < theta:
                n_mint = i
                break
            d, w = decode_list(bk, li)
            contrib = idf * w
            all_ids.append(d)
            all_w.append(contrib)
            if contrib.size >= k:
                theta = max(theta, float(np.partition(contrib, -k)[-k]))
        if not all_ids:
            return None
        # Demotion must only FIRE where it pays: a demoted list whose blocks
        # mostly intersect the candidates would go through the per-query
        # survivor assembly + unbuffered np.add.at — forfeiting the shared
        # cached full-list decode and costing ~10x on Zipf batches (measured
        # 157 → 28 qps on the 1000-query bench when applied untriaged). So
        # tail lists are triaged with a cheap range probe first: dense ones
        # rejoin the minting concat+unique path (bit-identical to the
        # undemoted plan), only genuinely sparse ones take the refine path.
        refine = []
        tail = essential[n_mint:]
        if tail:
            uids_head = np.unique(np.concatenate(all_ids))
            for _, _, _, idf, li in tail:
                hit = _cache.get(bk.key[li])
                if hit is not None:
                    all_ids.append(hit[0])
                    all_w.append(idf * hit[1])
                    continue
                mask = blocks_hit(bk, li, uids_head)
                if int(mask.sum()) >= 0.5 * mask.size:
                    d, w = decode_list(bk, li)
                    all_ids.append(d)
                    all_w.append(idf * w)
                else:
                    refine.append((idf, li))
        ids = np.concatenate(all_ids)
        ws = np.concatenate(all_w)
        uids, inv = np.unique(ids, return_inverse=True)
        scores = np.bincount(inv, weights=ws, minlength=uids.size)
        for idf, li in refine:
            n_skip_before = _stats["blocks_skipped"]
            d, w = decode_for_survivors(bk, li, uids)
            _stats["blocks_skipped_essential"] += _stats["blocks_skipped"] - n_skip_before
            fold(scores, uids, d, idf * w)

        # --- phase 2: fold in deferred (hot) lists for surviving candidates
        # process in descending sigma so θ tightens fastest
        deferred.sort(key=lambda x: (-x[0], x[1], x[2]))
        remaining = float(sum(l[0] for l in deferred))
        for sigma, _, _, idf, li in deferred:
            if uids.size > k:
                kth = float(np.partition(scores, -k)[-k])
                theta = max(theta, kth)
                keep = scores + remaining >= theta
                uids, scores = uids[keep], scores[keep]
            d, w = decode_for_survivors(bk, li, uids)
            fold(scores, uids, d, idf * w)
            remaining -= sigma

        order = np.lexsort((uids, -scores))[:k]
        return uids[order], scores[order]

    def kernel(pdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        from igd_spark.session import init_worker

        init_worker()  # once per executor Python worker (see session.py)
        empty = pd.DataFrame(columns=["query_id", "rank", "doc_id", "score"])
        if not len(pdf) or not len(qpdf):
            return empty
        bk = _bucket(pdf, k1, b, avgdl)
        by_term: dict[int, list] = {}
        for li, tid in enumerate(bk.tid):
            by_term.setdefault(tid, []).append(li)
        # merge lists of multi-term queries (qpdf rows are per (query, term))
        per_query: dict[int, list] = {}
        for qid, tid, idf in zip(
            qpdf["query_id"].to_numpy(dtype=np.int64).tolist(),
            qpdf["term_id"].to_numpy(dtype=np.int64).tolist(),
            qpdf["idf"].to_numpy(dtype=np.float64).tolist(),
        ):
            per_query.setdefault(qid, []).extend(
                (idf * bk.ub[li], tid, bk.salt[li], idf, li)
                for li in by_term.get(tid, ())
            )
        qids, docs, scores = [], [], []
        for qid in sorted(per_query):
            r = score_one(bk, per_query[qid])
            if r is not None:
                qids.append(qid)
                docs.append(r[0])
                scores.append(r[1])
        if not qids:
            return empty
        sizes = np.array([d.size for d in docs], dtype=np.int64)
        starts = np.cumsum(sizes) - sizes
        return pd.DataFrame(
            {
                "query_id": np.repeat(np.array(qids, dtype=np.int64), sizes),
                "rank": (
                    np.arange(sizes.sum(), dtype=np.int64)
                    - np.repeat(starts, sizes)
                    + 1
                ).astype(np.int32),
                "doc_id": np.concatenate(docs),
                "score": np.concatenate(scores),
            }
        )

    return kernel


def _null(v) -> bool:
    return v is None or v is pd.NA or (isinstance(v, float) and np.isnan(v))


def _as_local_rows(queries, extra: str | None = None) -> list[tuple]:
    """Normalize driver-native query input — a pandas DataFrame with
    (query_id, query_text) columns or a list/tuple of (query_id, query_text)
    pairs — to [(qid, text), ...] with the Spark path's null semantics:
    null/NaN text tokenizes to nothing (scored as an empty query), while a
    null query_id is rejected loudly (the Spark path would silently group
    under NULL; here int() has no meaning for it). ``extra`` names a third,
    nullable column (a pandas column, or each tuple's third item) carried
    as (qid, text, extra).

    The reference's query input is a FILE read in-process
    (src/igd_search.c:696-719) — driver-local by construction. A PySpark
    createDataFrame batch is RDD-backed, so even the driver route must pay a
    full collect job (~0.5 s of scheduling + Python-worker roundtrip) just
    to get the rows BACK; accepting the driver-native forms erases that."""
    if isinstance(queries, pd.DataFrame):
        cols = ["query_id", "query_text"] + ([extra] if extra else [])
        it = zip(*(queries[c] for c in cols))
    else:
        it = iter(queries)
    rows = []
    for r in it:
        q, t = r[0], r[1]
        if _null(q):
            raise ValueError("driver-native query input requires a non-null query_id")
        if _null(t):
            t = ""
        if extra is None:
            rows.append((int(q), t))
        else:
            e = r[2] if len(r) > 2 else None
            rows.append((int(q), t, None if _null(e) else e))
    return rows


def _materialize_local_queries(
    spark: SparkSession, queries, extra: str | None = None
) -> DataFrame:
    """Query input as a Spark frame: a Spark frame passes through
    unchanged; driver-native input (_as_local_rows: same null rules, same
    optional nullable ``extra`` column) ships as a pandas frame, so
    createDataFrame takes the Arrow batch path instead of a per-row pickled
    tuple list (the demotion case is exactly the LARGE-batch case, where
    that difference is O(n) driver memory)."""
    if not isinstance(queries, (pd.DataFrame, list, tuple)):
        return queries
    cols = ["query_id", "query_text"] + ([extra] if extra else [])
    schema = "query_id long, query_text string" + (f", {extra} string" if extra else "")
    return spark.createDataFrame(
        pd.DataFrame(_as_local_rows(queries, extra), columns=cols), schema
    )


def _driver_budgets(conf: IndexConf) -> tuple[int, int]:
    """(max_queries, max_postings) for the driver route — IndexConf fields
    with env-var overrides (ops escape hatch)."""
    import os as _os

    return (
        int(_os.environ.get("IGD_SEARCH_DRIVER_MAX_QUERIES",
                            conf.driver_search_max_queries)),
        int(_os.environ.get("IGD_SEARCH_DRIVER_MAX_POSTINGS",
                            conf.driver_search_max_postings)),
    )


def _stats_small_plan(df: DataFrame, conf: IndexConf) -> bool:
    """Is this query batch provably small enough for a one-collect
    prologue (≤ IGD_SEARCH_SMALL_MAX_ROWS queries)? Decided from FREE
    Catalyst statistics (no job, and no limit(): CollectLimit probes
    partitions in sequential mini-jobs and costs more wall time than the
    straight collect it guards). Three tiers:
      1. rowCount defined (LocalRelation, post-agg plans) → compare rows.
      2. every leaf is driver-local (LogicalRDD — every PySpark
         createDataFrame batch — / LocalRelation / OneRowRelation) → the
         data originated in driver memory, bounded BY CONSTRUCTION →
         small. Without this tier LogicalRDD's unknown-stats sentinel
         (sizeInBytes == 2^63-1, or selectivity-scaled garbage like
         0.44*2^63 under a filter) sent every realistic caller — search_one
         included — down the unpruned huge-batch path: no shard partition
         pruning, no In(term_id) pushdown, a full segment scan per batch.
      3. known sizeInBytes (file scans) → compare bytes. Unknown-stats
         plans with non-local leaves (streaming sources) → huge."""
    import os as _os

    max_rows = int(
        _os.environ.get("IGD_SEARCH_SMALL_MAX_ROWS", conf.search_small_max_rows)
    )
    _LOCAL_LEAVES = ("LocalRelation", "LogicalRDD", "OneRowRelation")
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        st = plan.stats()
        rc = st.rowCount()
        if rc.isDefined():
            return int(str(rc.get())) <= max_rows
        leaves = plan.collectLeaves()

        def _local(leaf) -> bool:
            name = leaf.nodeName()
            if name not in _LOCAL_LEAVES:
                return False
            if name != "LogicalRDD":
                return True
            # LogicalRDD also wraps genuinely DISTRIBUTED rdds
            # (sc.textFile over a lake, foreachBatch micro-batches) —
            # "came from createDataFrame" alone does not bound the
            # size. Partition count is the cheap discriminator: a
            # parallelized driver-local batch has ≤ defaultParallelism
            # partitions, a lake-scale rdd has thousands. The bound is
            # a heuristic (few-huge-partition rdds misclassify); such
            # callers should repartition or pre-materialize queries.
            cap = max(64, 2 * df.sparkSession.sparkContext.defaultParallelism)
            return int(leaf.rdd().getNumPartitions()) <= cap

        if all(_local(leaves.apply(i)) for i in range(leaves.size())):
            return True
        return int(str(st.sizeInBytes())) <= max(max_rows * 160, 1)
    except Exception:
        return True


def _tombstones_bc(spark: SparkSession, idx: InvertedIndex):
    """Per-handle cached Spark broadcast of the sorted deleted-doc array
    (None without deletes) — built once, reused by every search on this
    handle; compact_index (expunge) makes it obsolete along with the
    tombstones themselves."""
    arr = idx.tombstones_array()
    if arr is None or not arr.size:
        return None
    bc = getattr(idx, "_tombstones_spark_bc", None)
    if bc is None:
        bc = spark.sparkContext.broadcast(arr)
        idx._tombstones_spark_bc = bc
    return bc


def _batch_rows(queries, conf: IndexConf, extra: str | None = None) -> list[tuple] | None:
    """The locality decision: driver-native input → its rows
    (_as_local_rows); a Spark frame whose plan is provably small
    (_stats_small_plan, no job) → ONE collect; anything else → None."""
    if isinstance(queries, (pd.DataFrame, list, tuple)):
        return _as_local_rows(queries, extra)
    if not _stats_small_plan(queries, conf):
        return None
    cols = ["query_id", "query_text"] + ([extra] if extra else [])
    return [(int(r[0]), *r[1:]) for r in queries.select(*cols).collect()]


def _check_engine(engine: str) -> None:
    if engine not in ("auto", "driver", "spark"):
        raise ValueError("engine must be 'auto', 'driver' or 'spark'")


class _Demote(Exception):
    """A driver-route admission check the batch fails (the message is the
    reason): engine="auto" falls through to the distributed plan,
    engine="driver" raises it as a ValueError."""


def _fit(n: int, max_post: int, what: str) -> int:
    """``n`` when it fits driver_search_max_postings, else _Demote."""
    if n > max_post:
        raise _Demote(f"{what} {n} > driver_search_max_postings={max_post}")
    return n


_HITS_SCHEMA = "query_id long, doc_id long, n_hits long"
_PROBE_BOUND = "expansion probe budget: dictionary rows"
_POS_BOUND = "positional footer bound"


def _driver_route(
    spark: SparkSession,
    idx: InvertedIndex,
    queries,
    engine: str,
    schema: str,
    run,
    *,
    positional: bool = False,
    refuse: str | None = None,
    extra: str | None = None,
    telemetry: dict | None = None,
) -> DataFrame | None:
    """The one admission gate of every driver-routed operator: run a small
    batch on an in-process LocalSearcher kernel — zero Spark jobs, no
    ~2.5-3 s per-batch scheduling floor (the getOverlaps whole-query-file
    analog, src_py/igd_search.c:104-128) — or return None for the
    distributed plan.

    Checks, IO-free first, each a 100 TB guard:
      1. ``refuse``: a reason the operator's arguments already rule the
         route out (per-query frames the kernels cannot take);
      2. ``positional`` operators need a store_positions index;
      3. the route is not disabled (a driver_search_* budget <= 0);
      4. locality (_batch_rows): driver-native rows, or one collect of a
         provably small Spark plan — never an unbounded collect;
      5. ≤ driver_search_max_queries distinct queries;
      6. the operator's cost bound, checked by ``run(ls, rows, max_post)``
         before its kernel: the Σdf postings bound (_df_bounded), the
         positional footer bound (_POS_BOUND) or the dictionary probe bound
         (_PROBE_BOUND) — all known before any block IO, so a hot batch
         over a trillion-turn index demotes no matter how few queries.
    ``run`` raises _Demote on a miss, else returns (result rows for
    ``schema``, telemetry entries). A miss returns None under "auto" and
    raises ValueError under "driver" (explicit ask, loud no); "spark"
    returns None at once. ``extra`` carries one more query column per row
    (see _as_local_rows)."""
    _check_engine(engine)
    if engine == "spark":
        return None
    max_q, max_post = _driver_budgets(idx.conf)
    try:
        if refuse:
            raise _Demote(refuse)
        if positional and not idx.conf.store_positions:
            raise _Demote("the index stores no positions")
        if max_q <= 0 or max_post <= 0:
            raise _Demote("the driver route is disabled (budget <= 0)")
        rows = _batch_rows(queries, idx.conf, extra)
        if rows is None:
            raise _Demote("the query batch is not provably driver-local")
        t0 = time.perf_counter()
        n_q = len({r[0] for r in rows})
        if n_q > max_q:
            raise _Demote(f"batch has {n_q} queries > driver_search_max_queries={max_q}")
        result, stats = run(local_searcher(idx), rows, max_post)
    except _Demote as why:
        if engine == "driver":
            raise ValueError(
                f"engine='driver' requested but {why}; use engine='auto' "
                "or 'spark', or raise IndexConf.driver_search_* budgets"
            ) from None
        return None
    if telemetry is not None:
        telemetry.update(stats, route_ms=1000 * (time.perf_counter() - t0))
    return spark.createDataFrame(result, schema)


def _df_bounded(kernel):
    """``run`` for the BM25-family kernels: the rows tokenized once
    (LocalSearcher.term_sets), the Σdf bound over those term sets —
    Σ_q Σ_{t∈q} df(t), the exact postings the kernel scores, from the
    dictionary alone — then ``kernel(ls, term_sets)``."""

    def run(ls, rows, max_post):
        per_q = ls.term_sets(rows)
        cost = _fit(ls.batch_cost(per_q), max_post, "batch postings")
        return kernel(ls, per_q), {"batch_cost_postings": cost}

    return run


def _pos_bounded(kernel):
    """``run`` for the positional kernels over the full tokenized text:
    positions carry every occurrence, not one posting per doc, so the
    bound is LocalSearcher.pos_batch_cost's parquet-FOOTER bound (zero
    data IO) — then ``kernel(ls, rows)``."""

    def run(ls, rows, max_post):
        bound = _fit(ls.pos_batch_cost([t for _, t in rows]), max_post, _POS_BOUND)
        return kernel(ls, rows), {"pos_cost_bound": bound}

    return run


def _expand_run(like: bool, k: int, round_dp: int | None, max_expanded_terms: int):
    """``run`` for the dictionary-expansion scorers
    (prefix_bm25_topk_indexed / wildcard_bm25_topk_indexed): (1) the
    dictionary probe bound; (2) the expansion is capped by
    ``max_expanded_terms`` with the SAME loud ValueError as the distributed
    path (_collect_expansion — a cap hit is a contract violation on both
    engines, never a silent demotion); (3) the expanded terms' Σdf."""

    def run(ls, rows, max_post):
        if like:
            # _wildcard_patterns parity: tokens keep the * / ? metachars
            per_q_pats = {
                qid: {t.translate(str.maketrans("*?", "%_")) for t in toks}
                for qid, toks in ls.term_sets(rows, split_re=r"[^a-z0-9*?]+").items()
            }
        else:
            per_q_pats = ls.term_sets(rows)
        all_pats = sorted(set().union(*per_q_pats.values()))
        if not all_pats:
            return [], {}
        _fit(ls.probe_rows(all_pats, like), max_post, _PROBE_BOUND)
        exp = ls.expand_patterns(all_pats, like=like)
        per_q = {
            qid: set().union(*(exp[p] for p in pats))
            for qid, pats in per_q_pats.items()
        }
        n_pairs = sum(len(ts) for ts in per_q.values())
        if n_pairs > max_expanded_terms:
            what = "wildcard" if like else "prefix"
            raise ValueError(
                f"{what} expansion exceeds max_expanded_terms={max_expanded_terms};"
                f" raise the cap or use the corpus-scan {what} path "
                "(distributed expansion)"
            )
        cost = _fit(ls.batch_cost(per_q), max_post, "expansion postings")
        return ls.score_n(per_q, k, round_dp=round_dp), {
            "expanded_terms": n_pairs, "batch_cost_postings": cost,
        }

    return run


def search(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: DataFrame,
    k: int = 10,
    min_tf: int = 0,
    n_buckets: int | None = None,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """Index-backed BM25 top-k → (query_id, rank, doc_id, score).

    `queries` is a Spark DataFrame with (query_id, query_text) — or, for
    driver-resident query sets (the reference's query-file shape,
    src/igd_search.c:696-719), a pandas DataFrame or a list of
    (query_id, query_text) pairs: those skip the ~0.5 s collect job the
    driver route otherwise pays to pull an RDD-backed batch back into the
    driver, and are only shipped to the cluster if the batch exceeds the
    driver budgets.

    engine="auto" (default) picks between two rank-identical executions:
    small batches whose total scoring work fits the driver budgets run on
    the in-process kernel (igd_spark.local — zero Spark jobs, ms-scale;
    see _driver_route for the admission order), everything else
    runs the distributed plan below. engine="spark" forces the distributed
    plan (plan audits, parity oracle); on a small batch its prologue still
    reads the dictionary slice on the driver (LocalSearcher.term_map,
    pyarrow), so idx.path must be readable from the driver.
    engine="driver" demands the in-process path and raises if the batch
    exceeds its budgets.

    Distributed physical plan: dictionary ⋈(broadcast queries) → term_id
    list → segment scan pruned by shard partition values + term_id
    row-group min/max (the files are sorted by term_id within each shard)
    → join to DISTINCT (bucket, term_id) pairs so each block is shuffled
    once per query BUCKET (not once per query — Zipf query sets share hot
    terms heavily) → cogrouped applyInPandas(MaxScore kernel) with the
    (bucket, query_id, term_id, idf) map as a cogrouped DATAFRAME — the
    driver never holds the per-query map, so batch size is unbounded.
    Final ranked top-k comes straight from the kernel.

    Driver-side footprint: for ordinary batches (decided from free Catalyst
    plan statistics — no probe job) ONE prologue job collects the
    query×term dictionary slice and derives bucket/pruning metadata
    driver-side. For huge batches the plan switches to the fully-
    distributed form: counts/distincts as jobs, no per-query driver
    state — batch size is then unbounded.

    telemetry (optional dict) is filled with per-stage timings — driver
    route: lookup/read_decode/score ms; distributed: prologue ms + probe
    set sizes — the latency-attribution evidence BENCH.md publishes.
    """
    conf = idx.conf
    from igd_spark.build import shards_for
    from igd_spark.session import kernel_parallelism

    _check_engine(engine)
    if n_buckets is not None:  # a distributed-plan knob: no driver route
        engine = "spark"

    def pick_buckets(n_queries: int) -> int:
        # target ~64 queries per bucket: block-dedup within a bucket
        # dominates task parallelism (measured: at 32 cores, 16 buckets of
        # 64 queries beat 64 buckets of 16 queries 2x — total decode work
        # shrinks with bucket size, and work volume must NOT grow with the
        # cluster size). Floor of 8 buckets keeps small batches parallel;
        # past the local DRAM knee the count is capped (fewer concurrent
        # scoring kernels AND more shared-block decode dedup per bucket).
        nb = max(min(8, n_queries), -(-n_queries // 64))
        return max(1, kernel_parallelism(spark, nb))

    # Locality, decided once (_batch_rows): driver-native rows, ONE collect
    # of a provably small plan, or None (the unbounded path). The same rows
    # feed the driver route and, if it demotes the batch, the small
    # prologue. engine="driver" leaves the collect to the gate, after its
    # IO-free checks: a refused batch raises and never reaches the prologue.
    rows = None if engine == "driver" else _batch_rows(queries, conf)
    routed = _driver_route(
        spark, idx, queries if rows is None else rows, engine, TOPK_SCHEMA,
        _df_bounded(
            lambda ls, per_q: ls.score_n(per_q, k, min_tf=min_tf, telemetry=telemetry)
        ),
        telemetry=telemetry,
    )
    if routed is not None:
        return routed

    # --- distributed plan ---------------------------------------------------
    t_prologue = time.perf_counter()
    seg = idx.segments
    if rows is not None:
        # small-batch fast path: the prologue is fully driver-derived.
        # Query rows come from the locality decision above; the
        # dictionary slice comes from the LocalSearcher's
        # footer/row-group-pruned parquet reads with its per-handle term
        # cache — no Spark job, where the broadcast-join + collect this
        # replaces cost a full dictionary-scan job per batch (~0.5-1 s of
        # the measured 1000q batch floor). Term sets and idf are the
        # driver route's own (LocalSearcher.term_sets, _bm25_idf), so a
        # batch scores alike on both routes; ln() drift vs the JVM's
        # idf_col is absorbed by the engine-wide round-before-rank
        # discipline (same tolerance the DuckDB oracles already rely on).
        ls = local_searcher(idx)
        per_q = ls.term_sets(rows)
        tmap = ls.term_map(per_q)
        # (query_id, term_id, idf, n_salts, df) — the old qdict.collect rows
        qrows = [
            (qid, info[0], _bm25_idf(idx.n_docs, info[1]), info[2], info[1])
            for qid in sorted(per_q)
            for t in sorted(per_q[qid])
            if (info := tmap.get(t)) is not None
        ]
        if not qrows:
            return spark.createDataFrame([], TOPK_SCHEMA)
        if n_buckets is None:
            n_buckets = pick_buckets(len({q for q, *_ in qrows}))
        term_ids = sorted({tid for _, tid, *_ in qrows})
        shards = sorted(
            {
                s
                for _, tid, _, ns, _ in qrows
                for s in shards_for(tid, ns, conf.n_shards)
            }
        )
        # cost-aware bucket assignment (LPT): qid % n_buckets leaves Zipf
        # batches with straggler buckets — one bucket drawing several
        # hot-term queries runs 2-3x past the wave, and the cogrouped stage
        # ends at its slowest task. Per-query cost Σ df is already exact
        # and driver-resident from the prologue rows, so assign queries
        # (heaviest first) to the currently-lightest bucket: deterministic
        # (ties by load then bucket id; queries ordered cost desc, qid
        # asc), and the map rides the same broadcast join the bucket ids
        # always took. The huge path keeps the hash assignment — cost
        # collection there would be a driver-sized state.
        import heapq

        qcost: dict[int, int] = {}
        for qid, _, _, _, df in qrows:
            qcost[qid] = qcost.get(qid, 0) + df
        heap = [(0, b) for b in range(n_buckets)]
        assign: dict[int, int] = {}
        for qid in sorted(qcost, key=lambda q: (-qcost[q], q)):
            load, b = heapq.heappop(heap)
            assign[qid] = b
            heapq.heappush(heap, (load + qcost[qid], b))
        # scan pruning pays only while it is SELECTIVE: a small batch's few
        # terms hit a few shards / row-group runs, and the isin filters cut
        # the scan to those. A 1000-query Zipf batch already touches every
        # shard and thousands of terms — there the giant literal In lists
        # cost filter evaluation over the whole scan while pruning nothing
        # (measured ~25% slower at 1000q), so past the threshold the scan
        # stays wide and the broadcast bucket-join does the filtering.
        import os as _os

        pruned = len(term_ids) <= int(
            _os.environ.get("IGD_SEARCH_PRUNE_MAX_TERMS", conf.search_prune_max_terms)
        )
        if pruned:
            seg = seg.filter(
                F.col("shard").isin(shards) & F.col("term_id").isin(term_ids)
            )
        # pandas-backed frames become LocalRelations (Arrow conversion):
        # broadcasting/joining them runs NO python-rdd evaluation job —
        # the list form parallelized pickled rows and cost a 32-task
        # python round-trip per use (measured ~0.4 s each at local[32])
        bt_rows = sorted({(assign[q], tid) for q, tid, *_ in qrows})
        bt = spark.createDataFrame(
            pd.DataFrame(bt_rows, columns=["bucket", "term_id"]),
            "bucket int, term_id long",
        )
        # the cogroup's query map is already driver-resident in qrows —
        # re-deriving it from the dictionary would rescan it and rerun
        # the broadcast join (a whole extra stage chain of per-batch fixed
        # cost, ~0.5 s at 1000q).
        qmap_rows = sorted(
            (assign[q], q, tid, idf) for q, tid, idf, _, _ in qrows
        )
        qmap = spark.createDataFrame(
            pd.DataFrame(
                qmap_rows, columns=["bucket", "query_id", "term_id", "idf"]
            ),
            "bucket int, query_id long, term_id long, idf double",
        )
        if telemetry is not None:
            telemetry.update(
                engine="spark-small",
                n_terms=len(term_ids),
                n_shards_probed=len(shards),
                scan_pruned=pruned,
                n_buckets=n_buckets,
                prologue_ms=1000 * (time.perf_counter() - t_prologue),
            )
    else:
        # unbounded path: no per-query driver state, pruning via the join
        qt = query_terms(queries, conf)
        qdict = (
            idx.dictionary.join(F.broadcast(qt), "term")
            .withColumn("idf", idf_col(idx.n_docs, "df"))
            .select("query_id", "term_id", "idf", "n_salts", "df")
        )
        if n_buckets is None:
            n_buckets = pick_buckets(qt.select("query_id").distinct().count())
        bt = qdict.select(
            F.pmod(F.col("query_id"), F.lit(n_buckets)).cast("int").alias("bucket"),
            "term_id",
        ).distinct()
        qmap = qdict.withColumn(
            "bucket", F.pmod(F.col("query_id"), F.lit(n_buckets)).cast("int")
        )
        if telemetry is not None:
            telemetry.update(
                engine="spark-huge",
                n_buckets=n_buckets,
                prologue_ms=1000 * (time.perf_counter() - t_prologue),
            )
    blocks = seg.join(F.broadcast(bt), "term_id")
    kernel = _maxscore_kernel(
        k, min_tf, conf.k1, conf.b, idx.avgdl, deleted_bc=_tombstones_bc(spark, idx)
    )
    # each group is a complete bucket of queries: the kernel emits final
    # ranked top-k directly — no post-shuffle window
    return (
        blocks.groupBy("bucket")
        .cogroup(qmap.select("bucket", "query_id", "term_id", "idf").groupBy("bucket"))
        .applyInPandas(kernel, schema=TOPK_SCHEMA)
    )


def positional_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    conf: IndexConf = DEFAULT_CONF,
) -> DataFrame:
    """(doc_id, term, pos) — one row per token OCCURRENCE with its 0-based
    position in the token stream. The positional sibling of postings():
    posexplode keeps the coordinate the tf aggregation throws away, which
    is exactly the reference's start-coordinate axis (records carry their
    position, src/igd_base.h:40-46) transplanted to token space.

    Positions are dense BY CONSTRUCTION: empty split artifacts are
    filtered from the token array BEFORE posexplode, so the generator's
    own index is the analyzed position — no per-doc window (the
    row_number re-rank this replaces cost a full shuffle + sort of every
    token occurrence)."""
    toks = F.filter(
        tokens_col(F.col(text_col), conf.token_split_re),
        lambda t: t != F.lit(""),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(toks).alias("pos", "term"),
    ).select("doc_id", "term", F.col("pos").cast("int").alias("pos"))


def _phrase_terms(phrases: DataFrame, split_re: str) -> DataFrame:
    """(query_id, term, offset) — the phrase's tokens with dense 0-based
    offsets (split artifacts re-ranked, same trick as positions)."""
    pterms = phrases.select(
        "query_id",
        F.posexplode(tokens_col(F.col("query_text"), split_re)).alias("offset", "term"),
    ).filter(F.col("term") != "")
    wq = Window.partitionBy("query_id").orderBy("offset")
    return pterms.select(
        "query_id", "term", (F.row_number().over(wq) - 1).cast("int").alias("offset")
    )


def _anchor_hits(j: DataFrame, plen: DataFrame) -> DataFrame:
    """(query_id, doc_id, n_hits) from anchor rows (query_id, doc_id,
    anchor = pos - offset): an anchor (candidate start position) is a hit
    iff every offset of the phrase contributed exactly once at it. SHARED
    epilogue of the corpus-scan and index-backed phrase paths — both count
    the same anchor set, so their results are identical by construction."""
    hits = (
        j.groupBy("query_id", "doc_id", "anchor")
        .agg(F.count("*").alias("n_terms"))
        .join(F.broadcast(plen), "query_id")
        .filter((F.col("n_terms") == F.col("phrase_len")) & (F.col("anchor") >= 0))
    )
    return hits.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )


def phrase_match(
    docs: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    conf: IndexConf = DEFAULT_CONF,
) -> DataFrame:
    """(query_id, doc_id, n_hits) — exact phrase occurrence counts: the
    phrase's tokens must appear at CONSECUTIVE positions. Plan: positional
    postings ⋈(broadcast) the phrase's (term, offset) pairs on term, then
    counting (doc, query, pos - offset) anchor groups that collected every
    offset — an interval-stab join in token space, the overlap-join shape
    of src/igd_search.c:454-534 with positions as coordinates. One shuffle
    (the anchor groupBy); phrases are broadcast.

    This is the INDEX-FREE path: it re-derives positions from the raw
    corpus on every call — right for one-off phrase jobs over a corpus
    with no index. Repeated phrase workloads should build with
    store_positions=True and use phrase_match_indexed (identical results,
    shard/term-pruned scan of the persisted position blocks).

    `phrases`: (query_id, query_text); the phrase is query_text's token
    sequence (duplicate terms in a phrase are handled — each offset must
    be present)."""
    pp = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    pterms = _phrase_terms(phrases, conf.token_split_re)
    plen = pterms.groupBy("query_id").agg(F.count("*").alias("phrase_len"))
    j = pp.join(F.broadcast(pterms), "term").select(
        "query_id", "doc_id", (F.col("pos") - F.col("offset")).alias("anchor")
    )
    return _anchor_hits(j, plen)


def _literal_pos_qdict(idx: InvertedIndex, qt: DataFrame) -> DataFrame:
    """Dictionary resolution for the POSITIONAL readers (phrase / NEAR /
    span / positional_enumerate).  Positions store the RAW token stream
    (occurrences_spimi keeps every non-empty token — the literal
    phrase/span contract, config.py), so a query term the ANALYZER removed
    from the logical dictionary (stopword / sub-min-length) must still
    resolve here or the indexed paths silently diverge from their
    corpus-scan twins: term_id is the stateless content hash
    (xxhash64 == the dictionary's own ids) and analyzer-filtered terms are
    never salted (the hot table is built from INDEXED postings), so
    (xxhash64(term), n_salts=1) is exact for them.  ``qt``: any tiny
    (…payload…, term) frame; returns it with (term_id, n_salts) attached
    for EVERY row.

    Fully LAZY: because term_id is xxhash64(term) for EVERY term (indexed
    or analyzer-filtered, term_id_col in tokenizer.py), the dictionary
    only supplies n_salts — fetched with one broadcast left join (build
    side = the tiny resolved slice) and defaulted to 1 via coalesce.  No
    driver job runs here; the ONLY positional-prologue collect is
    _pruned_position_blocks' single (term_id, n_salts) fetch (the r4
    two-collect shape regressed phrase_match_indexed ~50%)."""
    terms = qt.select("term").distinct()
    nsalts = idx.dictionary.join(F.broadcast(terms), "term").select(
        "term", F.col("n_salts").alias("_dict_n_salts")
    )
    return qt.join(F.broadcast(nsalts), "term", "left").select(
        *qt.columns,
        F.xxhash64("term").alias("term_id"),
        F.coalesce("_dict_n_salts", F.lit(1)).cast("int").alias("n_salts"),
    )


def _pruned_position_blocks(idx: InvertedIndex, qdict: DataFrame) -> DataFrame | None:
    """Shared pruning prologue of the positional readers (phrase + NEAR):
    ``qdict`` is the dictionary slice carrying at least (term_id, n_salts)
    plus whatever per-term payload the kernel needs.  Collects the tiny
    (term_id, n_salts) set, derives shard partitions + In(term_id) prune
    lists, and returns the pruned positions blocks joined with the
    broadcast qdict (minus n_salts) — or None when no term resolved."""
    from igd_spark.build import shards_for

    trows = qdict.select("term_id", "n_salts").distinct().collect()
    if not trows:
        return None
    term_ids = sorted({int(r["term_id"]) for r in trows})
    shards = sorted(
        {
            s
            for r in trows
            for s in shards_for(int(r["term_id"]), int(r["n_salts"]), idx.conf.n_shards)
        }
    )
    pos = idx.positions.filter(
        F.col("shard").isin(shards) & F.col("term_id").isin(term_ids)
    ).select("term_id", "doc_ids", "poss")
    return pos.join(F.broadcast(qdict.drop("n_salts")), "term_id")


def phrase_match_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    phrases: DataFrame,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """(query_id, doc_id, n_hits) — phrase_match against the PERSISTED
    positional index (store_positions=True builds): the gType
    coordinate-layout graft (src/igd_base.c:408-409, dispatch
    src/igd_create.c:490-497). Plan: dictionary ⋈(broadcast phrase terms)
    → driver-derived shard/term prune sets (phrases are always tiny) →
    positions scan pruned by shard partitions + In(term_id) row-group
    min/max → broadcast-join the (query_id, term_id, offset) map → Arrow
    decode kernel emits (query_id, doc_id, anchor) → the SAME anchor
    epilogue as phrase_match. Per call it touches only the phrase terms'
    blocks — no corpus re-tokenization, the fix for the
    full-scan-per-phrase-batch scale killer.

    engine="auto" (default) first tries the in-process driver route
    (LocalSearcher.phrase_n — zero Spark jobs, ms-scale warm) under the
    positional footer bound (_pos_bounded); "driver" demands it
    (raises on budget miss); "spark" forces the distributed plan."""
    conf = idx.conf
    out_empty = _HITS_SCHEMA
    routed = _driver_route(
        spark, idx, phrases, engine, out_empty,
        _pos_bounded(lambda ls, rows: ls.phrase_n(rows)),
        positional=True, telemetry=telemetry,
    )
    if routed is not None:
        return routed
    phrases = _materialize_local_queries(spark, phrases)
    pterms = _phrase_terms(phrases, conf.token_split_re)
    plen = pterms.groupBy("query_id").agg(F.count("*").alias("phrase_len"))
    # literal resolution: a stopword inside a phrase still matches the raw
    # positional stream, exactly like the corpus-scan phrase_match
    qdict = _literal_pos_qdict(idx, pterms).select(
        "query_id", "term_id", "offset", "n_salts"
    )
    blocks = _pruned_position_blocks(idx, qdict)
    if blocks is None:
        return spark.createDataFrame([], out_empty)
    j = idx.live_docs(blocks.mapInPandas(_explode_anchors, schema=_ANCHOR_SCHEMA))
    return _anchor_hits(j, plen)


_ANCHOR_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("anchor", T.IntegerType(), False),
    ]
)


def _explode_anchors(it):
    """Shared positional decode kernel (phrase / phrase-prefix): pruned
    position blocks carrying (query_id, offset) → (query_id, doc_id,
    anchor = pos - offset) rows for the anchor-counting epilogue."""
    for pdf in it:
        outs = []
        for row in pdf.itertuples():
            d = codec.decode_doc_ids(bytes(row.doc_ids))  # cumsum decode:
            # zero gaps (multi-occurrence docs) restore repeats correctly
            p = codec.varint_decode(bytes(row.poss)).astype(np.int64)
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(d.size, row.query_id, dtype=np.int64),
                        "doc_id": d,
                        "anchor": (p - int(row.offset)).astype(np.int32),
                    }
                )
            )
        if outs:
            yield pd.concat(outs)


def _phrase_prefix_parts(
    phrases: DataFrame, split_re: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split each phrase into its literal (term, offset) rows and its LAST
    token as a prefix row — the match_phrase_prefix decomposition.  Returns
    (literals, prefixes(query_id, prefix, offset), plen); plen counts the
    full phrase INCLUDING the prefix position."""
    pterms = _phrase_terms(phrases, split_re)
    plen = pterms.groupBy("query_id").agg(F.count("*").alias("phrase_len"))
    pt = pterms.join(F.broadcast(plen), "query_id")
    literals = pt.filter(F.col("offset") < F.col("phrase_len") - 1).select(
        "query_id", "term", "offset"
    )
    prefixes = pt.filter(F.col("offset") == F.col("phrase_len") - 1).select(
        "query_id", F.col("term").alias("prefix"), "offset"
    )
    return literals, prefixes, plen


def _cap_expansions(exp: DataFrame, max_expansions: int) -> DataFrame:
    """Keep the first max_expansions vocabulary terms per query in TERM
    ORDER — the Lucene TermsEnum iteration-order contract ES
    match_phrase_prefix inherits (deterministic, so both engines and the
    oracle cap identically)."""
    w = Window.partitionBy("query_id").orderBy(F.asc("term"))
    return (
        exp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_expansions)
        .select("query_id", "term", "offset")
    )


def match_phrase_prefix(
    docs: DataFrame,
    phrases: DataFrame,
    max_expansions: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    conf: IndexConf = DEFAULT_CONF,
) -> DataFrame:
    """(query_id, doc_id, n_hits) — the ES ``match_phrase_prefix`` query
    (search-as-you-type): the phrase's last token is a PREFIX, expanded
    against the term dictionary (capped at ``max_expansions`` in term
    order, the Lucene contract), and an occurrence is counted wherever the
    literal tokens appear consecutively followed by any expansion at the
    final position.  A one-token phrase degenerates to counting prefix-term
    occurrences.

    Expansions come from the ANALYZED vocabulary (same contract as
    prefix_bm25_topk and the indexed twin's dictionary probe) — an
    analyzer-removed token never expands; literal offsets match the raw
    positional stream exactly like phrase_match.

    Plan: one corpus tokenize (this is the index-free path — repeated
    workloads use match_phrase_prefix_indexed), a vocab-sized distinct for
    the dictionary, broadcast-nested-loop expansion (vocab × a handful of
    prefixes), then the phrase anchor join-and-count with the expansion
    rows standing at the last offset.  At any anchor at most one expansion
    can match (one token occupies the final position), so the shared
    count-equals-length epilogue stays exact."""
    from igd_spark.tokenizer import _analyzer_pred

    pp = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    literals, prefixes, plen = _phrase_prefix_parts(phrases, conf.token_split_re)
    pred = _analyzer_pred(conf.stopwords, conf.min_token_len)
    vocab = pp.select("term").filter(pred(F.col("term"))).distinct()
    exp = _cap_expansions(
        vocab.join(F.broadcast(prefixes), F.col("term").startswith(F.col("prefix"))),
        max_expansions,
    )
    pterms2 = literals.unionByName(exp)
    j = pp.join(F.broadcast(pterms2), "term").select(
        "query_id", "doc_id", (F.col("pos") - F.col("offset")).alias("anchor")
    )
    return _anchor_hits(j, plen)


def match_phrase_prefix_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    phrases: DataFrame,
    max_expansions: int = 50,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """match_phrase_prefix over a PERSISTED positional index
    (store_positions=True): the prefix expands against the index's own
    dictionary (vocab-sized scan × broadcast prefixes, capped in term
    order), then only the literal + expanded terms' position blocks are
    read — shard partitions + In(term_id) pruned, zero corpus scans, the
    same persist-don't-rescan discipline as every other ``*_indexed`` twin
    (src/igd_base.c:396-461).  Value-identical to the corpus path by
    construction: both feed the same anchor epilogue, and the expansion cap
    is deterministic (term order) on both sides.

    The expansion is materialized driver-side ONCE (≤ queries ×
    max_expansions rows — bounded by the cap, unlike the uncapped
    prefix_bm25_topk expansion which needs its own guard): the pruned-scan
    prologue and the block join would otherwise re-run the vocab scan per
    action.

    engine="auto" (default) first tries the in-process driver route
    (LocalSearcher.phrase_prefix_n — zero Spark jobs, the per-keystroke
    path), admitted IO-free-first by the dictionary probe bound, then the
    LITERAL + CAPPED-EXPANSION term set's positional footer bound;
    "driver" demands it; "spark" forces the distributed plan."""
    conf = idx.conf
    out_empty = _HITS_SCHEMA

    def run(ls, rows, max_post):
        prefixes = {
            toks[-1]
            for _, text in rows
            if (toks := _tokenize_ordered(text, conf.token_split_re))
        }
        _fit(ls.probe_rows(prefixes, like=False), max_post, _PROBE_BOUND)
        per_q, all_terms = ls.phrase_prefix_terms(rows, max_expansions)
        bound = _fit(ls.pos_terms_cost(all_terms), max_post, _POS_BOUND)
        return ls.phrase_prefix_n(rows, max_expansions), {
            "pos_cost_bound": bound,
            "expanded_terms": sum(len(g) for _, g in per_q.values()),
        }

    routed = _driver_route(
        spark, idx, phrases, engine, out_empty, run,
        positional=True, telemetry=telemetry,
    )
    if routed is not None:
        return routed
    phrases = _materialize_local_queries(spark, phrases)
    literals, prefixes, plen = _phrase_prefix_parts(phrases, conf.token_split_re)
    exp = _cap_expansions(
        idx.dictionary.join(
            F.broadcast(prefixes), F.col("term").startswith(F.col("prefix"))
        ),
        max_expansions,
    )
    exp_rows = exp.collect()
    if not exp_rows:
        # every phrase needs its prefix slot filled; no expansion anywhere
        # means no query can reach count == phrase_len
        return spark.createDataFrame([], out_empty)
    qterms = literals.unionByName(spark.createDataFrame(exp_rows, exp.schema))
    qdict = _literal_pos_qdict(idx, qterms).select(
        "query_id", "term_id", "offset", "n_salts"
    )
    blocks = _pruned_position_blocks(idx, qdict)
    if blocks is None:
        return spark.createDataFrame([], out_empty)
    j = idx.live_docs(blocks.mapInPandas(_explode_anchors, schema=_ANCHOR_SCHEMA))
    return _anchor_hits(j, plen)


_OCC_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pos", T.IntegerType(), False),
    ]
)


def _explode_offset_pos(it):
    """Positional decode kernel for the OFFSET-tagged readers (intervals):
    pruned blocks carrying (query_id, offset) → raw (query_id, offset,
    doc_id, pos) occurrence rows."""
    for pdf in it:
        outs = []
        for row in pdf.itertuples():
            d = codec.decode_doc_ids(bytes(row.doc_ids))
            p = codec.varint_decode(bytes(row.poss)).astype(np.int64)
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": np.full(d.size, row.query_id, dtype=np.int64),
                        "offset": np.full(d.size, row.offset, dtype=np.int32),
                        "doc_id": d,
                        "pos": p.astype(np.int32),
                    }
                )
            )
        if outs:
            yield pd.concat(outs)


_INTERVALS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_anchors", T.LongType(), False),
        T.StructField("min_gaps", T.IntegerType(), False),
    ]
)


def _intervals_epilogue(occ: DataFrame, plen: DataFrame, max_gaps: int) -> DataFrame:
    """Shared tail of both intervals paths.  ``occ``: (query_id, doc_id,
    offset, pos) occurrence rows of the query sequence's offsets; ``plen``:
    (query_id, phrase_len).

    ONE aggregation shuffles each candidate doc's occurrence list together
    (docs missing any offset are dropped right there — the candidate
    filter), then an Arrow kernel runs the greedy ordered chain per
    candidate: from every offset-0 occurrence a, repeatedly take the
    SMALLEST offset-i position > previous (earliest-completion greedy is
    optimal, so if it busts the width bound no chain from a fits).  An
    anchor matches iff its chain ends within a + (n-1) + max_gaps (the ES
    total-gaps contract: gaps = span_width − n).  Per-candidate work is
    linear-ish in its query-term occurrences (n·log per anchor) — bounded
    by doc length, the phrase-kernel bound."""
    agg = (
        occ.groupBy("query_id", "doc_id")
        .agg(
            F.countDistinct("offset").alias("n_off"),
            F.collect_list(F.struct("offset", "pos")).alias("occs"),
        )
        .join(F.broadcast(plen), "query_id")
        .filter(F.col("n_off") == F.col("phrase_len"))
        .select("query_id", "doc_id", "phrase_len", "occs")
    )
    big = np.iinfo(np.int64).max

    def kernel(it):
        for pdf in it:
            q_out, d_out, na_out, mg_out = [], [], [], []
            for row in pdf.itertuples():
                n = int(row.phrase_len)
                per_off: dict[int, list[int]] = {}
                for o in row.occs:
                    per_off.setdefault(int(o["offset"]), []).append(int(o["pos"]))
                P = [np.array(sorted(per_off[i]), dtype=np.int64) for i in range(n)]
                a = P[0]
                cur = a.copy()
                alive = np.ones(a.size, dtype=bool)
                for i in range(1, n):
                    j = np.searchsorted(P[i], cur, side="right")
                    ok = j < P[i].size
                    cur = np.where(ok, P[i][np.minimum(j, P[i].size - 1)], big)
                    alive &= ok
                alive &= cur <= a + (n - 1) + max_gaps
                if not alive.any():
                    continue
                q_out.append(int(row.query_id))
                d_out.append(int(row.doc_id))
                na_out.append(int(alive.sum()))
                mg_out.append(int((cur[alive] - a[alive]).min()) - (n - 1))
            if q_out:
                yield pd.DataFrame(
                    {
                        "query_id": np.array(q_out, dtype=np.int64),
                        "doc_id": np.array(d_out, dtype=np.int64),
                        "n_anchors": np.array(na_out, dtype=np.int64),
                        "min_gaps": np.array(mg_out, dtype=np.int32),
                    }
                )

    return agg.mapInPandas(kernel, schema=_INTERVALS_SCHEMA)


def intervals_match(
    docs: DataFrame,
    queries: DataFrame,
    max_gaps: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    conf: IndexConf = DEFAULT_CONF,
) -> DataFrame:
    """(query_id, doc_id, n_anchors, min_gaps) — the ES ``intervals`` query,
    ordered mode: the query's tokens must appear IN ORDER with total gaps
    ≤ ``max_gaps`` (gaps = matched-span width − token count; max_gaps=0 is
    exactly the phrase contract, pytest-pinned).  ``n_anchors`` counts the
    first-token occurrences from which an ordered chain completes within
    the bound; ``min_gaps`` is the tightest chain's gap count (0 = a
    perfect phrase occurrence exists).

    This is the index-free path (one corpus tokenize per call); repeated
    interval workloads use intervals_match_indexed over the persisted
    positional blocks."""
    pp = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    pterms = _phrase_terms(queries, conf.token_split_re)
    plen = pterms.groupBy("query_id").agg(F.count("*").alias("phrase_len"))
    occ = pp.join(F.broadcast(pterms), "term").select(
        "query_id", "doc_id", "offset", "pos"
    )
    return _intervals_epilogue(occ, plen, max_gaps)


def intervals_match_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: DataFrame,
    max_gaps: int = 0,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`intervals_match` over the persisted positional index: same
    dictionary-resolution + shard/In(term_id)-pruned block scan as
    phrase_match_indexed, then the shared greedy-chain epilogue — per call
    it reads only the sequence's position blocks, never the corpus.

    engine="auto" first tries the in-process driver route
    (LocalSearcher.intervals_n) under the positional occurrence budgets;
    "driver" demands it; "spark" forces the distributed plan."""
    conf = idx.conf
    routed = _driver_route(
        spark, idx, queries, engine,
        "query_id long, doc_id long, n_anchors long, min_gaps int",
        _pos_bounded(lambda ls, rows: ls.intervals_n(rows, max_gaps)),
        positional=True, telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    pterms = _phrase_terms(queries, conf.token_split_re)
    plen = pterms.groupBy("query_id").agg(F.count("*").alias("phrase_len"))
    qdict = _literal_pos_qdict(idx, pterms).select(
        "query_id", "term_id", "offset", "n_salts"
    )
    blocks = _pruned_position_blocks(idx, qdict)
    if blocks is None:
        return spark.createDataFrame([], _INTERVALS_SCHEMA)
    occ = idx.live_docs(blocks.mapInPandas(_explode_offset_pos, schema=_OCC_SCHEMA))
    return _intervals_epilogue(occ, plen, max_gaps)


def search_federated(
    spark: SparkSession,
    indexes: list,
    queries: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """One query batch over SEVERAL persisted indexes with GLOBAL
    statistics — the ES cross-index search (``GET /idx1,idx2/_search``) in
    its exact dfs_query_then_fetch form.  This is the time-partitioned
    deployment shape at 10^12 turns: one index per day/month of
    transcripts, queries federate over the partitions a time filter
    selects, retention = dropping an index directory, and reshard/alias
    maintenance stays per-partition-sized.

    Scoring uses the UNION corpus statistics — n_docs/avgdl summed from
    the member metas (O(1), no jobs), per-term df = Σ member dictionary
    rows — so results are RANK-IDENTICAL to one merged index over the
    union corpus (the reshard discipline applied to federation;
    gate-enforced against the single-corpus oracle).  ES's default
    query_then_fetch scores with per-shard statistics and gives
    partitioning-dependent ranks; we implement the exact mode.

    Per member the work is the standard pruned-block enumeration
    (match_enumerate with_dl — shard partitions + In(term_id), tombstones
    anti-joined per member, zero corpus joins); the per-member frames
    union (Catalyst pushes the pruning into each branch) into ONE scoring
    aggregate.  Doc ids must be unique across members, which time
    partitions are by construction.  Member configs must agree on the
    analyzer and BM25 constants (validated loudly)."""
    if not indexes:
        raise ValueError("search_federated needs at least one index")
    c0 = indexes[0].conf
    for i in indexes[1:]:
        c = i.conf
        same = (
            c.k1 == c0.k1 and c.b == c0.b
            and c.token_split_re == c0.token_split_re
            and c.stopwords == c0.stopwords
            and c.min_token_len == c0.min_token_len
        )
        if not same:
            raise ValueError(
                "federated members disagree on analyzer/BM25 config "
                f"({i.path} vs {indexes[0].path}); scores would be undefined"
            )
    n_docs = sum(int(i.n_docs) for i in indexes)
    sum_dl = sum(int(i.meta["corpus"]["sum_dl"]) for i in indexes)
    avgdl = (sum_dl / n_docs) if n_docs else 0.0
    qt = query_terms(queries, c0)
    qterms = qt.select("term").distinct()
    df_parts = [
        i.dictionary.join(F.broadcast(qterms), "term").select("term", "df")
        for i in indexes
    ]
    df_u = df_parts[0]
    for p in df_parts[1:]:
        df_u = df_u.unionByName(p)
    df_g = df_u.groupBy("term").agg(F.sum("df").alias("df"))
    enums = [
        match_enumerate(spark, i, queries, with_dl=True) for i in indexes
    ]
    me = enums[0]
    for e in enums[1:]:
        me = me.unionByName(e)
    w = bm25_weight_col(F.col("idf"), "tf", "dl", avgdl, c0.k1, c0.b)
    scored = (
        _idf_join(me, F.broadcast(df_g), n_docs)
        .groupBy("query_id", "doc_id")
        .agg(F.sum(w).alias("score"))
    )
    if round_dp is not None:
        scored = scored.withColumn("score", F.round("score", round_dp))
    return rank_topk(scored, k)


def positional_enumerate(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: DataFrame,
    terms: DataFrame | None = None,
) -> DataFrame:
    """(query_id, term, doc_id, pos) occurrence enumeration from the
    PERSISTED positional blocks (store_positions=True builds) — the
    positional sibling of `match_enumerate`, with the same shard partition
    + In(term_id) row-group pruning.  Feeds the proximity operator
    (querylang.near_match_indexed); per call it touches only the query
    terms' position blocks, never the corpus."""
    conf = idx.conf
    from igd_spark.build import shards_for

    qt = (
        terms.select("query_id", "term")
        if terms is not None
        else query_terms(queries, idx.conf)
    )
    # literal resolution (see _literal_pos_qdict): analyzer-filtered query
    # terms still enumerate their raw-stream occurrences
    qdict = _literal_pos_qdict(idx, qt).select(
        "query_id", "term", "term_id", "n_salts"
    )
    blocks = _pruned_position_blocks(idx, qdict)
    if blocks is None:
        return spark.createDataFrame([], "query_id long, term string, doc_id long, pos int")

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("term", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )

    def explode_occ(it):
        for pdf in it:
            outs = []
            for row in pdf.itertuples():
                d = codec.decode_doc_ids(bytes(row.doc_ids))  # zero gaps keep repeats
                p = codec.varint_decode(bytes(row.poss)).astype(np.int64)
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(d.size, row.query_id, dtype=np.int64),
                            "term": row.term,
                            "doc_id": d,
                            "pos": p.astype(np.int32),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs)

    return idx.live_docs(blocks.mapInPandas(explode_occ, schema=out_schema))


def search_one(
    spark: SparkSession,
    idx: InvertedIndex,
    query_text: str,
    k: int = 10,
    min_tf: int = 0,
    engine: str = "driver",
) -> DataFrame:
    """Single-query convenience — the search_1 analog (src_py/igd_py.pyx:31-38,
    IGDr/R/IGDr.R:40-43). (rank, doc_id, score).

    engine="driver" (default): the interactive path — NO Spark jobs; a
    cached dictionary lookup + pyarrow row-group-pruned block reads + the
    numpy kernel, ms-scale like the reference's in-process search_1 (see
    igd_spark.local). engine="spark" runs the one-row batch through the
    full distributed scorer (useful for plan audits and as the parity
    oracle; several-seconds scheduling floor). Both are exact and
    rank-identical (tested)."""
    if engine == "driver":
        from igd_spark.local import local_searcher

        pdf = local_searcher(idx).search_one(query_text, k=k, min_tf=min_tf)
        return spark.createDataFrame(pdf, "rank int, doc_id long, score double")
    if engine != "spark":
        raise ValueError("engine must be 'driver' or 'spark'")
    q = spark.createDataFrame([(0, query_text)], "query_id long, query_text string")
    return search(spark, idx, q, k=k, min_tf=min_tf, engine="spark").select(
        "rank", "doc_id", "score"
    )


def match_enumerate(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: DataFrame,
    with_dl: bool = False,
    terms: DataFrame | None = None,
) -> DataFrame:
    """Full-match enumeration (igd search -f analog, src/igd_search.c:537-620):
    every (query_id, term, doc_id, tf) hit, no aggregation.

    ``with_dl=True`` additionally decodes the per-posting document length
    stored in the blocks (build.py packs dls next to tfs), adding a
    ``dl:int`` column — this is what lets the indexed querylang scorers
    compute BM25 with ZERO corpus-sized joins. ``terms`` overrides the
    tokenized query text with an explicit (query_id, term) set (prefix
    expansion passes the dictionary-expanded terms here)."""
    from igd_spark.build import shards_for

    qt = (
        terms.select("query_id", "term")
        if terms is not None
        else query_terms(queries, idx.conf)
    )
    qdict = idx.dictionary.join(F.broadcast(qt), "term").select(
        "query_id", "term_id", "n_salts"
    )
    trows = qdict.select("term_id", "n_salts").distinct().collect()
    term_ids = [int(r["term_id"]) for r in trows]
    shards = sorted(
        {
            s
            for r in trows
            for s in shards_for(int(r["term_id"]), int(r["n_salts"]), idx.conf.n_shards)
        }
    )
    qdict = qdict.drop("n_salts")
    payload = ["doc_ids", "tfs"] + (["dls"] if with_dl else [])
    seg = idx.segments.filter(
        F.col("shard").isin(shards) & F.col("term_id").isin(term_ids)
    ).select("term_id", "term", *payload)  # prune: drop unused block columns pre-Arrow
    blocks = seg.join(F.broadcast(qdict), "term_id")

    fields = [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
    ]
    if with_dl:
        fields.append(T.StructField("dl", T.IntegerType(), False))
    out_schema = T.StructType(fields)

    def explode_blocks(it):
        for pdf in it:
            outs = []
            for row in pdf.itertuples():
                d = codec.decode_doc_ids(bytes(row.doc_ids))
                tf = codec.decode_tfs(bytes(row.tfs))
                cols = {
                    "query_id": np.full(d.size, row.query_id, dtype=np.int64),
                    "term": row.term,
                    "doc_id": d,
                    "tf": tf.astype(np.int32),
                }
                if with_dl:
                    cols["dl"] = codec.decode_tfs(bytes(row.dls)).astype(np.int32)
                outs.append(pd.DataFrame(cols))
            if outs:
                yield pd.concat(outs)

    # live-docs filter: tombstoned docs never leave the enumeration — this
    # one anti-join covers every consumer (the indexed querylang scorers
    # via _indexed_contrib, source_hits, delete_by_query re-runs)
    return idx.live_docs(blocks.mapInPandas(explode_blocks, schema=out_schema))


def source_hits(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: DataFrame,
    doc_sources: DataFrame,
    source_col: str = "source",
    min_tf: int = 0,
) -> DataFrame:
    """Per-source hits report — the reference's PRIMARY `igd search -q`
    output shape: one row per dataset with (index, nr, hits, fileName),
    where nr is the dataset's record count and hits the number of its
    records matching the query set (hits[idx]++ per overlap,
    src/igd_search.c:491, printed at src/igd_search.c:1032-1039).

    Text graft: a "dataset" is a source, a "record match" is a (query term,
    doc) posting hit. Returns (query_id, source, nr, hits) — per query
    rather than per whole query file (strictly finer; `groupBy(source)`
    recovers the reference's file-level totals). Sources with zero hits for
    a query still get their row, like the reference prints every dataset.

    `doc_sources`: (doc_id, <source_col>) mapping — the docmap the text
    index doesn't persist. Plan: the shard/term-pruned match_enumerate scan
    ⋈ doc→source on doc_id, grouped per (query, source); the final grid is
    distinct-query-ids ⋈ per-source nr — BOTH sides bounded (queries are a
    batch, sources are datasets), the one place a cross join is the
    semantics and not a scale hazard.

    min_tf > 0 is the `-q -v` combination (value filter applied to the
    hits accumulation, src/igd_search.c:623-694): only postings with
    tf ≥ min_tf count as hits; nr is unaffected (dataset sizes are not
    value-filtered in the reference report either)."""
    me = match_enumerate(spark, idx, queries)
    if min_tf > 0:
        me = me.filter(F.col("tf") >= min_tf)
    ds = doc_sources.select("doc_id", F.col(source_col).alias("source"))
    nr = ds.groupBy("source").agg(F.count("*").cast("long").alias("nr"))
    hits = (
        me.join(ds, "doc_id")
        .groupBy("query_id", "source")
        .agg(F.count("*").cast("long").alias("hits"))
    )
    grid = queries.select("query_id").distinct().crossJoin(F.broadcast(nr))
    return grid.join(hits, ["query_id", "source"], "left").select(
        "query_id",
        "source",
        "nr",
        F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
    )


def span_first_match(
    docs: DataFrame,
    queries: DataFrame,
    end: int,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Position-bounded matching — the Lucene SpanFirstQuery surface:
    (query_id, doc_id, n_hits) for docs where a query term occurs at token
    position < ``end`` (0-based, the `positional_postings` coordinate).
    The classic use is "match in the title/opening": for transcripts,
    "the conversation OPENS with this term".

    Scale: the occurrence stream with the position predicate pushed below
    the join+agg — at 100 TB the indexed variant reads only the query
    terms' positional blocks."""
    if end <= 0:
        raise ValueError(f"end must be positive, got {end}")
    occ = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    qt = query_terms(queries, conf)
    j = occ.join(F.broadcast(qt), "term").filter(F.col("pos") < end)
    return j.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )


def span_first_match_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: DataFrame,
    end: int,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`span_first_match` off the persisted positional index: only the
    query terms' positional blocks are read (shard partitions +
    In(term_id) row-group pruning via `positional_enumerate`), tombstones
    respected.  engine="auto" tries the in-process driver route
    (LocalSearcher.span_first_n) under the positional footer bound;
    "driver" demands it; "spark" forces the distributed plan."""
    if end <= 0:
        raise ValueError(f"end must be positive, got {end}")
    routed = _driver_route(
        spark, idx, queries, engine, _HITS_SCHEMA,
        _pos_bounded(lambda ls, rows: ls.span_first_n(rows, end)),
        positional=True, telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    occ = positional_enumerate(spark, idx, queries)
    return (
        occ.filter(F.col("pos") < end)
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


def _exclude_queries(queries: DataFrame, exclude) -> DataFrame:
    """(query_id, query_text) frame for the exclusion side: a plain string
    applies to every query; a DataFrame must carry (query_id,
    exclude_text)."""
    if isinstance(exclude, str):
        return queries.select(
            "query_id", F.lit(exclude).alias("query_text")
        )
    return exclude.select(
        "query_id", F.col("exclude_text").alias("query_text")
    )


def _span_not_epilogue(
    inc: DataFrame, exc: DataFrame, pre: int, post: int
) -> DataFrame:
    """Shared tail of both span_not paths: anti-join include occurrences
    against exclusion occurrences within [pos-pre, pos+post] in the same
    doc.  The range predicate is a residual filter on the (query_id,
    doc_id) hash join — per-pair work is occurrence-list sized (≤ dl²
    worst case on a pathological doc), never corpus-shaped."""
    if pre < 0 or post < 0:
        raise ValueError("pre and post must be >= 0")
    e = exc.select(
        F.col("query_id").alias("_eq"),
        F.col("doc_id").alias("_ed"),
        F.col("pos").alias("_ep"),
    )
    survivors = inc.join(
        e,
        (F.col("query_id") == F.col("_eq"))
        & (F.col("doc_id") == F.col("_ed"))
        & (F.col("_ep") >= F.col("pos") - F.lit(pre))
        & (F.col("_ep") <= F.col("pos") + F.lit(post)),
        "left_anti",
    )
    return survivors.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )


def span_not_match(
    docs: DataFrame,
    queries: DataFrame,
    exclude,
    pre: int = 0,
    post: int = 0,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The Lucene SpanNotQuery surface: occurrences of the query terms
    that have NO exclusion-term occurrence within ``pre`` tokens before
    or ``post`` after, counted per doc — (query_id, doc_id, n_hits); docs
    whose every occurrence is excluded are absent.  ``exclude`` is a
    string (applies to all queries) or a (query_id, exclude_text) frame.
    pre=post=0 excludes only same-position collisions (never for distinct
    single terms), larger windows express "error but not near timeout".

    Scale: two occurrence streams off ONE tokenization (both sides join
    the same positional postings), anti-joined on the fine (query, doc)
    key with the proximity window as a residual — the indexed variant
    reads only the two term sets' positional blocks.
    """
    occ = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    inc = occ.join(
        F.broadcast(query_terms(queries, conf)), "term"
    ).select("query_id", "doc_id", "pos")
    exc = occ.join(
        F.broadcast(query_terms(_exclude_queries(queries, exclude), conf)),
        "term",
    ).select("query_id", "doc_id", "pos")
    return _span_not_epilogue(inc, exc, pre, post)


def span_not_match_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    queries: DataFrame,
    exclude,
    pre: int = 0,
    post: int = 0,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`span_not_match` off the persisted positional index: two pruned
    positional enumerations (include terms, exclusion terms — shard
    partitions + In(term_id) row-group pruning each), anti-joined; the
    corpus table is never in the plan.

    engine="auto" first tries the in-process driver route
    (LocalSearcher.span_not_n) when ``exclude`` is a shared string,
    admitted by the exact (query tokens + exclusion terms) footer
    occurrence bound; "driver" demands it; "spark" forces the
    distributed plan."""
    if pre < 0 or post < 0:
        raise ValueError("pre and post must be >= 0")

    def run(ls, rows, max_post):
        split = ls.conf.token_split_re
        terms = set(_tokenize_ordered(exclude, split))
        for _, text in rows:
            terms.update(_tokenize_ordered(text, split))
        bound = _fit(ls.pos_terms_cost(terms), max_post, _POS_BOUND)
        return ls.span_not_n(rows, exclude, pre, post), {"pos_cost_bound": bound}

    routed = _driver_route(
        spark, idx, queries, engine, _HITS_SCHEMA, run, positional=True,
        refuse=None if isinstance(exclude, str) else (
            "per-query exclusion frames only run on the distributed plan"),
        telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    inc = positional_enumerate(spark, idx, queries).select(
        "query_id", "doc_id", "pos"
    )
    exc = positional_enumerate(
        spark, idx, _exclude_queries(queries, exclude)
    ).select("query_id", "doc_id", "pos")
    return _span_not_epilogue(inc, exc, pre, post)


# ---------------------------------------------------------------------------
# span_containing / span_within — the Lucene SpanContainingQuery /
# SpanWithinQuery pair over (big = ordered two-term span, little = term)
# shapes, completing the span family (first / not / near-as-NEAR).


def _span_pair_parts(
    queries: DataFrame, split_re: str
) -> tuple[DataFrame, DataFrame]:
    """Per query, the BIG span's two clause terms: the first two tokens of
    ``query_text`` (offsets 0 and 1 — the SpanNear(two clauses) shape this
    engine's span containment supports; extra tokens are ignored, a
    one-token query forms no big span and is absent from results)."""
    pt = _phrase_terms(queries, split_re)
    b1 = pt.filter(F.col("offset") == 0).select("query_id", "term")
    b2 = pt.filter(F.col("offset") == 1).select("query_id", "term")
    return b1, b2


def _span_pair_sets(
    occ: DataFrame,
    queries: DataFrame,
    little,
    span: int,
    conf: IndexConf,
) -> tuple[DataFrame, DataFrame]:
    """(spans, little_occ) from one occurrence stream ``occ`` =
    (query_id-joinable (term, doc_id, pos) rows): spans are ordered big
    pairs (p1 < p2 <= p1 + span), little_occ the little terms'
    occurrences."""
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    b1, b2 = _span_pair_parts(queries, conf.token_split_re)
    o1 = occ.join(F.broadcast(b1), "term").select(
        "query_id", "doc_id", F.col("pos").alias("p1")
    )
    o2 = occ.join(F.broadcast(b2), "term").select(
        F.col("query_id").alias("_q2"),
        F.col("doc_id").alias("_d2"),
        F.col("pos").alias("p2"),
    )
    spans = o1.join(
        o2,
        (F.col("query_id") == F.col("_q2"))
        & (F.col("doc_id") == F.col("_d2"))
        & (F.col("p2") > F.col("p1"))
        & (F.col("p2") <= F.col("p1") + F.lit(span)),
    ).select("query_id", "doc_id", "p1", "p2")
    lt = query_terms(_exclude_queries(queries, little), conf)
    little_occ = occ.join(F.broadcast(lt), "term").select(
        "query_id", "doc_id", "pos"
    )
    return spans, little_occ


def _span_containing_epilogue(
    spans: DataFrame, little_occ: DataFrame
) -> DataFrame:
    lo = little_occ.select(
        F.col("query_id").alias("_lq"),
        F.col("doc_id").alias("_ld"),
        F.col("pos").alias("_lp"),
    )
    kept = spans.join(
        lo,
        (F.col("query_id") == F.col("_lq"))
        & (F.col("doc_id") == F.col("_ld"))
        & (F.col("_lp") >= F.col("p1"))
        & (F.col("_lp") <= F.col("p2")),
        "left_semi",
    )
    return kept.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )


def _span_within_epilogue(
    spans: DataFrame, little_occ: DataFrame
) -> DataFrame:
    sp = spans.select(
        F.col("query_id").alias("_sq"),
        F.col("doc_id").alias("_sd"),
        "p1",
        "p2",
    )
    kept = little_occ.join(
        sp,
        (F.col("query_id") == F.col("_sq"))
        & (F.col("doc_id") == F.col("_sd"))
        & (F.col("pos") >= F.col("p1"))
        & (F.col("pos") <= F.col("p2")),
        "left_semi",
    )
    return kept.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )


def span_containing_match(
    docs: DataFrame,
    queries: DataFrame,
    little,
    span: int = 8,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The Lucene SpanContainingQuery surface: per doc, the number of BIG
    spans (ordered occurrences of the query's first two tokens with end -
    start <= ``span``) that CONTAIN at least one occurrence of the
    ``little`` terms — "the pair 'error timeout' with 'fatal' inside it".
    ``little`` is a string (all queries) or a (query_id, exclude_text)
    frame.  Output (query_id, doc_id, n_hits); docs with no qualifying
    containing span are absent.

    Scale: ONE corpus tokenization feeds all three occurrence streams;
    spans form on the fine (query_id, doc_id) key with the window as a
    residual (per-pair work bounded by occurrence-list products, never
    corpus-shaped); the containment test is a semi-join, so little-side
    fan-out can't duplicate spans."""
    occ = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    spans, lo = _span_pair_sets(occ, queries, little, span, conf)
    return _span_containing_epilogue(spans, lo)


def span_within_match(
    docs: DataFrame,
    queries: DataFrame,
    little,
    span: int = 8,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The Lucene SpanWithinQuery surface — the dual of
    `span_containing_match`: per doc, the number of LITTLE-term
    occurrences that fall INSIDE at least one big span.  Same big-span
    construction, same output shape."""
    occ = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    spans, lo = _span_pair_sets(occ, queries, little, span, conf)
    return _span_within_epilogue(spans, lo)


def _span_pair_sets_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    queries,
    little,
    span: int,
) -> tuple[DataFrame, DataFrame]:
    """Indexed sibling of `_span_pair_sets`: ONE pruned positional
    enumeration over the union of big and little terms (one shard-pruned
    In(term_id) scan, one driver prologue), split back per side by a
    broadcast term join."""
    queries = _materialize_local_queries(spark, queries)
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    b1, b2 = _span_pair_parts(queries, idx.conf.token_split_re)
    lt = query_terms(_exclude_queries(queries, little), idx.conf)
    all_terms = b1.unionByName(b2).unionByName(lt).dropDuplicates(
        ["query_id", "term"]
    )
    occ = positional_enumerate(spark, idx, queries, terms=all_terms)
    o1 = occ.join(F.broadcast(b1), ["query_id", "term"]).select(
        "query_id", "doc_id", F.col("pos").alias("p1")
    )
    o2 = occ.join(F.broadcast(b2), ["query_id", "term"]).select(
        F.col("query_id").alias("_q2"),
        F.col("doc_id").alias("_d2"),
        F.col("pos").alias("p2"),
    )
    spans = o1.join(
        o2,
        (F.col("query_id") == F.col("_q2"))
        & (F.col("doc_id") == F.col("_d2"))
        & (F.col("p2") > F.col("p1"))
        & (F.col("p2") <= F.col("p1") + F.lit(span)),
    ).select("query_id", "doc_id", "p1", "p2")
    little_occ = occ.join(F.broadcast(lt), ["query_id", "term"]).select(
        "query_id", "doc_id", "pos"
    )
    return spans, little_occ


def span_containing_match_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    queries,
    little,
    span: int = 8,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`span_containing_match` off the persisted positional index — one
    pruned positional scan for big + little terms together; the corpus
    table is never in the plan.

    engine="auto" first tries the in-process driver route
    (LocalSearcher.span_pair_n) when ``little`` is a shared string,
    admitted by the exact term set's footer occurrence bound; "driver"
    demands it; "spark" forces the distributed plan."""
    routed = _span_pair_route(
        spark, idx, queries, little, span, engine, "containing", telemetry
    )
    if routed is not None:
        return routed
    spans, lo = _span_pair_sets_indexed(spark, idx, queries, little, span)
    return _span_containing_epilogue(spans, lo)


def span_within_match_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    queries,
    little,
    span: int = 8,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`span_within_match` off the persisted positional index — same
    engine routing as `span_containing_match_indexed`."""
    routed = _span_pair_route(
        spark, idx, queries, little, span, engine, "within", telemetry
    )
    if routed is not None:
        return routed
    spans, lo = _span_pair_sets_indexed(spark, idx, queries, little, span)
    return _span_within_epilogue(spans, lo)


def _alt_queries(queries: DataFrame, alternatives) -> DataFrame:
    """(query_id, query_text) frame for the OR side of `span_or_match`:
    a plain string of space-separated alternative terms applies to every
    query; a DataFrame must carry (query_id, alt_text)."""
    if isinstance(alternatives, str):
        return queries.select(
            "query_id", F.lit(alternatives).alias("query_text")
        )
    return alternatives.select(
        "query_id", F.col("alt_text").alias("query_text")
    )


def _span_or_epilogue(
    occ: DataFrame, b1: DataFrame, alts: DataFrame, span: int
) -> DataFrame:
    """Shared tail of both span_or paths: ordered (anchor, any-alt) pairs
    within ``span``, counted per (query_id, doc_id).  The alternatives
    arrive as ONE occurrence stream (the SpanOr union), so a position
    matched by two alternative terms would pair twice only if two distinct
    terms occupied one position — impossible in a token stream — making
    the pair count well-defined without dedup."""
    cols = ["query_id", "term"] if "query_id" in occ.columns else ["term"]
    o1 = occ.join(F.broadcast(b1), cols).select(
        "query_id", "doc_id", F.col("pos").alias("p1")
    )
    o2 = occ.join(F.broadcast(alts), cols).select(
        F.col("query_id").alias("_q2"),
        F.col("doc_id").alias("_d2"),
        F.col("pos").alias("p2"),
    )
    pairs = o1.join(
        o2,
        (F.col("query_id") == F.col("_q2"))
        & (F.col("doc_id") == F.col("_d2"))
        & (F.col("p2") > F.col("p1"))
        & (F.col("p2") <= F.col("p1") + F.lit(span)),
    )
    return pairs.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )


def span_or_match(
    docs: DataFrame,
    queries: DataFrame,
    alternatives,
    span: int = 8,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The Lucene SpanOrQuery surface, in its canonical composition — a
    SpanNear whose second clause is the OR of several terms: per doc, the
    number of ordered pairs (anchor, alt) where ``anchor`` is the query's
    first token and ``alt`` is ANY of the ``alternatives`` occurring
    within ``span`` positions after it ("error followed closely by
    timeout OR refused OR reset").  ``alternatives`` is a space-separated
    string (all queries) or a (query_id, alt_text) frame.  Output
    (query_id, doc_id, n_hits); docs with no pair are absent.

    Scale: the OR union is formed by one broadcast term join over ONE
    shared occurrence stream — k alternatives add k dictionary rows, not
    k corpus scans; pairs form on the fine (query_id, doc_id) hash key
    with the distance test as a residual, per-doc work bounded by the
    occurrence-list product exactly like the other span operators."""
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    occ = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    b1, _ = _span_pair_parts(queries, conf.token_split_re)
    alts = query_terms(_alt_queries(queries, alternatives), conf).dropDuplicates(
        ["query_id", "term"]
    )
    return _span_or_epilogue(occ, b1, alts, span)


def span_or_match_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    queries,
    alternatives,
    span: int = 8,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`span_or_match` off the persisted positional index: one pruned
    positional enumeration over anchor + all alternatives together (one
    shard-pruned In(term_id) scan, one driver prologue); the corpus table
    is never in the plan.

    engine="auto" first tries the in-process driver route
    (LocalSearcher.span_or_n — zero Spark jobs, ms-scale warm) when
    ``alternatives`` is a shared string, admitted by the EXACT term set's
    parquet-footer occurrence bound (anchors + alternatives — the
    admission reads no data); "driver" demands it; "spark" forces the
    distributed plan.  Per-query alternative frames always take the
    distributed plan (the route's shared-alternative contract keeps the
    union stream computable once)."""
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    def run(ls, rows, max_post):
        split = ls.conf.token_split_re
        terms = set(_tokenize_ordered(alternatives, split))
        terms.update(t[0] for _, text in rows if (t := _tokenize_ordered(text, split)))
        bound = _fit(ls.pos_terms_cost(terms), max_post, _POS_BOUND)
        return ls.span_or_n(rows, alternatives, span), {"pos_cost_bound": bound}

    routed = _driver_route(
        spark, idx, queries, engine, _HITS_SCHEMA, run, positional=True,
        refuse=None if isinstance(alternatives, str) else (
            "per-query alternative frames only run on the distributed plan"),
        telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    b1, _ = _span_pair_parts(queries, idx.conf.token_split_re)
    alts = query_terms(_alt_queries(queries, alternatives), idx.conf).dropDuplicates(
        ["query_id", "term"]
    )
    all_terms = b1.unionByName(alts).dropDuplicates(["query_id", "term"])
    occ = positional_enumerate(spark, idx, queries, terms=all_terms)
    return _span_or_epilogue(occ, b1, alts, span)


def _prefix_queries(queries: DataFrame, prefix) -> DataFrame:
    """(query_id, prefix) frame for `span_multi_match`: a plain string
    applies to every query; a DataFrame must carry (query_id, prefix)."""
    if isinstance(prefix, str):
        return queries.select("query_id", F.lit(prefix).alias("prefix"))
    return prefix.select("query_id", "prefix")


def span_multi_match(
    docs: DataFrame,
    queries: DataFrame,
    prefix,
    span: int = 8,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The Lucene SpanMultiTermQueryWrapper surface — a multi-term query
    (here: prefix) lifted into a span clause: per doc, ordered pairs of
    the query's first token followed within ``span`` positions by ANY
    vocabulary term starting with ``prefix`` ("error followed closely by
    tim*").  The prefix expands against the corpus vocabulary exactly like
    `prefix_bm25_topk`, then the pair machinery is `span_or_match`'s.
    Output (query_id, doc_id, n_hits).

    Scale: expansion is vocab rows × a broadcast prefix list (one pass,
    no shuffle); the expanded set joins the ONE shared occurrence stream
    as `span_or_match`'s alternatives do — a hot prefix costs its
    expansion's total occurrences, the bound every multi-term span
    accepts."""
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    occ = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    b1, _ = _span_pair_parts(queries, conf.token_split_re)
    pq = _prefix_queries(queries, prefix)
    vocab = occ.select("term").distinct()
    alts = (
        vocab.join(F.broadcast(pq), F.col("term").startswith(F.col("prefix")))
        .select("query_id", "term")
        .dropDuplicates(["query_id", "term"])
    )
    # alts is expansion-sized (can be large for hot prefixes): let AQE pick
    # the join strategy rather than force-broadcasting it
    cols = ["term"]
    o1 = occ.join(F.broadcast(b1), cols).select(
        "query_id", "doc_id", F.col("pos").alias("p1")
    )
    o2 = occ.join(alts.withColumnRenamed("query_id", "_q2"), "term").select(
        "_q2", F.col("doc_id").alias("_d2"), F.col("pos").alias("p2")
    )
    pairs = o1.join(
        o2,
        (F.col("query_id") == F.col("_q2"))
        & (F.col("doc_id") == F.col("_d2"))
        & (F.col("p2") > F.col("p1"))
        & (F.col("p2") <= F.col("p1") + F.lit(span)),
    )
    return pairs.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_hits")
    )


def span_multi_match_indexed(
    spark: SparkSession,
    idx: InvertedIndex,
    queries,
    prefix,
    span: int = 8,
    max_expanded_terms: int = 65_536,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`span_multi_match` off the persisted positional index: the prefix
    expands against the index DICTIONARY (vocab scan, no corpus), then ONE
    pruned positional enumeration reads anchor + expansion together.  The
    expansion is collected for the prune-list prologue, so
    ``max_expanded_terms`` bounds driver memory with a loud error (the
    same cap discipline as prefix_bm25_topk_indexed).

    Analyzer caveat: the dictionary excludes analyzer-filtered terms
    (stopwords / sub-min-length) while the corpus path expands against the
    RAW positional vocabulary, so under a filtering analyzer a prefix that
    matches a stopword expands differently between the two paths — the
    usual Lucene behavior (multi-term rewrites consult the indexed terms
    dictionary, which is post-analyzer)."""
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    def run(ls, rows, max_post):
        # (1) the dictionary probe bound, (2) the expansion cap — the SAME
        # loud error as the distributed path, never a demotion, (3) the
        # anchor + expanded terms' positional footer bound
        _fit(ls.probe_rows([prefix], like=False), max_post, _PROBE_BOUND)
        expanded = ls.expand_patterns([prefix], like=False)[prefix]
        if len(expanded) > max_expanded_terms:
            raise ValueError(
                f"span_multi prefix expansion exceeds max_expanded_terms="
                f"{max_expanded_terms}; raise the cap or use the corpus-scan "
                f"span_multi_match (distributed expansion)"
            )
        if not expanded:
            return [], {}
        split = ls.conf.token_split_re
        terms = set(expanded)
        terms.update(t[0] for _, text in rows if (t := _tokenize_ordered(text, split)))
        bound = _fit(ls.pos_terms_cost(terms), max_post, _POS_BOUND)
        return ls.span_or_n(rows, " ".join(expanded), span), {"pos_cost_bound": bound}

    routed = _driver_route(
        spark, idx, queries, engine, _HITS_SCHEMA, run, positional=True,
        refuse=None if isinstance(prefix, str) else (
            "per-query prefix frames only run on the distributed plan"),
        telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    b1, _ = _span_pair_parts(queries, idx.conf.token_split_re)
    pq = _prefix_queries(queries, prefix)
    exp = (
        idx.dictionary.join(
            F.broadcast(pq), F.col("term").startswith(F.col("prefix"))
        )
        .select("query_id", "term")
        .dropDuplicates(["query_id", "term"])
    )
    rows = exp.limit(max_expanded_terms + 1).collect()
    if len(rows) > max_expanded_terms:
        raise ValueError(
            f"span_multi prefix expansion exceeds max_expanded_terms="
            f"{max_expanded_terms}; raise the cap or use the corpus-scan "
            f"span_multi_match (distributed expansion)"
        )
    alts = spark.createDataFrame(rows, exp.schema)
    all_terms = b1.unionByName(alts).dropDuplicates(["query_id", "term"])
    occ = positional_enumerate(spark, idx, queries, terms=all_terms)
    return _span_or_epilogue(occ, b1, alts, span)


def _span_pair_route(spark, idx, queries, little, span, engine, mode, telemetry):
    """Driver route of span_containing / span_within: the positional
    footer bound over the pair operators' exact term set (each query's
    first TWO tokens + the shared little terms)."""

    def run(ls, rows, max_post):
        split = ls.conf.token_split_re
        terms = set(_tokenize_ordered(little, split))
        for _, text in rows:
            terms.update(_tokenize_ordered(text, split)[:2])
        bound = _fit(ls.pos_terms_cost(terms), max_post, _POS_BOUND)
        return ls.span_pair_n(rows, little, span, mode), {"pos_cost_bound": bound}

    return _driver_route(
        spark, idx, queries, engine, _HITS_SCHEMA, run, positional=True,
        refuse=None if isinstance(little, str) else (
            "per-query little frames only run on the distributed plan"),
        telemetry=telemetry,
    )
