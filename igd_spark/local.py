"""Driver-side query serving — the in-process ms-scale `search_1`/`search_n`
analog (src_py/igd_py.pyx:31-44, kernel src_py/igd_search.c:25-128).

The batch `search()` operator launches Spark jobs: several hundred ms of
scheduling floor even when the data touched is a handful of blocks. The
reference's query calls are in-process functions against resident metadata
+ seeks into the data file — and its `getOverlaps` loops a whole query FILE
through that kernel at ms scale (src_py/igd_search.c:104-128,
src/igd_search.c:696-719). This module is both paths for the Spark-built
index: the index LAYOUT already supports it (shard dirs + files sorted by
term_id with parquet row-group statistics), so a small batch needs no
cluster at all.

Every BM25-family driver route (search, bool, prefix / wildcard, the
per-field multi_field / dis_max routes and the alternative similarities)
runs ONE pipeline, like the reference's one search_1/search_n kernel:

    term_sets     per-query distinct terms, repeated query_id rows merged
      → lookup    cached dictionary probe (term → term_id, df, n_salts)
      → lists     shards_for() probe set; the handle's row-group store
                  (rowgroups.py: footers read once, row groups kept in a
                  byte-bounded LRU) slices each missed term's block rows by
                  binary search; one segmented decode into the list LRU
      → weigh     each term's (doc_ids, contribution) ONCE per batch —
                  BM25 (_bm25, _bm25_idf) or a sim_weigher model, whose
                  weight is scoring.SIMILARITIES' expression in numpy
      → score     per-query accumulate (thread pool past 4 queries), the
                  optional AND/NOT keep-mask, Spark HALF_UP rounding,
                  (score desc, doc_id asc) top-k → one frame (_frame)

No SparkSession is touched. Results are exactly the cluster plans' top-k
(same formula, same tie-break; tested rank-identical): the alternative
similarities share the cluster plans' expression itself, not a copy. At
100 TB the reads stay small — a term's blocks are contiguous row-group
runs inside its shard's files — and the routes only admit a batch when its
total scoring work Σ_q Σ_t df(t) (batch_cost, over the same term sets the
kernel scores) fits the conf.driver_search_max_postings budget (known
exactly from the dictionary before any block is read), so a hot-term batch
over a trillion-turn index takes the cluster path regardless of query
count.

Decoded posting lists live in a per-handle LRU (the reference caches its
last-read tile, src/igd_search.c:469-475; here the cache spans terms and
calls): repeated/warm terms skip parquet entirely, and a batch's shared
Zipf-hot terms decode once for all its queries.
"""

from __future__ import annotations

import os
import time
from collections import OrderedDict

import numpy as np
import pandas as pd

from igd_spark import codec
from igd_spark.build import shards_for
from igd_spark.rowgroups import RowGroupStore
from igd_spark.scoring import NUMPY_OPS, bm25_saturation, index_sim_stats, similarity

_EMPTY_BATCH = pd.DataFrame(
    {
        "query_id": pd.Series(dtype="int64"),
        "rank": pd.Series(dtype="int32"),
        "doc_id": pd.Series(dtype="int64"),
        "score": pd.Series(dtype="float64"),
    }
)


def _bm25_idf(n_docs: int, df: int) -> float:
    """ln(1 + (N − df + 0.5)/(df + 0.5)) — scoring.idf_col in doubles, the
    one idf of the driver kernels and of search()'s small-batch prologue."""
    return float(np.log1p((n_docs - df + 0.5) / (df + 0.5)))


def _union(*maps: dict[int, set[str]]) -> list[str]:
    """Sorted union of term_sets() outputs' per-query sets."""
    return sorted(set().union(*(ts for m in maps for ts in m.values())))


def _frame(results: list[tuple], ranked: bool) -> pd.DataFrame:
    """score_n's per-query (query_id, doc_ids, scores, ...) results as one
    (query_id, rank, doc_id, score) frame — without rank unless ``ranked``."""
    if not results:
        out = _EMPTY_BATCH.copy()
        return out if ranked else out.drop(columns="rank")
    rank = {
        "rank": np.concatenate(
            [np.arange(1, r[1].size + 1, dtype=np.int32) for r in results]
        )
    } if ranked else {}
    return pd.DataFrame(
        {
            "query_id": np.concatenate(
                [np.full(r[1].size, r[0], dtype=np.int64) for r in results]
            ),
            **rank,
            "doc_id": np.concatenate([r[1] for r in results]),
            "score": np.concatenate([r[2] for r in results]),
        }
    )


def _round_half_up_spark(arr: np.ndarray, dp: int) -> np.ndarray:
    """Spark F.round(double, dp) parity for NON-NEGATIVE arrays: Spark
    rounds BigDecimal.valueOf(x) — i.e. the SHORTEST decimal repr of the
    double — with HALF_UP.  Vectorized floor(x·10^dp + 0.5) agrees except
    within a ~ulp band of the .5 boundary, where the exact decimal-string
    path decides (repr(float) is the same shortest repr as Java's
    Double.toString)."""
    scale = 10.0 ** dp
    scaled = arr * scale
    out = np.floor(scaled + 0.5) / scale
    sus = np.abs(scaled - np.floor(scaled) - 0.5) < 1e-6
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-dp)
        out = out.copy()
        for i in np.flatnonzero(sus):
            out[i] = float(
                Decimal(repr(float(arr[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def _term_runs(
    tids: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[tuple[int, np.ndarray]]:
    """(term_id, posting indices) per distinct term of a block read: block
    row i holds postings starts[i]:ends[i] of the flat decoded arrays.  One
    stable argsort by term_id keeps each term's blocks in read order; the
    rows' posting ranges expand in one vectorized pass and split where the
    term_id changes."""
    order = np.argsort(tids, kind="stable")
    lens = (ends - starts)[order]
    off = np.cumsum(lens)
    pos = np.arange(int(off[-1])) + np.repeat(starts[order] - (off - lens), lens)
    t = tids[order]
    first = np.concatenate(([0], np.flatnonzero(t[1:] != t[:-1]) + 1))
    cut = np.concatenate(([0], off))[np.append(first, t.size)]
    return [
        (int(t[f]), pos[cut[i]:cut[i + 1]]) for i, f in enumerate(first)
    ]


def _tokenize_ordered(text: str, split_re: str) -> list[str]:
    """IN-ORDER tokens, duplicates kept — the phrase contract (matches
    tokens_col + the non-empty filter, so offsets line up with
    search._phrase_terms' dense re-ranked offsets)."""
    import re

    return [t for t in re.split(split_re, (text or "").lower()) if t]


class LocalSearcher:
    """Per-index driver-side searcher. Holds the memoized dictionary slice
    (the reference keeps the whole dictionary resident, src/igd_base.c:312-321;
    we fault terms in on demand), an LRU of decoded posting lists, bounded
    by total decoded postings, and the handle's row-group store: every
    parquet footer and row group it reads, read once (rowgroups.py)."""

    # ~16 M postings × 3 arrays × 8 B ≈ 384 MB ceiling — driver-sized
    CACHE_MAX_POSTINGS = 16_000_000
    # resident parquet row groups (RowGroupStore), Arrow bytes
    CACHE_MAX_ROW_GROUP_BYTES = 128 << 20
    # scoring thread pool width (numpy sort/bincount release the GIL);
    # bounded so a shared cluster driver isn't saturated
    SCORE_THREADS = min(8, os.cpu_count() or 1)

    def __init__(self, idx):
        from igd_spark.session import tune_allocator

        tune_allocator()  # decode temporaries stay heap-resident (see session.py)
        # what the searcher reads of the handle, never the handle itself:
        # the handle holds this searcher (local_searcher), so a back
        # reference would keep a dropped handle's caches alive until the
        # cyclic GC runs
        self.path = idx.path
        self.meta = idx.meta
        self.conf = idx.conf
        self.n_docs = idx.n_docs
        self.avgdl = idx.avgdl
        self.batches = list(idx.batches)
        # live-docs snapshot: sorted deleted-doc array (None without
        # deletes) — same Lucene tombstone semantics as the cluster kernel;
        # read via pyarrow at handle-open time, so list-cache entries are
        # pre-filtered and stay valid for this snapshot
        self._deleted = idx.tombstones_array()
        # every parquet read of this handle: footers once, row groups kept
        self.store = RowGroupStore(self.CACHE_MAX_ROW_GROUP_BYTES)
        self._dict_cache: dict[str, tuple[int, int, int] | None] = {}
        # (like, pattern) → matching dictionary terms (expand_patterns)
        self._expand_cache: dict[tuple[bool, str], list[str]] = {}
        # term_id → (doc_ids, tf, dl) concatenated over all salts/blocks/
        # batches — raw (pre-BM25) so one cache serves every (k, min_tf)
        self._list_cache: "OrderedDict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]" = (
            OrderedDict()
        )
        self._cache_postings = 0
        # positional sibling: term_id → (occurrence doc_ids, positions);
        # only populated on store_positions=True indexes
        self._pos_cache: "OrderedDict[int, tuple[np.ndarray, np.ndarray]]" = (
            OrderedDict()
        )
        self._pos_cache_occ = 0

    # --- table roots (base ∪ committed batch dirs) -------------------------
    def _table_dirs(self, sub: str) -> list[str]:
        """<sub> of the base and of every committed batch in this snapshot
        (a batch without the table is an empty dir to the store)."""
        return [os.path.join(self.path, sub)] + [
            os.path.join(self.path, "batches", tag, sub) for tag in self.batches
        ]

    def _shard_dirs(self, sub: str, shards: list[int]) -> list[str]:
        return [
            os.path.join(root, f"shard={s}")
            for root in self._table_dirs(sub)
            for s in shards
        ]

    def _dictionary_rows(self, mask) -> dict[str, list[tuple[int, int, int]]]:
        """term → its (term_id, df, n_salts) rows over base + delta
        dictionaries, for the rows where ``mask(table)`` holds."""
        found: dict[str, list[tuple[int, int, int]]] = {}
        cols = ["term", "term_id", "df", "n_salts"]
        for tab in self.store.tables(self._table_dirs("dictionary"), cols):
            t = tab.filter(mask(tab))
            for term, tid, df, ns in zip(*(t[c].to_pylist() for c in cols)):
                found.setdefault(term, []).append((int(tid), int(df), int(ns)))
        return found

    def _lookup_terms(self, terms: list[str]) -> dict[str, tuple[int, int, int]]:
        """term → (term_id, df, n_salts), folded over base + delta rows
        (df additive, n_salts max — same fold as InvertedIndex.dictionary)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        missing = [t for t in terms if t not in self._dict_cache]
        if missing:
            vals = pa.array(missing, pa.string())
            found = self._dictionary_rows(
                lambda tab: pc.is_in(tab["term"], value_set=vals)
            )
            for t in missing:
                rows = found.get(t)
                if not rows:
                    self._dict_cache[t] = None
                else:
                    self._dict_cache[t] = (
                        rows[0][0],
                        sum(r[1] for r in rows),
                        max(r[2] for r in rows),
                    )
        return {t: v for t in terms if (v := self._dict_cache.get(t)) is not None}

    def _term_blocks(
        self, sub: str, term_ids: list[int], shards: list[int], cols: list[str]
    ) -> pd.DataFrame:
        """Block rows of the given terms in table ``sub`` (segments /
        positions): only shard dirs in the probe set are looked at, only
        row groups whose footer term_id min/max admits a queried term are
        read (once per handle), and a term's rows are the binary-searched
        run of the sorted file — the tile-seek analog,
        src/igd_search.c:459-464."""
        t = self.store.term_rows(self._shard_dirs(sub, shards), term_ids, cols)
        return pd.DataFrame(columns=cols) if t is None else t.to_pandas()

    def _read_blocks(self, term_ids: list[int], shards: list[int]) -> pd.DataFrame:
        """Segment block rows for the given terms (_term_blocks)."""
        return self._term_blocks(
            "segments", term_ids, shards,
            ["term_id", "salt", "n", "doc_ids", "tfs", "dls"],
        )

    # --- decoded-list LRU ---------------------------------------------------
    def _ensure_lists(
        self, tmap: dict[str, tuple[int, int, int]], telemetry: dict | None = None
    ) -> None:
        """Fault every term in tmap's lists into the LRU (one pruned read
        for all misses together), then evict least-recently-used lists past
        the postings budget — never the ones this batch just requested."""
        missing = sorted(
            {tid for (tid, _, _) in tmap.values() if tid not in self._list_cache}
        )
        for (tid, _, _) in tmap.values():  # refresh recency of the hits
            if tid in self._list_cache:
                self._list_cache.move_to_end(tid)
        if telemetry is not None:
            telemetry["terms_cached"] = len(tmap) - len(missing)
            telemetry["terms_read"] = len(missing)
        if not missing:
            return
        mset = set(missing)
        shards = sorted(
            {
                s
                for (tid, _, ns) in tmap.values()
                if tid in mset
                for s in shards_for(tid, ns, self.conf.n_shards)
            }
        )
        blocks = self._read_blocks(missing, shards)
        grouped: dict[int, tuple] = {}
        if len(blocks):
            # ONE segmented varint pass per column over the whole read, not
            # one python decode call per block row (codec.decode_blocks,
            # shared with the cluster kernel) — measured ~15x on a
            # 9M-posting cold read (7.6 s -> 0.5 s)
            n_arr = blocks["n"].to_numpy(dtype=np.int64)
            d_all, tf_all, dl_all = codec.decode_blocks(
                n_arr, blocks["doc_ids"], blocks["tfs"], blocks["dls"]
            )
            ends = np.cumsum(n_arr)
            starts = ends - n_arr
            tids_arr = blocks["term_id"].to_numpy(dtype=np.int64)
            if self._deleted is not None and self._deleted.size:
                from igd_spark.build import _live_mask

                keep = _live_mask(d_all, self._deleted)
                # lens per block survive via padded cumsum, but the list
                # cache is per-term concatenations — filter the flat arrays
                # and remap block offsets through the survivor cumsum
                surv = np.concatenate(([0], np.cumsum(keep.astype(np.int64))))
                d_all, tf_all, dl_all = d_all[keep], tf_all[keep], dl_all[keep]
                starts, ends = surv[starts], surv[ends]
            for tid, ix in _term_runs(tids_arr, starts, ends):
                grouped[tid] = (d_all[ix], tf_all[ix], dl_all[ix])
        empty3 = (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.float64),
            np.empty(0, dtype=np.float64),
        )
        for tid in missing:
            d, tf, dl = grouped.get(tid, empty3)
            self._list_cache[tid] = (d, tf, dl)
            self._cache_postings += d.size
        # evict cold lists (never this batch's: they were all just touched
        # or inserted, so they sit at the MRU end — the LRU front is prior
        # calls' leftovers)
        protect = {tid for (tid, _, _) in tmap.values()}
        while (
            self._cache_postings > self.CACHE_MAX_POSTINGS
            and len(self._list_cache) > len(protect)
        ):
            old_tid, entry = self._list_cache.popitem(last=False)
            if old_tid in protect:  # re-insert at MRU end; stop evicting
                self._list_cache[old_tid] = entry
                break
            self._cache_postings -= entry[0].size

    # --- the BM25-family pipeline ------------------------------------------
    # terms → lists → weigh → accumulate → top-k (score_n): the one kernel
    # of every BM25-family driver route in search / querylang.

    def term_sets(
        self, rows, analyzed: bool = False, split_re: str | None = None
    ) -> dict[int, set[str]]:
        """query_id → distinct terms of its rows' texts — the query_terms
        convention: a term scores once per query and repeated query_id
        rows merge.  ``rows``: (query_id, text, ...) tuples; a null text is
        an empty query.  ``analyzed`` also drops stopwords and terms under
        min_token_len (the bool_bm25_topk stop-filter contract);
        ``split_re`` replaces the index regex (wildcard patterns keep their
        * / ? metacharacters)."""
        import re

        rx = re.compile(split_re or self.conf.token_split_re)
        stop = set(self.conf.stopwords) if analyzed else set()
        mlen = self.conf.min_token_len if analyzed else 0
        per_q: dict[int, set[str]] = {}
        for qid, text, *_ in rows:
            per_q.setdefault(int(qid), set()).update(
                t for t in rx.split((text or "").lower())
                if t and len(t) >= mlen and t not in stop
            )
        return per_q

    def term_map(self, per_q: dict[int, set[str]]) -> dict[str, tuple[int, int, int]]:
        """term → (term_id, df, n_salts) for the dictionary terms of
        term_sets() output."""
        return self._lookup_terms(_union(per_q))

    def batch_cost(self, per_q: dict[int, set[str]]) -> int:
        """Σ_q Σ_{t∈q} df(t) over term_sets() output — the exact number of
        postings score_n scores, from the dictionary alone (no block IO).
        The routing estimator the driver routes compare against
        conf.driver_search_max_postings."""
        tmap = self.term_map(per_q)
        return sum(tmap[t][1] for ts in per_q.values() for t in ts if t in tmap)

    def _bm25(self, tf, dl, df):
        """BM25 contribution of one term's postings (the ONE driver copy of
        scoring.bm25_weight_col × idf_col)."""
        return _bm25_idf(self.n_docs, df) * bm25_saturation(
            tf, dl, self.avgdl, self.conf.k1, self.conf.b
        )

    def sim_weigher(self, model: str, lam: float):
        """weigh(tf, dl, df) for an alternative similarity — score_n's
        ``weigh``.  ``model``: "tfidf" (Lucene ClassicSimilarity:
        sqrt(tf)·(1+ln(N/(df+1)))²/√dl), "lm_jm" (Jelinek-Mercer:
        ln(1 + ((1−λ)tf/dl)/(λ·cf/total))), "dfi" (divergence from
        independence, standardized), "pl2" (DFR Poisson/Laplace/H2 —
        ``lam`` carries the H2 strength c), "ib_ll" (information-based,
        log-logistic, ``lam`` = c), "ax_f2exp"/"ax_f2log" (axiomatic,
        ``lam`` = F2EXP's k) or "bm25_plus"/"bm25_l" (``lam`` = delta).
        df (the list length) and cf come FROM the decoded
        (tombstone-filtered) lists — the same statistics the cluster twin
        derives from enumerated pruned blocks, so rank identity holds
        under deletes; N, avgdl and total tokens come from the frozen
        corpus metadata, like the cluster path.  The weight is
        scoring.SIMILARITIES' expression — the one the cluster plans build
        in Catalyst — evaluated in numpy.  These models have no block-max
        bound, so the full match map is scored (that is exactly what the
        admission budget priced)."""
        weight = similarity(model, lam, driver=True).weight
        st = index_sim_stats(self.meta, self.conf, model)

        def weigh(tf, dl, _df):
            # DFI's where() takes the log of entries it then masks out
            with np.errstate(divide="ignore", invalid="ignore"):
                return weight(NUMPY_OPS, tf, dl, tf.size, float(tf.sum()), st, lam)

        return weigh

    def score_n(
        self,
        per_q: dict[int, set[str]],
        k: int | None = None,
        *,
        min_tf: int = 0,
        round_dp: int | None = None,
        weigh=None,
        and_not: dict[int, set[str]] | None = None,
        telemetry: dict | None = None,
    ) -> pd.DataFrame:
        """(query_id, rank, doc_id, score) top-k per query over term_sets()
        output, zero Spark jobs — the getOverlaps analog
        (src_py/igd_search.c:104-128): one dictionary probe + one pruned
        block read for the batch's UNION of terms, each list decoded at
        most once (the LRU), each term's (doc_ids, contribution) computed
        ONCE for the batch, then a per-query accumulate.  Same math,
        rounding-before-rank (Spark HALF_UP, when ``round_dp`` is set) and
        (score desc, doc_id asc) tie-break as the cluster plans —
        rank-identical by construction (tested).

        ``weigh(tf, dl, df)`` replaces BM25 (sim_weigher); ``min_tf``
        drops postings below it first.  ``and_not`` (query_id → NOT terms)
        switches on the AND/NOT rule of bool_bm25_topk: a doc qualifies iff
        it holds EVERY query term (a corpus-absent term matches nothing)
        and none of the NOT terms; survivors keep their disjunctive score.
        ``k=None`` returns the full match map (query_id, doc_id, score) —
        the per-field building block of the multi-field routes."""
        t0 = time.perf_counter()
        union = _union(per_q, and_not or {})
        tmap = self._lookup_terms(union)
        t1 = time.perf_counter()
        if not tmap:
            return _frame([], k is not None)
        self._ensure_lists(tmap, telemetry=telemetry)
        t2 = time.perf_counter()
        weigh = weigh or self._bm25
        contrib: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t, (tid, df, _) in tmap.items():
            d, tf, dl = self._list_cache[tid]
            if min_tf > 0:
                m = tf >= min_tf
                d, tf, dl = d[m], tf[m], dl[m]
            # an empty list has nothing to weigh (its empty tf is its weights)
            contrib[t] = (d, weigh(tf, dl, df) if d.size else tf)

        def score_one(qid: int):
            """(qid, doc_ids, scores, n_postings) or None."""
            terms = sorted(per_q[qid])
            if and_not is not None and (
                not terms or any(t not in contrib for t in terms)
            ):
                return None  # all-stopword or corpus-absent term: AND matches nothing
            parts = [contrib[t] for t in terms if t in contrib and contrib[t][0].size]
            if not parts:
                return None
            if len(parts) == 1:
                ids, ws = parts[0]
            else:
                ids = np.concatenate([p[0] for p in parts])
                ws = np.concatenate([p[1] for p in parts])
            uids, inv = np.unique(ids, return_inverse=True)
            scores = np.bincount(inv, weights=ws, minlength=uids.size)
            if and_not is not None:
                keep = np.bincount(inv, minlength=uids.size) == len(terms)
                banned = [
                    contrib[t][0] for t in sorted(and_not.get(qid, ()))
                    if t in contrib and contrib[t][0].size
                ]
                if banned:
                    keep &= ~np.isin(uids, np.concatenate(banned))
                uids, scores = uids[keep], scores[keep]
                if not uids.size:
                    return None
            if round_dp is not None:
                scores = _round_half_up_spark(scores, round_dp)
            if k is not None:
                order = np.lexsort((uids, -scores))[:k]
                uids, scores = uids[order], scores[order]
            return qid, uids, scores, ids.size

        # per-query scoring is embarrassingly parallel and numpy's sort /
        # bincount kernels release the GIL, so a thread pool buys ~3x on
        # real batches (measured 834 -> 298 ms for 100 Zipf queries at 8
        # threads). Results are per-query-independent — assembly order is
        # pinned by the sorted qid list either way, so the output is
        # bit-identical to the serial loop.
        qids = sorted(per_q)
        if len(qids) > 4 and self.SCORE_THREADS > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(self.SCORE_THREADS) as ex:
                results = list(ex.map(score_one, qids))
        else:
            results = [score_one(q) for q in qids]
        results = [r for r in results if r is not None]
        t3 = time.perf_counter()
        if telemetry is not None:
            telemetry.update(
                engine="driver",
                n_queries=len(per_q),
                n_terms=len(union),
                postings_scored=sum(r[3] for r in results),
                lookup_ms=1000 * (t1 - t0),
                read_decode_ms=1000 * (t2 - t1),
                score_ms=1000 * (t3 - t2),
            )
        return _frame(results, k is not None)

    def search_n(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        min_tf: int = 0,
        telemetry: dict | None = None,
    ) -> pd.DataFrame:
        """(query_id, rank, doc_id, score) — exact BM25 top-k for a batch
        of (query_id, query_text) rows: score_n over term_sets(queries)."""
        per_q = self.term_sets(queries)
        return self.score_n(per_q, k, min_tf=min_tf, telemetry=telemetry)

    def search_one(self, query_text: str, k: int = 10, min_tf: int = 0) -> pd.DataFrame:
        """(rank, doc_id, score) — exact BM25 top-k for one query, no Spark
        jobs. Thin wrapper over search_n (shares its list LRU, so repeated
        interactive queries serve warm)."""
        out = self.search_n([(0, query_text)], k=k, min_tf=min_tf)
        return out[["rank", "doc_id", "score"]].reset_index(drop=True)

    def sim_topk_n(
        self,
        queries: list[tuple[int, str]],
        model: str = "tfidf",
        k: int = 10,
        lam: float = 0.1,
        round_dp: int | None = None,
    ) -> pd.DataFrame:
        """(query_id, rank, doc_id, score) — exact top-k under an
        alternative similarity (sim_weigher) for (query_id, query_text)
        rows: score_n over term_sets(queries)."""
        weigh = self.sim_weigher(model, lam)
        return self.score_n(self.term_sets(queries), k, round_dp=round_dp, weigh=weigh)

    # --- dictionary-expansion driver path (prefix / wildcard) --------------

    def vocab_rows(self) -> int:
        """Total dictionary rows from parquet FOOTERS only (the store's) — the
        IO-free admission bound for the expansion probes: the pattern scan
        reads the dictionary's term column, so a vocab that outgrows the
        driver budget demotes to the distributed expansion with zero IO."""
        return self.store.num_rows(self._table_dirs("dictionary"))

    def probe_rows(self, pats, like: bool) -> int:
        """Dictionary rows an expand_patterns(pats, like) call may read —
        the driver route's probe bound: 0 when every pattern's expansion is
        cached, else vocab_rows() (footers only, no data IO)."""
        if all((like, p) in self._expand_cache for p in pats):
            return 0
        return self.vocab_rows()

    def expand_patterns(
        self, pats: list[str], like: bool
    ) -> dict[str, list[str]]:
        """pattern → matching dictionary terms.  ``like=False`` treats each
        pattern as a PREFIX (Spark `startswith` parity); ``like=True`` as a
        SQL LIKE pattern with %/_ wildcards (pyarrow match_like == Spark
        `term LIKE pat`).  One filter over the resident dictionary row
        groups covers ALL uncached patterns (OR of the per-pattern exprs);
        matched terms' (term_id, df, n_salts) rows fold into the dictionary
        cache with the same base+delta fold as _lookup_terms, so the
        subsequent scoring probe is free."""
        import re as _re

        import pyarrow.compute as pc

        cache = self._expand_cache
        missing = [p for p in pats if (like, p) not in cache]
        if missing:
            exprs = [
                pc.match_like(pc.field("term"), p) if like
                else pc.starts_with(pc.field("term"), p)
                for p in missing
            ]
            flt = exprs[0]
            for e in exprs[1:]:
                flt = flt | e
            found = self._dictionary_rows(lambda _tab: flt)
            for term, rows in found.items():
                self._dict_cache[term] = (
                    rows[0][0],
                    sum(r[1] for r in rows),
                    max(r[2] for r in rows),
                )
            terms = sorted(found)
            for p in missing:
                if like:
                    rx = _re.compile(
                        "".join(".*" if c == "%" else "." if c == "_"
                                else _re.escape(c) for c in p)
                    )
                    cache[(True, p)] = [t for t in terms if rx.fullmatch(t)]
                else:
                    cache[(False, p)] = [t for t in terms if t.startswith(p)]
        return {p: cache[(like, p)] for p in pats}

    def complete(self, per_q: dict[int, str], n: int = 5) -> pd.DataFrame:
        """(query_id, rank, term, df) — top-n dictionary completions per
        prefix, (df desc, term asc): the `complete_terms` epilogue over an
        `expand_patterns` probe.  Zero posting-block IO — the autocomplete
        hot path touches only the (cached) dictionary slice, which is why
        this route exists: completion is the most latency-sensitive query
        shape there is (fired per keystroke)."""
        pats = sorted({p for p in per_q.values() if p})
        exp = self.expand_patterns(pats, like=False) if pats else {}
        qids, ranks, terms, dfs = [], [], [], []
        for qid in sorted(per_q):
            p = per_q[qid]
            if not p:
                continue
            cands = sorted(
                ((self._dict_cache[t][1], t) for t in exp.get(p, ())),
                key=lambda dt: (-dt[0], dt[1]),
            )[:n]
            for r, (df, t) in enumerate(cands, 1):
                qids.append(qid); ranks.append(r); terms.append(t); dfs.append(df)
        return pd.DataFrame(
            {
                "query_id": pd.array(qids, dtype="int64"),
                "rank": pd.array(ranks, dtype="int32"),
                "term": pd.array(terms, dtype=object),
                "df": pd.array(dfs, dtype="int64"),
            }
        )

    # --- positional driver path (phrase / NEAR / span_first) ---------------
    # The in-process siblings of phrase_match_indexed / near_match_indexed /
    # span_first_match_indexed: same pruned reads (shard dirs + term_id
    # row-group skipping) against the positions tables, same anchor/window
    # semantics as the Spark epilogues (_anchor_hits / _near_epilogue) —
    # rank-identical by construction, pytest-pinned. Admission is two-tier
    # and IO-free-first (pos_batch_cost): parquet FOOTER row counts bound
    # the occurrence volume before any data read, so a stopword's
    # billion-occurrence position list over a trillion-turn index bails to
    # the cluster with zero IO.

    def _lookup_terms_literal(
        self, terms: list[str]
    ) -> dict[str, tuple[int, int, int]]:
        """term → (term_id, df, n_salts) under the LITERAL positional
        contract (search._literal_pos_qdict): analyzer-removed terms miss
        the dictionary but still live in the raw position stream under
        term_id = xxhash64(term) with salt 1; df = -1 marks them UNKNOWN
        (admission must then lean on footer bounds, never the dictionary)."""
        from igd_spark.hashing import xxh64_py

        found = self._lookup_terms(terms)
        out: dict[str, tuple[int, int, int]] = {}
        for t in terms:
            out[t] = found[t] if t in found else (xxh64_py(t), -1, 1)
        return out

    def pos_footer_rows(self, term_ids: list[int], shards: list[int]) -> int:
        """Σ num_rows over row groups whose term_id min/max admits any
        queried term — from parquet FOOTERS only, zero data IO. Each row is
        one block of ≤ conf.block_size occurrences, so rows × block_size
        upper-bounds the occurrence volume a payload read could return
        (a row group without stats always counts)."""
        return self.store.admitted_rows(
            self._shard_dirs("positions", shards), term_ids
        )

    def _read_pos_blocks(
        self, term_ids: list[int], shards: list[int]
    ) -> pd.DataFrame:
        """Position block rows for the given terms (_term_blocks)."""
        return self._term_blocks(
            "positions", term_ids, shards, ["term_id", "n", "doc_ids", "poss"]
        )

    def _ensure_pos_lists(self, tmap: dict[str, tuple[int, int, int]]) -> None:
        """Fault missing terms' occurrence lists into the positional LRU —
        one pruned read for all misses, the same segmented decode as
        _ensure_lists (occurrence doc ids are non-decreasing with zero
        gaps; every block's first value is absolute)."""
        missing = sorted(
            {tid for (tid, _, _) in tmap.values() if tid not in self._pos_cache}
        )
        for (tid, _, _) in tmap.values():
            if tid in self._pos_cache:
                self._pos_cache.move_to_end(tid)
        if not missing:
            return
        mset = set(missing)
        shards = sorted(
            {
                s
                for (tid, _, ns) in tmap.values()
                if tid in mset
                for s in shards_for(tid, ns, self.conf.n_shards)
            }
        )
        blocks = self._read_pos_blocks(missing, shards)
        grouped: dict[int, tuple] = {}
        if len(blocks):
            n_arr = blocks["n"].to_numpy(dtype=np.int64)
            vals = codec.varint_decode(
                b"".join(bytes(x) for x in blocks["doc_ids"])
            ).astype(np.int64)
            ends = np.cumsum(n_arr)
            c = np.cumsum(vals)
            cpad = np.concatenate(([0], c))
            d_all = c - np.repeat(cpad[ends - n_arr], n_arr)
            p_all = codec.varint_decode(
                b"".join(bytes(x) for x in blocks["poss"])
            ).astype(np.int64)
            starts = np.concatenate(([0], ends[:-1]))
            tids_arr = blocks["term_id"].to_numpy(dtype=np.int64)
            if self._deleted is not None and self._deleted.size:
                from igd_spark.build import _live_mask

                keep = _live_mask(d_all, self._deleted)
                surv = np.concatenate(([0], np.cumsum(keep.astype(np.int64))))
                d_all, p_all = d_all[keep], p_all[keep]
                starts, ends = surv[starts], surv[ends]
            for tid, ix in _term_runs(tids_arr, starts, ends):
                grouped[tid] = (d_all[ix], p_all[ix])
        empty2 = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
        for tid in missing:
            d, p = grouped.get(tid, empty2)
            self._pos_cache[tid] = (d, p)
            self._pos_cache_occ += d.size
        protect = {tid for (tid, _, _) in tmap.values()}
        while (
            self._pos_cache_occ > self.CACHE_MAX_POSTINGS
            and len(self._pos_cache) > len(protect)
        ):
            old_tid, entry = self._pos_cache.popitem(last=False)
            if old_tid in protect:
                self._pos_cache[old_tid] = entry
                break
            self._pos_cache_occ -= entry[0].size

    def pos_batch_cost(self, texts: list[str]) -> int:
        """Occurrence bound of this batch's positional work — the driver
        route admits the batch when it fits driver_search_max_postings.

        Tier 0 (free): cached lists cost nothing; dictionary df bounds
        nothing for positions (occurrences ≥ df), so every uncached term
        goes to tier 1. Tier 1 (footers only): Σ row-group rows × block
        size upper-bounds the payload read. The bound is conservative (a
        matching row group may hold other terms' rows too) — fine: the
        failure mode is demoting a small batch to the cluster, never
        admitting a huge one to the driver."""
        terms = sorted(
            {
                t
                for text in texts
                for t in _tokenize_ordered(text, self.conf.token_split_re)
            }
        )
        return self.pos_terms_cost(terms)

    def pos_terms_cost(self, terms) -> int:
        """pos_batch_cost over an EXPLICIT term set — the admission bound
        for routes whose term set is not the tokenized text (phrase-prefix
        expansions, span clauses)."""
        if not terms:
            return 0
        tmap = self._lookup_terms_literal(sorted(set(terms)))
        uncached = {
            t: v for t, v in tmap.items() if v[0] not in self._pos_cache
        }
        if not uncached:
            return 0
        term_ids = sorted({tid for (tid, _, _) in uncached.values()})
        shards = sorted(
            {
                s
                for (tid, _, ns) in uncached.values()
                for s in shards_for(tid, ns, self.conf.n_shards)
            }
        )
        return self.pos_footer_rows(term_ids, shards) * self.conf.block_size

    def _pos_lists_for(
        self, texts: list[str]
    ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
        """term → (occurrence doc_ids, positions) for every distinct token
        of ``texts``, faulting through the positional LRU."""
        terms = sorted(
            {
                t
                for text in texts
                for t in _tokenize_ordered(text, self.conf.token_split_re)
            }
        )
        return self._pos_lists_for_terms(terms)

    def _pos_lists_for_terms(
        self, terms: list[str]
    ) -> dict[str, tuple[np.ndarray, np.ndarray]]:
        """_pos_lists_for over an explicit term set (expansion routes)."""
        if not terms:
            return {}
        tmap = self._lookup_terms_literal(sorted(set(terms)))
        self._ensure_pos_lists(tmap)
        return {t: self._pos_cache[tid] for t, (tid, _, _) in tmap.items()}

    @staticmethod
    def _count_anchor_hits(parts, plen):
        """Anchor counting shared by phrase_n / phrase_prefix_n: ``parts``
        is a list of (doc_ids, anchors) arrays (one per offset; the prefix
        group contributes ONE concatenated pair — a position holds one
        token, so the group can fill its offset at most once per anchor).
        Returns (doc_ids, n_hits) of docs where some anchor collected all
        ``plen`` offsets, or None."""
        docs = np.concatenate([x[0] for x in parts])
        anch = np.concatenate([x[1] for x in parts])
        m = anch >= 0
        docs, anch = docs[m], anch[m]
        if not docs.size:
            return None
        ud, dinv = np.unique(docs, return_inverse=True)
        amax = int(anch.max()) + 1
        key = dinv.astype(np.int64) * amax + anch
        uk, counts = np.unique(key, return_counts=True)
        hits = uk[counts == plen]
        if not hits.size:
            return None
        nh = np.bincount((hits // amax).astype(np.int64), minlength=ud.size)
        nz = np.flatnonzero(nh)
        return ud[nz], nh[nz].astype(np.int64)

    @staticmethod
    def _hits_frame(out_q, out_d, out_n) -> pd.DataFrame:
        if not out_q:
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "doc_id": pd.Series(dtype="int64"),
                    "n_hits": pd.Series(dtype="int64"),
                }
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "doc_id": np.concatenate(out_d),
                "n_hits": np.concatenate(out_n),
            }
        )

    def phrase_n(self, phrases: list[tuple[int, str]]) -> pd.DataFrame:
        """(query_id, doc_id, n_hits) — exact phrase counts, zero Spark
        jobs. Same anchor semantics as _anchor_hits: anchor a hits iff
        every phrase offset i has an occurrence at position a+i."""
        lists = self._pos_lists_for([t for _, t in phrases])
        out_q, out_d, out_n = [], [], []
        for qid, text in phrases:
            toks = _tokenize_ordered(text, self.conf.token_split_re)
            plen = len(toks)
            if plen == 0:
                continue
            parts = []
            ok = True
            for off, t in enumerate(toks):
                d, p = lists.get(t, (None, None))
                if d is None or not d.size:
                    ok = False  # a zero-occurrence offset kills every anchor
                    break
                parts.append((d, p - off))
            if not ok:
                continue
            hit = self._count_anchor_hits(parts, plen)
            if hit is None:
                continue
            ud, nh = hit
            out_q.append(np.full(ud.size, qid, dtype=np.int64))
            out_d.append(ud)
            out_n.append(nh)
        return self._hits_frame(out_q, out_d, out_n)

    def phrase_prefix_terms(
        self, phrases: list[tuple[int, str]], max_expansions: int
    ) -> tuple[dict[int, tuple[list[str], list[str]]], set[str]]:
        """Decompose each phrase for match_phrase_prefix: qid →
        (literal tokens, capped expansion terms of the LAST token), plus
        the union term set (the admission/IO footprint).  Expansions come
        from the dictionary probe (expand_patterns returns term-sorted
        matches, so the [:max_expansions] slice IS the Lucene term-order
        cap)."""
        per_q: dict[int, tuple[list[str], list[str]]] = {}
        prefixes = set()
        for qid, text in phrases:
            toks = _tokenize_ordered(text, self.conf.token_split_re)
            if toks:
                prefixes.add(toks[-1])
        exp = self.expand_patterns(sorted(prefixes), like=False)
        all_terms: set[str] = set()
        for qid, text in phrases:
            toks = _tokenize_ordered(text, self.conf.token_split_re)
            if not toks:
                continue
            lits, group = toks[:-1], exp[toks[-1]][:max_expansions]
            per_q[int(qid)] = (lits, group)
            if group:  # no expansion ⇒ the query can never match: skip IO
                all_terms.update(lits)
                all_terms.update(group)
        return per_q, all_terms

    def phrase_prefix_n(
        self, phrases: list[tuple[int, str]], max_expansions: int
    ) -> pd.DataFrame:
        """(query_id, doc_id, n_hits) — match_phrase_prefix in-process:
        literal offsets as phrase_n; the last offset is the OR of the
        prefix's capped dictionary expansions (their occurrence lists
        concatenated — disjoint per position by construction)."""
        per_q, all_terms = self.phrase_prefix_terms(phrases, max_expansions)
        lists = self._pos_lists_for_terms(sorted(all_terms))
        out_q, out_d, out_n = [], [], []
        for qid, (lits, group) in per_q.items():
            plen = len(lits) + 1
            parts = []
            ok = True
            for off, t in enumerate(lits):
                d, p = lists.get(t, (None, None))
                if d is None or not d.size:
                    ok = False
                    break
                parts.append((d, p - off))
            if not ok:
                continue
            gparts = [
                lists[t] for t in group if t in lists and lists[t][0].size
            ]
            if not gparts:
                continue  # empty expansion group: no anchor can complete
            gd = np.concatenate([x[0] for x in gparts])
            gp = np.concatenate([x[1] for x in gparts])
            parts.append((gd, gp - (plen - 1)))
            hit = self._count_anchor_hits(parts, plen)
            if hit is None:
                continue
            ud, nh = hit
            out_q.append(np.full(ud.size, qid, dtype=np.int64))
            out_d.append(ud)
            out_n.append(nh)
        return self._hits_frame(out_q, out_d, out_n)

    def intervals_n(
        self, queries: list[tuple[int, str]], max_gaps: int
    ) -> pd.DataFrame:
        """(query_id, doc_id, n_anchors, min_gaps) — the ordered intervals
        query in-process (search.intervals_match semantics): per candidate
        doc, the vectorized greedy chain from every offset-0 occurrence,
        matched iff its chain ends within first + (n-1) + max_gaps."""
        lists = self._pos_lists_for([t for _, t in queries])
        big = np.iinfo(np.int64).max
        out_q, out_d, out_a, out_g = [], [], [], []
        for qid, text in queries:
            toks = _tokenize_ordered(text, self.conf.token_split_re)
            n = len(toks)
            if n == 0:
                continue
            seqs = []
            ok = True
            for t in toks:
                d, p = lists.get(t, (None, None))
                if d is None or not d.size:
                    ok = False
                    break
                # a salted term's cached list concatenates per-salt blocks —
                # doc ids are NOT globally sorted; the per-doc slicing below
                # requires them to be
                order = np.argsort(d, kind="stable")
                seqs.append((d[order], p.astype(np.int64)[order]))
            if not ok:
                continue
            cand = seqs[0][0]
            for d, _ in seqs[1:]:
                cand = np.intersect1d(cand, d)
            cand = np.unique(cand)
            for doc in cand:
                # per-offset position slices (occurrence doc_ids ascending)
                P = []
                for d, p in seqs:
                    lo = np.searchsorted(d, doc, side="left")
                    hi = np.searchsorted(d, doc, side="right")
                    P.append(np.sort(p[lo:hi]))
                a = P[0]
                cur = a.copy()
                alive = np.ones(a.size, dtype=bool)
                for i in range(1, n):
                    j = np.searchsorted(P[i], cur, side="right")
                    okk = j < P[i].size
                    cur = np.where(okk, P[i][np.minimum(j, P[i].size - 1)], big)
                    alive &= okk
                alive &= cur <= a + (n - 1) + max_gaps
                if not alive.any():
                    continue
                out_q.append(int(qid))
                out_d.append(int(doc))
                out_a.append(int(alive.sum()))
                out_g.append(int((cur[alive] - a[alive]).min()) - (n - 1))
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype="int64"),
                "doc_id": pd.Series(out_d, dtype="int64"),
                "n_anchors": pd.Series(out_a, dtype="int64"),
                "min_gaps": pd.Series(out_g, dtype="int32"),
            }
        )

    def near_n(
        self, queries: list[tuple[int, str]], window: int
    ) -> pd.DataFrame:
        """(query_id, doc_id, min_span, n_anchors) — NEAR/slop proximity,
        zero Spark jobs. Mirrors _near_epilogue exactly: an anchor is ANY
        occurrence position p; [p, p+window] hits when every required term
        occurs inside; span = max over terms of (first in-window
        occurrence) − p."""
        lists = self._pos_lists_for([t for _, t in queries])
        rows = []
        for qid, text in queries:
            terms = sorted(set(_tokenize_ordered(text, self.conf.token_split_re)))
            n_req = len(terms)
            if n_req == 0:
                continue
            parts = [
                (lists[t][0], lists[t][1], ti)
                for ti, t in enumerate(terms)
                if t in lists and lists[t][0].size
            ]
            if len(parts) < n_req:
                continue  # an absent term can never complete a window
            d = np.concatenate([x[0] for x in parts])
            p = np.concatenate([x[1] for x in parts])
            tix = np.concatenate(
                [np.full(x[0].size, x[2], dtype=np.int64) for x in parts]
            )
            order = np.lexsort((p, d))
            d, p, tix = d[order], p[order], tix[order]
            bounds = np.concatenate(
                ([0], np.flatnonzero(d[1:] != d[:-1]) + 1, [d.size])
            )
            for bi in range(bounds.size - 1):
                s, e = bounds[bi], bounds[bi + 1]
                dp, dt = p[s:e], tix[s:e]
                best_span, n_anchors = None, 0
                for a in np.unique(dp):
                    m = (dp >= a) & (dp <= a + window)
                    wt = dt[m]
                    if np.unique(wt).size < n_req:
                        continue
                    wp = dp[m]
                    # first in-window occurrence per term, then max
                    mx = 0
                    for t_ in np.unique(wt):
                        mn = int(wp[wt == t_].min())
                        if mn > mx:
                            mx = mn
                    span = mx - int(a)
                    n_anchors += 1
                    if best_span is None or span < best_span:
                        best_span = span
                if n_anchors:
                    rows.append((qid, int(d[s]), int(best_span), n_anchors))
        return pd.DataFrame(
            rows, columns=["query_id", "doc_id", "min_span", "n_anchors"]
        ).astype(
            {"query_id": "int64", "doc_id": "int64",
             "min_span": "int32", "n_anchors": "int64"}
        ) if rows else pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "doc_id": pd.Series(dtype="int64"),
                "min_span": pd.Series(dtype="int32"),
                "n_anchors": pd.Series(dtype="int64"),
            }
        )

    def span_first_n(
        self, queries: list[tuple[int, str]], end: int
    ) -> pd.DataFrame:
        """(query_id, doc_id, n_hits) — SpanFirst (pos < end), zero Spark
        jobs; counts every in-bound occurrence of every distinct query
        term, like span_first_match_indexed's groupBy count."""
        lists = self._pos_lists_for([t for _, t in queries])
        out_q, out_d, out_n = [], [], []
        for qid, text in queries:
            terms = sorted(set(_tokenize_ordered(text, self.conf.token_split_re)))
            parts = [lists[t] for t in terms if t in lists and lists[t][0].size]
            if not parts:
                continue
            d = np.concatenate([x[0] for x in parts])
            p = np.concatenate([x[1] for x in parts])
            m = p < end
            d = d[m]
            if not d.size:
                continue
            ud, counts = np.unique(d, return_counts=True)
            out_q.append(np.full(ud.size, qid, dtype=np.int64))
            out_d.append(ud)
            out_n.append(counts.astype(np.int64))
        if not out_q:
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "doc_id": pd.Series(dtype="int64"),
                    "n_hits": pd.Series(dtype="int64"),
                }
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "doc_id": np.concatenate(out_d),
                "n_hits": np.concatenate(out_n),
            }
        )


    def span_or_n(
        self, queries: list[tuple[int, str]], alternatives: str, span: int
    ) -> pd.DataFrame:
        """(query_id, doc_id, n_hits) — span_or pair counting, zero Spark
        jobs.  Mirrors search._span_or_epilogue exactly: ordered pairs
        (anchor occurrence p1, ANY alternative occurrence p2) with
        p1 < p2 <= p1 + span, counted per doc.  The anchor is each query's
        FIRST token; ``alternatives`` is the shared space-separated term
        set.  Per doc the count is two searchsorteds over the doc's sorted
        alternative positions — no per-anchor Python loop."""
        alt_terms = sorted(
            set(_tokenize_ordered(alternatives, self.conf.token_split_re))
        )
        anchors: dict[int, str] = {}
        for qid, text in queries:
            toks = _tokenize_ordered(text, self.conf.token_split_re)
            if toks:
                anchors[qid] = toks[0]
        if not anchors or not alt_terms:
            return self._hits_frame([], [], [])
        lists = self._pos_lists_for_terms(
            sorted(set(anchors.values()) | set(alt_terms))
        )
        # ONE union alternative stream shared by every query, sorted (d, p)
        alt_parts = [lists[t] for t in alt_terms if lists[t][0].size]
        if not alt_parts:
            return self._hits_frame([], [], [])
        ad = np.concatenate([x[0] for x in alt_parts])
        ap = np.concatenate([x[1] for x in alt_parts])
        order = np.lexsort((ap, ad))
        ad, ap = ad[order], ap[order]
        abounds = np.concatenate(
            ([0], np.flatnonzero(ad[1:] != ad[:-1]) + 1, [ad.size])
        )
        audocs = ad[abounds[:-1]]
        out_q, out_d, out_n = [], [], []
        for qid, aterm in anchors.items():
            d1, p1 = lists[aterm]
            if not d1.size:
                continue
            o1 = np.lexsort((p1, d1))
            d1s, p1s = d1[o1], p1[o1]
            qb = np.concatenate(
                ([0], np.flatnonzero(d1s[1:] != d1s[:-1]) + 1, [d1s.size])
            )
            qdocs = d1s[qb[:-1]]
            # align anchor doc blocks with alternative doc blocks
            ai = np.searchsorted(audocs, qdocs)
            rows_d, rows_n = [], []
            for bi in range(qdocs.size):
                j = ai[bi]
                if j >= audocs.size or audocs[j] != qdocs[bi]:
                    continue
                aps = ap[abounds[j]:abounds[j + 1]]
                p1d = p1s[qb[bi]:qb[bi + 1]]
                c = np.searchsorted(aps, p1d + span, side="right") - (
                    np.searchsorted(aps, p1d, side="right")
                )
                n = int(c.sum())
                if n:
                    rows_d.append(int(qdocs[bi]))
                    rows_n.append(n)
            if rows_d:
                out_q.append(np.full(len(rows_d), qid, dtype=np.int64))
                out_d.append(np.asarray(rows_d, dtype=np.int64))
                out_n.append(np.asarray(rows_n, dtype=np.int64))
        return self._hits_frame(out_q, out_d, out_n)


    def span_pair_n(
        self,
        queries: list[tuple[int, str]],
        little: str,
        span: int,
        mode: str,
    ) -> pd.DataFrame:
        """(query_id, doc_id, n_hits) — span_containing / span_within,
        zero Spark jobs.  Mirrors search._span_containing_epilogue /
        _span_within_epilogue exactly: big spans are ordered pairs of each
        query's FIRST TWO tokens with p1 < p2 <= p1 + span; ``mode``
        'containing' counts SPANS holding >= 1 ``little`` occurrence in
        [p1, p2], 'within' counts little OCCURRENCES inside >= 1 span.
        Per doc both counts reduce to searchsorteds over sorted position
        arrays — no pair materialization."""
        if mode not in ("containing", "within"):
            raise ValueError(f"mode must be containing|within, got {mode!r}")
        lt_terms = sorted(
            set(_tokenize_ordered(little, self.conf.token_split_re))
        )
        pairs: dict[int, tuple[str, str]] = {}
        for qid, text in queries:
            toks = _tokenize_ordered(text, self.conf.token_split_re)
            if len(toks) >= 2:
                pairs[qid] = (toks[0], toks[1])
        if not pairs or not lt_terms:
            return self._hits_frame([], [], [])
        need = sorted(
            set(lt_terms)
            | {t for ab in pairs.values() for t in ab}
        )
        lists = self._pos_lists_for_terms(need)

        def _by_doc(term: str):
            d, p = lists[term]
            if not d.size:
                return None
            o = np.lexsort((p, d))
            d, p = d[o], p[o]
            b = np.concatenate(
                ([0], np.flatnonzero(d[1:] != d[:-1]) + 1, [d.size])
            )
            return d[b[:-1]], p, b

        lt_parts = [lists[t] for t in lt_terms if lists[t][0].size]
        if not lt_parts:
            return self._hits_frame([], [], [])
        ld = np.concatenate([x[0] for x in lt_parts])
        lp = np.concatenate([x[1] for x in lt_parts])
        lo_ = np.lexsort((lp, ld))
        ld, lp = ld[lo_], lp[lo_]
        lb = np.concatenate(([0], np.flatnonzero(ld[1:] != ld[:-1]) + 1, [ld.size]))
        ldocs = ld[lb[:-1]]

        out_q, out_d, out_n = [], [], []
        for qid, (t1, t2) in pairs.items():
            s1, s2 = _by_doc(t1), _by_doc(t2)
            if s1 is None or s2 is None:
                continue
            d1docs, p1all, b1 = s1
            d2docs, p2all, b2 = s2
            # docs where anchor, second clause, AND little all occur
            common = d1docs[np.isin(d1docs, d2docs, assume_unique=True)]
            common = common[np.isin(common, ldocs, assume_unique=True)]
            if not common.size:
                continue
            i1 = np.searchsorted(d1docs, common)
            i2 = np.searchsorted(d2docs, common)
            il = np.searchsorted(ldocs, common)
            rows_d, rows_n = [], []
            for bi in range(common.size):
                P1 = p1all[b1[i1[bi]]:b1[i1[bi] + 1]]
                P2 = p2all[b2[i2[bi]]:b2[i2[bi] + 1]]
                L = lp[lb[il[bi]]:lb[il[bi] + 1]]
                a = np.searchsorted(P2, P1, side="right")
                b = np.searchsorted(P2, P1 + span, side="right")
                if mode == "containing":
                    # first little >= p1; qualifying p2 must be >= that
                    li = np.searchsorted(L, P1, side="left")
                    has = li < L.size
                    lstar = np.where(has, L[np.minimum(li, L.size - 1)], 0)
                    c = np.searchsorted(P2, lstar, side="left")
                    cnt = np.where(has, b - np.maximum(a, c), 0)
                    n = int(np.maximum(cnt, 0).sum())
                else:
                    # interval cover: per anchor with >= 1 p2, [p1, max p2];
                    # little l covered iff exists p1 <= l with prefixmax >= l
                    m = b > a
                    if not m.any():
                        continue
                    P1v = P1[m]
                    mx = P2[b[m] - 1]
                    pref = np.maximum.accumulate(mx)
                    j = np.searchsorted(P1v, L, side="right") - 1
                    ok = (j >= 0) & (pref[np.maximum(j, 0)] >= L)
                    n = int(ok.sum())
                if n:
                    rows_d.append(int(common[bi]))
                    rows_n.append(n)
            if rows_d:
                out_q.append(np.full(len(rows_d), qid, dtype=np.int64))
                out_d.append(np.asarray(rows_d, dtype=np.int64))
                out_n.append(np.asarray(rows_n, dtype=np.int64))
        return self._hits_frame(out_q, out_d, out_n)


    def span_not_n(
        self,
        queries: list[tuple[int, str]],
        exclude: str,
        pre: int,
        post: int,
    ) -> pd.DataFrame:
        """(query_id, doc_id, n_hits) — span_not occurrence exclusion,
        zero Spark jobs.  Mirrors search._span_not_epilogue exactly: an
        include occurrence at ``p`` (any DISTINCT query token) survives
        iff NO exclusion occurrence lies in [p - pre, p + post] in the
        same doc; survivors counted per doc.  Per doc the test is two
        searchsorteds over the doc's sorted exclusion positions."""
        exc_terms = sorted(
            set(_tokenize_ordered(exclude, self.conf.token_split_re))
        )
        inc_sets: dict[int, list[str]] = {}
        for qid, text in queries:
            toks = sorted(set(_tokenize_ordered(text, self.conf.token_split_re)))
            if toks:
                inc_sets[qid] = toks
        if not inc_sets:
            return self._hits_frame([], [], [])
        need = sorted(
            set(exc_terms) | {t for ts in inc_sets.values() for t in ts}
        )
        lists = self._pos_lists_for_terms(need)
        # ONE shared exclusion stream (exclude is the shared string form)
        exc_parts = [lists[t] for t in exc_terms if lists[t][0].size]
        if exc_parts:
            ed = np.concatenate([x[0] for x in exc_parts])
            ep = np.concatenate([x[1] for x in exc_parts])
            eo = np.lexsort((ep, ed))
            ed, ep = ed[eo], ep[eo]
            eb = np.concatenate(
                ([0], np.flatnonzero(ed[1:] != ed[:-1]) + 1, [ed.size])
            )
            edocs = ed[eb[:-1]]
        else:
            edocs = np.empty(0, dtype=np.int64)
            ep = np.empty(0, dtype=np.int64)
            eb = np.asarray([0])
        out_q, out_d, out_n = [], [], []
        for qid, terms in inc_sets.items():
            parts = [lists[t] for t in terms if lists[t][0].size]
            if not parts:
                continue
            d = np.concatenate([x[0] for x in parts])
            p = np.concatenate([x[1] for x in parts])
            o = np.lexsort((p, d))
            d, p = d[o], p[o]
            b = np.concatenate(
                ([0], np.flatnonzero(d[1:] != d[:-1]) + 1, [d.size])
            )
            docs = d[b[:-1]]
            ei = np.searchsorted(edocs, docs)
            rows_d, rows_n = [], []
            for bi in range(docs.size):
                P = p[b[bi]:b[bi + 1]]
                j = ei[bi]
                if j < edocs.size and edocs[j] == docs[bi]:
                    E = ep[eb[j]:eb[j + 1]]
                    hits = np.searchsorted(E, P + post, side="right") - (
                        np.searchsorted(E, P - pre, side="left")
                    )
                    n = int((hits == 0).sum())
                else:
                    n = int(P.size)
                if n:
                    rows_d.append(int(docs[bi]))
                    rows_n.append(n)
            if rows_d:
                out_q.append(np.full(len(rows_d), qid, dtype=np.int64))
                out_d.append(np.asarray(rows_d, dtype=np.int64))
                out_n.append(np.asarray(rows_n, dtype=np.int64))
        return self._hits_frame(out_q, out_d, out_n)


def local_searcher(idx) -> LocalSearcher:
    """Memoized per-handle LocalSearcher (dictionary + decoded-list caches
    survive across calls, like the reference's open handle)."""
    ls = getattr(idx, "_local_searcher", None)
    if ls is None:
        ls = LocalSearcher(idx)
        idx._local_searcher = ls
    return ls

