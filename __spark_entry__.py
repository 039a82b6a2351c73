"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry maps an implemented operator (SURVEY.md §2 +
training-data-pipeline extensions) over the driver's parquet tables to a
DataFrame, with an exactly-equivalent DuckDB oracle in ``oracle_sql()``.
EVERY entry has an oracle — including the Arrow-kernel media ops
(oracle reconstructs the byte stream from hex(encode(text))) and the
greedy seqpare matching (recursive CTE). Floating-point outputs are
rounded to 6 dp *before* ranking/filtering in BOTH engines so value
hashes are stable across Spark/DuckDB summation-order differences.
"""

from __future__ import annotations

import atexit
import os
import shutil as _shutil
import tempfile as _tempfile
from collections.abc import Callable


class _ScratchTempfile:
    """tempfile facade whose mkdtemp registers the dir for atexit removal:
    the per-sf_dir index caches (_INDEX_CACHE, _RESHARD_CACHE,
    _REINDEX_CACHE, ...) otherwise leak one scratch index directory per
    cache key per gate process (r5 ADVICE item)."""

    _DIRS: list[str] = []

    @classmethod
    def mkdtemp(cls, prefix: str = "tmp") -> str:
        d = _tempfile.mkdtemp(prefix=prefix)
        cls._DIRS.append(d)
        return d

    @classmethod
    def gettempdir(cls) -> str:
        return _tempfile.gettempdir()

    @classmethod
    def _cleanup(cls) -> None:
        for d in cls._DIRS:
            _shutil.rmtree(d, ignore_errors=True)


atexit.register(_ScratchTempfile._cleanup)
tempfile = _ScratchTempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shared specs (identical literals in Spark code and oracle SQL)
# ---------------------------------------------------------------------------

QUERY_SET: list[tuple[int, str]] = [
    (0, "spark join"),
    (1, "slow query"),
    (2, "hash agg window"),
    (3, "the"),
    (4, "customer order line"),
    (5, "vector"),
    (6, "stream batch"),
    (7, "table scan fast"),
    (8, "zzznotavocab"),
    (9, "merge sort merge"),
]
K = 10
K1, B = 1.2, 0.75
MIN_TF = 2
SHINGLE_N = 5
N_HASHES = 16
BAND_ROWS = 4
JACCARD_TH = 0.3
EST_JACCARD_TH = 0.3
MAX_SHINGLE_DF = 100  # hot-shingle cap exercised in BOTH engines
COOC_MIN_TF = 2
COOC_MINTF_MIN_DF = 50
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
MAX_HAMMING = 3
COOC_MIN_DF = 100
COOC_MAX_DOC_TERMS = 8  # per-doc top-N cap (r4 scale guard), tie-break (tf desc, term asc)
COOC_CAP_MIN_DF = 20
KEYWORDS_K = 3
N_EMB_QUERIES = 5
N_ANCHORS = 8
EMB_FILTER_MOD = 3            # filtered-kNN allowed set: vec_id % MOD == 0
COS_NEARDUP_TH = 0.3
N_FRAMES = 4
SESSION_GAP_MIN = 30
IVF_NPROBE = 2
MIN_QUALITY = 0.5
CURATE_LANGS = ("en",)
SPAN_TOKENS = 8
MIN_SPAN_DF = 2
SAMPLE_FRACTIONS = {"en": 0.5, "zh": 0.2, "fr": 0.1}  # es/de absent → dropped
SAMPLE_SEED = 7
PACK_BUDGET = 64
PACK_SHARDS = 8
BOOL_QUERY_SET: list[tuple[int, str, str | None]] = [
    (0, "spark join", None),                 # plain AND
    (1, "customer order line", "slow"),      # AND + NOT
    (2, "the", ""),                          # single head term, empty NOT
    (3, "table zzznotavocab", None),         # corpus-absent term -> 0 hits
    (4, "hash agg", "window query"),         # AND + multi-term NOT
]
PREFIX_QUERY_SET: list[tuple[int, str]] = [
    (0, "tab"),
    (1, "cust quer"),        # two prefixes, disjunctive union
    (2, "zzz"),              # expands to nothing -> 0 hits
    (3, "sl"),
    (4, "merge"),
]
FILTER_WHERE = "lang = 'en' AND n_chars < 300"
SNIPPET_WIDTH = 30
NEAR_WINDOW = 6
DECON_MOD = 97
MLT_SEEDS = (0, 7, 42, 101, 333)
MLT_TERMS = 5  # benchmark set = docs with doc_id % DECON_MOD == 0
BOOST_EXPR = "CASE WHEN lang = 'en' THEN 1.5 ELSE 0.75 END"
GROUP_COL = "source"
FUZZY_QUERY_SET: list[tuple[int, str]] = [
    (0, "sparc joim"),       # 1-edit typos of two corpus terms
    (1, "qury"),             # deletion typo
    (2, "tabel"),            # lev 2 from "table" -> only its 1-edit vocab
    (3, "zzznotavocab"),     # nothing within 1 edit -> 0 hits
    (4, "mergee sort"),      # insertion typo + exact term
]
FUZZY_MAX_EDITS = 1
FACET_COL = "lang"
FACET_K = 3
STATS_VALUE_COL = "n_chars"   # numeric field for the ES stats/histogram aggs
HIST_INTERVAL = 50.0
CARD_FIELD = "source"
STRING_STATS_COL = "source"   # keyword field for the ES string_stats agg
SIGTERMS_K = 5
SIGTERMS_MIN_FG = 2
TOPHITS_BUCKETS = 2
TOPHITS_HITS = 3
RESCORE_WINDOW = 30
RESCORE_QW = 1.0
RESCORE_RW = 2.0
TV_MOD = 211                  # term_vectors request: doc_id % TV_MOD == 0
MF_FIELDS = {"text": 1.0, "source": 2.0}   # ES most_fields boosts
MF_QUERY_SET: list[tuple[int, str]] = [
    (0, "src7 table"),          # body term + keyword-field term
    (1, "spark join"),          # body-only
    (2, "src0 src19 query"),    # two keyword values + body term
    (3, "zzznotavocab src3"),   # keyword-only hit
    (4, "merge sort src12"),
]
MSM_MIN = 2                   # minimum_should_match threshold
COLLAPSE_COL = "source"       # ES field-collapse key
DISMAX_TIE = 0.3              # dis_max tie_breaker
COMPLETE_N = 5                # completion-suggester fan-out
COMPLETE_QUERY_SET: list[tuple[int, str]] = [
    (0, "tab"), (1, "cust"), (2, "zzz"), (3, "sl"), (4, "merge"),
]
REINDEX_WHERE = "lang = 'en'"  # the _reindex body's query (subset filter)
TE_SIZE = 7                   # terms_enum page size
# (query_id, prefix, search_after cursor or None) — q2 exercises keyset
# pagination (terms after 'sl'), q3 an empty expansion
TE_QUERY_SET: list[tuple[int, str, str | None]] = [
    (0, "tab", None), (1, "cust", None), (2, "s", "sl"),
    (3, "zzz", None), (4, "qu", None),
]
PCT_LIST = (25.0, 50.0, 75.0, 99.0)   # ES percentiles agg
DH_HOUR_MOD = 1000            # synthetic ts = 2026-01-01 + (doc_id % MOD) hours
DH_INTERVAL = "day"           # date_histogram calendar interval
BSEL_MIN_DOCS = 22            # bucket_selector keep-threshold (binds: drops ~half)
BSORT_SIZE = 5                # bucket_sort per-query truncation
HC_MIN_CHILDREN = 2           # has_child min_children bound
LMJM_LAMBDA = 0.3             # LM Jelinek-Mercer smoothing weight
DFR_C = 1.0                   # DFR/IB H2 length-normalization strength
AX_K = 0.35                   # Axiomatic F2EXP growth exponent (Lucene default)
AX_S = 0.5                    # Axiomatic F2 length-normalization constant
BM25P_DELTA = 1.0             # BM25+ per-match floor (Lv & Zhai default)
BM25L_DELTA = 0.5             # BM25L saturation shift (Lv & Zhai default)
BM25_K1 = 1.2                 # IndexConf defaults (BASELINE-fixed)
BM25_B = 0.75
INV_LN2 = 1.4426950408889634  # shared log2 literal (scoring._INV_LN2)
TWO_PI = 6.283185307179586    # shared 2π literal (scoring._TWO_PI)
AUTODH_TARGET = 10            # auto_date_histogram bucket budget
DUP_SPAN_LEN = 8              # exact-substring dedup window (tokens)
FUNNEL_STEPS = ("signup", "click", "purchase")  # funnel step sequence
FUNNEL_WINDOW_MIN = 1440      # per-hop funnel conversion window (minutes)
SPAN_NOT_EXCLUDE = "query"    # span_not exclusion term
SPAN_NOT_PRE, SPAN_NOT_POST = 3, 3
SAMPLER_SIZE = 25             # sampler agg per-query sample size
DIV_MAX_PER_VALUE = 2         # diversified_sampler per-value cap
KNN_MIN_SIM = 0.28            # knn similarity cutoff (binds: rank-5 cos ~0.30)
HYBRID_W_LEX = 0.7            # linear-retriever fusion weights (lexical /
HYBRID_W_VEC = 0.3            # vector); minmax-normalized per query
RNDSCORE_SEED = 7             # random_score seed
VWH_BUCKETS = 5               # variable_width_histogram target bucket count
FIS_MIN_SUPPORT = 3           # frequent_item_sets min co-occurrence support
FIS_K = 8                     # frequent_item_sets per-query itemset budget
FIS_MAX_SUPPORT_FRAC = 0.9    # frequent_item_sets ubiquity ceiling (binds:
                              # drops the ratio-1.0 items in queries 3/5 at sf0.01)
FIS_MIN_SUPPORT_FRAC = 0.05   # fractional support floor (classic Apriori:
                              # support is a FRACTION, so pruning survives growth)
DSIR_TARGET = "src3"          # DSIR target domain (documents.source value)
DSIR_BUCKETS = 2048           # DSIR hashed n-gram feature buckets
DSIR_ALPHA = 1.0              # DSIR Laplace smoothing
DSIR_SELECT_N = 50            # DSIR selection budget (top-n docs kept)
RSMP_P = 0.35                 # random_sampler inclusion probability
RSMP_SEED = 11                # random_sampler deterministic hash seed
PRF_FB_DOCS = 5               # pseudo-relevance feedback: assumed-relevant docs
PRF_FB_TERMS = 5              # expansion terms kept from the relevance model
PRF_ORIG_W = 0.6              # RM3 interpolation weight on the original query
PROX_W = 2.0                  # MinDist proximity boost weight
PCTR_VALUES = (175.0, 306.0, 419.0)  # percentile_ranks cut points (quartiles)
RARE_MAX_DC = 21              # rare_terms max_doc_count (binds non-vacuously:
                              # match-set source counts span 14..25 at sf0.01)
WAVG_WEIGHT = "1 + doc_id % 5"  # weighted_avg synthetic weight expression
DEL_MOD = 137                 # delete set: doc_id % DEL_MOD == 0
TURNS_PER_CONV = 8            # synthetic transcript shape: conv = doc_id div 8
CTX_WINDOW = 1                # context_turns: hit ± 1 neighboring turn
NEG_BOOST = 0.5               # boosting query negative_boost factor
BOOSTING_QUERY_SET: list[tuple[int, str, str | None]] = [
    (0, "spark join", "slow"),               # demote the slow-sense docs
    (1, "customer order line", "merge sort"),
    (2, "the", None),                        # no negative clause
    (3, "table scan fast", "zzznotavocab"),  # negative matches nothing
    (4, "hash agg window", "the"),           # negative demotes nearly all
]
RANGE_BOUNDS = ((None, 150.0), (150.0, 300.0), (300.0, None))  # ES range agg on n_chars
MISSING_MOD = 7               # synthetic nullable field: NULL iff doc_id % 7 == 0
# pinned query editorial list: (query_id, pin_pos, doc_id) — ids chosen to
# exist at every SF (documents doc_id starts at 0); 42/7 for a matching
# query, 0 for a stopword-ish query, 99/3 where the pin may not match
PIN_SET: list[tuple[int, int, int]] = [
    (0, 1, 42), (0, 2, 7), (3, 1, 0), (5, 1, 99), (5, 2, 3),
]
ANALYZE_MOD = 347             # _analyze request: doc_id % ANALYZE_MOD == 0
SPAN_FIRST_END = 10           # SpanFirstQuery position bound
DECAY_ORIGIN = 200.0          # function_score gauss decay on n_chars
DECAY_SCALE = 120.0
DF_ORIGIN = 300.0             # distance_feature on n_chars (additive)
DF_PIVOT = 100.0
DF_BOOST = 3.0
RF_PIVOT = 250.0              # rank_feature saturation on n_chars
RF_BOOST = 2.0
# script_score: ANSI-ish expression over (_score, doc columns) — the SAME
# string runs in Spark SQL and the DuckDB oracle
SCRIPT_SCORE = "sqrt(_score) * 2.0 + n_chars / 500.0"
# Lucene RegexpQuery: one regex per query, full-term match, patterns kept
# in the Java∩RE2 shared subset (classes, alternation, quantifiers)
REGEXP_QUERY_SET: list[tuple[int, str]] = [
    (0, "ta.le"),            # single-char class dot
    (1, "quer(y|ies)"),      # group alternation
    (2, "[mst]can"),         # character class
    (3, "zzz.*"),            # matches no vocab -> 0 hits
    (4, "m.rge|s.rt"),       # top-level alternation
]
LMD_MU = 2000.0
SUGGEST_MAX_EDITS = 2
SUGGEST_N = 3
STOPWORDS = ("the", "a", "of", "and")
MIN_TOKEN_LEN = 2
PARSED_QUERY_SET: list[tuple[int, str]] = [
    (0, "+customer order -slow"),     # MUST + SHOULD + MUST_NOT
    (1, '"table scan" fast'),         # phrase + term
    (2, "quer~1 tab*"),               # fuzzy + prefix
    (3, "+table +zzznotavocab"),      # unsatisfiable MUST -> 0 hits
    (4, 'm?rge "merge sort"'),        # wildcard + phrase
]
SYNONYM_SET: list[tuple[str, str]] = [
    ("customer", "c"), ("supplier", "c"),   # query for one, match both
    ("query", "s"), ("scan", "s"),
    ("merge", "m"), ("sort", "m"),
]
WILDCARD_QUERY_SET: list[tuple[int, str]] = [
    (0, "ta*e"),             # infix wildcard
    (1, "quer?"),            # single-char wildcard
    (2, "*ble"),             # leading wildcard (suffix match)
    (3, "zzz*"),             # expands to nothing -> 0 hits
    (4, "m?rge s*t"),        # two patterns, disjunctive union
]
PHRASES: list[tuple[int, str]] = [
    (0, "table hash"),
    (1, "customer join"),
    (2, "merge group value"),
    (3, "slow key"),
    (4, "zzznotavocab table"),
]
# chunk_documents: RAG-prep fixed-token chunking with overlap
CHUNK_TOKENS = 20
CHUNK_OVERLAP = 5
# composite agg: multi-source buckets with keyset pagination
COMPOSITE_SOURCES = ["lang", "source"]
COMPOSITE_SIZE = 7
COMPOSITE_AFTER = ("en", "src12")
# filters agg: named predicate buckets (SQL exprs valid in both engines)
FILTERS_AGG = {
    "f_en": "lang = 'en'",
    "f_long": "n_chars >= 300",
    "f_short": "n_chars < 120",
}
# intervals query, ordered mode: tokens in order, total gaps <= max_gaps
INTERVALS_MAX_GAPS = 2
INTERVALS_SET: list[tuple[int, str]] = [
    (0, "table value"),          # ordered pair
    (1, "value table"),          # reversed order: different matches
    (2, "merge group value"),    # ordered triple
    (3, "customer zzznotavocab"),  # absent term -> nothing
    (4, "query"),                # single token: every occurrence anchors
]
# match_phrase_prefix (search-as-you-type): last token is a PREFIX
PHRASE_PREFIX_SET: list[tuple[int, str]] = [
    (0, "table ha"),        # -> hash
    (1, "customer jo"),     # -> join
    (2, "merge group va"),  # 3-token; -> value/vector
    (3, "s"),               # pure prefix: many expansions, the cap binds
    (4, "table zzz"),       # expands to nothing -> 0 hits
]
MAX_PHRASE_EXPANSIONS = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t) for q, t in QUERY_SET], "query_id long, query_text string"
    )


def _rank_rounded(scored: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """Round score to 6dp THEN rank (score desc, id asc) — both engines rank
    the identical rounded values, so ranks can't diverge on last-ulp noise."""
    s = scored.withColumn("score", F.round("score", 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        s.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score")
    )


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import postings

    return postings(_docs(spark, sf_dir))


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import doc_stats

    return doc_stats(_docs(spark, sf_dir))


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import corpus_stats, doc_stats

    return corpus_stats(doc_stats(_docs(spark, sf_dir))).select(
        "n_docs", F.round("avgdl", 6).alias("avgdl")
    )


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import postings, term_stats

    return term_stats(postings(_docs(spark, sf_dir)))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark.search import bm25_scores

    scored = bm25_scores(_docs(spark, sf_dir), _queries_df(spark))
    return _rank_rounded(scored, K)


def q_bm25_topk_mintf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark.search import bm25_scores

    scored = bm25_scores(_docs(spark, sf_dir), _queries_df(spark), min_tf=MIN_TF)
    return _rank_rounded(scored, K)


_INDEX_CACHE: dict[str, object] = {}


def _built_index(spark: SparkSession, sf_dir: str):
    from igd_spark import IndexConf, build_index, open_index

    if sf_dir not in _INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="igd_idx_") + "/idx"
        conf = IndexConf(
            block_size=64, n_shards=16, salt_df_threshold=1024, max_salts=8,
            store_positions=True,
        )
        _INDEX_CACHE[sf_dir] = build_index(spark, _docs(spark, sf_dir), path, conf=conf)
    return _INDEX_CACHE[sf_dir]


def q_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed scorer (build → segment-pruned MaxScore search); must be
    rank-identical to the index-free path, hence the same oracle SQL.
    Searched with a k buffer, then re-ranked on rounded scores."""
    from igd_spark import search as _search_mod

    idx = _built_index(spark, sf_dir)
    out = _search_mod(spark, idx, _queries_df(spark), k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


_RESHARD_CACHE: dict[str, object] = {}


def q_bm25_topk_resharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES shrink/split analog: re-shard the persisted index (16 → 5 shards,
    ONE shuffle of the packed block table, zero decode/re-tokenize —
    index.reshard_index) and search the result. Same oracle as bm25_topk:
    rank identity THROUGH a topology change is the contract."""
    from igd_spark import reshard_index
    from igd_spark import search as _search_mod

    if sf_dir not in _RESHARD_CACHE:
        base = _built_index(spark, sf_dir)
        dest = tempfile.mkdtemp(prefix="igd_rs_") + "/idx"
        _RESHARD_CACHE[sf_dir] = reshard_index(spark, base.path, dest, n_shards=5)
    out = _search_mod(spark, _RESHARD_CACHE[sf_dir], _queries_df(spark), k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RAG-prep: fixed-token chunks with overlap, pure JVM array ops
    from igd_spark import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
    )


def q_composite_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES composite agg: (lang, source) bucket tuples in key order, page 1
    from igd_spark import composite_agg

    return composite_agg(
        _docs(spark, sf_dir), _queries_df(spark),
        sources=COMPOSITE_SOURCES, size=COMPOSITE_SIZE,
    )


def q_composite_agg_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    # page 2: buckets strictly after the keyset cursor
    from igd_spark import composite_agg

    return composite_agg(
        _docs(spark, sf_dir), _queries_df(spark),
        sources=COMPOSITE_SOURCES, size=COMPOSITE_SIZE, after=COMPOSITE_AFTER,
    )


def q_composite_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import composite_agg_indexed

    idx = _built_index(spark, sf_dir)
    return composite_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark),
        sources=COMPOSITE_SOURCES, size=COMPOSITE_SIZE,
    )


def q_filters_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES filters agg: named predicate buckets, zero counts included
    from igd_spark import filters_agg

    return filters_agg(_docs(spark, sf_dir), _queries_df(spark), FILTERS_AGG)


def q_filters_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import filters_agg_indexed

    idx = _built_index(spark, sf_dir)
    return filters_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), FILTERS_AGG
    )


def _intervals_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(INTERVALS_SET, "query_id long, query_text string")


def q_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES intervals (ordered, max_gaps): ordered chain within the gap budget
    from igd_spark import intervals_match

    return intervals_match(
        _docs(spark, sf_dir), _intervals_df(spark), max_gaps=INTERVALS_MAX_GAPS
    )


def q_intervals_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import intervals_match_indexed

    idx = _built_index(spark, sf_dir)
    return intervals_match_indexed(
        spark, idx, _intervals_df(spark), max_gaps=INTERVALS_MAX_GAPS
    )


def _phrase_prefix_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        PHRASE_PREFIX_SET, "query_id long, query_text string"
    )


def q_match_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES match_phrase_prefix (search-as-you-type): literal tokens
    # consecutive + any capped term-order expansion at the last position
    from igd_spark import match_phrase_prefix

    return match_phrase_prefix(
        _docs(spark, sf_dir),
        _phrase_prefix_df(spark),
        max_expansions=MAX_PHRASE_EXPANSIONS,
    )


def q_match_phrase_prefix_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import match_phrase_prefix_indexed

    idx = _built_index(spark, sf_dir)
    return match_phrase_prefix_indexed(
        spark, idx, _phrase_prefix_df(spark), max_expansions=MAX_PHRASE_EXPANSIONS
    )


_FED_CACHE: dict[str, list] = {}


def q_bm25_topk_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES cross-index search, exact (dfs) statistics: the corpus is split
    into TWO separately-built indexes (the time-partition shape) and one
    federated query scores over both with global stats. Same oracle as
    bm25_topk: rank identity THROUGH federation is the contract."""
    from igd_spark import IndexConf, build_index, search_federated
    from igd_spark import search as _search_mod  # noqa: F401 (parity import)

    if sf_dir not in _FED_CACHE:
        conf = IndexConf(
            block_size=64, n_shards=8, salt_df_threshold=1024, max_salts=4
        )
        docs = _docs(spark, sf_dir)
        idxs = []
        for m in (0, 1):
            path = tempfile.mkdtemp(prefix=f"igd_fed{m}_") + "/idx"
            part = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == m)
            idxs.append(build_index(spark, part, path, conf=conf))
        _FED_CACHE[sf_dir] = idxs
    out = search_federated(spark, _FED_CACHE[sf_dir], _queries_df(spark), k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


def q_match_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import match_enumerate

    idx = _built_index(spark, sf_dir)
    return match_enumerate(spark, idx, _queries_df(spark)).select(
        "query_id", "term", "doc_id", F.col("tf").cast("int").alias("tf")
    )


def q_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import term_cooccurrence

    return term_cooccurrence(_docs(spark, sf_dir), min_df=COOC_MIN_DF)


def q_term_cooccurrence_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_doc_terms scale guard (r4): each doc contributes only its top-N
    # terms by (tf desc, term asc) — the per-doc quadratic bound exercised
    # in BOTH engines, like MAX_SHINGLE_DF
    from igd_spark import term_cooccurrence

    return term_cooccurrence(
        _docs(spark, sf_dir), min_df=COOC_CAP_MIN_DF, max_doc_terms=COOC_MAX_DOC_TERMS
    )


def q_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc tf-idf keyword signature (r4); rounded BEFORE ranking so both
    # engines rank identical values (same protocol as bm25 _rank_rounded)
    from igd_spark import keywords_topk

    return keywords_topk(_docs(spark, sf_dir), k=KEYWORDS_K, round_dp=6)


def q_source_hits_mintf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # -q with -v: value-filtered per-dataset hits (src/igd_search.c:623-694)
    from igd_spark import source_hits

    idx = _built_index(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    return source_hits(
        spark, idx, _queries_df(spark), docs.select("doc_id", "source"), min_tf=MIN_TF
    )


def q_source_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the igd search -q primary report: per-dataset (nr, hits) rows
    # (src/igd_search.c:1032-1039), per query
    from igd_spark import source_hits

    idx = _built_index(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    return source_hits(
        spark, idx, _queries_df(spark), docs.select("doc_id", "source")
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shingle granularity: non-vacuous on corpora without verbatim dups
    from igd_spark import source_overlap_matrix

    return source_overlap_matrix(_docs(spark, sf_dir), granularity="shingle", shingle_n=SHINGLE_N)


def q_term_cooccurrence_mintf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # value-filtered hitsmap (getMap_v analog): tf >= COOC_MIN_TF postings only
    from igd_spark import term_cooccurrence

    return term_cooccurrence(_docs(spark, sf_dir), min_df=COOC_MINTF_MIN_DF, min_tf=COOC_MIN_TF)


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-substring dedup (Lee et al. 2022): maximal token spans covered by
    # >=2x-occurring DUP_SPAN_LEN-token windows
    from igd_spark import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), min_len=DUP_SPAN_LEN)


def q_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc duplicated-content profile (all docs, zero-filled)
    from igd_spark import duplicate_span_stats

    return duplicate_span_stats(_docs(spark, sf_dir), min_len=DUP_SPAN_LEN)


def q_remove_duplicate_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lee et al. removal: non-canonical occurrences of duplicated windows
    # stripped from the analyzed token stream; canonical copy survives
    from igd_spark import remove_duplicate_text

    return remove_duplicate_text(_docs(spark, sf_dir), min_len=DUP_SPAN_LEN)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=JACCARD_TH, n=SHINGLE_N, max_shingle_df=MAX_SHINGLE_DF
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import minhash_dedup_pairs

    return minhash_dedup_pairs(
        _docs(spark, sf_dir),
        threshold=EST_JACCARD_TH,
        n_hashes=N_HASHES,
        band_rows=BAND_ROWS,
        n=SHINGLE_N,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import simhash_dedup_pairs

    return simhash_dedup_pairs(
        _docs(spark, sf_dir), max_hamming=MAX_HAMMING, n_bands=SIMHASH_BANDS, bits=SIMHASH_BITS
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir), n_hashes=N_HASHES, n=SHINGLE_N).select(
        "doc_id", F.col("seed").cast("int").alias("seed"), "mh"
    )


def q_simhash_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import simhash

    return simhash(_docs(spark, sf_dir), bits=SIMHASH_BITS)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import text_stats

    return text_stats(_docs(spark, sf_dir))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import lang_id

    return lang_id(_docs(spark, sf_dir))


def _emb_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return e.filter(F.col("vec_id") < N_EMB_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import cosine_topk

    return cosine_topk(_emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=K)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact all-pairs baseline (oracle mode); the default API routes banded
    from igd_spark import cosine_neardup_pairs

    return cosine_neardup_pairs(_emb(spark, sf_dir), threshold=COS_NEARDUP_TH, exact=True)


def q_embedding_neardup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the scale path: sign-LSH band candidates + exact cosine verify; the
    # oracle mirrors the banding, so the check is exact (not recall-fuzzy)
    from igd_spark import pick_anchors
    from igd_spark.similarity import cosine_neardup_banded

    e = _emb(spark, sf_dir)
    anchors = pick_anchors(e, N_ANCHORS)
    return cosine_neardup_banded(e, anchors, threshold=COS_NEARDUP_TH, n_bands=4)


def q_embedding_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import lsh_ann_topk, pick_anchors

    e = _emb(spark, sf_dir)
    anchors = pick_anchors(e, N_ANCHORS)
    return lsh_ann_topk(e, _emb_queries(spark, sf_dir), anchors, k=K)


def q_embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import pick_anchors
    from igd_spark.similarity import ivf_ann_topk

    e = _emb(spark, sf_dir)
    anchors = pick_anchors(e, N_ANCHORS)
    return ivf_ann_topk(e, _emb_queries(spark, sf_dir), anchors, k=K)


def q_embedding_ivf_ann_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall knob: probe the 2 nearest IVF cells per query
    from igd_spark import pick_anchors
    from igd_spark.similarity import ivf_ann_topk

    e = _emb(spark, sf_dir)
    anchors = pick_anchors(e, N_ANCHORS)
    return ivf_ann_topk(e, _emb_queries(spark, sf_dir), anchors, k=K, nprobe=IVF_NPROBE)


def q_embedding_cosine_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # filtered kNN (the ES knn `filter` contract): candidates restricted
    # BEFORE scoring/top-k, so all k results satisfy the predicate
    from igd_spark import cosine_topk

    e = _emb(spark, sf_dir)
    allowed = e.filter(F.col("vec_id") % EMB_FILTER_MOD == 0).select("vec_id")
    return cosine_topk(e, _emb_queries(spark, sf_dir), k=K, allowed=allowed)


_EMB_INDEX_CACHE: dict[str, object] = {}


def _built_emb_index(spark: SparkSession, sf_dir: str):
    from igd_spark import build_embedding_index

    if sf_dir not in _EMB_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="igd_eidx_") + "/eidx"
        _EMB_INDEX_CACHE[sf_dir] = build_embedding_index(
            spark, _emb(spark, sf_dir), path, n_anchors=N_ANCHORS
        )
    return _EMB_INDEX_CACHE[sf_dir]


def q_embedding_lsh_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsh_ann_topk against the PERSISTED bucket-partitioned embedding index
    (embindex.py): probe = partition-pruned scan of the query buckets, never
    a full rescan. Rank-identical to embedding_lsh_ann → same oracle."""
    from igd_spark import lsh_ann_topk_indexed

    eidx = _built_emb_index(spark, sf_dir)
    return lsh_ann_topk_indexed(spark, eidx, _emb_queries(spark, sf_dir), k=K)


def q_embedding_ivf_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_ann_topk against the PERSISTED cell-partitioned inverted file —
    rank-identical to embedding_ivf_ann → same oracle."""
    from igd_spark import ivf_ann_topk_indexed

    eidx = _built_emb_index(spark, sf_dir)
    return ivf_ann_topk_indexed(spark, eidx, _emb_queries(spark, sf_dir), k=K)


_QUANT_BUILT: set[str] = set()


def q_embedding_ivf_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES-style int8 quantized kNN: candidates from the 4x-smaller ivf_q8
    sibling layout (approximate cosine over int8 codes, top k*oversample
    shortlist), exact rescore of the shortlist against ivf/.  The oracle
    replicates BOTH stages — quantization, shortlist cut, rescore — so the
    gate pins the quantized semantics, not just the happy path."""
    from igd_spark.embindex import build_quantized_layout, ivf_ann_topk_quantized

    eidx = _built_emb_index(spark, sf_dir)
    if eidx.path not in _QUANT_BUILT:
        build_quantized_layout(spark, eidx)
        _QUANT_BUILT.add(eidx.path)
    return ivf_ann_topk_quantized(
        spark, eidx, _emb_queries(spark, sf_dir), k=K, nprobe=1, oversample=3
    )


def q_embedding_ivf_ann_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding index: build over HALF the vectors, append the
    other half as a committed batch (frozen anchors), probe the union.
    Same oracle as embedding_ivf_ann: append must be invisible to
    ranking."""
    from igd_spark import (
        append_embedding_index,
        build_embedding_index,
        ivf_ann_topk_indexed,
        pick_anchors,
    )

    key = f"{sf_dir}::appended"
    if key not in _EMB_INDEX_CACHE:
        e = _emb(spark, sf_dir)
        anchors = pick_anchors(e, N_ANCHORS)  # anchors from the FULL set
        path = tempfile.mkdtemp(prefix="igd_eidx_app_") + "/eidx"
        build_embedding_index(
            spark, e.filter(F.col("vec_id") % 2 == 0), path, anchors=anchors
        )
        _EMB_INDEX_CACHE[key] = append_embedding_index(
            spark, path, e.filter(F.col("vec_id") % 2 == 1), batch_tag="gate_b1"
        )
    return ivf_ann_topk_indexed(
        spark, _EMB_INDEX_CACHE[key], _emb_queries(spark, sf_dir), k=K
    )


def q_embedding_ivf_filtered_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # filtered kNN over the persisted inverted file: the allowed semi-join
    # applies AFTER cell partition pruning (touches only the probed cells)
    from igd_spark import ivf_ann_topk_indexed

    eidx = _built_emb_index(spark, sf_dir)
    allowed = _emb(spark, sf_dir).filter(
        F.col("vec_id") % EMB_FILTER_MOD == 0
    ).select("vec_id")
    return ivf_ann_topk_indexed(
        spark, eidx, _emb_queries(spark, sf_dir), k=K, allowed=allowed
    )


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consecutive-position phrase occurrence counts (token-space stab join)
    from igd_spark.search import phrase_match

    return phrase_match(_docs(spark, sf_dir), _phrases_df(spark))


def q_phrase_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase counts served from the PERSISTED positional index
    (store_positions=True): scans only the phrase terms' position blocks
    (shard partitions + In(term_id) pushdown) instead of re-tokenizing the
    corpus. Must be value-identical to phrase_match, hence the same oracle."""
    from igd_spark import phrase_match_indexed

    return phrase_match_indexed(spark, _built_index(spark, sf_dir), _phrases_df(spark))


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # composite dedup+lang+quality filter chain with deterministic reasons
    from igd_spark.pipeline import curate

    return curate(_docs(spark, sf_dir), min_quality=MIN_QUALITY, langs=CURATE_LANGS)


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark.events import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, gap_minutes=SESSION_GAP_MIN)


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # first-order Markov transition profile of the event stream
    from igd_spark import event_transitions

    return event_transitions(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordered per-hop-windowed funnel over FUNNEL_STEPS
    from igd_spark import funnel_counts

    return funnel_counts(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        list(FUNNEL_STEPS),
        window_minutes=FUNNEL_WINDOW_MIN,
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # daily retention triangle (cohort = first active day)
    from igd_spark import retention_cohorts

    return retention_cohorts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark.textstats import token_count_variants

    return token_count_variants(_docs(spark, sf_dir))


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark.multimodal import frame_sample, synth_media

    return frame_sample(synth_media(_docs(spark, sf_dir)), n_frames=N_FRAMES)


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-kernel metadata extraction; oracle reconstructs the byte stream
    # from hex(encode(text)) in SQL
    from igd_spark.multimodal import media_stats, synth_media

    return media_stats(synth_media(_docs(spark, sf_dir)))


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stubbed-decode featurization, LONG format (media_id, dim, value) so
    # the rows can be canonicalized; value rounded to 6 dp in both engines
    from igd_spark.multimodal import extract_features_long, synth_media

    return extract_features_long(synth_media(_docs(spark, sf_dir)))


def q_seqpare_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import query_doc_jaccard

    return query_doc_jaccard(_docs(spark, sf_dir), _queries_df(spark)).select(
        "query_id", "doc_id", F.round("sm", 6).alias("sm")
    )


def q_seqpare_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source greedy 1:1 matching — not SQL-expressible (rows-only check)
    from igd_spark import seqpare_scores

    return seqpare_scores(_docs(spark, sf_dir), _queries_df(spark))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end fuzzy dedup: MinHash-LSH pairs → connected components →
    # min-id survivor per cluster, over EVERY document (singletons included)
    from igd_spark import dedup_clusters, minhash_dedup_pairs

    docs = _docs(spark, sf_dir)
    pairs = minhash_dedup_pairs(
        docs, threshold=EST_JACCARD_TH, n_hashes=N_HASHES, band_rows=BAND_ROWS, n=SHINGLE_N
    )
    return dedup_clusters(docs, pairs)


def q_boilerplate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import remove_boilerplate

    return remove_boilerplate(_docs(spark, sf_dir), span_tokens=SPAN_TOKENS, min_df=MIN_SPAN_DF)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import sample_stratified

    return sample_stratified(_docs(spark, sf_dir), SAMPLE_FRACTIONS, seed=SAMPLE_SEED)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), budget_tokens=PACK_BUDGET, n_shards=PACK_SHARDS
    )


def _bool_queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t, e) for q, t, e in BOOL_QUERY_SET],
        "query_id long, query_text string, exclude_text string",
    )


def _prefix_queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t) for q, t in PREFIX_QUERY_SET],
        "query_id long, query_text string",
    )


def q_bool_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene-style conjunctive (AND) retrieval with NOT exclusion terms
    from igd_spark import bool_bm25_topk

    return bool_bm25_topk(
        _docs(spark, sf_dir), _bool_queries_df(spark), k=K,
        exclude_col="exclude_text", round_dp=6,
    )


def q_filtered_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # attribute-filtered search: predicate restricts docs, idf stays global
    from igd_spark import filtered_bm25_topk

    return filtered_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), FILTER_WHERE, k=K, round_dp=6
    )


def q_prefix_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # wildcard pre* retrieval via dictionary expansion
    from igd_spark import prefix_bm25_topk

    return prefix_bm25_topk(
        _docs(spark, sf_dir), _prefix_queries_df(spark), k=K, round_dp=6
    )


def q_group_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # group-level (conversation-analog) ranking rolled up to `source`
    from igd_spark import group_bm25_topk

    return group_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), GROUP_COL, k=K, agg="sum",
        round_dp=6,
    )


def q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyword-in-context extraction for the (rounded-rank) BM25 top-k
    from igd_spark.querylang import snippets
    from igd_spark.search import bm25_scores

    docs = _docs(spark, sf_dir)
    qdf = _queries_df(spark)
    top = _rank_rounded(bm25_scores(docs, qdf), K)
    return snippets(docs, qdf, k=K, width=SNIPPET_WIDTH, top=top)


def q_bool_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # AND+NOT over the persisted index: pruned posting blocks only, dl from
    # the blocks (zero corpus joins); must be rank-identical to the
    # DataFrame path, hence the same oracle
    from igd_spark import bool_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return bool_bm25_topk_indexed(
        spark, idx, _bool_queries_df(spark), k=K,
        exclude_col="exclude_text", round_dp=6,
    )


def q_filtered_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import filtered_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return filtered_bm25_topk_indexed(
        spark, idx, _queries_df(spark), _docs(spark, sf_dir), FILTER_WHERE,
        k=K, round_dp=6,
    )


def q_prefix_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import prefix_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return prefix_bm25_topk_indexed(
        spark, idx, _prefix_queries_df(spark), k=K, round_dp=6
    )


def q_group_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import group_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return group_bm25_topk_indexed(
        spark, idx, _queries_df(spark),
        _docs(spark, sf_dir).select("doc_id", GROUP_COL), k=K, agg="sum",
        group_col=GROUP_COL, round_dp=6,
    )


def q_snippets_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same contract as q_snippets but the top-k comes from the index-backed
    # scorer; corpus touched only for the winning texts
    from igd_spark import snippets_indexed

    idx = _built_index(spark, sf_dir)
    return snippets_indexed(
        spark, idx, _queries_df(spark), _docs(spark, sf_dir),
        k=K, width=SNIPPET_WIDTH, round_dp=6,
    )


def _phrases_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t) for q, t in PHRASES], "query_id long, query_text string"
    )


def q_near_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # proximity (NEAR/slop): all terms within a token window; exact minimal
    # cover span + qualifying-anchor count
    from igd_spark import near_match

    return near_match(_docs(spark, sf_dir), _phrases_df(spark), window=NEAR_WINDOW)


def q_near_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # proximity off the persisted positional blocks; value-identical to the
    # corpus-scan path, hence the same oracle
    from igd_spark import near_match_indexed

    idx = _built_index(spark, sf_dir)
    return near_match_indexed(spark, idx, _phrases_df(spark), window=NEAR_WINDOW)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination: flag docs sharing any n-gram with the
    # (deterministic) benchmark subset; n = SHINGLE_N at gate scale
    from igd_spark import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % DECON_MOD == 0)
    return decontaminate(docs, bench, n=SHINGLE_N, mode="flag")


def q_boosted_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene boost-query surface: doc-attribute multiplier applied after
    # term aggregation
    from igd_spark import boosted_bm25_topk

    return boosted_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), BOOST_EXPR, k=K, round_dp=6
    )


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene MoreLikeThis: seed docs' top tf-idf terms -> disjunctive BM25,
    # self-excluded
    from igd_spark import more_like_this

    return more_like_this(
        _docs(spark, sf_dir), list(MLT_SEEDS), n_terms=MLT_TERMS, k=K, round_dp=6
    )


def q_more_like_this_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # seed vectors from seed-doc tokenization + dictionary df; scoring off
    # pruned blocks — must hash-match the corpus MLT
    from igd_spark import more_like_this_indexed

    idx = _built_index(spark, sf_dir)
    return more_like_this_indexed(
        spark, idx, _docs(spark, sf_dir), list(MLT_SEEDS), n_terms=MLT_TERMS,
        k=K, round_dp=6,
    )


def q_explain_scores_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the same Explanation rows decoded from pruned blocks (df/idf from the
    # dictionary sidecar) — the weights every indexed scorer sums
    from igd_spark import explain_scores_indexed

    idx = _built_index(spark, sf_dir)
    return explain_scores_indexed(spark, idx, _queries_df(spark), round_dp=6)


def _fuzzy_queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t) for q, t in FUZZY_QUERY_SET],
        "query_id long, query_text string",
    )


def q_fuzzy_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene FuzzyQuery: SymSpell deletion-neighbourhood expansion against
    # the corpus dictionary, levenshtein-verified, similarity-boosted BM25
    from igd_spark import fuzzy_bm25_topk

    return fuzzy_bm25_topk(
        _docs(spark, sf_dir), _fuzzy_queries_df(spark),
        max_edits=FUZZY_MAX_EDITS, k=K, round_dp=6,
    )


def q_fuzzy_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fuzzy expansion against the persisted index's dictionary; only the
    # expanded terms' posting blocks are read — rank-identical to the
    # DataFrame path, hence the same oracle
    from igd_spark import fuzzy_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return fuzzy_bm25_topk_indexed(
        spark, idx, _fuzzy_queries_df(spark),
        max_edits=FUZZY_MAX_EDITS, k=K, round_dp=6,
    )


def q_parsed_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene query-string syntax compiled to one composed plan; the oracle
    # evaluates the SAME parsed clause table (parser itself is pytested)
    from igd_spark import parsed_bm25_topk

    return parsed_bm25_topk(
        _docs(spark, sf_dir), PARSED_QUERY_SET, k=K, round_dp=6
    )


def q_parsed_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the query language off the persisted positional index — must be
    # rank-identical to the corpus-scan path, hence the same oracle
    from igd_spark import parsed_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return parsed_bm25_topk_indexed(spark, idx, PARSED_QUERY_SET, k=K, round_dp=6)


def q_boosted_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import boosted_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return boosted_bm25_topk_indexed(
        spark, idx, _queries_df(spark), _docs(spark, sf_dir), BOOST_EXPR,
        k=K, round_dp=6,
    )


def q_facet_counts_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import facet_counts_indexed

    idx = _built_index(spark, sf_dir)
    return facet_counts_indexed(
        spark, idx, _queries_df(spark), _docs(spark, sf_dir), FACET_COL,
        k=FACET_K, round_dp=6,
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hybrid retrieval: reciprocal-rank fusion of the lexical BM25 top-k
    # and the vector cosine top-k (doc key = vec_id on the vector side)
    from igd_spark import cosine_topk, rrf_fuse
    from igd_spark.search import bm25_scores

    lex = _rank_rounded(
        bm25_scores(_docs(spark, sf_dir), _queries_df(spark)), K
    ).select("query_id", "doc_id", "rank")
    vec = cosine_topk(_emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=K).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, vec], k=K, kappa=60.0, round_dp=6)


def q_hybrid_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hybrid retrieval, score-based: min-max-normalized weighted sum of the
    # lexical BM25 top-k and the vector cosine top-k (the ES `linear`
    # retriever with normalizer=minmax; weights 0.7 lexical / 0.3 vector)
    from igd_spark import cosine_topk, linear_fuse
    from igd_spark.search import bm25_scores

    lex = _rank_rounded(
        bm25_scores(_docs(spark, sf_dir), _queries_df(spark)), K
    ).select("query_id", "doc_id", "score")
    vec = cosine_topk(_emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=K).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("cos").alias("score")
    )
    return linear_fuse(
        [lex, vec], weights=[HYBRID_W_LEX, HYBRID_W_VEC], k=K, round_dp=6
    )


def q_embedding_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dense-vector l2_norm similarity: score = 1 / (1 + ||q - e||^2)
    from igd_spark import vector_topk

    return vector_topk(
        _emb(spark, sf_dir), _emb_queries(spark, sf_dir), metric="l2", k=K
    )


def q_embedding_mip_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dense-vector max_inner_product similarity: piecewise-positive dot
    from igd_spark import vector_topk

    return vector_topk(
        _emb(spark, sf_dir), _emb_queries(spark, sf_dir), metric="mip", k=K
    )


def q_bm25_topk_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # analyzer surface: stopwords + min token length removed from
    # postings/tf/dl (the Lucene norm convention) before scoring
    from igd_spark import IndexConf
    from igd_spark.search import bm25_scores

    conf = IndexConf(stopwords=STOPWORDS, min_token_len=MIN_TOKEN_LEN).validate()
    scored = bm25_scores(_docs(spark, sf_dir), _queries_df(spark), conf=conf)
    return _rank_rounded(scored, K)


def q_explain_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene Explanation: per-(query, doc, term) BM25 ingredient breakdown
    from igd_spark import explain_scores

    return explain_scores(_docs(spark, sf_dir), _queries_df(spark), round_dp=6)


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reverse search: standing Lucene-syntax queries matched against a doc
    # batch — the unranked eligible set of the parsed language
    from igd_spark import percolate

    return percolate(_docs(spark, sf_dir), PARSED_QUERY_SET, round_dp=6)


def q_percolate_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # percolation through a COMPILED standing-query set (parse + clause
    # tables built once, cached, broadcast per batch) — must be
    # value-identical to per-call percolate, hence the same oracle
    from igd_spark import compile_percolator, percolate

    comp = compile_percolator(spark, PARSED_QUERY_SET)
    try:
        out = percolate(_docs(spark, sf_dir), comp, round_dp=6)
        out = out.localCheckpoint()  # materialize before unpersisting the tables
    finally:
        comp.unpersist()
    return out


def q_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # "did you mean": top corrections per query term by (similarity, df)
    from igd_spark import suggest_terms
    from igd_spark.stats import term_stats
    from igd_spark.tokenizer import postings

    ts = term_stats(postings(_docs(spark, sf_dir)))
    return suggest_terms(
        _fuzzy_queries_df(spark), ts, max_edits=SUGGEST_MAX_EDITS,
        n=SUGGEST_N, round_dp=6,
    )


def q_lm_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # alternative similarity: Dirichlet-prior language model (Zhai-Lafferty /
    # Lucene LMDirichletSimilarity), per-term non-negative clamp
    from igd_spark import lm_dirichlet_topk

    return lm_dirichlet_topk(
        _docs(spark, sf_dir), _queries_df(spark), mu=LMD_MU, k=K, round_dp=6
    )


def q_lm_dirichlet_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import lm_dirichlet_topk_indexed

    idx = _built_index(spark, sf_dir)
    return lm_dirichlet_topk_indexed(
        spark, idx, _queries_df(spark), mu=LMD_MU, k=K, round_dp=6
    )


def _synonyms_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(t, g) for t, g in SYNONYM_SET], "term string, group string"
    )


def q_synonym_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene SynonymQuery: blended statistics — tf summed, df maxed across
    # the synonym group; singleton terms behave as the plain scorer
    from igd_spark import synonym_bm25_topk

    return synonym_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), _synonyms_df(spark),
        k=K, round_dp=6,
    )


def q_synonym_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import synonym_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return synonym_bm25_topk_indexed(
        spark, idx, _queries_df(spark), _synonyms_df(spark), k=K, round_dp=6
    )


def _wildcard_queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t) for q, t in WILDCARD_QUERY_SET],
        "query_id long, query_text string",
    )


def q_wildcard_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene WildcardQuery: */? patterns expanded against the dictionary
    # via SQL LIKE (identical semantics in both engines by construction)
    from igd_spark import wildcard_bm25_topk

    return wildcard_bm25_topk(
        _docs(spark, sf_dir), _wildcard_queries_df(spark), k=K, round_dp=6
    )


def q_wildcard_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import wildcard_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return wildcard_bm25_topk_indexed(
        spark, idx, _wildcard_queries_df(spark), k=K, round_dp=6
    )


_KGRAM_BUILT: set[str] = set()


def q_wildcard_bm25_topk_kgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-gram dictionary index (Manning/IR §3.2.2): pattern expansion reads
    # only the required grams' buckets instead of LIKE-scanning the whole
    # vocabulary; LIKE-verified, so rank-identical -> same oracle
    from igd_spark import build_kgram_index, wildcard_bm25_topk_kgram

    idx = _built_index(spark, sf_dir)
    if idx.path not in _KGRAM_BUILT:
        build_kgram_index(spark, idx, k=3, n_gbuckets=32)
        _KGRAM_BUILT.add(idx.path)
    return wildcard_bm25_topk_kgram(
        spark, idx, _wildcard_queries_df(spark), k=K, round_dp=6
    )


def q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Solr/Lucene faceting: per-query match-set counts by attribute value
    from igd_spark import facet_counts

    return facet_counts(
        _docs(spark, sf_dir), _queries_df(spark), FACET_COL, k=FACET_K,
        round_dp=6,
    )


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES stats metric agg over each query's match set
    from igd_spark import stats_agg

    return stats_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL, round_dp=6
    )


def q_histogram_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES histogram bucket agg: fixed-width value buckets over the match set
    from igd_spark import histogram_agg

    return histogram_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL, HIST_INTERVAL
    )


def q_cardinality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES cardinality agg — gate verifies the EXACT path; approx=True is the
    # HLL++ 100 TB path (sketches merge map-side, no distinct-value shuffle)
    from igd_spark import cardinality_agg

    return cardinality_agg(_docs(spark, sf_dir), _queries_df(spark), CARD_FIELD)


def q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES significant_terms (JLH heuristic): foreground-vs-background term df
    from igd_spark import significant_terms

    return significant_terms(
        _docs(spark, sf_dir), _queries_df(spark), k=SIGTERMS_K,
        min_fg=SIGTERMS_MIN_FG, round_dp=6,
    )


def q_top_hits_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES top_hits under a terms bucket: top docs within top facet buckets
    from igd_spark import top_hits_agg

    return top_hits_agg(
        _docs(spark, sf_dir), _queries_df(spark), FACET_COL,
        k_buckets=TOPHITS_BUCKETS, k_hits=TOPHITS_HITS, round_dp=6,
    )


_DELETED_INDEX_CACHE: dict[tuple[str, str], object] = {}


def _mutated_index(spark: SparkSession, sf_dir: str, mode: str):
    """Fresh index + delete of (doc_id % DEL_MOD == 0); mode='tombstone'
    stops there (Lucene frozen-stats phase), mode='expunged' also
    compacts (force-merge: postings dropped, stats recomputed)."""
    import tempfile as _tf

    from igd_spark import IndexConf, build_index, compact_index, delete_docs

    key = (sf_dir, mode)
    if key not in _DELETED_INDEX_CACHE:
        path = _tf.mkdtemp(prefix=f"igd_{mode}_") + "/idx"
        conf = IndexConf(
            block_size=64, n_shards=16, salt_df_threshold=1024, max_salts=8,
            store_positions=True,
        )
        docs = _docs(spark, sf_dir)
        build_index(spark, docs, path, conf=conf)
        ids = docs.filter(F.col("doc_id") % DEL_MOD == 0).select("doc_id")
        idx = delete_docs(spark, path, ids, delete_tag="gate_del")
        if mode == "expunged":
            idx = compact_index(spark, path)
        _DELETED_INDEX_CACHE[key] = idx
    return _DELETED_INDEX_CACHE[key]


def q_bm25_topk_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tombstone phase: deleted docs vanish from results, idf/avgdl FROZEN
    # (the Lucene deleted-docs contract) — oracle scores with full-corpus
    # stats and merely excludes the deleted ids
    from igd_spark import search as _search_mod

    idx = _mutated_index(spark, sf_dir, "tombstone")
    out = _search_mod(spark, idx, _queries_df(spark), k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


def q_bm25_topk_expunged(spark: SparkSession, sf_dir: str) -> DataFrame:
    # force-merge phase: postings physically dropped, n_docs/avgdl/df
    # recomputed — oracle is the standard bm25 over the SURVIVING corpus
    from igd_spark import search as _search_mod

    idx = _mutated_index(spark, sf_dir, "expunged")
    out = _search_mod(spark, idx, _queries_df(spark), k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


def q_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES _analyze: the exact analysis chain, exposed — (doc_id, pos, token)
    from igd_spark import analyze

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % ANALYZE_MOD == 0)
    return analyze(docs)


def q_span_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene SpanFirstQuery: query-term occurrences at pos < END
    from igd_spark import span_first_match

    return span_first_match(
        _docs(spark, sf_dir), _queries_df(spark), SPAN_FIRST_END
    )


def q_span_first_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same, off the pruned positional index
    from igd_spark import span_first_match_indexed

    idx = _built_index(spark, sf_dir)
    return span_first_match_indexed(spark, idx, _queries_df(spark), SPAN_FIRST_END)


def q_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES _rank_eval: precision/recall/MRR/NDCG@K of the bm25 ranking
    # against deterministic synthetic judgments (grade = doc_id % 4 over
    # the match set — same literal rule in the oracle)
    from igd_spark import rank_eval
    from igd_spark.search import bm25_scores

    docs, qs = _docs(spark, sf_dir), _queries_df(spark)
    scored = bm25_scores(docs, qs)
    res = _rank_rounded(scored, K)
    jd = scored.select(
        "query_id", "doc_id", (F.col("doc_id") % 4).cast("int").alias("grade")
    )
    return rank_eval(res, jd, k=K, round_dp=6)


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES _stats introspection — gate checks the corpus-derivable columns
    # (n_blocks/batches/deletes are layout state, pytest-covered)
    from igd_spark import index_stats

    idx = _built_index(spark, sf_dir)
    return index_stats(idx).select(
        "n_docs", F.round("avgdl", 6).alias("avgdl"), "sum_dl",
        "n_terms", "n_postings",
    )


def q_multi_field_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES multi_match most_fields: per-field BM25 stats, boosted sum
    from igd_spark import multi_field_bm25_topk

    qs = spark.createDataFrame(
        [(int(q), t) for q, t in MF_QUERY_SET],
        "query_id long, query_text string",
    )
    return multi_field_bm25_topk(
        _docs(spark, sf_dir), qs, MF_FIELDS, k=K, round_dp=6
    )


_MF_INDEX_CACHE: dict[str, object] = {}


def _built_field_indexes(spark: SparkSession, sf_dir: str):
    from igd_spark import IndexConf
    from igd_spark.querylang import build_field_indexes

    if sf_dir not in _MF_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="igd_mfidx_") + "/mf"
        conf = IndexConf(
            block_size=64, n_shards=16, salt_df_threshold=1024, max_salts=8
        )
        _MF_INDEX_CACHE[sf_dir] = build_field_indexes(
            spark, _docs(spark, sf_dir), path, MF_FIELDS, conf=conf
        )
    return _MF_INDEX_CACHE[sf_dir]


def q_multi_field_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """most_fields over PERSISTED per-field indexes (Lucene's per-field
    inverted files as field=<col> subdirectories): each field contributes
    from its own pruned block scan — no corpus re-tokenize per batch.
    Rank-identical to multi_field_bm25_topk → same oracle."""
    from igd_spark.querylang import multi_field_bm25_topk_indexed

    qs = spark.createDataFrame(
        [(int(q), t) for q, t in MF_QUERY_SET],
        "query_id long, query_text string",
    )
    fidx = _built_field_indexes(spark, sf_dir)
    return multi_field_bm25_topk_indexed(spark, fidx, qs, k=K, round_dp=6)


def _mf_queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t) for q, t in MF_QUERY_SET],
        "query_id long, query_text string",
    )


def q_combined_fields_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES combined_fields (BM25F): fields merged BEFORE saturation
    from igd_spark import combined_fields_bm25_topk

    return combined_fields_bm25_topk(
        _docs(spark, sf_dir), _mf_queries_df(spark), MF_FIELDS, k=K, round_dp=6
    )


def q_combined_fields_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import combined_fields_bm25_topk_indexed

    fidx = _built_field_indexes(spark, sf_dir)
    return combined_fields_bm25_topk_indexed(
        spark, fidx, _mf_queries_df(spark), k=K, round_dp=6
    )


def q_msm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES/Lucene minimum_should_match: >= MSM_MIN distinct query terms
    from igd_spark import msm_bm25_topk

    return msm_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark),
        min_should_match=MSM_MIN, k=K, round_dp=6,
    )


def q_msm_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same contract over pruned posting blocks — rank-identical, same oracle
    from igd_spark import msm_bm25_topk_indexed

    return msm_bm25_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        min_should_match=MSM_MIN, k=K, round_dp=6,
    )


def q_collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES field collapsing: best doc per COLLAPSE_COL value, then top-k heads
    from igd_spark import collapse_topk

    return collapse_topk(
        _docs(spark, sf_dir), _queries_df(spark), COLLAPSE_COL, k=K, round_dp=6
    )


def q_collapse_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import collapse_topk_indexed

    keys = _docs(spark, sf_dir).select(
        "doc_id", F.col(COLLAPSE_COL).alias("ckey")
    )
    return collapse_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark), keys,
        k=K, round_dp=6,
    )


def q_dismax_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES dis_max / best_fields: best field's score + tie_breaker × the rest
    from igd_spark import dismax_bm25_topk

    qs = spark.createDataFrame(
        [(int(q), t) for q, t in MF_QUERY_SET],
        "query_id long, query_text string",
    )
    return dismax_bm25_topk(
        _docs(spark, sf_dir), qs, MF_FIELDS, tie_breaker=DISMAX_TIE,
        k=K, round_dp=6,
    )


def q_dismax_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import dismax_bm25_topk_indexed

    qs = spark.createDataFrame(
        [(int(q), t) for q, t in MF_QUERY_SET],
        "query_id long, query_text string",
    )
    fidx = _built_field_indexes(spark, sf_dir)
    return dismax_bm25_topk_indexed(
        spark, fidx, qs, tie_breaker=DISMAX_TIE, k=K, round_dp=6
    )


def q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES highlighter: snippets' window with the matched span tag-wrapped by
    # position arithmetic (no regex), so any SQL engine reproduces it exactly
    from igd_spark import highlight

    return highlight(
        _docs(spark, sf_dir), _queries_df(spark), k=K, width=SNIPPET_WIDTH
    )


def q_highlight_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import highlight_indexed

    return highlight_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        _docs(spark, sf_dir), k=K, width=SNIPPET_WIDTH,
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII scrubbing over deterministically injected PII (the corpus text
    # itself carries none): same injection expression in the oracle SQL
    from igd_spark import redact_pii

    docs = _docs(spark, sf_dir)
    injected = docs.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact a"), F.col("doc_id").cast("string"),
            F.lit("@ex.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 tel 555-867-5309"),
        ),
    )
    return redact_pii(injected)


def q_match_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ES _count API: size of each query's disjunctive match set
    from igd_spark import match_count

    return match_count(_docs(spark, sf_dir), _queries_df(spark))


def q_match_count_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import match_count_indexed

    return match_count_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark)
    )


def q_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ES sort clause: match set ordered by a field, not relevance
    from igd_spark import sort_topk

    return sort_topk(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL, k=K,
        ascending=False,
    )


def q_sort_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import sort_topk_indexed

    return sort_topk_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), STATS_VALUE_COL, k=K, ascending=False,
    )


def q_did_you_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # phrase-suggester-lite: whole-query correction — OOV tokens replaced
    # by their best in-vocabulary neighbour, in original token order
    from igd_spark import did_you_mean, postings
    from igd_spark.stats import term_stats

    qs = spark.createDataFrame(
        [(int(q), t) for q, t in FUZZY_QUERY_SET],
        "query_id long, query_text string",
    )
    ts = term_stats(postings(_docs(spark, sf_dir)))
    return did_you_mean(qs, ts, max_edits=FUZZY_MAX_EDITS)


def q_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES phrase suggester: SymSpell candidates re-ranked by corpus BIGRAM
    # support (confidence-gated real-word correction) — the context-aware
    # step above did_you_mean
    from igd_spark import phrase_suggest, postings
    from igd_spark.stats import term_stats

    qs = spark.createDataFrame(
        [(int(q), t) for q, t in FUZZY_QUERY_SET],
        "query_id long, query_text string",
    )
    docs = _docs(spark, sf_dir)
    ts = term_stats(postings(docs))
    return phrase_suggest(qs, docs, ts, max_edits=FUZZY_MAX_EDITS)


def q_complete_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES completion suggester at the term layer: prefix → top-n vocab terms
    # by (df desc, term asc); dictionary = term_stats (the index dictionary
    # is a pytest-pinned drop-in)
    from igd_spark import complete_terms, postings
    from igd_spark.stats import term_stats

    qs = spark.createDataFrame(
        [(int(q), t) for q, t in COMPLETE_QUERY_SET],
        "query_id long, query_text string",
    )
    ts = term_stats(postings(_docs(spark, sf_dir)))
    return complete_terms(qs, ts, n=COMPLETE_N)


def q_complete_terms_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # completion over the persisted index's dictionary (auto-routes to the
    # in-process driver probe when the vocab fits the budget) — identical
    # output to the corpus-dictionary path, hence the same oracle
    from igd_spark import complete_terms_indexed

    qs = spark.createDataFrame(
        [(int(q), t) for q, t in COMPLETE_QUERY_SET],
        "query_id long, query_text string",
    )
    return complete_terms_indexed(
        spark, _built_index(spark, sf_dir), qs, n=COMPLETE_N
    )


def _te_queries(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), p, a) for q, p, a in TE_QUERY_SET],
        "query_id long, query_text string, after_term string",
    )


def q_terms_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES _terms_enum: prefix → vocab terms in ALPHABETICAL order with a
    # per-query search_after cursor (keyset pagination over the dictionary);
    # distinct from complete_terms' popularity ranking
    from igd_spark import postings, terms_enum
    from igd_spark.stats import term_stats

    ts = term_stats(postings(_docs(spark, sf_dir)))
    return terms_enum(
        _te_queries(spark), ts, size=TE_SIZE, after_col="after_term"
    )


def q_terms_enum_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same enumeration off the persisted index's dictionary sidecar (zero
    # posting-block or corpus IO) — identical output, same oracle
    from igd_spark import terms_enum_indexed

    return terms_enum_indexed(
        spark, _built_index(spark, sf_dir), _te_queries(spark),
        size=TE_SIZE, after_col="after_term",
    )


_REINDEX_CACHE: dict[str, object] = {}


def q_bm25_topk_reindexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES _reindex: fresh index over the WHERE-selected subset; BM25 over it
    # scores with SUBSET statistics (df/N/avgdl from the selection — reindex
    # copies documents, not collection stats), unlike filtered_bm25_topk
    # which filters the match set under corpus-global stats.  The oracle
    # recomputes everything from the filtered token lists.
    from igd_spark import IndexConf, reindex
    from igd_spark import search as _search_mod

    if sf_dir not in _REINDEX_CACHE:
        path = tempfile.mkdtemp(prefix="igd_reidx_") + "/idx"
        conf = IndexConf(
            block_size=64, n_shards=8, salt_df_threshold=1024, max_salts=8
        )
        _REINDEX_CACHE[sf_dir] = reindex(
            spark, _docs(spark, sf_dir), path, where=REINDEX_WHERE, conf=conf
        )
    idx = _REINDEX_CACHE[sf_dir]
    out = _search_mod(spark, idx, _queries_df(spark), k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


def q_validate_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES _validate/query: parse verdict per query string WITHOUT executing —
    # lenient drops counted (n_dropped), the clause-count cap rejected
    # (valid=false, the too_many_clauses analog).  Expected rows are
    # hand-derived from the documented grammar (queryparse.py module
    # docstring) and pinned in the oracle as literals.
    from igd_spark import validate_query

    qs = [
        (0, '+"table scan" quer~1 tab* -slow'),  # 4 clause kinds
        (1, "spark join"),                       # 2 plain terms
        (2, '!!! ?* ""'),                        # 3 lexemes, all dropped
        (3, ""),                                 # empty string: 0/0
        (4, " ".join(f"t{i}" for i in range(10_001))),  # over the cap
    ]
    return validate_query(spark, qs)


def q_field_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES _field_caps: per-field type/searchable/aggregatable + non-NULL doc
    # coverage, ONE corpus pass (a single multi-count aggregate row unpivoted)
    from igd_spark import field_caps

    return field_caps(_docs(spark, sf_dir))


def q_percentiles_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES percentiles agg — gate verifies the EXACT path (linear interpolation
    # == ANSI percentile_cont); approx=True is the mergeable-sketch 100 TB path
    from igd_spark import percentiles_agg

    return percentiles_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        percents=list(PCT_LIST), round_dp=6,
    )


def q_percentiles_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import percentiles_agg_indexed

    return percentiles_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), STATS_VALUE_COL, percents=list(PCT_LIST),
        round_dp=6,
    )


def _docs_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a deterministic synthetic timestamp (the table carries
    none): ts = 2026-01-01 + (doc_id % DH_HOUR_MOD) hours, computed
    identically in the oracle SQL."""
    return _docs(spark, sf_dir).withColumn(
        "ts",
        F.expr(
            f"timestampadd(HOUR, CAST(doc_id % {DH_HOUR_MOD} AS INT), "
            f"TIMESTAMP'2026-01-01 00:00:00')"
        ),
    )


def q_date_histogram_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES date_histogram (calendar_interval=day) over the match set
    from igd_spark import date_histogram_agg

    return date_histogram_agg(
        _docs_with_ts(spark, sf_dir), _queries_df(spark), "ts",
        interval=DH_INTERVAL,
    )


def q_date_histogram_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import date_histogram_agg_indexed

    return date_histogram_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_ts(spark, sf_dir),
        _queries_df(spark), "ts", interval=DH_INTERVAL,
    )


def _dh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline aggs' parent series: the date_histogram day buckets."""
    from igd_spark import date_histogram_agg

    return date_histogram_agg(
        _docs_with_ts(spark, sf_dir), _queries_df(spark), "ts",
        interval=DH_INTERVAL,
    )


def q_derivative_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES derivative pipeline agg over the date_histogram parent
    from igd_spark import derivative_agg

    return derivative_agg(_dh_buckets(spark, sf_dir))


def q_derivative_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import date_histogram_agg_indexed, derivative_agg

    dh = date_histogram_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_ts(spark, sf_dir),
        _queries_df(spark), "ts", interval=DH_INTERVAL,
    )
    return derivative_agg(dh)


def q_cumulative_sum_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import cumulative_sum_agg

    return cumulative_sum_agg(_dh_buckets(spark, sf_dir))


def q_moving_fn_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unweighted avg over the 3 buckets BEFORE each bucket (ES shift=0)
    from igd_spark import moving_fn_agg

    return moving_fn_agg(_dh_buckets(spark, sf_dir), window=3, shift=0, fn="avg")


def q_serial_diff_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import serial_diff_agg

    return serial_diff_agg(_dh_buckets(spark, sf_dir), lag=2)


def q_bucket_selector_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import bucket_selector_agg

    return bucket_selector_agg(
        _dh_buckets(spark, sf_dir), f"n_docs >= {BSEL_MIN_DOCS}"
    )


def q_bucket_sort_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import bucket_sort_agg

    return bucket_sort_agg(
        _dh_buckets(spark, sf_dir), [("n_docs", "desc")], size=BSORT_SIZE
    )


def q_change_point_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES change_point sibling pipeline agg (Welch t-scan step detector)
    from igd_spark import change_point_agg

    return change_point_agg(_dh_buckets(spark, sf_dir))


def q_change_point_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import change_point_agg, date_histogram_agg_indexed

    dh = date_histogram_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_ts(spark, sf_dir),
        _queries_df(spark), "ts", interval=DH_INTERVAL,
    )
    return change_point_agg(dh)


def _docs_with_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + the deterministic synthetic transcript shape (the gate
    table is flat): conv_id = doc_id div TURNS_PER_CONV, turn_idx =
    doc_id % TURNS_PER_CONV — computed identically in the oracle SQL."""
    return (
        _docs(spark, sf_dir)
        .withColumn("conv_id", F.expr(f"doc_id div {TURNS_PER_CONV}"))
        .withColumn("turn_idx", F.expr(f"doc_id % {TURNS_PER_CONV}"))
    )


def q_random_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # function_score random_score: seeded deterministic uniform over the
    # match set — also the reproducible match-sampling primitive
    from igd_spark import random_score_topk

    return random_score_topk(
        _docs(spark, sf_dir), _queries_df(spark), seed=RNDSCORE_SEED, k=K,
        round_dp=6,
    )


def q_random_score_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import random_score_topk_indexed

    return random_score_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        seed=RNDSCORE_SEED, k=K, round_dp=6,
    )


def q_percentile_ranks_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES percentile_ranks: % of matched values <= each cut point
    from igd_spark import percentile_ranks_agg

    return percentile_ranks_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        list(PCTR_VALUES), round_dp=6,
    )


def q_percentile_ranks_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import percentile_ranks_agg_indexed

    return percentile_ranks_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), STATS_VALUE_COL, list(PCTR_VALUES), round_dp=6,
    )


def q_embedding_cosine_minsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES knn `similarity` cutoff: neighbors below the cosine floor drop
    # before ranking (queries may return fewer than k rows)
    from igd_spark import cosine_topk

    return cosine_topk(
        _emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=K,
        min_sim=KNN_MIN_SIM,
    )


def q_sampler_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES sampler + terms: buckets over the best-scored SAMPLER_SIZE docs
    from igd_spark import sampler_terms_agg

    return sampler_terms_agg(
        _docs(spark, sf_dir), _queries_df(spark), "source",
        shard_size=SAMPLER_SIZE,
    )


def q_sampler_terms_agg_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # diversified_sampler: per-value cap applied before the sample cut
    from igd_spark import sampler_terms_agg

    return sampler_terms_agg(
        _docs(spark, sf_dir), _queries_df(spark), "source",
        shard_size=SAMPLER_SIZE, max_docs_per_value=DIV_MAX_PER_VALUE,
    )


def q_sampler_terms_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import sampler_terms_agg_indexed

    return sampler_terms_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), "source", shard_size=SAMPLER_SIZE,
    )


def q_span_not_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene SpanNotQuery: query-term occurrences with no exclusion-term
    # occurrence within the [pre, post] token window
    from igd_spark import span_not_match

    return span_not_match(
        _docs(spark, sf_dir), _queries_df(spark), SPAN_NOT_EXCLUDE,
        pre=SPAN_NOT_PRE, post=SPAN_NOT_POST,
    )


def q_span_not_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import span_not_match_indexed

    return span_not_match_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        SPAN_NOT_EXCLUDE, pre=SPAN_NOT_PRE, post=SPAN_NOT_POST,
    )


def q_auto_date_histogram_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES auto_date_histogram: per-query finest calendar interval fitting
    # the bucket budget
    from igd_spark import auto_date_histogram_agg

    return auto_date_histogram_agg(
        _docs_with_ts(spark, sf_dir), _queries_df(spark), "ts",
        target_buckets=AUTODH_TARGET,
    )


def q_auto_date_histogram_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import auto_date_histogram_agg_indexed

    return auto_date_histogram_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_ts(spark, sf_dir),
        _queries_df(spark), "ts", target_buckets=AUTODH_TARGET,
    )


def q_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc perplexity under the corpus unigram MLE (the KenLM stand-in)
    from igd_spark import unigram_perplexity

    return unigram_perplexity(_docs(spark, sf_dir), round_dp=6)


_ROLLOVER_CACHE: dict[str, list] = {}


def q_bm25_topk_rollover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ES ILM write path end-to-end: half the corpus into generation 1
    behind a write alias, rollover on max_docs (new EMPTY generation +
    atomic alias swap), second half APPENDED through the alias, then one
    federated search over both generations with exact global stats.  Same
    oracle as bm25_topk — the whole lifecycle must be rank-invisible."""
    from igd_spark import (
        IndexConf, append_index, build_index, open_index, resolve_alias,
        rollover_index, search_federated, set_alias,
    )

    if sf_dir not in _ROLLOVER_CACHE:
        conf = IndexConf(block_size=64, n_shards=8, salt_df_threshold=1024,
                         max_salts=4)
        docs = _docs(spark, sf_dir)
        base = tempfile.mkdtemp(prefix="igd_roll_")
        gen1 = os.path.join(base, "turns-000001")
        root = os.path.join(base, "aliases")
        build_index(
            spark, docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0),
            gen1, conf=conf,
        )
        set_alias(root, "turns-write", gen1)
        r = rollover_index(spark, root, "turns-write", max_docs=1)
        assert r["rolled"] and r["new_target"].endswith("turns-000002")
        append_index(
            spark, resolve_alias(root, "turns-write"),
            docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
        )
        _ROLLOVER_CACHE[sf_dir] = [
            open_index(spark, gen1),
            open_index(spark, resolve_alias(root, "turns-write")),
        ]
    out = search_federated(spark, _ROLLOVER_CACHE[sf_dir], _queries_df(spark), k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene ClassicSimilarity (pre-BM25 TF-IDF default)
    from igd_spark import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), _queries_df(spark), k=K, round_dp=6)


def q_tfidf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import tfidf_topk_indexed

    return tfidf_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark), k=K, round_dp=6
    )


def q_lm_jm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LM Jelinek-Mercer smoothing (Lucene LMJelinekMercerSimilarity)
    from igd_spark import lm_jelinek_mercer_topk

    return lm_jelinek_mercer_topk(
        _docs(spark, sf_dir), _queries_df(spark), lam=LMJM_LAMBDA, k=K, round_dp=6
    )


def q_lm_jm_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import lm_jelinek_mercer_topk_indexed

    return lm_jelinek_mercer_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        lam=LMJM_LAMBDA, k=K, round_dp=6,
    )


def q_dfi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # divergence-from-independence (Lucene DFISimilarity, standardized)
    from igd_spark import dfi_topk

    return dfi_topk(_docs(spark, sf_dir), _queries_df(spark), k=K, round_dp=6)


def q_dfi_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import dfi_topk_indexed

    return dfi_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark), k=K, round_dp=6
    )


def q_dfr_pl2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DFR PL2 (Poisson / Laplace / H2 — the Terrier default)
    from igd_spark import dfr_pl2_topk

    return dfr_pl2_topk(
        _docs(spark, sf_dir), _queries_df(spark), c=DFR_C, k=K, round_dp=6
    )


def q_dfr_pl2_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import dfr_pl2_topk_indexed

    return dfr_pl2_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        c=DFR_C, k=K, round_dp=6,
    )


def q_ib_ll_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # information-based, log-logistic (Lucene IBSimilarity LL/df/H2)
    from igd_spark import ib_ll_topk

    return ib_ll_topk(
        _docs(spark, sf_dir), _queries_df(spark), c=DFR_C, k=K, round_dp=6
    )


def q_ib_ll_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import ib_ll_topk_indexed

    return ib_ll_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        c=DFR_C, k=K, round_dp=6,
    )


def q_axiomatic_f2exp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Axiomatic F2EXP (Fang & Zhai 2005; Lucene AxiomaticF2EXP)
    from igd_spark import axiomatic_topk

    return axiomatic_topk(
        _docs(spark, sf_dir), _queries_df(spark),
        variant="f2exp", k_exp=AX_K, k=K, round_dp=6,
    )


def q_axiomatic_f2exp_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import axiomatic_topk_indexed

    return axiomatic_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        variant="f2exp", k_exp=AX_K, k=K, round_dp=6,
    )


def q_axiomatic_f2log_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Axiomatic F2LOG (ln growth instead of the power law)
    from igd_spark import axiomatic_topk

    return axiomatic_topk(
        _docs(spark, sf_dir), _queries_df(spark),
        variant="f2log", k=K, round_dp=6,
    )


def q_axiomatic_f2log_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import axiomatic_topk_indexed

    return axiomatic_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        variant="f2log", k=K, round_dp=6,
    )


def q_bm25_plus_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25+ (Lv & Zhai 2011): per-match contribution floor delta
    from igd_spark import bm25_variant_topk

    return bm25_variant_topk(
        _docs(spark, sf_dir), _queries_df(spark),
        variant="plus", delta=BM25P_DELTA, k=K, round_dp=6,
    )


def q_bm25_plus_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import bm25_variant_topk_indexed

    return bm25_variant_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        variant="plus", delta=BM25P_DELTA, k=K, round_dp=6,
    )


def q_bm25_l_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25L (Lv & Zhai 2011): shifted saturation for very long documents
    from igd_spark import bm25_variant_topk

    return bm25_variant_topk(
        _docs(spark, sf_dir), _queries_df(spark),
        variant="l", delta=BM25L_DELTA, k=K, round_dp=6,
    )


def q_bm25_l_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import bm25_variant_topk_indexed

    return bm25_variant_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        variant="l", delta=BM25L_DELTA, k=K, round_dp=6,
    )


def q_rare_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES rare_terms: long-tail source values (<= RARE_MAX_DC matching docs)
    from igd_spark import rare_terms_agg

    return rare_terms_agg(
        _docs(spark, sf_dir), _queries_df(spark), "source",
        max_doc_count=RARE_MAX_DC,
    )


def q_rare_terms_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import rare_terms_agg_indexed

    return rare_terms_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), "source", max_doc_count=RARE_MAX_DC,
    )


def q_multi_terms_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES multi_terms: (lang, source) tuple buckets, top-8 by count
    from igd_spark import multi_terms_agg

    return multi_terms_agg(
        _docs(spark, sf_dir), _queries_df(spark), ["lang", "source"], size=8
    )


def q_multi_terms_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import multi_terms_agg_indexed

    return multi_terms_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), ["lang", "source"], size=8,
    )


def q_weighted_avg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES weighted_avg over n_chars with a deterministic synthetic weight
    from igd_spark import weighted_avg_agg

    return weighted_avg_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        WAVG_WEIGHT, round_dp=6,
    )


def q_weighted_avg_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import weighted_avg_agg_indexed

    return weighted_avg_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), STATS_VALUE_COL, WAVG_WEIGHT, round_dp=6,
    )


def q_has_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES has_child: rank conversations whose turns match, score_mode=max,
    # with the min_children bound tested before ranking
    from igd_spark import has_child_topk

    return has_child_topk(
        _docs_with_conv(spark, sf_dir), _queries_df(spark),
        parent_col="conv_id", k=K, score_mode="max",
        min_children=HC_MIN_CHILDREN, round_dp=6,
    )


def q_has_child_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import has_child_topk_indexed

    parents = _docs_with_conv(spark, sf_dir).select(
        "doc_id", F.col("conv_id").alias("parent_id")
    )
    return has_child_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark), parents,
        k=K, score_mode="max", min_children=HC_MIN_CHILDREN, round_dp=6,
    )


def _parent_frames(spark: SparkSession, sf_dir: str):
    """Parent/child split of the gate corpus: the conversation's first turn
    (doc_id % TURNS_PER_CONV == 0) is the parent document, keyed by
    conv_id; every turn is a child."""
    docs = _docs_with_conv(spark, sf_dir)
    parent_docs = docs.filter(F.col("turn_idx") == 0).select("conv_id", "text")
    return parent_docs, docs.select("doc_id", "conv_id")


def q_has_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES has_parent with score=true: children inherit the parent's score
    from igd_spark import has_parent_topk

    parent_docs, children = _parent_frames(spark, sf_dir)
    return has_parent_topk(
        parent_docs, children, _queries_df(spark),
        parent_col="conv_id", k=K, score=True, round_dp=6,
    )


_PARENT_IDX_CACHE: dict[str, object] = {}


def q_has_parent_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-type parent index of the Lucene join field: a second
    # persisted index whose doc_id IS the parent key
    from igd_spark import IndexConf, build_index, has_parent_topk_indexed

    parent_docs, children = _parent_frames(spark, sf_dir)
    if sf_dir not in _PARENT_IDX_CACHE:
        path = tempfile.mkdtemp(prefix="igd_paridx_") + "/idx"
        conf = IndexConf(block_size=64, n_shards=8, salt_df_threshold=1024)
        _PARENT_IDX_CACHE[sf_dir] = build_index(
            spark,
            parent_docs.select(F.col("conv_id").alias("doc_id"), "text"),
            path, conf=conf,
        )
    ch = children.withColumnRenamed("conv_id", "parent_id")
    return has_parent_topk_indexed(
        spark, _PARENT_IDX_CACHE[sf_dir], _queries_df(spark), ch,
        k=K, score=True, round_dp=6,
    )


def q_context_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hit ± CTX_WINDOW neighboring turns within the conversation
    from igd_spark import context_turns

    return context_turns(
        _docs_with_conv(spark, sf_dir), _queries_df(spark),
        k=K, window=CTX_WINDOW,
    )


def q_context_turns_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import context_turns_indexed

    return context_turns_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_conv(spark, sf_dir),
        _queries_df(spark), k=K, window=CTX_WINDOW, round_dp=6,
    )


def q_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES _termvectors: per requested doc, (term, tf) + global df + dl
    from igd_spark import term_vectors

    docs = _docs(spark, sf_dir)
    ids = docs.filter(F.col("doc_id") % TV_MOD == 0).select("doc_id")
    return term_vectors(docs, ids)


def q_function_score_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES function_score gauss decay: bm25 × exp(-(v-origin)²/(2·scale²)) —
    # the numeric-decay member of the boost family (boosted_bm25_topk is
    # the general score-function seam)
    from igd_spark import boosted_bm25_topk

    decay = (
        f"exp(-pow(n_chars - {DECAY_ORIGIN}, 2)"
        f" / (2.0 * {DECAY_SCALE} * {DECAY_SCALE}))"
    )
    return boosted_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), boost=decay, k=K, round_dp=6
    )


def q_distance_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES distance_feature: bm25 + boost·pivot/(pivot+|n_chars−origin|) —
    # the ADDITIVE proximity/recency booster (vs the multiplicative decay)
    from igd_spark import distance_feature_topk

    return distance_feature_topk(
        _docs(spark, sf_dir), _queries_df(spark),
        field="n_chars", origin=DF_ORIGIN, pivot=DF_PIVOT, boost=DF_BOOST,
        k=K, round_dp=6,
    )


def q_distance_feature_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import distance_feature_topk_indexed

    idx = _built_index(spark, sf_dir)
    return distance_feature_topk_indexed(
        spark, idx, _queries_df(spark), _docs(spark, sf_dir),
        field="n_chars", origin=DF_ORIGIN, pivot=DF_PIVOT, boost=DF_BOOST,
        k=K, round_dp=6,
    )


def q_rank_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES rank_feature (saturation): bm25 + boost·f/(f+pivot) on n_chars
    from igd_spark import rank_feature_topk

    return rank_feature_topk(
        _docs(spark, sf_dir), _queries_df(spark),
        field="n_chars", function="saturation", pivot=RF_PIVOT, boost=RF_BOOST,
        k=K, round_dp=6,
    )


def q_rank_feature_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import rank_feature_topk_indexed

    idx = _built_index(spark, sf_dir)
    return rank_feature_topk_indexed(
        spark, idx, _queries_df(spark), _docs(spark, sf_dir),
        field="n_chars", function="saturation", pivot=RF_PIVOT, boost=RF_BOOST,
        k=K, round_dp=6,
    )


def q_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES script_score: arbitrary expression over _score + doc columns
    from igd_spark import script_score_topk

    return script_score_topk(
        _docs(spark, sf_dir), _queries_df(spark), SCRIPT_SCORE, k=K, round_dp=6
    )


def q_script_score_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import script_score_topk_indexed

    idx = _built_index(spark, sf_dir)
    return script_score_topk_indexed(
        spark, idx, _queries_df(spark), _docs(spark, sf_dir), SCRIPT_SCORE,
        k=K, round_dp=6,
    )


def _docs_with_msm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic per-doc requirement 1..3 (the minimum_should_match_field)
    return _docs(spark, sf_dir).withColumn(
        "msm_req", (F.lit(1) + F.col("doc_id") % 3).cast("int")
    )


def q_terms_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES terms_set: per-DOC minimum distinct-match requirement from a field
    from igd_spark import terms_set_topk

    return terms_set_topk(
        _docs_with_msm(spark, sf_dir), _queries_df(spark),
        msm_field="msm_req", k=K, round_dp=6,
    )


def q_terms_set_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import terms_set_topk_indexed

    idx = _built_index(spark, sf_dir)
    return terms_set_topk_indexed(
        spark, idx, _queries_df(spark), _docs_with_msm(spark, sf_dir),
        msm_field="msm_req", k=K, round_dp=6,
    )


def _boosting_queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t, n) for q, t, n in BOOSTING_QUERY_SET],
        "query_id long, query_text string, negative_text string",
    )


def q_boosting_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES boosting query: negative-clause docs demoted by ×NEG_BOOST
    from igd_spark import boosting_bm25_topk

    return boosting_bm25_topk(
        _docs(spark, sf_dir), _boosting_queries_df(spark),
        negative_boost=NEG_BOOST, k=K, round_dp=6,
    )


def q_boosting_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import boosting_bm25_topk_indexed

    return boosting_bm25_topk_indexed(
        spark, _built_index(spark, sf_dir), _boosting_queries_df(spark),
        negative_boost=NEG_BOOST, k=K, round_dp=6,
    )


def q_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES range agg: explicit [from, to) buckets, zero counts emitted
    from igd_spark import range_agg

    return range_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        ranges=list(RANGE_BOUNDS),
    )


def q_range_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import range_agg_indexed

    return range_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), STATS_VALUE_COL, ranges=list(RANGE_BOUNDS),
    )


def q_adjacency_matrix_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES adjacency_matrix: per query pair, |match(a) ∩ match(b)|
    from igd_spark import adjacency_matrix_agg

    return adjacency_matrix_agg(_docs(spark, sf_dir), _queries_df(spark))


def q_adjacency_matrix_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import adjacency_matrix_agg_indexed

    return adjacency_matrix_agg_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark)
    )


def _docs_with_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a deterministic nullable field (the gate table has no
    NULLs): tool = NULL iff doc_id % MISSING_MOD == 0, else 'tool<d%3>' —
    computed identically in the oracle SQL."""
    return _docs(spark, sf_dir).withColumn(
        "tool",
        F.expr(
            f"CASE WHEN doc_id % {MISSING_MOD} = 0 THEN NULL "
            f"ELSE concat('tool', CAST(doc_id % 3 AS STRING)) END"
        ),
    )


def q_missing_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES missing agg: matched docs whose field is NULL
    from igd_spark import missing_agg

    return missing_agg(_docs_with_tool(spark, sf_dir), _queries_df(spark), "tool")


def q_missing_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import missing_agg_indexed

    return missing_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_tool(spark, sf_dir),
        _queries_df(spark), "tool",
    )


def _pins_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), int(p), int(d)) for q, p, d in PIN_SET],
        "query_id long, pin_pos int, doc_id long",
    )


def q_pinned_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES pinned query: editorial ids first (in pin order), organic after
    from igd_spark import pinned_bm25_topk

    return pinned_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), _pins_df(spark),
        k=K, round_dp=6,
    )


def q_pinned_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import pinned_bm25_topk_indexed

    return pinned_bm25_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark), _pins_df(spark),
        k=K, round_dp=6,
    )


def _regexp_queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t) for q, t in REGEXP_QUERY_SET],
        "query_id long, query_text string",
    )


def q_regexp_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene RegexpQuery: regex-expanded disjunctive BM25
    from igd_spark.querylang import regexp_bm25_topk

    return regexp_bm25_topk(
        _docs(spark, sf_dir), _regexp_queries_df(spark), k=K, round_dp=6
    )


def q_regexp_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same semantics off the persisted index dictionary + pruned blocks
    from igd_spark.querylang import regexp_bm25_topk_indexed

    idx = _built_index(spark, sf_dir)
    return regexp_bm25_topk_indexed(
        spark, idx, _regexp_queries_df(spark), k=K, round_dp=6
    )


def q_stats_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import stats_agg_indexed

    idx = _built_index(spark, sf_dir)
    return stats_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        round_dp=6,
    )


def q_histogram_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import histogram_agg_indexed

    idx = _built_index(spark, sf_dir)
    return histogram_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        HIST_INTERVAL,
    )


def q_cardinality_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import cardinality_agg_indexed

    idx = _built_index(spark, sf_dir)
    return cardinality_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), CARD_FIELD
    )


def q_significant_terms_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import significant_terms_indexed

    idx = _built_index(spark, sf_dir)
    return significant_terms_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), k=SIGTERMS_K,
        min_fg=SIGTERMS_MIN_FG, round_dp=6,
    )


def q_top_hits_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import top_hits_agg_indexed

    idx = _built_index(spark, sf_dir)
    return top_hits_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), FACET_COL,
        k_buckets=TOPHITS_BUCKETS, k_hits=TOPHITS_HITS, round_dp=6,
    )


def _page2_cursor(qs: DataFrame, scored: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared cursor derivation of both search_after gate entries: each
    query's rank-K row (on rounded scores, the shared tie-break) becomes
    the keyset cursor; queries with < K results have no cursor and are not
    paged — identical by construction so the one oracle serves both."""
    scored = scored.withColumn("score", F.round("score", 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    cursor = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == K)
        .select(
            "query_id",
            F.col("score").alias("after_score"),
            F.col("doc_id").alias("after_doc_id"),
        )
    )
    return qs.join(cursor.select("query_id"), "query_id", "left_semi"), cursor


def q_search_after_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same page-2 protocol, cursor AND page both from pruned index blocks
    from igd_spark.querylang import _indexed_scored, search_after_topk_indexed

    idx = _built_index(spark, sf_dir)
    qs = _queries_df(spark)
    paged, cursor = _page2_cursor(qs, _indexed_scored(spark, idx, qs))
    return search_after_topk_indexed(spark, idx, paged, cursor, k=K, round_dp=6)


def q_rescore_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import rescore_topk_indexed

    idx = _built_index(spark, sf_dir)
    return rescore_topk_indexed(
        spark, idx, _queries_df(spark), window_size=RESCORE_WINDOW,
        query_weight=RESCORE_QW, rescore_weight=RESCORE_RW, mu=LMD_MU,
        k=K, round_dp=6,
    )


def q_search_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES search_after keyset pagination: page 2 of the bm25 ranking — the
    # cursor is each query's rank-K row; queries with < K results have no
    # cursor and are (like ES without a live cursor) not paged
    from igd_spark.querylang import search_after_topk
    from igd_spark.search import bm25_scores

    docs, qs = _docs(spark, sf_dir), _queries_df(spark)
    paged, cursor = _page2_cursor(qs, bm25_scores(docs, qs))
    return search_after_topk(docs, paged, cursor, k=K, round_dp=6)


def q_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES rescore: BM25 window, LM-Dirichlet second pass, weighted total
    from igd_spark.querylang import rescore_topk

    return rescore_topk(
        _docs(spark, sf_dir), _queries_df(spark), window_size=RESCORE_WINDOW,
        query_weight=RESCORE_QW, rescore_weight=RESCORE_RW, mu=LMD_MU,
        k=K, round_dp=6,
    )


# ---- r5 final metric-agg tranche: extended_stats / boxplot / MAD /
# matrix_stats / top_metrics (ES parity; exact forms) ----

# second numeric field for the two-field aggs, derived identically in the
# Spark entry and the DuckDB oracle (documents has one native numeric col)
MATRIX_Y_MOD = 101


def _docs_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).withColumn(
        "y2", (F.col("doc_id") % MATRIX_Y_MOD).cast("double")
    )


def q_extended_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import extended_stats_agg

    return extended_stats_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL, round_dp=6
    )


def q_extended_stats_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import extended_stats_agg_indexed

    idx = _built_index(spark, sf_dir)
    return extended_stats_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        round_dp=6,
    )


def q_boxplot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import boxplot_agg

    return boxplot_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL, round_dp=6
    )


def q_boxplot_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import boxplot_agg_indexed

    idx = _built_index(spark, sf_dir)
    return boxplot_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        round_dp=6,
    )


def q_mad_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import median_absolute_deviation_agg

    return median_absolute_deviation_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL, round_dp=6
    )


def q_mad_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import median_absolute_deviation_agg_indexed

    idx = _built_index(spark, sf_dir)
    return median_absolute_deviation_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        round_dp=6,
    )


def q_matrix_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import matrix_stats_agg

    return matrix_stats_agg(
        _docs_xy(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL, "y2",
        round_dp=6,
    )


def q_matrix_stats_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import matrix_stats_agg_indexed

    idx = _built_index(spark, sf_dir)
    return matrix_stats_agg_indexed(
        spark, idx, _docs_xy(spark, sf_dir), _queries_df(spark),
        STATS_VALUE_COL, "y2", round_dp=6,
    )


def q_top_metrics_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import top_metrics_agg

    return top_metrics_agg(
        _docs_xy(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL, "y2",
        k=3, round_dp=6,
    )


def q_top_metrics_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import top_metrics_agg_indexed

    idx = _built_index(spark, sf_dir)
    return top_metrics_agg_indexed(
        spark, idx, _docs_xy(spark, sf_dir), _queries_df(spark),
        STATS_VALUE_COL, "y2", k=3, round_dp=6,
    )


SIMPLE_QS_SET: list[tuple[int, str]] = [
    (0, "customer + -slow | merge"),   # (customer AND NOT slow) OR merge
    (1, "table value"),                # default_operator=or: two groups
    (2, "table|value + merge"),        # table OR (value AND merge)
    (3, "customer + zzznotavocab"),    # unsatisfiable AND group -> 0 hits
    (4, "query + -zzznotavocab"),      # OOV negation vetoes nothing
]


def q_simple_query_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES simple_query_string: '|' OR / '+' AND / '-' NOT with AND binding
    # tighter — a DNF evaluator, strictly beyond the flat parsed syntax
    from igd_spark import simple_query_string_topk

    return simple_query_string_topk(
        _docs(spark, sf_dir), SIMPLE_QS_SET, k=K, round_dp=6
    )


def q_simple_query_string_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import simple_query_string_topk_indexed

    idx = _built_index(spark, sf_dir)
    return simple_query_string_topk_indexed(
        spark, idx, SIMPLE_QS_SET, k=K, round_dp=6
    )


SM_SCRIPT = "sqrt(n_chars) + length(source)"   # shared Spark/DuckDB dialect


def q_scripted_metric_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES scripted_metric: arbitrary per-doc SQL map expression + an
    # associative reduce over each query's match set
    from igd_spark import scripted_metric_agg

    return scripted_metric_agg(
        _docs(spark, sf_dir), _queries_df(spark), SM_SCRIPT, reduce="avg",
        round_dp=6,
    )


def q_scripted_metric_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import scripted_metric_agg_indexed

    idx = _built_index(spark, sf_dir)
    return scripted_metric_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), SM_SCRIPT,
        reduce="avg", round_dp=6,
    )


def q_string_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES string_stats metric agg: length stats + character entropy
    from igd_spark import string_stats_agg

    return string_stats_agg(
        _docs(spark, sf_dir), _queries_df(spark), STRING_STATS_COL, round_dp=6
    )


def q_string_stats_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import string_stats_agg_indexed

    idx = _built_index(spark, sf_dir)
    return string_stats_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), STRING_STATS_COL,
        round_dp=6,
    )




# ---- round-5 final tranche: t_test / pipeline script+normalize /
# significant_text / constant_score / match_bool_prefix / resample_to_mix ----

TT_FILTER_A = "lang = 'en'"
TT_FILTER_B = "lang <> 'en'"
BS_SCRIPT = "ln(n_docs + 1)"          # shared Spark/DuckDB dialect
CS_BOOST = 1.5
MBP_MAX_EXP = 50
MBP_QUERY_SET: list[tuple[int, str]] = [
    (0, "spark jo"),          # literal + prefix
    (1, "customer quer"),
    (2, "zzz"),               # expands to nothing -> 0 hits
    (3, "merge so"),
    (4, "the tab"),
]
MIX_TARGET = {"src0": 0.5, "src1": 0.25, "src3": 0.25}   # exact binary doubles
MIX_SEED = 11


def q_t_test_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES t_test metric agg (Welch): n_chars, en vs non-en populations
    from igd_spark import t_test_agg

    return t_test_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        TT_FILTER_A, TT_FILTER_B, typ="heteroscedastic", round_dp=6,
    )


def q_t_test_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import t_test_agg_indexed

    idx = _built_index(spark, sf_dir)
    return t_test_agg_indexed(
        spark, idx, _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        TT_FILTER_A, TT_FILTER_B, typ="heteroscedastic", round_dp=6,
    )


def q_bucket_script_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES bucket_script pipeline agg over the date_histogram parent
    from igd_spark import bucket_script_agg

    out = bucket_script_agg(_dh_buckets(spark, sf_dir), BS_SCRIPT, label="value")
    return out.withColumn("value", F.round("value", 6))


def q_normalize_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES normalize pipeline agg: percent_of_sum across each query's series
    from igd_spark import normalize_agg

    out = normalize_agg(
        _dh_buckets(spark, sf_dir), metric="n_docs", method="percent_of_sum"
    )
    return out.withColumn("normalized", F.round("normalized", 6))


def _docs_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic duplicate-text corpus for significant_text's
    filter_duplicate_text knob: each odd doc carries its even
    predecessor's text (the table itself has no exact dups)."""
    d = _docs(spark, sf_dir)
    e = d.select(
        F.col("doc_id").alias("_sid"), F.col("text").alias("_stext")
    )
    return (
        d.withColumn("_key", F.col("doc_id") - F.col("doc_id") % 2)
        .join(e, F.col("_key") == F.col("_sid"))
        .select("doc_id", F.col("_stext").alias("text"), "lang", "source", "n_chars")
    )


_DUP_INDEX_CACHE: dict[str, object] = {}


def _built_dup_index(spark: SparkSession, sf_dir: str):
    from igd_spark import IndexConf, build_index

    if sf_dir not in _DUP_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="igd_dupidx_") + "/idx"
        conf = IndexConf(block_size=64, n_shards=16, salt_df_threshold=1024,
                         max_salts=8)
        _DUP_INDEX_CACHE[sf_dir] = build_index(
            spark, _docs_dup(spark, sf_dir), path, conf=conf
        )
    return _DUP_INDEX_CACHE[sf_dir]


def q_significant_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES significant_text: JLH over deduped-hit re-analysis
    from igd_spark import significant_text_agg

    return significant_text_agg(
        _docs_dup(spark, sf_dir), _queries_df(spark),
        k=SIGTERMS_K, min_fg=SIGTERMS_MIN_FG, round_dp=6,
    )


def q_significant_text_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import significant_text_agg_indexed

    idx = _built_dup_index(spark, sf_dir)
    return significant_text_agg_indexed(
        spark, idx, _docs_dup(spark, sf_dir), _queries_df(spark),
        k=SIGTERMS_K, min_fg=SIGTERMS_MIN_FG, round_dp=6,
    )


def q_constant_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES constant_score: every match scores boost; deterministic id order
    from igd_spark import constant_score_topk

    return constant_score_topk(
        _docs(spark, sf_dir), _queries_df(spark), boost=CS_BOOST, k=K
    )


def q_constant_score_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import constant_score_topk_indexed

    idx = _built_index(spark, sf_dir)
    return constant_score_topk_indexed(
        spark, idx, _queries_df(spark), boost=CS_BOOST, k=K
    )


def _mbp_queries(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t) for q, t in MBP_QUERY_SET], "query_id long, query_text string"
    )


def q_match_bool_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES match_bool_prefix: OR terms + capped last-token prefix expansion
    from igd_spark import match_bool_prefix_topk

    return match_bool_prefix_topk(
        _docs(spark, sf_dir), _mbp_queries(spark), k=K,
        max_expansions=MBP_MAX_EXP, round_dp=6,
    )


def q_match_bool_prefix_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import match_bool_prefix_topk_indexed

    idx = _built_index(spark, sf_dir)
    return match_bool_prefix_topk_indexed(
        spark, idx, _mbp_queries(spark), k=K,
        max_expansions=MBP_MAX_EXP, round_dp=6,
    )


def q_resample_to_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # training-data mixing: deterministic downsample to a target source mix
    from igd_spark import resample_to_mix

    return resample_to_mix(
        _docs(spark, sf_dir), MIX_TARGET, seed=MIX_SEED, strat_col="source"
    )




SPANC_SPAN = 6
SPANC_LITTLE = "the"
SPANC_QUERY_SET: list[tuple[int, str]] = [
    (0, "spark join"),
    (1, "table scan"),
    (2, "slow query"),
    (3, "zzznotavocab table"),   # no big span -> absent
    (4, "merge sort"),
]
UPD_TERM = "vector"
UPD_SUFFIX = " zzzupdated"
UPD_TAG = "gate1"


def _spanc_queries(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(int(q), t) for q, t in SPANC_QUERY_SET], "query_id long, query_text string"
    )


def q_span_containing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene SpanContainingQuery: big ordered pairs holding a little term
    from igd_spark import span_containing_match

    return span_containing_match(
        _docs(spark, sf_dir), _spanc_queries(spark), SPANC_LITTLE, span=SPANC_SPAN
    )


def q_span_containing_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import span_containing_match_indexed

    idx = _built_index(spark, sf_dir)
    return span_containing_match_indexed(
        spark, idx, _spanc_queries(spark), SPANC_LITTLE, span=SPANC_SPAN
    )


def q_span_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the dual: little-term occurrences inside a big span
    from igd_spark import span_within_match

    return span_within_match(
        _docs(spark, sf_dir), _spanc_queries(spark), SPANC_LITTLE, span=SPANC_SPAN
    )


def q_span_within_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import span_within_match_indexed

    idx = _built_index(spark, sf_dir)
    return span_within_match_indexed(
        spark, idx, _spanc_queries(spark), SPANC_LITTLE, span=SPANC_SPAN
    )


_UPDATED_INDEX_CACHE: dict[tuple, object] = {}


def _updated_index(spark: SparkSession, sf_dir: str, mode: str):
    """Fresh index -> update_by_query (docs matching UPD_TERM get
    UPD_SUFFIX appended under new content-addressed ids, originals
    tombstoned); mode='updated' stops there (both versions weigh in the
    frozen stats), mode='compacted' force-merges to clean stats."""
    import tempfile as _tf

    from igd_spark import IndexConf, build_index, compact_index, update_by_query

    key = (sf_dir, mode)
    if key not in _UPDATED_INDEX_CACHE:
        path = _tf.mkdtemp(prefix=f"igd_upd_{mode}_") + "/idx"
        conf = IndexConf(
            block_size=64, n_shards=16, salt_df_threshold=1024, max_salts=8,
        )
        docs = _docs(spark, sf_dir)
        build_index(spark, docs, path, conf=conf)
        uq = spark.createDataFrame(
            [(0, UPD_TERM)], "query_id long, query_text string"
        )
        idx = update_by_query(
            spark, path, uq, {"text": f"text || '{UPD_SUFFIX}'"}, docs,
            update_tag=UPD_TAG,
        )
        if mode == "compacted":
            idx = compact_index(spark, path)
        _UPDATED_INDEX_CACHE[key] = idx
    return _UPDATED_INDEX_CACHE[key]


def q_bm25_topk_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES _update_by_query, pre-merge phase: originals tombstoned, updated
    # copies appended — BOTH still weigh in idf/avgdl (frozen-stats)
    from igd_spark import search as _search_mod

    idx = _updated_index(spark, sf_dir, "updated")
    out = _search_mod(spark, idx, _queries_df(spark), k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


def q_bm25_topk_updated_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # post-merge: stats recomputed over survivors + updated copies only
    from igd_spark import search as _search_mod

    idx = _updated_index(spark, sf_dir, "compacted")
    out = _search_mod(spark, idx, _queries_df(spark), k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 over the sf0.001 documents corpus."""
    return q_bm25_topk(spark, "/root/testdata/sf0.001")



# ---------------------------------------------------------------------------
# round-5 continuation tranche: value_count/global/date_range aggs, the
# sibling + moving-percentile + rate + cumulative-cardinality pipeline
# family, exists/ids filter queries, and span_or.

VC_FIELD = "tool"             # value_count counts the synthetic nullable field
DR_RANGES = (                 # date_range buckets over the synthetic ts
    (None, "2026-01-15 00:00:00"),
    ("2026-01-15 00:00:00", "2026-02-01 00:00:00"),
    ("2026-02-01 00:00:00", None),
)
PCTB_LIST = (25.0, 50.0, 75.0)  # percentiles_bucket cut points
MVP_WINDOW = 3                # moving_percentiles trailing window (buckets)
MVP_PCT = 50.0                # moving_percentiles percentile
RATE_UNIT = "hour"            # rate agg: day buckets re-expressed per hour
CC_USER_MOD = 97              # synthetic user field: 'u' || (doc_id % 97)
IDS_SET = tuple(range(0, 203, 7))   # ids query candidate list (29 ids)
SPANOR_ALTS = "slow fast value"     # span_or alternative terms


def _docs_with_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + ts + a deterministic synthetic user field (cardinality
    CC_USER_MOD) for cumulative_cardinality — computed identically in the
    oracle SQL."""
    return _docs_with_ts(spark, sf_dir).withColumn(
        "usr", F.expr(f"concat('u', CAST(doc_id % {CC_USER_MOD} AS STRING))")
    )


def q_value_count_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES value_count metric agg: non-NULL field values over the match set
    from igd_spark import value_count_agg

    return value_count_agg(_docs_with_tool(spark, sf_dir), _queries_df(spark), VC_FIELD)


def q_value_count_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import value_count_agg_indexed

    return value_count_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_tool(spark, sf_dir),
        _queries_df(spark), VC_FIELD,
    )


def q_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES global bucket agg: match-set size vs whole-corpus count
    from igd_spark import global_agg

    return global_agg(_docs(spark, sf_dir), _queries_df(spark))


def q_date_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES date_range bucket agg: explicit [from, to) timestamp buckets
    from igd_spark import date_range_agg

    return date_range_agg(
        _docs_with_ts(spark, sf_dir), _queries_df(spark), "ts", list(DR_RANGES)
    )


def q_date_range_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import date_range_agg_indexed

    return date_range_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_ts(spark, sf_dir),
        _queries_df(spark), "ts", list(DR_RANGES),
    )


def q_stats_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES stats_bucket sibling pipeline agg (subsumes avg/min/max/sum_bucket)
    from igd_spark import stats_bucket_agg

    return stats_bucket_agg(_dh_buckets(spark, sf_dir))


def q_percentiles_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES percentiles_bucket sibling pipeline agg (exact == percentile_cont)
    from igd_spark import percentiles_bucket_agg

    return percentiles_bucket_agg(
        _dh_buckets(spark, sf_dir), percents=list(PCTB_LIST), round_dp=6
    )


def q_moving_percentiles_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES moving_percentiles pipeline agg (exact variant, moving_fn window)
    from igd_spark import moving_percentiles_agg

    return moving_percentiles_agg(
        _dh_buckets(spark, sf_dir), window=MVP_WINDOW, percent=MVP_PCT,
        round_dp=6,
    )


def q_rate_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES rate agg: day-bucket doc counts re-expressed per hour
    from igd_spark import rate_agg

    return rate_agg(
        _dh_buckets(spark, sf_dir), interval=DH_INTERVAL, unit=RATE_UNIT,
        round_dp=6,
    )


def q_cumulative_cardinality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES cumulative_cardinality: distinct users to date per day bucket,
    # computed exactly via the first-appearance identity
    from igd_spark import cumulative_cardinality_agg

    return cumulative_cardinality_agg(
        _docs_with_user(spark, sf_dir), _queries_df(spark), "ts", "usr",
        interval=DH_INTERVAL,
    )


def q_cumulative_cardinality_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import cumulative_cardinality_agg_indexed

    return cumulative_cardinality_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_user(spark, sf_dir),
        _queries_df(spark), "ts", "usr", interval=DH_INTERVAL,
    )


def q_exists_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES exists query in filter context: docs whose field is non-NULL
    from igd_spark import exists_bm25_topk

    return exists_bm25_topk(
        _docs_with_tool(spark, sf_dir), _queries_df(spark), VC_FIELD, k=K,
        round_dp=6,
    )


def q_exists_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import exists_bm25_topk_indexed

    return exists_bm25_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        _docs_with_tool(spark, sf_dir), VC_FIELD, k=K, round_dp=6,
    )


def q_ids_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES ids query in filter context: BM25 re-rank of an explicit shortlist
    from igd_spark import ids_bm25_topk

    return ids_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), list(IDS_SET), k=K,
        round_dp=6,
    )


def q_ids_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import ids_bm25_topk_indexed

    return ids_bm25_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark),
        list(IDS_SET), k=K, round_dp=6,
    )


def q_span_or_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene SpanOr inside SpanNear: anchor followed by ANY alternative
    from igd_spark import span_or_match

    return span_or_match(
        _docs(spark, sf_dir), _spanc_queries(spark), SPANOR_ALTS,
        span=SPANC_SPAN,
    )


def q_span_or_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import span_or_match_indexed

    return span_or_match_indexed(
        spark, _built_index(spark, sf_dir), _spanc_queries(spark),
        SPANOR_ALTS, span=SPANC_SPAN,
    )



PASSAGE_CHUNK = 16            # passage retrieval: token window size
PASSAGE_OVERLAP = 4           # ... and window overlap (step = 12)
HOLDOUT_FRAC = 0.05           # train/holdout split fraction
HOLDOUT_SEED = 11             # ... and hash seed


def q_passage_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max-passage doc ranking: best chunk per doc under chunk-level BM25
    from igd_spark import passage_bm25_topk

    return passage_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), k=K,
        chunk_tokens=PASSAGE_CHUNK, overlap=PASSAGE_OVERLAP, round_dp=6,
    )


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus bigram MLE perplexity: the word-order-aware gibberish score
    from igd_spark import bigram_perplexity

    return bigram_perplexity(_docs(spark, sf_dir), round_dp=6)


def q_train_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic hash train/holdout assignment (growth-stable)
    from igd_spark import train_holdout_split

    return train_holdout_split(
        _docs(spark, sf_dir), holdout_frac=HOLDOUT_FRAC, seed=HOLDOUT_SEED
    )



_PASSAGE_INDEX_CACHE: dict[str, object] = {}


def _built_passage_index(spark: SparkSession, sf_dir: str):
    """Persisted passage layout (chunk-level index + chunkmap), built once
    per sf_dir with the SAME chunking constants as the corpus entry so the
    gate enforces rank identity through one shared oracle."""
    from igd_spark import build_passage_index, open_passage_index

    if sf_dir not in _PASSAGE_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="igd_pidx_") + "/pidx"
        build_passage_index(
            spark, _docs(spark, sf_dir), path,
            chunk_tokens=PASSAGE_CHUNK, overlap=PASSAGE_OVERLAP,
        )
        _PASSAGE_INDEX_CACHE[sf_dir] = open_passage_index(spark, path)
    return _PASSAGE_INDEX_CACHE[sf_dir]


def q_passage_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted passage index: pruned chunk blocks + chunkmap join
    from igd_spark import passage_bm25_topk_indexed

    idx, cmap = _built_passage_index(spark, sf_dir)
    return passage_bm25_topk_indexed(
        spark, idx, cmap, _queries_df(spark), k=K, round_dp=6
    )



SPANM_PREFIX = "val"          # span_multi prefix clause (expands in-vocab)


def q_span_multi_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lucene SpanMultiTermQueryWrapper: anchor + prefix-expanded clause
    from igd_spark import span_multi_match

    return span_multi_match(
        _docs(spark, sf_dir), _spanc_queries(spark), SPANM_PREFIX,
        span=SPANC_SPAN,
    )


def q_span_multi_match_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import span_multi_match_indexed

    return span_multi_match_indexed(
        spark, _built_index(spark, sf_dir), _spanc_queries(spark),
        SPANM_PREFIX, span=SPANC_SPAN,
    )



def q_significant_terms_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # significant_terms with the chi_square heuristic (2x2 contingency,
    # over-represented terms only)
    from igd_spark import significant_terms

    return significant_terms(
        _docs(spark, sf_dir), _queries_df(spark), k=SIGTERMS_K,
        min_fg=SIGTERMS_MIN_FG, round_dp=6, heuristic="chi_square",
    )


def q_significant_terms_chisq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import significant_terms_indexed

    return significant_terms_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), k=SIGTERMS_K, min_fg=SIGTERMS_MIN_FG,
        round_dp=6, heuristic="chi_square",
    )



CATTEXT_K = 15                # categorize_text top-k templates


def q_categorize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES categorize_text surface as a deterministic log-template miner
    from igd_spark import categorize_text

    return categorize_text(_docs(spark, sf_dir), k=CATTEXT_K)



BCORR_IND = tuple(float(i % 7) for i in range(21))  # weekly-shape indicator
                                                    # (binds: every gate query
                                                    # has exactly 21 day buckets)


def q_extended_stats_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES extended_stats_bucket: extended-stats frame across the bucket list
    from igd_spark import extended_stats_bucket_agg

    return extended_stats_bucket_agg(_dh_buckets(spark, sf_dir), round_dp=6)


def q_bucket_correlation_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES bucket_correlation (Pearson core): series vs a known shape
    from igd_spark import bucket_correlation_agg

    return bucket_correlation_agg(
        _dh_buckets(spark, sf_dir), list(BCORR_IND), round_dp=6
    )


def q_variable_width_histogram_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES variable_width_histogram: largest-gaps value clustering per query
    from igd_spark import variable_width_histogram_agg

    return variable_width_histogram_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        buckets=VWH_BUCKETS, round_dp=6,
    )


def q_variable_width_histogram_agg_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from igd_spark import variable_width_histogram_agg_indexed

    return variable_width_histogram_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), STATS_VALUE_COL, buckets=VWH_BUCKETS, round_dp=6,
    )


def q_frequent_item_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES frequent_item_sets: Apriori term combos over each query's hits
    from igd_spark import frequent_item_sets_agg

    return frequent_item_sets_agg(
        _docs(spark, sf_dir), _queries_df(spark),
        min_support=FIS_MIN_SUPPORT, k=FIS_K,
        max_support_frac=FIS_MAX_SUPPORT_FRAC,
        min_support_frac=FIS_MIN_SUPPORT_FRAC,
    )


def q_frequent_item_sets_agg_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from igd_spark import frequent_item_sets_agg_indexed

    return frequent_item_sets_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), min_support=FIS_MIN_SUPPORT, k=FIS_K,
        max_support_frac=FIS_MAX_SUPPORT_FRAC,
        min_support_frac=FIS_MIN_SUPPORT_FRAC,
    )


def q_children_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES children agg: stats over ALL turns of conversations with a hit
    from igd_spark import children_agg

    return children_agg(
        _docs_with_conv(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        parent_col="conv_id", round_dp=6,
    )


def q_children_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import children_agg_indexed

    return children_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs_with_conv(spark, sf_dir),
        _queries_df(spark), STATS_VALUE_COL, parent_col="conv_id", round_dp=6,
    )


def q_parent_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES parent agg: distinct conversations spanned by the hits + a
    # conversation-level metric (parent frame = first turns, the
    # has_parent convention)
    from igd_spark import parent_agg

    docs = _docs_with_conv(spark, sf_dir)
    parent_docs = docs.filter(F.expr(f"doc_id % {TURNS_PER_CONV} = 0"))
    return parent_agg(
        docs, _queries_df(spark), parent_docs, STATS_VALUE_COL,
        parent_col="conv_id", round_dp=6,
    )


def q_parent_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import parent_agg_indexed

    docs = _docs_with_conv(spark, sf_dir)
    parent_docs = docs.filter(F.expr(f"doc_id % {TURNS_PER_CONV} = 0"))
    return parent_agg_indexed(
        spark, _built_index(spark, sf_dir), docs, _queries_df(spark),
        parent_docs, STATS_VALUE_COL, parent_col="conv_id", round_dp=6,
    )


def q_random_sampler_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ES random_sampler: deterministic-hash sample of the match set, scaled
    from igd_spark import random_sampler_agg

    return random_sampler_agg(
        _docs(spark, sf_dir), _queries_df(spark), STATS_VALUE_COL,
        probability=RSMP_P, seed=RSMP_SEED, round_dp=6,
    )


def q_random_sampler_agg_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import random_sampler_agg_indexed

    return random_sampler_agg_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), STATS_VALUE_COL,
        probability=RSMP_P, seed=RSMP_SEED, round_dp=6,
    )


def q_stemmed_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25 over the S-stemmed analyzer chain (Harman 1991)
    from igd_spark import stemmed_bm25_topk

    return stemmed_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), k=K, round_dp=6
    )


def q_prf_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RM3-style pseudo-relevance feedback: expand from the top hits, rescore
    from igd_spark import prf_bm25_topk

    return prf_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), k=K,
        fb_docs=PRF_FB_DOCS, fb_terms=PRF_FB_TERMS,
        orig_weight=PRF_ORIG_W, round_dp=6,
    )


def q_prf_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import prf_bm25_topk_indexed

    return prf_bm25_topk_indexed(
        spark, _built_index(spark, sf_dir), _docs(spark, sf_dir),
        _queries_df(spark), k=K, fb_docs=PRF_FB_DOCS,
        fb_terms=PRF_FB_TERMS, orig_weight=PRF_ORIG_W, round_dp=6,
    )


def q_proximity_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinDist proximity-boosted BM25 (Tao & Zhai 2007)
    from igd_spark import proximity_bm25_topk

    return proximity_bm25_topk(
        _docs(spark, sf_dir), _queries_df(spark), k=K,
        prox_weight=PROX_W, round_dp=6,
    )


_STEM_INDEX_CACHE: dict[str, object] = {}


def _built_stemmed_index(spark: SparkSession, sf_dir: str):
    """Index over the S-stemmed token stream — the analyzer applied at
    BUILD time (the Lucene way), so the persisted vocabulary is stemmed
    and queries stem at parse time.  The normalization seam is the text
    column itself (tokenizer.stem_text_col): stemmed tokens re-tokenize
    to themselves, so the standard build/search kernels run unchanged."""
    from igd_spark import IndexConf, build_index
    from igd_spark.tokenizer import stem_text_col

    if sf_dir not in _STEM_INDEX_CACHE:
        path = tempfile.mkdtemp(prefix="igd_sidx_") + "/idx"
        conf = IndexConf(block_size=64, n_shards=16, salt_df_threshold=1024,
                         max_salts=8)
        sd = _docs(spark, sf_dir).withColumn("text", stem_text_col("text"))
        _STEM_INDEX_CACHE[sf_dir] = build_index(spark, sd, path, conf=conf)
    return _STEM_INDEX_CACHE[sf_dir]


def q_stemmed_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the stemmed analyzer applied at BUILD time; rank-identical to the
    # corpus-scan stemmed path, hence the same oracle
    from igd_spark import search as _search_mod
    from igd_spark.tokenizer import stem_text_col

    idx = _built_stemmed_index(spark, sf_dir)
    sq = _queries_df(spark).select(
        "query_id", stem_text_col("query_text").alias("query_text")
    )
    out = _search_mod(spark, idx, sq, k=K + 15)
    return _rank_rounded(out.select("query_id", "doc_id", "score"), K)


def q_proximity_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from igd_spark import proximity_bm25_topk_indexed

    return proximity_bm25_topk_indexed(
        spark, _built_index(spark, sf_dir), _queries_df(spark), k=K,
        prox_weight=PROX_W, round_dp=6,
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR (Xie et al. 2023): hashed-ngram importance weights vs a target domain
    from igd_spark import dsir_weights

    return dsir_weights(
        _docs(spark, sf_dir), DSIR_TARGET, n_buckets=DSIR_BUCKETS,
        alpha=DSIR_ALPHA, round_dp=6,
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR selection: deterministic top-n by importance weight
    from igd_spark import dsir_select

    return dsir_select(
        _docs(spark, sf_dir), DSIR_TARGET, DSIR_SELECT_N,
        n_buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA, round_dp=6,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ORDER IS THE DRIVER'S VERIFICATION ROTATION: the gate checks the
        # FIRST 50 entries per round, so entries lead in driver-staleness
        # order (never-driver-verified first, then least-recently green).
        # Re-rotate each round from CORRECTNESS_r{N}.json (VERDICT r4 #1).
        "terms_enum": q_terms_enum,
        "terms_enum_indexed": q_terms_enum_indexed,
        "field_caps": q_field_caps,
        "validate_query": q_validate_query,
        "bm25_topk_reindexed": q_bm25_topk_reindexed,
        "bm25_plus_topk": q_bm25_plus_topk,
        "bm25_plus_topk_indexed": q_bm25_plus_topk_indexed,
        "bm25_l_topk": q_bm25_l_topk,
        "bm25_l_topk_indexed": q_bm25_l_topk_indexed,
        "axiomatic_f2exp_topk": q_axiomatic_f2exp_topk,
        "axiomatic_f2exp_topk_indexed": q_axiomatic_f2exp_topk_indexed,
        "axiomatic_f2log_topk": q_axiomatic_f2log_topk,
        "axiomatic_f2log_topk_indexed": q_axiomatic_f2log_topk_indexed,
        "dfi_topk": q_dfi_topk,
        "dfi_topk_indexed": q_dfi_topk_indexed,
        "dfr_pl2_topk": q_dfr_pl2_topk,
        "dfr_pl2_topk_indexed": q_dfr_pl2_topk_indexed,
        "ib_ll_topk": q_ib_ll_topk,
        "ib_ll_topk_indexed": q_ib_ll_topk_indexed,
        "change_point_agg": q_change_point_agg,
        "change_point_agg_indexed": q_change_point_agg_indexed,
        "variable_width_histogram_agg": q_variable_width_histogram_agg,
        "variable_width_histogram_agg_indexed": q_variable_width_histogram_agg_indexed,
        "frequent_item_sets_agg": q_frequent_item_sets_agg,
        "frequent_item_sets_agg_indexed": q_frequent_item_sets_agg_indexed,
        "dsir_weights": q_dsir_weights,
        "dsir_select": q_dsir_select,
        "children_agg": q_children_agg,
        "children_agg_indexed": q_children_agg_indexed,
        "parent_agg": q_parent_agg,
        "parent_agg_indexed": q_parent_agg_indexed,
        "stemmed_bm25_topk": q_stemmed_bm25_topk,
        "stemmed_bm25_topk_indexed": q_stemmed_bm25_topk_indexed,
        "prf_bm25_topk": q_prf_bm25_topk,
        "prf_bm25_topk_indexed": q_prf_bm25_topk_indexed,
        "proximity_bm25_topk": q_proximity_bm25_topk,
        "proximity_bm25_topk_indexed": q_proximity_bm25_topk_indexed,
        "random_sampler_agg": q_random_sampler_agg,
        "random_sampler_agg_indexed": q_random_sampler_agg_indexed,
        "phrase_suggest": q_phrase_suggest,
        "duplicate_spans": q_duplicate_spans,
        "duplicate_span_stats": q_duplicate_span_stats,
        "remove_duplicate_text": q_remove_duplicate_text,
        "event_transitions": q_event_transitions,
        "funnel_counts": q_funnel_counts,
        "retention_cohorts": q_retention_cohorts,
        "passage_bm25_topk": q_passage_bm25_topk,
        "passage_bm25_topk_indexed": q_passage_bm25_topk_indexed,
        "bigram_perplexity": q_bigram_perplexity,
        "train_holdout_split": q_train_holdout_split,
        "categorize_text": q_categorize_text,
        "value_count_agg": q_value_count_agg,
        "value_count_agg_indexed": q_value_count_agg_indexed,
        "global_agg": q_global_agg,
        "date_range_agg": q_date_range_agg,
        "date_range_agg_indexed": q_date_range_agg_indexed,
        "stats_bucket_agg": q_stats_bucket_agg,
        "percentiles_bucket_agg": q_percentiles_bucket_agg,
        "moving_percentiles_agg": q_moving_percentiles_agg,
        "rate_agg": q_rate_agg,
        "extended_stats_bucket_agg": q_extended_stats_bucket_agg,
        "bucket_correlation_agg": q_bucket_correlation_agg,
        "cumulative_cardinality_agg": q_cumulative_cardinality_agg,
        "cumulative_cardinality_agg_indexed": q_cumulative_cardinality_agg_indexed,
        "exists_bm25_topk": q_exists_bm25_topk,
        "exists_bm25_topk_indexed": q_exists_bm25_topk_indexed,
        "ids_bm25_topk": q_ids_bm25_topk,
        "ids_bm25_topk_indexed": q_ids_bm25_topk_indexed,
        "span_or_match": q_span_or_match,
        "span_multi_match": q_span_multi_match,
        "span_multi_match_indexed": q_span_multi_match_indexed,
        "significant_terms_chisq": q_significant_terms_chisq,
        "significant_terms_chisq_indexed": q_significant_terms_chisq_indexed,
        "span_or_match_indexed": q_span_or_match_indexed,
        "hybrid_linear": q_hybrid_linear,
        "embedding_l2_topk": q_embedding_l2_topk,
        "embedding_mip_topk": q_embedding_mip_topk,
        "t_test_agg": q_t_test_agg,
        "t_test_agg_indexed": q_t_test_agg_indexed,
        "bucket_script_agg": q_bucket_script_agg,
        "normalize_agg": q_normalize_agg,
        "significant_text_agg": q_significant_text_agg,
        "significant_text_agg_indexed": q_significant_text_agg_indexed,
        "constant_score": q_constant_score,
        "constant_score_indexed": q_constant_score_indexed,
        "match_bool_prefix": q_match_bool_prefix,
        "match_bool_prefix_indexed": q_match_bool_prefix_indexed,
        "resample_to_mix": q_resample_to_mix,
        "span_containing": q_span_containing,
        "span_containing_indexed": q_span_containing_indexed,
        "span_within": q_span_within,
        "span_within_indexed": q_span_within_indexed,
        "bm25_topk_updated": q_bm25_topk_updated,
        "bm25_topk_updated_compacted": q_bm25_topk_updated_compacted,
        "rank_eval": q_rank_eval,
        "analyze": q_analyze,
        "span_first_match": q_span_first_match,
        "span_first_match_indexed": q_span_first_match_indexed,
        "bm25_topk_deleted": q_bm25_topk_deleted,
        "bm25_topk_expunged": q_bm25_topk_expunged,
        "stats_agg_indexed": q_stats_agg_indexed,
        "histogram_agg_indexed": q_histogram_agg_indexed,
        "cardinality_agg_indexed": q_cardinality_agg_indexed,
        "significant_terms_indexed": q_significant_terms_indexed,
        "top_hits_agg_indexed": q_top_hits_agg_indexed,
        "regexp_bm25_topk": q_regexp_bm25_topk,
        "regexp_bm25_topk_indexed": q_regexp_bm25_topk_indexed,
        "term_vectors": q_term_vectors,
        "function_score_decay": q_function_score_decay,
        "multi_field_bm25_topk": q_multi_field_bm25_topk,
        "multi_field_bm25_topk_indexed": q_multi_field_bm25_topk_indexed,
        "index_stats": q_index_stats,
        "source_hits": q_source_hits,
        "source_hits_mintf": q_source_hits_mintf,
        "keywords_topk": q_keywords_topk,
        "term_cooccurrence_capped": q_term_cooccurrence_capped,
        "explain_scores_indexed": q_explain_scores_indexed,
        "wildcard_bm25_topk_kgram": q_wildcard_bm25_topk_kgram,
        "string_stats_agg": q_string_stats_agg,
        "string_stats_agg_indexed": q_string_stats_agg_indexed,
        "embedding_ivf_ann_quantized": q_embedding_ivf_ann_quantized,
        "simple_query_string": q_simple_query_string,
        "simple_query_string_indexed": q_simple_query_string_indexed,
        "scripted_metric_agg": q_scripted_metric_agg,
        "scripted_metric_agg_indexed": q_scripted_metric_agg_indexed,
        "extended_stats_agg": q_extended_stats_agg,
        "extended_stats_agg_indexed": q_extended_stats_agg_indexed,
        "boxplot_agg": q_boxplot_agg,
        "boxplot_agg_indexed": q_boxplot_agg_indexed,
        "median_absolute_deviation_agg": q_mad_agg,
        "median_absolute_deviation_agg_indexed": q_mad_agg_indexed,
        "matrix_stats_agg": q_matrix_stats_agg,
        "matrix_stats_agg_indexed": q_matrix_stats_agg_indexed,
        "top_metrics_agg": q_top_metrics_agg,
        "top_metrics_agg_indexed": q_top_metrics_agg_indexed,
        "bm25_topk_resharded": q_bm25_topk_resharded,
        "bm25_topk_federated": q_bm25_topk_federated,
        "embedding_ivf_ann_appended": q_embedding_ivf_ann_appended,
        "percolate_compiled": q_percolate_compiled,
        "derivative_agg": q_derivative_agg,
        "derivative_agg_indexed": q_derivative_agg_indexed,
        "cumulative_sum_agg": q_cumulative_sum_agg,
        "moving_fn_agg": q_moving_fn_agg,
        "serial_diff_agg": q_serial_diff_agg,
        "bucket_selector_agg": q_bucket_selector_agg,
        "bucket_sort_agg": q_bucket_sort_agg,
        "unigram_perplexity": q_unigram_perplexity,
        "bm25_topk_rollover": q_bm25_topk_rollover,
        "tfidf_topk": q_tfidf_topk,
        "tfidf_topk_indexed": q_tfidf_topk_indexed,
        "lm_jm_topk": q_lm_jm_topk,
        "lm_jm_topk_indexed": q_lm_jm_topk_indexed,
        "rare_terms_agg": q_rare_terms_agg,
        "rare_terms_agg_indexed": q_rare_terms_agg_indexed,
        "multi_terms_agg": q_multi_terms_agg,
        "multi_terms_agg_indexed": q_multi_terms_agg_indexed,
        "weighted_avg_agg": q_weighted_avg_agg,
        "weighted_avg_agg_indexed": q_weighted_avg_agg_indexed,
        "has_child": q_has_child,
        "has_child_indexed": q_has_child_indexed,
        "has_parent": q_has_parent,
        "has_parent_indexed": q_has_parent_indexed,
        "match_phrase_prefix": q_match_phrase_prefix,
        "auto_date_histogram_agg": q_auto_date_histogram_agg,
        "auto_date_histogram_agg_indexed": q_auto_date_histogram_agg_indexed,
        "span_not_match": q_span_not_match,
        "span_not_match_indexed": q_span_not_match_indexed,
        "sampler_terms_agg": q_sampler_terms_agg,
        "sampler_terms_agg_diversified": q_sampler_terms_agg_diversified,
        "sampler_terms_agg_indexed": q_sampler_terms_agg_indexed,
        "percentile_ranks_agg": q_percentile_ranks_agg,
        "percentile_ranks_agg_indexed": q_percentile_ranks_agg_indexed,
        "embedding_cosine_minsim": q_embedding_cosine_minsim,
        "random_score": q_random_score,
        "random_score_indexed": q_random_score_indexed,
        "context_turns": q_context_turns,
        "context_turns_indexed": q_context_turns_indexed,
        "boosting_bm25_topk": q_boosting_bm25_topk,
        "boosting_bm25_topk_indexed": q_boosting_bm25_topk_indexed,
        "range_agg": q_range_agg,
        "range_agg_indexed": q_range_agg_indexed,
        "adjacency_matrix_agg": q_adjacency_matrix_agg,
        "adjacency_matrix_agg_indexed": q_adjacency_matrix_agg_indexed,
        "missing_agg": q_missing_agg,
        "missing_agg_indexed": q_missing_agg_indexed,
        "combined_fields_bm25_topk": q_combined_fields_bm25_topk,
        "combined_fields_bm25_topk_indexed": q_combined_fields_bm25_topk_indexed,
        "pinned_bm25_topk": q_pinned_bm25_topk,
        "pinned_bm25_topk_indexed": q_pinned_bm25_topk_indexed,
        "match_phrase_prefix_indexed": q_match_phrase_prefix_indexed,
        "distance_feature": q_distance_feature,
        "distance_feature_indexed": q_distance_feature_indexed,
        "terms_set": q_terms_set,
        "terms_set_indexed": q_terms_set_indexed,
        "rank_feature": q_rank_feature,
        "rank_feature_indexed": q_rank_feature_indexed,
        "intervals": q_intervals,
        "intervals_indexed": q_intervals_indexed,
        "composite_agg": q_composite_agg,
        "composite_agg_after": q_composite_agg_after,
        "composite_agg_indexed": q_composite_agg_indexed,
        "filters_agg": q_filters_agg,
        "filters_agg_indexed": q_filters_agg_indexed,
        "script_score": q_script_score,
        "script_score_indexed": q_script_score_indexed,
        "chunk_documents": q_chunk_documents,
        "embedding_lsh_ann_indexed": q_embedding_lsh_ann_indexed,
        "embedding_ivf_ann_indexed": q_embedding_ivf_ann_indexed,
        "embedding_cosine_filtered": q_embedding_cosine_filtered,
        "embedding_ivf_filtered_indexed": q_embedding_ivf_filtered_indexed,
        "msm_bm25_topk": q_msm_bm25_topk,
        "msm_bm25_topk_indexed": q_msm_bm25_topk_indexed,
        "collapse_topk": q_collapse_topk,
        "collapse_topk_indexed": q_collapse_topk_indexed,
        "dismax_bm25_topk": q_dismax_bm25_topk,
        "dismax_bm25_topk_indexed": q_dismax_bm25_topk_indexed,
        "highlight": q_highlight,
        "highlight_indexed": q_highlight_indexed,
        "complete_terms": q_complete_terms,
        "complete_terms_indexed": q_complete_terms_indexed,
        "did_you_mean": q_did_you_mean,
        "redact_pii": q_redact_pii,
        "match_count": q_match_count,
        "match_count_indexed": q_match_count_indexed,
        "sort_topk": q_sort_topk,
        "sort_topk_indexed": q_sort_topk_indexed,
        "percentiles_agg": q_percentiles_agg,
        "percentiles_agg_indexed": q_percentiles_agg_indexed,
        "date_histogram_agg": q_date_histogram_agg,
        "date_histogram_agg_indexed": q_date_histogram_agg_indexed,
        "match_enumerate": q_match_enumerate,
        "term_cooccurrence": q_term_cooccurrence,
        "term_cooccurrence_mintf": q_term_cooccurrence_mintf,
        "source_overlap": q_source_overlap,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "minhash_signatures": q_minhash_signatures,
        "simhash_sketch": q_simhash_sketch,
        "fingerprint": q_fingerprint,
        "text_stats": q_text_stats,
        "lang_id": q_lang_id,
        "embedding_cosine_topk": q_embedding_cosine_topk,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_banded": q_embedding_neardup_banded,
        "embedding_lsh_ann": q_embedding_lsh_ann,
        "embedding_ivf_ann": q_embedding_ivf_ann,
        "embedding_ivf_ann_nprobe": q_embedding_ivf_ann_nprobe,
        "corpus_curate": q_corpus_curate,
        "events_sessionize": q_events_sessionize,
        "phrase_match": q_phrase_match,
        "phrase_match_indexed": q_phrase_match_indexed,
        "token_counts": q_token_counts,
        "seqpare_pairs": q_seqpare_pairs,
        "seqpare_scores": q_seqpare_scores,
        "media_frame_sample": q_media_frame_sample,
        "media_stats": q_media_stats,
        "media_features": q_media_features,
        "dedup_clusters": q_dedup_clusters,
        "boilerplate_clean": q_boilerplate_clean,
        "repetition_stats": q_repetition_stats,
        "sample_stratified": q_sample_stratified,
        "pack_sequences": q_pack_sequences,
        "postings": q_postings,
        "doc_stats": q_doc_stats,
        "corpus_stats": q_corpus_stats,
        "term_stats": q_term_stats,
        "bm25_topk": q_bm25_topk,
        "bm25_topk_mintf": q_bm25_topk_mintf,
        "bm25_topk_indexed": q_bm25_topk_indexed,
        "bool_bm25_topk": q_bool_bm25_topk,
        "filtered_bm25_topk": q_filtered_bm25_topk,
        "prefix_bm25_topk": q_prefix_bm25_topk,
        "group_bm25_topk": q_group_bm25_topk,
        "snippets": q_snippets,
        "bool_bm25_topk_indexed": q_bool_bm25_topk_indexed,
        "filtered_bm25_topk_indexed": q_filtered_bm25_topk_indexed,
        "prefix_bm25_topk_indexed": q_prefix_bm25_topk_indexed,
        "group_bm25_topk_indexed": q_group_bm25_topk_indexed,
        "snippets_indexed": q_snippets_indexed,
        "near_match": q_near_match,
        "near_match_indexed": q_near_match_indexed,
        "decontaminate": q_decontaminate,
        "boosted_bm25_topk": q_boosted_bm25_topk,
        "more_like_this": q_more_like_this,
        "fuzzy_bm25_topk": q_fuzzy_bm25_topk,
        "fuzzy_bm25_topk_indexed": q_fuzzy_bm25_topk_indexed,
        "wildcard_bm25_topk": q_wildcard_bm25_topk,
        "wildcard_bm25_topk_indexed": q_wildcard_bm25_topk_indexed,
        "synonym_bm25_topk": q_synonym_bm25_topk,
        "synonym_bm25_topk_indexed": q_synonym_bm25_topk_indexed,
        "lm_dirichlet_topk": q_lm_dirichlet_topk,
        "lm_dirichlet_topk_indexed": q_lm_dirichlet_topk_indexed,
        "suggest_terms": q_suggest_terms,
        "parsed_bm25_topk": q_parsed_bm25_topk,
        "parsed_bm25_topk_indexed": q_parsed_bm25_topk_indexed,
        "percolate": q_percolate,
        "explain_scores": q_explain_scores,
        "bm25_topk_stopwords": q_bm25_topk_stopwords,
        "hybrid_rrf": q_hybrid_rrf,
        "boosted_bm25_topk_indexed": q_boosted_bm25_topk_indexed,
        "facet_counts_indexed": q_facet_counts_indexed,
        "facet_counts": q_facet_counts,
        "stats_agg": q_stats_agg,
        "histogram_agg": q_histogram_agg,
        "cardinality_agg": q_cardinality_agg,
        "significant_terms": q_significant_terms,
        "top_hits_agg": q_top_hits_agg,
        "search_after": q_search_after,
        "search_after_indexed": q_search_after_indexed,
        "rescore_topk": q_rescore_topk,
        "rescore_topk_indexed": q_rescore_topk_indexed,
        "more_like_this_indexed": q_more_like_this_indexed,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL — shared CTE fragments
# ---------------------------------------------------------------------------

_TL = (
    "tldocs AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
    "'[^a-z0-9]+'), x -> x <> '') AS tl FROM documents)"
)
_TOKS = "toks AS (SELECT doc_id, unnest(tl) AS term FROM tldocs)"
_POST = "post AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2)"
_DL = "dl AS (SELECT doc_id, len(tl)::INT AS dl FROM tldocs)"
_CS = "cs AS (SELECT count(*)::BIGINT AS n_docs, (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl)"
_TS = "ts AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1)"

_QVALUES = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in QUERY_SET)
_QT = (
    f"q(query_id, query_text) AS (VALUES {_QVALUES}), "
    "qterms AS (SELECT DISTINCT query_id, unnest(list_filter("
    "regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS term FROM q)"
)

_SHINGLES = (
    "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
    f"generate_series(1, greatest(len(tl) - {SHINGLE_N - 1}, 0)), "
    f"i -> array_to_string(tl[i:i+{SHINGLE_N - 1}], ' ')))) AS shingle FROM tldocs)"
)

_H60 = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def _bm25_sql(min_tf: int = 0, tl: str = _TL) -> str:
    """Shared BM25 oracle body; ``tl`` overrides the token-list CTE (the
    stopwords entry swaps in an analyzer-filtered one)."""
    tf_filter = f" AND p.tf >= {min_tf}" if min_tf > 0 else ""
    return f"""
WITH {tl}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id,
         sum( ln((cs.n_docs - ts.df + 0.5) / (ts.df + 0.5) + 1.0)
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cs.avgdl)) ) AS s
  FROM qterms qt
  JOIN ts USING (term)
  JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id
  CROSS JOIN cs
  WHERE 1=1{tf_filter}
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""


_MINHASH_SQL_CORE = f"""
{_TL}, {_SHINGLES},
seeds AS (SELECT seed::INT AS seed FROM range({N_HASHES}) t(seed)),
sigs AS (
  SELECT doc_id, seed,
         min({_H60.format(expr="(seed::VARCHAR || '|' || shingle)")}) AS mh
  FROM sh CROSS JOIN seeds GROUP BY 1, 2)
"""

# MinHash-LSH candidate→estimate chain (shared by dedup_minhash_lsh and
# the connected-components closure in dedup_clusters)
_MINHASH_PAIRS_CTES = f"""
bands AS (
  SELECT doc_id, (seed // {BAND_ROWS})::INT AS band_id,
         string_agg(mh::VARCHAR, ',' ORDER BY seed) AS band_sig
  FROM sigs GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
est AS (
  SELECT c.doc_a, c.doc_b,
         round(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS est_jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
  GROUP BY 1, 2)
"""

_SIMHASH_SQL_CORE = f"""
{_TL}, {_TOKS}, {_POST},
hashed AS (SELECT doc_id, tf, {_H60.format(expr='term')} AS h FROM post),
bits AS (
  SELECT doc_id, j, sum(tf * (2 * ((h >> j) & 1) - 1)) AS s
  FROM hashed CROSS JOIN (SELECT j::INT AS j FROM range({SIMHASH_BITS}) t(j))
  GROUP BY 1, 2),
sketch AS (
  SELECT doc_id,
         sum(CASE WHEN s >= 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY 1)
"""

_EMB_COS = (
    "round(list_dot_product(qv, ev) / (sqrt(list_dot_product(qv, qv)) "
    "* sqrt(list_dot_product(ev, ev))), 6)"
)


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["postings"] = f"WITH {_TL}, {_TOKS}, {_POST} SELECT doc_id, term, tf FROM post"

    sql["doc_stats"] = f"WITH {_TL}, {_DL} SELECT doc_id, dl FROM dl"

    sql["corpus_stats"] = (
        f"WITH {_TL}, {_DL}, {_CS} SELECT n_docs, round(avgdl, 6) AS avgdl FROM cs"
    )

    sql["term_stats"] = f"WITH {_TL}, {_TOKS}, {_POST}, {_TS} SELECT term, df FROM ts"

    sql["bm25_topk"] = _bm25_sql()
    # reindex: SUBSET statistics — every CTE derives from the filtered
    # token lists, so df/N/avgdl are the selection's own
    sql["bm25_topk_reindexed"] = _bm25_sql(tl=(
        "tldocs AS (SELECT doc_id, list_filter(regexp_split_to_array("
        "lower(text), '[^a-z0-9]+'), x -> x <> '') AS tl FROM documents "
        "WHERE lang = 'en')"
    ))
    sql["bm25_topk_mintf"] = _bm25_sql(min_tf=MIN_TF)
    sql["bm25_topk_indexed"] = _bm25_sql()  # must equal the index-free path
    # reshard (16 → 5 shards) must be invisible to ranking
    sql["bm25_topk_resharded"] = _bm25_sql()
    # federation over two half-corpus indexes with global (dfs) stats must
    # be invisible to ranking too
    sql["bm25_topk_federated"] = _bm25_sql()
    # ...and so must the whole rollover lifecycle (empty generation, alias
    # swap, append-through-alias, federated read over generations)
    sql["bm25_topk_rollover"] = _bm25_sql()

    sql["match_enumerate"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT}
SELECT qt.query_id, p.term, p.doc_id, p.tf
FROM qterms qt JOIN post p USING (term)
"""

    sql["term_cooccurrence"] = f"""
WITH {_TL}, {_TOKS}, {_POST},
keep AS (SELECT term FROM post GROUP BY term HAVING count(*) >= {COOC_MIN_DF}),
p2 AS (SELECT doc_id, term FROM post WHERE term IN (SELECT term FROM keep))
SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS n_docs
FROM p2 a JOIN p2 b ON a.doc_id = b.doc_id AND a.term < b.term
GROUP BY 1, 2
"""

    sql["term_cooccurrence_capped"] = f"""
WITH {_TL}, {_TOKS}, {_POST},
capped AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS r
    FROM post) t
  WHERE r <= {COOC_MAX_DOC_TERMS}),
keep AS (SELECT term FROM capped GROUP BY term HAVING count(*) >= {COOC_CAP_MIN_DF}),
p2 AS (SELECT doc_id, term FROM capped WHERE term IN (SELECT term FROM keep))
SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS n_docs
FROM p2 a JOIN p2 b ON a.doc_id = b.doc_id AND a.term < b.term
GROUP BY 1, 2
"""

    sql["keywords_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST},
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
sc AS (SELECT p.doc_id, p.term,
              round(p.tf * ln(nd.n_docs::DOUBLE / dfs.df), 6) AS tfidf
       FROM post p JOIN dfs USING (term) CROSS JOIN nd),
r AS (SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term ASC)::INT AS rank
      FROM sc)
SELECT doc_id, rank, term, tfidf FROM r WHERE rank <= {KEYWORDS_K}
"""

    sql["source_hits"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT},
src AS (SELECT doc_id, source FROM documents),
nr AS (SELECT source, count(*)::BIGINT AS nr FROM src GROUP BY 1),
h AS (SELECT qt.query_id, s.source, count(*)::BIGINT AS hits
      FROM qterms qt JOIN post p USING (term) JOIN src s ON p.doc_id = s.doc_id
      GROUP BY 1, 2),
qids AS (SELECT DISTINCT query_id FROM q)
SELECT qids.query_id, nr.source, nr.nr, coalesce(h.hits, 0)::BIGINT AS hits
FROM qids CROSS JOIN nr
LEFT JOIN h ON h.query_id = qids.query_id AND h.source = nr.source
"""

    sql["source_hits_mintf"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT},
src AS (SELECT doc_id, source FROM documents),
nr AS (SELECT source, count(*)::BIGINT AS nr FROM src GROUP BY 1),
h AS (SELECT qt.query_id, s.source, count(*)::BIGINT AS hits
      FROM qterms qt JOIN post p USING (term) JOIN src s ON p.doc_id = s.doc_id
      WHERE p.tf >= {MIN_TF}
      GROUP BY 1, 2),
qids AS (SELECT DISTINCT query_id FROM q)
SELECT qids.query_id, nr.source, nr.nr, coalesce(h.hits, 0)::BIGINT AS hits
FROM qids CROSS JOIN nr
LEFT JOIN h ON h.query_id = qids.query_id AND h.source = nr.source
"""

    sql["source_overlap"] = f"""
WITH {_TL}, {_SHINGLES},
ssrc AS (SELECT DISTINCT d.source AS src, sh.shingle
         FROM sh JOIN documents d USING (doc_id))
SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS n_shared
FROM ssrc a JOIN ssrc b ON a.shingle = b.shingle AND a.src < b.src
GROUP BY 1, 2
"""

    sql["term_cooccurrence_mintf"] = f"""
WITH {_TL}, {_TOKS}, {_POST},
pv AS (SELECT doc_id, term FROM post WHERE tf >= {COOC_MIN_TF}),
keep AS (SELECT term FROM pv GROUP BY term HAVING count(*) >= {COOC_MINTF_MIN_DF}),
p2 AS (SELECT doc_id, term FROM pv WHERE term IN (SELECT term FROM keep))
SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS n_docs
FROM p2 a JOIN p2 b ON a.doc_id = b.doc_id AND a.term < b.term
GROUP BY 1, 2
"""

    sql["dedup_exact"] = """
WITH h AS (SELECT doc_id, md5(coalesce(text, '')) AS chash FROM documents)
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY chash) AS canonical_id,
       count(*) OVER (PARTITION BY chash)::BIGINT AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY chash) AS is_canonical
FROM h
"""

    # exact-substring duplicate spans: fixed-L token windows anchor the
    # suffix-array semantics (Lee et al. 2022); rn=1 <=> min (doc_id, p) is
    # the canonical occurrence (same rule as the Spark min(struct))
    _L = DUP_SPAN_LEN
    _DUPW = f"""wins AS (
  SELECT doc_id, i::INT AS p, md5(array_to_string(tl[i:i+{_L}-1], ' ')) AS gh
  FROM tldocs, unnest(range(1, len(tl) - {_L} + 2)) t(i)
  WHERE len(tl) >= {_L}),
occ2 AS (SELECT doc_id, p, count(*) OVER (PARTITION BY gh) AS mult,
                row_number() OVER (PARTITION BY gh ORDER BY doc_id, p) AS rn
         FROM wins)"""
    _DUPSPANS = f"""isl AS (SELECT doc_id, p,
  CASE WHEN p > coalesce(max(p + {_L} - 1) OVER (PARTITION BY doc_id ORDER BY p
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       THEN 1 ELSE 0 END AS ni FROM cov),
grp AS (SELECT doc_id, p, sum(ni) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM isl),
spans AS (SELECT doc_id, min(p)::INT AS span_start, (max(p) + {_L} - 1)::INT AS span_end
          FROM grp GROUP BY doc_id, island)"""

    sql["duplicate_spans"] = f"""
WITH {_TL}, {_DUPW},
cov AS (SELECT doc_id, p FROM occ2 WHERE mult >= 2), {_DUPSPANS}
SELECT doc_id, span_start, span_end,
       (span_end - span_start + 1)::INT AS span_len
FROM spans
"""

    sql["duplicate_span_stats"] = f"""
WITH {_TL}, {_DUPW},
cov AS (SELECT doc_id, p FROM occ2 WHERE mult >= 2), {_DUPSPANS},
per AS (SELECT doc_id, sum(span_end - span_start + 1)::INT AS dup_tokens,
               count(*)::INT AS n_spans FROM spans GROUP BY 1)
SELECT t.doc_id, len(t.tl)::INT AS n_tokens,
       coalesce(p.dup_tokens, 0)::INT AS dup_tokens,
       coalesce(p.n_spans, 0)::INT AS n_spans,
       CASE WHEN len(t.tl) > 0
            THEN round(coalesce(p.dup_tokens, 0)::DOUBLE / len(t.tl), 6)
            ELSE 0.0 END AS dup_ratio
FROM tldocs t LEFT JOIN per p USING (doc_id)
"""

    sql["remove_duplicate_text"] = f"""
WITH {_TL}, {_DUPW},
rem AS (SELECT doc_id, p FROM occ2 WHERE mult >= 2 AND rn > 1),
rempos AS (SELECT DISTINCT doc_id, p + u AS i FROM rem, unnest(range(0, {_L})) t(u)),
tokpos AS (SELECT doc_id, unnest(tl) AS term, generate_subscripts(tl, 1) AS i FROM tldocs),
kept AS (SELECT tp.doc_id, tp.term, tp.i FROM tokpos tp
         LEFT JOIN rempos r ON tp.doc_id = r.doc_id AND tp.i = r.i
         WHERE r.doc_id IS NULL),
agg AS (SELECT doc_id, string_agg(term, ' ' ORDER BY i) AS clean_text,
               count(*) AS n_kept FROM kept GROUP BY 1)
SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
       (len(t.tl) - coalesce(a.n_kept, 0))::INT AS n_removed
FROM tldocs t LEFT JOIN agg a USING (doc_id)
"""

    sql["dedup_ngram_jaccard"] = f"""
WITH {_TL}, {_SHINGLES},
keep AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= {MAX_SHINGLE_DF}),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
j AS (
  SELECT doc_a, doc_b,
         round(inter::DOUBLE / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= {JACCARD_TH}
"""

    sql["dedup_minhash_lsh"] = f"""
WITH {_MINHASH_SQL_CORE}, {_MINHASH_PAIRS_CTES}
SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= {EST_JACCARD_TH}
"""

    # transitive closure over the SAME pair graph: component = min reachable
    # doc id (mirrors igd_spark.dedup.connected_components' fixpoint)
    sql["dedup_clusters"] = f"""
WITH RECURSIVE {_MINHASH_SQL_CORE}, {_MINHASH_PAIRS_CTES},
np AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= {EST_JACCARD_TH}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM np
          UNION SELECT doc_b, doc_a FROM np),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component_id
         FROM reach GROUP BY src),
allc AS (
  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c USING (doc_id))
SELECT doc_id, component_id,
       count(*) OVER (PARTITION BY component_id)::BIGINT AS cluster_size,
       doc_id = min(doc_id) OVER (PARTITION BY component_id) AS is_survivor
FROM allc
"""

    slice_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << slice_bits) - 1
    sql["dedup_simhash"] = f"""
WITH {_SIMHASH_SQL_CORE},
bands AS (
  SELECT doc_id, simhash, band_id::INT AS band_id,
         (simhash >> (band_id * {slice_bits})) & {mask} AS band_val
  FROM sketch CROSS JOIN (SELECT band_id::INT AS band_id FROM range({SIMHASH_BANDS}) t(band_id))),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash))::INT AS hamming
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {MAX_HAMMING}
"""

    sql["minhash_signatures"] = f"WITH {_MINHASH_SQL_CORE} SELECT doc_id, seed, mh FROM sigs"

    sql["simhash_sketch"] = f"WITH {_SIMHASH_SQL_CORE} SELECT doc_id, simhash FROM sketch"

    sql["fingerprint"] = f"""
WITH {_TL}
SELECT doc_id,
       list_sum(list_transform(generate_series(1, len(tl)),
                i -> ({_H60.format(expr='tl[i]')} % {1 << 20}) * i))::BIGINT AS fp
FROM tldocs WHERE len(tl) > 0
"""

    stop_list = ", ".join(f"'{s}'" for s in ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it"))
    sql["text_stats"] = f"""
WITH {_TL},
base AS (
  SELECT d.doc_id, length(coalesce(doc.text, '')) AS n_chars, len(d.tl) AS n_tokens,
         coalesce(list_sum(list_transform(d.tl, x -> length(x))), 0) AS tok_chars,
         len(list_filter(d.tl, x -> list_contains([{stop_list}], x))) AS n_stop,
         length(regexp_replace(lower(coalesce(doc.text, '')), '[^a-z0-9 ]', '', 'g')) AS n_clean
  FROM tldocs d JOIN documents doc USING (doc_id)),
r AS (
  SELECT doc_id, n_chars, n_tokens,
         CASE WHEN n_tokens > 0 THEN tok_chars::DOUBLE / n_tokens ELSE 0.0 END AS avg_token_len,
         CASE WHEN n_chars > 0 THEN n_clean::DOUBLE / n_chars ELSE 0.0 END AS alnum_ratio,
         CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END AS stop_ratio
  FROM base)
SELECT doc_id, n_chars::INT AS n_chars, n_tokens::INT AS n_tokens,
       round(avg_token_len, 6) AS avg_token_len,
       round(alnum_ratio, 6) AS alnum_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round(0.4 * least(n_tokens / 100.0, 1.0) + 0.4 * alnum_ratio
             + 0.2 * least(stop_ratio * 5.0, 1.0), 6) AS quality
FROM r
"""

    from igd_spark.textstats import LANG_MARKERS

    lang_rows = ", ".join(
        "('{}', [{}])".format(lang, ", ".join(f"'{m}'" for m in markers))
        for lang, markers in sorted(LANG_MARKERS.items())
    )
    sql["lang_id"] = f"""
WITH {_TL},
langs(lang, markers) AS (VALUES {lang_rows}),
votes AS (
  SELECT doc_id, lang,
         len(list_filter(tl, x -> list_contains(markers, x)))::INT AS votes
  FROM tldocs CROSS JOIN langs),
best AS (
  SELECT doc_id, lang, votes,
         row_number() OVER (PARTITION BY doc_id ORDER BY votes DESC, lang ASC) AS rn
  FROM votes)
SELECT doc_id,
       CASE WHEN votes > 0 THEN lang ELSE 'und' END AS lang_pred,
       greatest(votes, 0)::INT AS votes
FROM best WHERE rn = 1
"""

    sql["embedding_cosine_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id < {N_EMB_QUERIES}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
s AS (SELECT query_id, vec_id, {_EMB_COS} AS cos FROM q CROSS JOIN e),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)::INT AS rank
      FROM s)
SELECT query_id, rank, vec_id, cos FROM r WHERE rank <= {K}
"""

    sql["embedding_cosine_minsim"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id < {N_EMB_QUERIES}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
s AS (SELECT query_id, vec_id, {_EMB_COS} AS cos FROM q CROSS JOIN e),
f AS (SELECT * FROM s WHERE cos >= {KNN_MIN_SIM}),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)::INT AS rank
      FROM f)
SELECT query_id, rank, vec_id, cos FROM r WHERE rank <= {K}
"""

    # filtered kNN: the candidate CTE restricted to the allowed set — the
    # predicate applies BEFORE the top-k window in both engines
    sql["embedding_cosine_filtered"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id < {N_EMB_QUERIES}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE vec_id % {EMB_FILTER_MOD} = 0),
s AS (SELECT query_id, vec_id, {_EMB_COS} AS cos FROM q CROSS JOIN e),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)::INT AS rank
      FROM s)
SELECT query_id, rank, vec_id, cos FROM r WHERE rank <= {K}
"""

    sql["embedding_neardup"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT vec_a, vec_b, cos FROM s WHERE cos >= {COS_NEARDUP_TH}
"""

    sql["embedding_lsh_ann"] = f"""
WITH anc AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av FROM embeddings
             WHERE vec_id < {N_ANCHORS}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
eb AS (
  SELECT vec_id, sum(CASE WHEN list_dot_product(ev, av) >= 0
                          THEN (1::BIGINT << anchor_id) ELSE 0 END)::INT AS bucket
  FROM e CROSS JOIN anc GROUP BY 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < {N_EMB_QUERIES}),
qb AS (
  SELECT query_id, sum(CASE WHEN list_dot_product(qv, av) >= 0
                            THEN (1::BIGINT << anchor_id) ELSE 0 END)::INT AS bucket
  FROM q CROSS JOIN anc GROUP BY 1),
s AS (
  SELECT q.query_id, e.vec_id, {_EMB_COS} AS cos
  FROM q JOIN qb USING (query_id)
  JOIN eb ON eb.bucket = qb.bucket
  JOIN e ON e.vec_id = eb.vec_id),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)::INT AS rank
      FROM s)
SELECT query_id, rank, vec_id, cos FROM r WHERE rank <= {K}
"""

    sql["seqpare_pairs"] = f"""
WITH {_TL}, {_TOKS}, {_QT},
dterms AS (SELECT DISTINCT doc_id, term FROM toks),
qsize AS (SELECT query_id, count(*) AS nq FROM qterms GROUP BY 1),
dsize AS (SELECT doc_id, count(*) AS nd FROM dterms GROUP BY 1),
inter AS (
  SELECT qt.query_id, d.doc_id, count(*) AS inter
  FROM qterms qt JOIN dterms d USING (term)
  GROUP BY 1, 2)
SELECT i.query_id, i.doc_id,
       round(i.inter::DOUBLE / (q.nq + d.nd - i.inter), 6) AS sm
FROM inter i JOIN qsize q USING (query_id) JOIN dsize d USING (doc_id)
"""

    sql["embedding_ivf_ann"] = f"""
WITH anc AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av,
                    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) / 2.0 AS hn
             FROM embeddings WHERE vec_id < {N_ANCHORS}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
escore AS (
  SELECT e.vec_id, anc.anchor_id,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(ev, av) - hn, 9) DESC, anchor_id ASC) AS rn
  FROM e CROSS JOIN anc),
ecell AS (SELECT vec_id, anchor_id AS cell FROM escore WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < {N_EMB_QUERIES}),
qscore AS (
  SELECT q.query_id, anc.anchor_id,
         row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_dot_product(qv, av) - hn, 9) DESC, anchor_id ASC) AS rn
  FROM q CROSS JOIN anc),
qcell AS (SELECT query_id, anchor_id AS cell FROM qscore WHERE rn = 1),
s AS (
  SELECT q.query_id, e.vec_id, {_EMB_COS} AS cos
  FROM q JOIN qcell USING (query_id)
  JOIN ecell ON ecell.cell = qcell.cell
  JOIN e ON e.vec_id = ecell.vec_id),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)::INT AS rank
      FROM s)
SELECT query_id, rank, vec_id, cos FROM r WHERE rank <= {K}
"""

    # quantized kNN: the oracle replicates the two-stage pipeline exactly —
    # per-vector int8 scalar quantization (half-up floor: engine-identical),
    # approximate-cosine shortlist of k*oversample inside the probed cell,
    # exact-cosine rescore of the shortlist
    sql["embedding_ivf_ann_quantized"] = f"""
WITH anc AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av,
                    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) / 2.0 AS hn
             FROM embeddings WHERE vec_id < {N_ANCHORS}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
escore AS (
  SELECT e.vec_id, anc.anchor_id,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(ev, av) - hn, 9) DESC, anchor_id ASC) AS rn
  FROM e CROSS JOIN anc),
ecell AS (SELECT vec_id, anchor_id AS cell FROM escore WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < {N_EMB_QUERIES}),
qscore AS (
  SELECT q.query_id, anc.anchor_id,
         row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_dot_product(qv, av) - hn, 9) DESC, anchor_id ASC) AS rn
  FROM q CROSS JOIN anc),
qcell AS (SELECT query_id, anchor_id AS cell FROM qscore WHERE rn = 1),
qz AS (SELECT vec_id, ev,
              list_max(list_transform(ev, x -> abs(x))) AS qscale,
              sqrt(list_dot_product(ev, ev)) AS vnorm FROM e),
e8 AS (SELECT vec_id, qscale, vnorm,
              list_transform(ev, x -> floor(127.0 * x /
                  (CASE WHEN qscale = 0 THEN 1.0 ELSE qscale END) + 0.5)) AS q8
       FROM qz),
cand AS (
  SELECT q.query_id, e8.vec_id,
         round((e8.qscale / 127.0) * list_dot_product(qv, e8.q8)
               / (sqrt(list_dot_product(qv, qv)) * e8.vnorm), 6) AS approx
  FROM q JOIN qcell USING (query_id)
  JOIN ecell ON ecell.cell = qcell.cell
  JOIN e8 ON e8.vec_id = ecell.vec_id),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
               ORDER BY approx DESC, vec_id ASC) AS arn
    FROM cand) WHERE arn <= {K * 3}),
s AS (SELECT short.query_id, e.vec_id, {_EMB_COS} AS cos
      FROM short JOIN q ON q.query_id = short.query_id
      JOIN e ON e.vec_id = short.vec_id),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)::INT AS rank
      FROM s)
SELECT query_id, rank, vec_id, cos FROM r WHERE rank <= {K}
"""

    # filtered kNN over the inverted file: cell assignment is a per-vector
    # property (computed over ALL vectors); the allowed predicate restricts
    # the CANDIDATES inside the probed cell, before the top-k window
    sql["embedding_ivf_filtered_indexed"] = sql["embedding_ivf_ann"].replace(
        "JOIN e ON e.vec_id = ecell.vec_id),",
        f"JOIN e ON e.vec_id = ecell.vec_id"
        f" AND e.vec_id % {EMB_FILTER_MOD} = 0),",
    )

    sql["token_counts"] = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'), x -> x <> ''))::INT AS n_ws,
       len(regexp_extract_all(coalesce(text, ''), '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+'))::INT AS n_bpeish,
       len(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'), x -> x <> ''))::INT AS n_alnum
FROM documents
"""

    sql["media_frame_sample"] = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT] AS media_type,
         octet_length(encode(coalesce(text, ''))) AS n_bytes
  FROM documents),
v AS (SELECT media_id, n_bytes FROM m WHERE media_type = 'video'),
f AS (SELECT media_id, n_bytes, frame_idx::INT AS frame_idx
      FROM v CROSS JOIN (SELECT frame_idx FROM range({N_FRAMES}) t(frame_idx)))
SELECT media_id, frame_idx,
       floor(frame_idx * n_bytes / {N_FRAMES})::INT AS frame_offset
FROM f
"""

    sql["embedding_ivf_ann_nprobe"] = f"""
WITH anc AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av,
                    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) / 2.0 AS hn
             FROM embeddings WHERE vec_id < {N_ANCHORS}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
escore AS (
  SELECT e.vec_id, anc.anchor_id,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(ev, av) - hn, 9) DESC, anchor_id ASC) AS rn
  FROM e CROSS JOIN anc),
ecell AS (SELECT vec_id, anchor_id AS cell FROM escore WHERE rn = 1),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < {N_EMB_QUERIES}),
qscore AS (
  SELECT q.query_id, anc.anchor_id,
         row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_dot_product(qv, av) - hn, 9) DESC, anchor_id ASC) AS rn
  FROM q CROSS JOIN anc),
qcell AS (SELECT query_id, anchor_id AS cell FROM qscore WHERE rn <= {IVF_NPROBE}),
s AS (
  SELECT q.query_id, e.vec_id, {_EMB_COS} AS cos
  FROM q JOIN qcell USING (query_id)
  JOIN ecell ON ecell.cell = qcell.cell
  JOIN e ON e.vec_id = ecell.vec_id),
r AS (SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)::INT AS rank
      FROM s)
SELECT query_id, rank, vec_id, cos FROM r WHERE rank <= {K}
"""

    from igd_spark.textstats import LANG_MARKERS as _LM

    _lang_rows = ", ".join(
        "('{}', [{}])".format(lang, ", ".join(f"'{m}'" for m in markers))
        for lang, markers in sorted(_LM.items())
    )
    _stop = ", ".join(
        f"'{s}'" for s in ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    )
    _keep_langs = ", ".join(f"'{l}'" for l in CURATE_LANGS)
    sql["corpus_curate"] = f"""
WITH {_TL},
h AS (SELECT doc_id, md5(coalesce(text, '')) AS chash FROM documents),
dd AS (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY chash) AS is_canonical FROM h),
langs(lang, markers) AS (VALUES {_lang_rows}),
votes AS (
  SELECT doc_id, lang,
         len(list_filter(tl, x -> list_contains(markers, x)))::INT AS votes
  FROM tldocs CROSS JOIN langs),
best AS (
  SELECT doc_id, lang, votes,
         row_number() OVER (PARTITION BY doc_id ORDER BY votes DESC, lang ASC) AS rn
  FROM votes),
li AS (SELECT doc_id, CASE WHEN votes > 0 THEN lang ELSE 'und' END AS lang_pred
       FROM best WHERE rn = 1),
base AS (
  SELECT d.doc_id, length(coalesce(doc.text, '')) AS n_chars, len(d.tl) AS n_tokens,
         len(list_filter(d.tl, x -> list_contains([{_stop}], x))) AS n_stop,
         length(regexp_replace(lower(coalesce(doc.text, '')), '[^a-z0-9 ]', '', 'g')) AS n_clean
  FROM tldocs d JOIN documents doc USING (doc_id)),
q AS (
  SELECT doc_id,
         round(0.4 * least(n_tokens / 100.0, 1.0)
               + 0.4 * (CASE WHEN n_chars > 0 THEN n_clean::DOUBLE / n_chars ELSE 0.0 END)
               + 0.2 * least((CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END) * 5.0, 1.0),
               6) AS quality
  FROM base),
v AS (
  SELECT dd.doc_id,
         CASE WHEN NOT dd.is_canonical THEN 'duplicate'
              WHEN li.lang_pred NOT IN ({_keep_langs}) THEN 'lang'
              WHEN q.quality < {MIN_QUALITY} THEN 'quality'
              ELSE NULL END AS reason
  FROM dd JOIN li USING (doc_id) JOIN q USING (doc_id))
SELECT doc_id, reason IS NULL AS keep, reason FROM v
"""

    _PVALUES = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in PHRASES)
    sql["phrase_match"] = f"""
WITH {_TL},
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
ph(query_id, query_text) AS (VALUES {_PVALUES}),
qtl AS (SELECT query_id, list_filter(regexp_split_to_array(lower(query_text),
        '[^a-z0-9]+'), x -> x <> '') AS tl FROM ph),
pt AS (SELECT query_id, i - 1 AS "offset", tl[i] AS term
       FROM (SELECT query_id, tl, unnest(generate_series(1, len(tl))) AS i FROM qtl)),
plen AS (SELECT query_id, count(*) AS plen FROM pt GROUP BY 1),
j AS (SELECT pt.query_id, pp.doc_id, pp.pos - pt."offset" AS anchor
      FROM pp JOIN pt USING (term)),
h AS (SELECT query_id, doc_id, anchor, count(*) AS c FROM j GROUP BY 1, 2, 3),
hits AS (SELECT h.query_id, h.doc_id FROM h JOIN plen USING (query_id)
         WHERE h.c = plen.plen AND h.anchor >= 0)
SELECT query_id, doc_id, count(*)::BIGINT AS n_hits FROM hits GROUP BY 1, 2
"""
    # index-backed phrase path must be value-identical to the corpus scan
    sql["phrase_match_indexed"] = sql["phrase_match"]

    _PPVALUES = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in PHRASE_PREFIX_SET)
    sql["match_phrase_prefix"] = f"""
WITH {_TL},
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
vocab AS (SELECT DISTINCT unnest(tl) AS term FROM tldocs),
ph(query_id, query_text) AS (VALUES {_PPVALUES}),
qtl AS (SELECT query_id, list_filter(regexp_split_to_array(lower(query_text),
        '[^a-z0-9]+'), x -> x <> '') AS tl FROM ph),
pt AS (SELECT query_id, i - 1 AS "offset", tl[i] AS term, len(tl) AS plen
       FROM (SELECT query_id, tl, unnest(generate_series(1, len(tl))) AS i FROM qtl)),
lits AS (SELECT query_id, term, "offset" FROM pt WHERE "offset" < plen - 1),
pre AS (SELECT query_id, term AS prefix, "offset" FROM pt WHERE "offset" = plen - 1),
expd AS (SELECT query_id, term, "offset" FROM (
           SELECT p.query_id, v.term, p."offset",
                  row_number() OVER (PARTITION BY p.query_id ORDER BY v.term) AS rn
           FROM pre p JOIN vocab v ON starts_with(v.term, p.prefix))
         WHERE rn <= {MAX_PHRASE_EXPANSIONS}),
pt2 AS (SELECT * FROM lits UNION ALL SELECT * FROM expd),
plen AS (SELECT query_id, len(tl) AS plen FROM qtl),
j AS (SELECT pt2.query_id, pp.doc_id, pp.pos - pt2."offset" AS anchor
      FROM pp JOIN pt2 USING (term)),
h AS (SELECT query_id, doc_id, anchor, count(*) AS c FROM j GROUP BY 1, 2, 3),
hits AS (SELECT h.query_id, h.doc_id FROM h JOIN plen USING (query_id)
         WHERE h.c = plen.plen AND h.anchor >= 0)
SELECT query_id, doc_id, count(*)::BIGINT AS n_hits FROM hits GROUP BY 1, 2
"""
    # the indexed twin must be value-identical to the corpus scan
    sql["match_phrase_prefix_indexed"] = sql["match_phrase_prefix"]

    _IVVALUES = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in INTERVALS_SET)
    sql["intervals"] = f"""
WITH RECURSIVE {_TL},
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
iv(query_id, query_text) AS (VALUES {_IVVALUES}),
qtl AS (SELECT query_id, list_filter(regexp_split_to_array(lower(query_text),
        '[^a-z0-9]+'), x -> x <> '') AS tl FROM iv),
pt AS (SELECT query_id, i - 1 AS "offset", tl[i] AS term
       FROM (SELECT query_id, tl, unnest(generate_series(1, len(tl))) AS i FROM qtl)),
plen AS (SELECT query_id, len(tl)::INT AS plen FROM qtl),
occ AS (SELECT pt.query_id, pp.doc_id, pt."offset", pp.pos
        FROM pp JOIN pt USING (term)),
chains(query_id, doc_id, a, cur, i) AS (
  SELECT query_id, doc_id, pos, pos, 0 FROM occ WHERE "offset" = 0
  UNION ALL
  SELECT c.query_id, c.doc_id, c.a, o.pos, c.i + 1
  FROM chains c
  JOIN plen pl ON pl.query_id = c.query_id
  JOIN occ o ON o.query_id = c.query_id AND o.doc_id = c.doc_id
   AND o."offset" = c.i + 1 AND o.pos > c.cur
   AND o.pos <= c.a + pl.plen - 1 + {INTERVALS_MAX_GAPS}
  WHERE c.i + 1 < pl.plen),
done AS (
  SELECT c.query_id, c.doc_id, c.a, min(c.cur) AS mend
  FROM chains c JOIN plen pl ON pl.query_id = c.query_id
  WHERE c.i = pl.plen - 1
  GROUP BY 1, 2, 3)
SELECT d.query_id, d.doc_id, count(*)::BIGINT AS n_anchors,
       min(d.mend - d.a + 1 - pl.plen)::INT AS min_gaps
FROM done d JOIN plen pl USING (query_id)
GROUP BY 1, 2
"""
    sql["intervals_indexed"] = sql["intervals"]

    _COMPOSITE_CORE = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT},
m AS (SELECT DISTINCT qt.query_id, p.doc_id FROM qterms qt JOIN post p USING (term)),
b AS (SELECT m.query_id, d.lang, d.source, count(*)::BIGINT AS n_docs
      FROM m JOIN documents d USING (doc_id)
      WHERE d.lang IS NOT NULL AND d.source IS NOT NULL
      GROUP BY 1, 2, 3),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                    ORDER BY lang, source) AS rn
       FROM b{{after}})
SELECT query_id, lang, source, n_docs FROM rk WHERE rn <= {COMPOSITE_SIZE}
"""
    sql["composite_agg"] = _COMPOSITE_CORE.format(after="")
    sql["composite_agg_after"] = _COMPOSITE_CORE.format(
        after=(
            f" WHERE lang > '{COMPOSITE_AFTER[0]}' OR (lang = "
            f"'{COMPOSITE_AFTER[0]}' AND source > '{COMPOSITE_AFTER[1]}')"
        )
    )
    sql["composite_agg_indexed"] = sql["composite_agg"]

    _fnames = ", ".join(f"('{n}')" for n in sorted(FILTERS_AGG))
    _fcase = " ".join(
        f"WHEN '{n}' THEN a.{n}" for n in sorted(FILTERS_AGG)
    )
    _fsums = ", ".join(
        f"sum(CASE WHEN d.{FILTERS_AGG[n]} THEN 1 ELSE 0 END)::BIGINT AS {n}"
        for n in sorted(FILTERS_AGG)
    )
    sql["filters_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT},
m AS (SELECT DISTINCT qt.query_id, p.doc_id FROM qterms qt JOIN post p USING (term)),
agg AS (SELECT m.query_id, {_fsums}
        FROM m JOIN documents d USING (doc_id) GROUP BY 1),
qids AS (SELECT DISTINCT query_id FROM q),
names(filter_name) AS (VALUES {_fnames}),
grid AS (SELECT query_id, filter_name FROM qids CROSS JOIN names)
SELECT g.query_id, g.filter_name,
       coalesce(CASE g.filter_name {_fcase} END, 0)::BIGINT AS n_docs
FROM grid g LEFT JOIN agg a USING (query_id)
"""
    sql["filters_agg_indexed"] = sql["filters_agg"]

    _CSTEP = CHUNK_TOKENS - CHUNK_OVERLAP
    sql["chunk_documents"] = f"""
WITH {_TL},
n AS (SELECT doc_id, tl, len(tl) AS n FROM tldocs),
c AS (SELECT doc_id, tl,
             CASE WHEN n <= 0 THEN 0
                  ELSE 1 + ceil(greatest(n - {CHUNK_TOKENS}, 0) / {_CSTEP}.0)
             END::INT AS n_chunks
      FROM n),
e AS (SELECT doc_id, i - 1 AS chunk_id,
             tl[(i-1)*{_CSTEP} + 1 : (i-1)*{_CSTEP} + {CHUNK_TOKENS}] AS ctoks
      FROM (SELECT doc_id, tl, unnest(generate_series(1, n_chunks)) AS i FROM c))
SELECT doc_id, chunk_id::INT AS chunk_id,
       array_to_string(ctoks, ' ') AS chunk_text, len(ctoks)::INT AS n_tokens
FROM e
"""

    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    sql["events_sessionize"] = f"""
WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
      FROM ev),
s AS (SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > {gap_us} THEN 1 ELSE 0 END AS is_new
      FROM l),
sid AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING)::INT AS session_id
        FROM s)
SELECT user_id, session_id, min(ts_us)::BIGINT AS start_us, max(ts_us)::BIGINT AS end_us,
       count(*)::BIGINT AS n_events, round(sum(value), 6) AS sum_value
FROM sid GROUP BY 1, 2
"""

    sql["event_transitions"] = """
WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
p AS (SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
      FROM ev),
c AS (SELECT prev_type, event_type, count(*)::BIGINT AS n_transitions
      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
SELECT prev_type, event_type, n_transitions,
       round(n_transitions::DOUBLE / sum(n_transitions) OVER (PARTITION BY prev_type), 6)
         AS p_transition
FROM c
"""

    _fk = "{'ts_us': e.ts_us, 'event_id': e.event_id}"
    _fw = FUNNEL_WINDOW_MIN * 60 * 1_000_000
    sql["funnel_counts"] = f"""
WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
s1 AS (SELECT user_id, min({{'ts_us': ts_us, 'event_id': event_id}}) AS k
       FROM ev WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1),
s2 AS (SELECT e.user_id, min({_fk}) AS k FROM ev e JOIN s1 ON e.user_id = s1.user_id
       WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND {_fk} > s1.k
         AND e.ts_us <= s1.k.ts_us + {_fw} GROUP BY 1),
s3 AS (SELECT e.user_id, min({_fk}) AS k FROM ev e JOIN s2 ON e.user_id = s2.user_id
       WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND {_fk} > s2.k
         AND e.ts_us <= s2.k.ts_us + {_fw} GROUP BY 1),
n AS (SELECT 1 AS step_idx, '{FUNNEL_STEPS[0]}' AS event_type,
             (SELECT count(*) FROM s1)::BIGINT AS n_users
      UNION ALL SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2)
      UNION ALL SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3))
SELECT step_idx::INT AS step_idx, event_type, n_users,
       CASE WHEN (SELECT count(*) FROM s1) > 0
            THEN round(n_users::DOUBLE / (SELECT count(*) FROM s1), 6)
            ELSE 0.0 END AS conversion
FROM n
"""

    sql["retention_cohorts"] = """
WITH act AS (SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day FROM events),
c AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1),
j AS (SELECT a.user_id, strftime(c.cohort, '%Y-%m-%d') AS cohort_day,
             (a.day - c.cohort)::INT AS day_offset
      FROM act a JOIN c ON a.user_id = c.user_id)
SELECT cohort_day, day_offset, count(DISTINCT user_id)::BIGINT AS n_users
FROM j GROUP BY 1, 2
"""

    band_bits = 2  # 8 anchors / 4 bands
    sql["embedding_neardup_banded"] = f"""
WITH anc AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av FROM embeddings
             WHERE vec_id < {N_ANCHORS}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
bits AS (
  SELECT e.vec_id, (anchor_id // {band_bits})::INT AS band_id,
         CASE WHEN list_dot_product(ev, av) >= 0
              THEN (1 << (anchor_id % {band_bits})::INT) ELSE 0 END AS bit
  FROM e CROSS JOIN anc),
bands AS (SELECT vec_id, band_id, sum(bit)::INT AS band_val FROM bits GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id),
s AS (
  SELECT c.vec_a, c.vec_b,
         round(list_dot_product(ea.ev, eb.ev) / (sqrt(list_dot_product(ea.ev, ea.ev))
               * sqrt(list_dot_product(eb.ev, eb.ev))), 6) AS cos
  FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b)
SELECT vec_a, vec_b, cos FROM s WHERE cos >= {COS_NEARDUP_TH}
"""

    # media oracles: DuckDB has no blob byte accessor, so the byte stream is
    # reconstructed from hex(encode(text)) — byte i = ('0x'||substr(hx,2i-1,2)).
    # The Spark kernels hash/fold the SAME canonical bytes (md5 of uppercase
    # hex; histogram of byte % 16), so the check is exact.
    _MEDIA = (
        "m AS (SELECT doc_id AS media_id, "
        "(['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT] AS media_type, "
        "hex(encode(coalesce(text, ''))) AS hx FROM documents), "
        "idx AS (SELECT media_id, hx, "
        "unnest(generate_series(1, length(hx) // 2)) AS i FROM m), "
        "mbytes AS (SELECT media_id, ('0x' || substr(hx, (2*i-1)::INT, 2))::INT AS b FROM idx)"
    )

    sql["media_stats"] = f"""
WITH {_MEDIA},
hist AS (SELECT media_id, b, count(*)::DOUBLE AS c FROM mbytes GROUP BY 1, 2),
ent AS (SELECT media_id, log2(sum(c)) - sum(c * log2(c)) / sum(c) AS e
        FROM hist GROUP BY 1)
SELECT m.media_id, m.media_type, (length(m.hx) // 2)::INT AS n_bytes,
       substr(md5(m.hx), 1, 8) AS md5_8,
       coalesce(floor(ent.e * 1000 + 0.5), 0)::INT AS entropy_q
FROM m LEFT JOIN ent USING (media_id)
"""

    sql["media_features"] = f"""
WITH {_MEDIA},
hist AS (SELECT media_id, (b % 16)::INT AS dim, count(*)::DOUBLE AS c
         FROM mbytes GROUP BY 1, 2),
nrm AS (SELECT media_id, sqrt(sum(c * c)) AS nrm FROM hist GROUP BY 1),
dims AS (SELECT media_id, dim::INT AS dim
         FROM m CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS dim))
SELECT d.media_id, d.dim, coalesce(round(h.c / n.nrm, 6), 0.0) AS value
FROM dims d
LEFT JOIN hist h USING (media_id, dim)
LEFT JOIN nrm n ON n.media_id = d.media_id
"""

    # seqpare_scores: the greedy 1:1 matching IS SQL-expressible — one
    # matched pair per recursion step (max n_q steps), accumulated in greedy
    # order so the float total is bit-identical to the kernel's sequential
    # sum. Mirrors igd_spark.seqpare.greedy_match / src/igd_search.c:397-448.
    n_q_total = len(QUERY_SET)
    sql["seqpare_scores"] = f"""
WITH RECURSIVE {_TL}, {_TOKS}, {_QT},
dterms AS (SELECT DISTINCT doc_id, term FROM toks),
qsize AS (SELECT query_id, count(*) AS nq FROM qterms GROUP BY 1),
dsize AS (SELECT doc_id, count(*) AS nd FROM dterms GROUP BY 1),
inter AS (
  SELECT qt.query_id, d.doc_id, count(*) AS inter
  FROM qterms qt JOIN dterms d USING (term) GROUP BY 1, 2),
rawpairs AS (
  SELECT i.query_id AS q, i.doc_id AS d,
         i.inter / (qs.nq + ds.nd - i.inter) AS sm, doc.source AS source
  FROM inter i
  JOIN qsize qs USING (query_id)
  JOIN dsize ds ON ds.doc_id = i.doc_id
  JOIN documents doc ON doc.doc_id = i.doc_id),
srcsize AS (SELECT source, count(*)::BIGINT AS nr FROM documents GROUP BY 1),
m(source, qs, ds, total, n) AS (
  SELECT source, []::BIGINT[], []::BIGINT[], 0.0::DOUBLE, 0::BIGINT
  FROM (SELECT DISTINCT source FROM rawpairs)
  UNION ALL
  SELECT source, list_append(qs, q), list_append(ds, d), total + sm, n + 1
  FROM (
    SELECT m.source, m.qs, m.ds, m.total, m.n, p.q, p.d, p.sm,
           row_number() OVER (PARTITION BY m.source
                              ORDER BY p.sm DESC, p.q ASC, p.d ASC) AS rn
    FROM m JOIN rawpairs p ON p.source = m.source
      AND NOT list_contains(m.qs, p.q) AND NOT list_contains(m.ds, p.d)
  ) WHERE rn = 1),
final AS (SELECT source, max(n) AS n FROM m GROUP BY 1)
SELECT m.source, s.nr AS n_docs, m.n::BIGINT AS n_matched,
       round(m.total, 6) AS sm_total,
       round(m.total / ({n_q_total} + s.nr - m.total), 6) AS score
FROM m JOIN final USING (source, n) JOIN srcsize s USING (source)
"""

    # spans = consecutive disjoint SPAN_TOKENS-token windows (ragged tail
    # kept); boilerplate iff corpus df >= MIN_SPAN_DF; survivors reassembled
    # in order (mirrors igd_spark.trainprep.remove_boilerplate)
    k = SPAN_TOKENS
    sql["boilerplate_clean"] = f"""
WITH {_TL},
spansd AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, cast(ceil(len(tl) / {k}.0) AS INT) - 1),
           i -> {{'span_id': i, 'span': array_to_string(tl[i*{k}+1 : i*{k}+{k}], ' ')}})) AS sp
  FROM tldocs),
spans AS (SELECT doc_id, sp.span_id::INT AS span_id, sp.span AS span FROM spansd),
sdf AS (SELECT span, count(DISTINCT doc_id) AS df FROM spans GROUP BY 1),
flag AS (SELECT s.doc_id, s.span_id, s.span, f.df >= {MIN_SPAN_DF} AS is_bp
         FROM spans s JOIN sdf f USING (span)),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n_spans,
         sum(CASE WHEN is_bp THEN 1 ELSE 0 END)::BIGINT AS n_removed,
         string_agg(CASE WHEN NOT is_bp THEN span END, ' ' ORDER BY span_id) AS clean_text
  FROM flag GROUP BY 1)
SELECT d.doc_id, coalesce(n_spans, 0)::BIGINT AS n_spans,
       coalesce(n_removed, 0)::BIGINT AS n_removed,
       coalesce(clean_text, '') AS clean_text
FROM documents d LEFT JOIN per USING (doc_id)
"""

    sql["repetition_stats"] = f"""
WITH {_TL}, {_TOKS}, {_POST},
top AS (SELECT doc_id, max(tf) AS top_tf FROM post GROUP BY 1),
ng AS (
  SELECT doc_id, len(tl)::BIGINT AS n_tokens,
         list_transform(generate_series(1, greatest(len(tl) - 1, 0)),
                        i -> array_to_string(tl[i:i+1], ' ')) AS g2,
         list_transform(generate_series(1, greatest(len(tl) - 2, 0)),
                        i -> array_to_string(tl[i:i+2], ' ')) AS g3
  FROM tldocs)
SELECT ng.doc_id, ng.n_tokens,
       round(CASE WHEN ng.n_tokens > 0
                  THEN top.top_tf::DOUBLE / ng.n_tokens ELSE 0 END, 6) AS top_token_frac,
       round(CASE WHEN len(g2) > 0
                  THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) ELSE 0 END, 6) AS dup_bigram_frac,
       round(CASE WHEN len(g3) > 0
                  THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3) ELSE 0 END, 6) AS dup_trigram_frac
FROM ng LEFT JOIN top USING (doc_id)
"""

    # per-stratum integer thresholds fixed driver-side (trainprep.sample_thresholds)
    from igd_spark.trainprep import sample_thresholds

    th = sample_thresholds(SAMPLE_FRACTIONS)
    th_case = " ".join(f"WHEN '{s}' THEN {t}::BIGINT" for s, t in sorted(th.items()))
    sql["sample_stratified"] = f"""
WITH s AS (
  SELECT doc_id, lang AS stratum,
         {_H60.format(expr=f"('{SAMPLE_SEED}:' || doc_id::VARCHAR)")} AS u60,
         CASE lang {th_case} ELSE NULL END AS thr
  FROM documents)
SELECT doc_id, stratum, u60 FROM s WHERE u60 < thr
"""

    sql["pack_sequences"] = f"""
WITH {_TL},
base AS (
  SELECT doc_id,
         ({_H60.format(expr="doc_id::VARCHAR")} % {PACK_SHARDS})::INT AS shard,
         len(tl)::BIGINT AS n_tokens
  FROM tldocs),
cum AS (
  SELECT doc_id, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM base)
SELECT doc_id, shard, (cb // {PACK_BUDGET})::BIGINT AS seq_id,
       n_tokens, (cb % {PACK_BUDGET})::BIGINT AS seq_offset
FROM cum
"""

    # ---- extended query language (querylang.py) ----
    _W = (
        f"ln((cs.n_docs - ts.df + 0.5) / (ts.df + 0.5) + 1.0) * p.tf * {K1 + 1.0}"
        f" / (p.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cs.avgdl))"
    )
    _bqvals = ", ".join(
        f"({q}::BIGINT, '{t}', " + ("NULL::VARCHAR" if e is None else f"'{e}'") + ")"
        for q, t, e in BOOL_QUERY_SET
    )
    sql["bool_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
bq(query_id, query_text, exclude_text) AS (VALUES {_bqvals}),
qterms AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS term FROM bq),
nreq AS (SELECT query_id, count(DISTINCT term)::BIGINT AS n_required FROM qterms GROUP BY 1),
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s,
         count(DISTINCT p.term)::BIGINT AS n_matched
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
exterms AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(exclude_text), '[^a-z0-9]+'), x -> x <> '')) AS term FROM bq),
banned AS (SELECT DISTINCT e.query_id, p.doc_id FROM exterms e JOIN post p USING (term)),
hits AS (
  SELECT s.query_id, s.doc_id, s.s FROM scored s
  JOIN nreq USING (query_id)
  WHERE s.n_matched = nreq.n_required
    AND NOT EXISTS (SELECT 1 FROM banned b
                    WHERE b.query_id = s.query_id AND b.doc_id = s.doc_id)),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM hits)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)

    sql["filtered_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
allowed AS (SELECT doc_id FROM documents WHERE {FILTER_WHERE}),
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  WHERE p.doc_id IN (SELECT doc_id FROM allowed)
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)

    _pqvals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in PREFIX_QUERY_SET)
    sql["prefix_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
pq(query_id, query_text) AS (VALUES {_pqvals}),
prefixes AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS prefix FROM pq),
expanded AS (
  SELECT DISTINCT pr.query_id, ts.term, ts.df
  FROM prefixes pr JOIN ts ON ts.term LIKE pr.prefix || '%'),
scored AS (
  SELECT e.query_id, p.doc_id,
         sum( ln((cs.n_docs - e.df + 0.5) / (e.df + 0.5) + 1.0)
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cs.avgdl)) ) AS s
  FROM expanded e JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""

    sql["group_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
g AS (
  SELECT s.query_id, d."{GROUP_COL}" AS "group", round(sum(s.s), 6) AS score
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, "group", score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, "group" ASC)::INT AS rank
  FROM g)
SELECT query_id, rank, "group", score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)

    sql["snippets"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
topk AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
    FROM scored) WHERE rank <= {K}),
matches AS (
  SELECT DISTINCT qt.query_id, p.doc_id, p.term
  FROM qterms qt JOIN post p USING (term)),
cand AS (
  SELECT m.query_id, t.rank, m.doc_id, m.term,
         strpos(lower(d.text), m.term)::INT AS pos, d.text
  FROM matches m
  JOIN topk t ON t.query_id = m.query_id AND t.doc_id = m.doc_id
  JOIN documents d ON d.doc_id = m.doc_id),
first AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
                               ORDER BY pos ASC, term ASC) AS rn
  FROM cand)
SELECT query_id, rank, doc_id, term, pos,
       substr(text, greatest(1, pos - {SNIPPET_WIDTH}),
              {2 * SNIPPET_WIDTH} + len(term)) AS snippet
FROM first WHERE rn = 1
""".replace("{_W}", _W)

    _boostvals = ", ".join(
        f"({q}::BIGINT, '{t}', " + ("NULL::VARCHAR" if n is None else f"'{n}'") + ")"
        for q, t, n in BOOSTING_QUERY_SET
    )
    sql["boosting_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
qb(query_id, query_text, neg_text) AS (VALUES {_boostvals}),
qterms AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS term FROM qb),
nterms AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(neg_text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM qb WHERE neg_text IS NOT NULL),
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
neg AS (SELECT DISTINCT n.query_id, p.doc_id FROM nterms n JOIN post p USING (term)),
dem AS (
  SELECT s.query_id, s.doc_id,
         round(s.s * CASE WHEN ng.doc_id IS NOT NULL THEN {NEG_BOOST} ELSE 1.0 END,
               6) AS score
  FROM scored s LEFT JOIN neg ng
    ON ng.query_id = s.query_id AND ng.doc_id = s.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM dem)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)
    sql["boosting_bm25_topk_indexed"] = sql["boosting_bm25_topk"]

    _rangevals = ", ".join(
        "("
        + ("NULL::DOUBLE" if lo is None else f"{lo}::DOUBLE") + ", "
        + ("NULL::DOUBLE" if hi is None else f"{hi}::DOUBLE") + ")"
        for lo, hi in RANGE_BOUNDS
    )
    sql["range_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT},
m AS (SELECT DISTINCT qt.query_id, p.doc_id FROM qterms qt JOIN post p USING (term)),
r(range_from, range_to) AS (VALUES {_rangevals}),
qids AS (SELECT DISTINCT query_id FROM q),
hits AS (
  SELECT m.query_id, r.range_from, r.range_to, count(*)::BIGINT AS c
  FROM m JOIN documents d USING (doc_id)
  JOIN r ON (r.range_from IS NULL OR d.{STATS_VALUE_COL} >= r.range_from)
        AND (r.range_to IS NULL OR d.{STATS_VALUE_COL} < r.range_to)
  WHERE d.{STATS_VALUE_COL} IS NOT NULL
  GROUP BY 1, 2, 3),
grid AS (SELECT query_id, range_from, range_to FROM qids CROSS JOIN r)
SELECT g.query_id, g.range_from, g.range_to, coalesce(h.c, 0)::BIGINT AS n_docs
FROM grid g LEFT JOIN hits h ON h.query_id = g.query_id
  AND h.range_from IS NOT DISTINCT FROM g.range_from
  AND h.range_to IS NOT DISTINCT FROM g.range_to
"""
    sql["range_agg_indexed"] = sql["range_agg"]

    sql["adjacency_matrix_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT},
m AS (SELECT DISTINCT qt.query_id, p.doc_id FROM qterms qt JOIN post p USING (term))
SELECT a.query_id AS query_a, b.query_id AS query_b, count(*)::BIGINT AS n_docs
FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.query_id <= b.query_id
GROUP BY 1, 2
"""
    sql["adjacency_matrix_agg_indexed"] = sql["adjacency_matrix_agg"]

    sql["missing_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT},
m AS (SELECT DISTINCT qt.query_id, p.doc_id FROM qterms qt JOIN post p USING (term)),
t AS (SELECT doc_id,
             CASE WHEN doc_id % {MISSING_MOD} = 0 THEN NULL
                  ELSE 'tool' || (doc_id % 3)::VARCHAR END AS tool
      FROM documents)
SELECT m.query_id, count(*)::BIGINT AS n_missing
FROM m JOIN t USING (doc_id) WHERE t.tool IS NULL
GROUP BY 1
"""
    sql["missing_agg_indexed"] = sql["missing_agg"]

    sql["context_turns"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
topk AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
    FROM scored) WHERE rank <= {K}),
conv AS (
  SELECT doc_id, doc_id // {TURNS_PER_CONV} AS conv_id,
         doc_id % {TURNS_PER_CONV} AS turn_idx, text FROM documents),
offs AS (SELECT o::INT AS off FROM range(-{CTX_WINDOW}, {CTX_WINDOW + 1}) t(o)),
ctx AS (
  SELECT t.query_id, t.rank, t.doc_id, o.off AS "offset",
         c.conv_id, c.turn_idx + o.off AS ctx_turn
  FROM topk t JOIN conv c USING (doc_id) CROSS JOIN offs o)
SELECT ctx.query_id, ctx.rank, ctx.doc_id, ctx."offset",
       n.doc_id AS ctx_doc_id, n.text AS ctx_text
FROM ctx JOIN conv n ON n.conv_id = ctx.conv_id AND n.turn_idx = ctx.ctx_turn
""".replace("{_W}", _W)
    sql["context_turns_indexed"] = sql["context_turns"]

    # indexed querylang variants must be value-identical to the DataFrame
    # paths (same contract as bm25_topk_indexed), so they share oracles
    sql["bool_bm25_topk_indexed"] = sql["bool_bm25_topk"]
    sql["filtered_bm25_topk_indexed"] = sql["filtered_bm25_topk"]
    sql["prefix_bm25_topk_indexed"] = sql["prefix_bm25_topk"]
    sql["group_bm25_topk_indexed"] = sql["group_bm25_topk"]
    sql["snippets_indexed"] = sql["snippets"]

    sql["near_match"] = f"""
WITH {_TL},
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
nqv(query_id, query_text) AS (VALUES {_PVALUES}),
qt AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS term FROM nqv),
nreq AS (SELECT query_id, count(DISTINCT term) AS n_required FROM qt GROUP BY 1),
occ AS (SELECT qt.query_id, pp.doc_id, pp.term, pp.pos FROM pp JOIN qt USING (term)),
anchors AS (SELECT DISTINCT query_id, doc_id, pos AS p FROM occ),
cand AS (SELECT o.query_id, o.doc_id, a.p, o.term, o.pos
         FROM occ o JOIN anchors a ON a.query_id = o.query_id AND a.doc_id = o.doc_id
         WHERE o.pos >= a.p AND o.pos <= a.p + {NEAR_WINDOW}),
pt AS (SELECT query_id, doc_id, p, term, min(pos) AS mn FROM cand GROUP BY 1, 2, 3, 4),
pa AS (SELECT query_id, doc_id, p, count(*) AS n_terms, max(mn) AS mx FROM pt GROUP BY 1, 2, 3),
hits AS (SELECT pa.query_id, pa.doc_id, pa.p, pa.mx FROM pa
         JOIN nreq USING (query_id) WHERE pa.n_terms = nreq.n_required)
SELECT query_id, doc_id, min(mx - p)::INT AS min_span, count(*)::BIGINT AS n_anchors
FROM hits GROUP BY 1, 2
"""
    sql["near_match_indexed"] = sql["near_match"]

    sql["decontaminate"] = f"""
WITH {_TL}, {_SHINGLES},
bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECON_MOD} = 0),
hits AS (SELECT d.doc_id, count(*)::BIGINT AS n_hits
         FROM sh d JOIN bsh USING (shingle) GROUP BY 1)
SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""

    sql["more_like_this"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
seeds(query_id) AS (VALUES (0::BIGINT), (7::BIGINT), (42::BIGINT), (101::BIGINT), (333::BIGINT)),
kw AS (
  SELECT s.query_id, p.term,
         round(p.tf * ln(cs.n_docs::DOUBLE / ts.df), 6) AS tfidf
  FROM seeds s JOIN post p ON p.doc_id = s.query_id
  JOIN ts USING (term) CROSS JOIN cs),
sel AS (
  SELECT query_id, term FROM (
    SELECT query_id, term,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY tfidf DESC, term ASC) AS rn
    FROM kw) WHERE rn <= {MLT_TERMS}),
scored AS (
  SELECT sel.query_id, p.doc_id, sum({{_W}}) AS s
  FROM sel JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  WHERE p.doc_id <> sel.query_id
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)

    sql["boosted_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
boosted AS (
  SELECT s.query_id, s.doc_id,
         s.s * (CASE WHEN d.lang = 'en' THEN 1.5 ELSE 0.75 END) AS s
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM boosted)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)

    # fuzzy expansion is brute-force levenshtein here (the oracle shape);
    # the Spark default is the SymSpell deletes equi-join, which produces
    # the identical match set because candidates are a superset and both
    # paths verify exact levenshtein <= max_edits (pytest-pinned)
    _fqvals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in FUZZY_QUERY_SET)
    sql["fuzzy_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
fq(query_id, query_text) AS (VALUES {_fqvals}),
fqt AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS qterm FROM fq),
expanded0 AS (
  SELECT fqt.query_id, ts.term,
         max(greatest(0.0, 1.0 - levenshtein(ts.term, fqt.qterm)::DOUBLE
                   / least(length(ts.term), length(fqt.qterm)))) AS boost,
         max(ts.df) AS df
  FROM fqt JOIN ts ON levenshtein(ts.term, fqt.qterm) <= {FUZZY_MAX_EDITS}
  GROUP BY 1, 2),
expanded AS (SELECT * FROM expanded0 WHERE boost > 0),
scored AS (
  SELECT e.query_id, p.doc_id,
         sum( e.boost * ln((cs.n_docs - e.df + 0.5) / (e.df + 0.5) + 1.0)
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cs.avgdl)) ) AS s
  FROM expanded e JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["fuzzy_bm25_topk_indexed"] = sql["fuzzy_bm25_topk"]

    _wqvals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in WILDCARD_QUERY_SET)
    sql["wildcard_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
wq(query_id, query_text) AS (VALUES {_wqvals}),
pats AS (SELECT DISTINCT query_id, translate(unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9*?]+'), x -> x <> '')),
  '*?', '%_') AS pat FROM wq),
expanded AS (
  SELECT DISTINCT p.query_id, ts.term, ts.df
  FROM pats p JOIN ts ON ts.term LIKE p.pat),
scored AS (
  SELECT e.query_id, p.doc_id,
         sum( ln((cs.n_docs - e.df + 0.5) / (e.df + 0.5) + 1.0)
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cs.avgdl)) ) AS s
  FROM expanded e JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["wildcard_bm25_topk_indexed"] = sql["wildcard_bm25_topk"]
    # k-gram expansion is LIKE-verified -> identical match semantics
    sql["wildcard_bm25_topk_kgram"] = sql["wildcard_bm25_topk"]

    _synvals = ", ".join(f"('{t}', '{g}')" for t, g in SYNONYM_SET)
    sql["synonym_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
syn(term, grp) AS (VALUES {_synvals}),
qg AS (
  SELECT qt.query_id,
         coalesce('g:' || s.grp, 't:' || qt.term) AS gkey, qt.term
  FROM qterms qt LEFT JOIN syn s USING (term)),
qgroups AS (SELECT DISTINCT query_id, gkey FROM qg),
allmem AS (
  SELECT 'g:' || grp AS gkey, term FROM syn
  UNION
  SELECT DISTINCT gkey, term FROM qg WHERE gkey LIKE 't:%'),
members AS (
  SELECT DISTINCT g.query_id, g.gkey, m.term
  FROM qgroups g JOIN allmem m USING (gkey)),
dfg AS (
  SELECT m.query_id, m.gkey, max(ts.df) AS df
  FROM members m JOIN ts USING (term) GROUP BY 1, 2),
tfg AS (
  SELECT m.query_id, m.gkey, p.doc_id, sum(p.tf) AS tf
  FROM members m JOIN post p USING (term) GROUP BY 1, 2, 3),
scored AS (
  SELECT t.query_id, t.doc_id,
         sum( ln((cs.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
              * t.tf * {K1 + 1.0}
              / (t.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cs.avgdl)) ) AS s
  FROM tfg t
  JOIN dfg d ON d.query_id = t.query_id AND d.gkey = t.gkey
  JOIN dl ON t.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["synonym_bm25_topk_indexed"] = sql["synonym_bm25_topk"]

    sql["lm_dirichlet_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_QT},
ctotal AS (SELECT sum(dl)::BIGINT AS total FROM dl),
hits AS (
  SELECT qt.query_id, p.term, p.doc_id, p.tf,
         sum(p.tf) OVER (PARTITION BY qt.query_id, p.term) AS cf
  FROM qterms qt JOIN post p USING (term)),
scored AS (
  SELECT h.query_id, h.doc_id,
         sum(greatest(0.0,
             ln(1.0 + h.tf / ({LMD_MU} * (h.cf::DOUBLE / t.total)))
             + ln({LMD_MU} / (dl.dl + {LMD_MU})))) AS s
  FROM hits h JOIN dl ON h.doc_id = dl.doc_id CROSS JOIN ctotal t
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["lm_dirichlet_topk_indexed"] = sql["lm_dirichlet_topk"]
    sql["boosted_bm25_topk_indexed"] = sql["boosted_bm25_topk"]

    sql["suggest_terms"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_TS},
fq(query_id, query_text) AS (VALUES {_fqvals}),
fqt AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS qterm FROM fq),
cand AS (
  SELECT fqt.query_id, fqt.qterm, ts.term, ts.df,
         greatest(0.0, 1.0 - levenshtein(ts.term, fqt.qterm)::DOUBLE
                  / least(length(ts.term), length(fqt.qterm))) AS boost_raw
  FROM fqt JOIN ts ON levenshtein(ts.term, fqt.qterm) <= {SUGGEST_MAX_EDITS}
  WHERE ts.term <> fqt.qterm),
ranked AS (
  SELECT query_id, qterm, term AS suggestion,
         round(boost_raw, 6) AS boost, df,
         row_number() OVER (PARTITION BY query_id, qterm
                            ORDER BY round(boost_raw, 6) DESC, df DESC,
                                     term ASC)::INT AS rank
  FROM cand WHERE boost_raw > 0)
SELECT query_id, qterm, rank, suggestion, boost, df
FROM ranked WHERE rank <= {SUGGEST_N}
"""

    # did-you-mean: per-position token stream, OOV tokens corrected to the
    # best in-vocab neighbour (boost desc, df desc, term asc), rejoined in
    # original order; unranked raw-boost ordering (no 6dp rounding) matches
    # the Spark side, which ranks the identical IEEE doubles
    sql["did_you_mean"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_TS},
fq(query_id, query_text) AS (VALUES {_fqvals}),
qtl AS (SELECT query_id, list_filter(regexp_split_to_array(lower(query_text),
  '[^a-z0-9]+'), x -> x <> '') AS tl FROM fq),
ptoks AS (SELECT query_id, i - 1 AS pos, tl[i] AS qterm
          FROM (SELECT query_id, tl, unnest(generate_series(1, len(tl))) AS i
                FROM qtl)),
oov AS (SELECT DISTINCT query_id, qterm FROM ptoks
        WHERE qterm NOT IN (SELECT term FROM ts)),
cand AS (
  SELECT oov.query_id, oov.qterm, ts.term, ts.df,
         greatest(0.0, 1.0 - levenshtein(ts.term, oov.qterm)::DOUBLE
                  / least(length(ts.term), length(oov.qterm))) AS boost
  FROM oov JOIN ts ON levenshtein(ts.term, oov.qterm) <= {FUZZY_MAX_EDITS}),
best AS (
  SELECT query_id, qterm, term FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id, qterm
                                 ORDER BY boost DESC, df DESC, term ASC) AS rn
    FROM cand WHERE boost > 0) WHERE rn = 1),
corr AS (
  SELECT p.query_id, p.pos, coalesce(b.term, p.qterm) AS ct,
         CASE WHEN b.term IS NOT NULL THEN 1 ELSE 0 END AS ch
  FROM ptoks p LEFT JOIN best b
    ON b.query_id = p.query_id AND b.qterm = p.qterm)
SELECT query_id, string_agg(ct, ' ' ORDER BY pos) AS suggestion,
       sum(ch)::BIGINT AS n_changed
FROM corr GROUP BY 1
"""

    sql["phrase_suggest"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_TS},
fq(query_id, query_text) AS (VALUES {_fqvals}),
qtl AS (SELECT query_id, list_filter(regexp_split_to_array(lower(query_text),
  '[^a-z0-9]+'), x -> x <> '') AS tl FROM fq),
ptoks AS (SELECT query_id, i - 1 AS pos, tl[i] AS qterm
          FROM (SELECT query_id, tl, unnest(generate_series(1, len(tl))) AS i
                FROM qtl)),
ctx AS (SELECT query_id, pos, qterm,
               lag(qterm) OVER (PARTITION BY query_id ORDER BY pos) AS lft,
               lead(qterm) OVER (PARTITION BY query_id ORDER BY pos) AS rgt
        FROM ptoks),
qt AS (SELECT DISTINCT query_id, qterm FROM ptoks),
cand AS (
  SELECT * FROM (
    SELECT qt.query_id, qt.qterm, ts.term, ts.df,
           greatest(0.0, 1.0 - levenshtein(ts.term, qt.qterm)::DOUBLE
                    / least(length(ts.term), length(qt.qterm))) AS boost
    FROM qt JOIN ts ON levenshtein(ts.term, qt.qterm) <= {FUZZY_MAX_EDITS})
  WHERE boost > 0),
bgq AS (SELECT tl[i] AS w1, tl[i + 1] AS w2
        FROM (SELECT tl, unnest(generate_series(1, len(tl) - 1)) AS i
              FROM tldocs)),
c2q AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bgq GROUP BY 1, 2),
pc AS (SELECT ctx.query_id, ctx.pos, ctx.qterm, ctx.lft, ctx.rgt,
              cand.term, cand.df, cand.boost
       FROM ctx LEFT JOIN cand
         ON cand.query_id = ctx.query_id AND cand.qterm = ctx.qterm),
sc AS (SELECT pc.*, coalesce(l.c2, 0) + coalesce(r.c2, 0) AS sup
       FROM pc LEFT JOIN c2q l ON l.w1 = pc.lft AND l.w2 = pc.term
               LEFT JOIN c2q r ON r.w1 = pc.term AND r.w2 = pc.rgt),
best AS (SELECT query_id, pos, coalesce(term, qterm) AS ct,
                CASE WHEN coalesce(term, qterm) <> qterm THEN 1 ELSE 0 END AS ch
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id, pos
                 ORDER BY sup DESC, boost DESC, df DESC, term ASC) AS rn
               FROM sc) WHERE rn = 1)
SELECT query_id, string_agg(ct, ' ' ORDER BY pos) AS suggestion,
       sum(ch)::BIGINT AS n_changed
FROM best GROUP BY 1
"""

    # parsed query language: the oracle evaluates the SAME clause table the
    # Spark path compiles (parse_query is deterministic driver-side python,
    # pytest-verified); this gate entry verifies the EVALUATION semantics
    from igd_spark.queryparse import parse_query

    _clvals = ", ".join(
        f"({qi}::BIGINT, {ci}::BIGINT, '{c.occur}', '{c.kind}', '{c.text}', "
        f"{c.max_edits}::BIGINT)"
        for qi, qs in PARSED_QUERY_SET
        for ci, c in enumerate(parse_query(qs))
    )
    _parsed_core = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
cl(query_id, clause_id, occur, kind, txt, max_edits) AS (VALUES {_clvals}),
t_term AS (
  SELECT query_id, clause_id, occur, kind,
         unnest(list_distinct(list_filter(
           regexp_split_to_array(txt, ' '), x -> x <> ''))) AS term,
         1.0 AS wmul
  FROM cl WHERE kind IN ('term', 'phrase')),
t_pw AS (
  SELECT c.query_id, c.clause_id, c.occur, c.kind, ts.term, 1.0 AS wmul
  FROM cl c JOIN ts ON ts.term LIKE
       (CASE WHEN c.kind = 'prefix' THEN c.txt || '%'
             ELSE translate(c.txt, '*?', '%_') END)
  WHERE c.kind IN ('prefix', 'wildcard')),
t_fz AS (
  SELECT * FROM (
    SELECT c.query_id, c.clause_id, c.occur, c.kind, ts.term,
           greatest(0.0, 1.0 - levenshtein(ts.term, c.txt)::DOUBLE
                    / least(length(ts.term), length(c.txt))) AS wmul
    FROM cl c JOIN ts ON levenshtein(ts.term, c.txt) <= c.max_edits
    WHERE c.kind = 'fuzzy') WHERE wmul > 0),
allt AS (SELECT * FROM t_term UNION ALL SELECT * FROM t_pw
         UNION ALL SELECT * FROM t_fz),
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
pt AS (SELECT query_id, clause_id, i - 1 AS "offset", w[i] AS term
       FROM (SELECT query_id, clause_id,
                    list_filter(regexp_split_to_array(txt, ' '), x -> x <> '') AS w,
                    unnest(generate_series(1, len(list_filter(
                      regexp_split_to_array(txt, ' '), x -> x <> '')))) AS i
             FROM cl WHERE kind = 'phrase')),
plen AS (SELECT query_id, clause_id, count(*) AS plen FROM pt GROUP BY 1, 2),
phj AS (SELECT pt.query_id, pt.clause_id, pp.doc_id, pp.pos - pt."offset" AS anchor
        FROM pp JOIN pt USING (term)),
phh AS (SELECT query_id, clause_id, doc_id, anchor, count(*) AS c
        FROM phj GROUP BY 1, 2, 3, 4),
ph_hits AS (SELECT DISTINCT h.query_id, h.clause_id, h.doc_id
            FROM phh h JOIN plen USING (query_id, clause_id)
            WHERE h.c = plen.plen AND h.anchor >= 0),
joined AS (
  SELECT a.query_id, a.clause_id, a.occur, a.kind, p.doc_id,
         a.wmul * ln((cs.n_docs - ts.df + 0.5) / (ts.df + 0.5) + 1.0)
         * p.tf * {K1 + 1.0}
         / (p.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cs.avgdl)) AS w
  FROM allt a JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs),
contrib AS (
  SELECT j.* FROM joined j
  WHERE j.kind <> 'phrase'
     OR EXISTS (SELECT 1 FROM ph_hits h
                WHERE h.query_id = j.query_id AND h.clause_id = j.clause_id
                  AND h.doc_id = j.doc_id)),
banned AS (SELECT DISTINCT query_id, doc_id FROM contrib WHERE occur = 'must_not'),
nmust AS (SELECT query_id, count(DISTINCT clause_id) AS n FROM cl
          WHERE occur = 'must' GROUP BY 1),
scored AS (
  SELECT query_id, doc_id, sum(w) AS s,
         count(DISTINCT CASE WHEN occur = 'must' THEN clause_id END) AS nmm
  FROM contrib WHERE occur <> 'must_not' GROUP BY 1, 2),
hits AS (
  SELECT s.query_id, s.doc_id, s.s FROM scored s
  LEFT JOIN nmust n USING (query_id)
  WHERE s.nmm = coalesce(n.n, 0)
    AND NOT EXISTS (SELECT 1 FROM banned b
                    WHERE b.query_id = s.query_id AND b.doc_id = s.doc_id))
"""
    sql["parsed_bm25_topk"] = _parsed_core + f""",
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM hits)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["parsed_bm25_topk_indexed"] = sql["parsed_bm25_topk"]

    # analyzer entry: the tl CTE applies the stopword/min-length filter, so
    # dl (and therefore avgdl / norms) counts only indexed tokens — the
    # Lucene norm convention the Spark analyzer mirrors.  Query terms stay
    # unfiltered on BOTH sides: an analyzed-away term has no postings, so
    # it contributes nothing either way.
    _sw = ", ".join(f"'{s}'" for s in STOPWORDS)
    _TL_SW = (
        "tldocs AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
        f"'[^a-z0-9]+'), x -> x <> '' AND length(x) >= {MIN_TOKEN_LEN} "
        f"AND x NOT IN ({_sw})) AS tl FROM documents)"
    )
    sql["bm25_topk_stopwords"] = _bm25_sql(tl=_TL_SW)  # shared body, one copy

    # hybrid RRF: the two sub-rankings reuse their own entries' exact rank
    # protocols (bm25 round-then-rank; cosine rounded-cos desc, vec_id asc),
    # then fuse rank-only — no score calibration across scorers
    sql["hybrid_rrf"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored),
lexk AS (SELECT query_id, doc_id, rank FROM lex WHERE rank <= {K}),
eq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
       WHERE vec_id < {N_EMB_QUERIES}),
ee AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
vs AS (SELECT query_id, vec_id, {_EMB_COS} AS cos FROM eq CROSS JOIN ee),
vr AS (SELECT query_id, vec_id AS doc_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, vec_id ASC)::INT AS rank
       FROM vs),
vk AS (SELECT query_id, doc_id, rank FROM vr WHERE rank <= {K}),
fused AS (
  SELECT query_id, doc_id, round(sum(1.0 / (60.0 + rank)), 6) AS score
  FROM (SELECT * FROM lexk UNION ALL SELECT * FROM vk)
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM fused)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)

    sql["hybrid_linear"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
lex AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored),
lexk AS (SELECT query_id, doc_id, score FROM lex WHERE rank <= {K}),
eq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
       WHERE vec_id < {N_EMB_QUERIES}),
ee AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
vs AS (SELECT query_id, vec_id, {_EMB_COS} AS cos FROM eq CROSS JOIN ee),
vr AS (SELECT query_id, vec_id AS doc_id, cos AS score,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, vec_id ASC)::INT AS rank
       FROM vs),
vk AS (SELECT query_id, doc_id, score FROM vr WHERE rank <= {K}),
norm AS (
  SELECT query_id, doc_id, wt * (CASE
           WHEN max(score) OVER (PARTITION BY query_id, wt)
              = min(score) OVER (PARTITION BY query_id, wt) THEN 1.0
           ELSE (score - min(score) OVER (PARTITION BY query_id, wt))
              / (max(score) OVER (PARTITION BY query_id, wt)
               - min(score) OVER (PARTITION BY query_id, wt)) END) AS c
  FROM (SELECT query_id, doc_id, score, {HYBRID_W_LEX} AS wt FROM lexk
        UNION ALL
        SELECT query_id, doc_id, score, {HYBRID_W_VEC} AS wt FROM vk)),
fused AS (
  SELECT query_id, doc_id, round(sum(c), 6) AS score
  FROM norm GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM fused)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)

    sql["embedding_l2_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id < {N_EMB_QUERIES}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
s AS (SELECT query_id, vec_id,
             round(1.0 / (1.0 + greatest(0.0,
                 list_dot_product(qv, qv) + list_dot_product(ev, ev)
                 - 2.0 * list_dot_product(qv, ev))), 6) AS score
      FROM q CROSS JOIN e),
r AS (SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id ASC)::INT AS rank
      FROM s)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {K}
"""

    sql["embedding_mip_topk"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id < {N_EMB_QUERIES}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
d AS (SELECT query_id, vec_id, list_dot_product(qv, ev) AS dp
      FROM q CROSS JOIN e),
s AS (SELECT query_id, vec_id,
             round(CASE WHEN dp < 0 THEN 1.0 / (1.0 - dp)
                        ELSE dp + 1.0 END, 6) AS score
      FROM d),
r AS (SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id ASC)::INT AS rank
      FROM s)
SELECT query_id, rank, vec_id, score FROM r WHERE rank <= {K}
"""

    sql["explain_scores"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}
SELECT qt.query_id, p.doc_id, p.term, p.tf, dl.dl, ts.df,
       round(ln((cs.n_docs - ts.df + 0.5) / (ts.df + 0.5) + 1.0), 6) AS idf,
       round({{_W}}, 6) AS weight
FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
""".replace("{_W}", _W)
    # percolation = the same eligible set, unranked (reverse-search shape)
    sql["percolate"] = (
        _parsed_core
        + "\nSELECT query_id, doc_id, round(s, 6) AS score FROM hits\n"
    )

    sql["percolate_compiled"] = sql["percolate"]

    sql["facet_counts"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
fc AS (
  SELECT s.query_id, d."{FACET_COL}" AS facet,
         count(*)::BIGINT AS n_docs, round(sum(s.s), 6) AS score
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, facet, n_docs, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_docs DESC, facet ASC)::INT AS rank
  FROM fc)
SELECT query_id, rank, facet, n_docs, score FROM ranked WHERE rank <= {FACET_K}
""".replace("{_W}", _W)
    sql["facet_counts_indexed"] = sql["facet_counts"]

    # ---- ES aggregation family (aggs.py) — shared match-set CTE ----
    _SCORED = (
        "scored AS ("
        "  SELECT qt.query_id, p.doc_id, sum({_W}) AS s"
        "  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)"
        "  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs"
        "  GROUP BY 1, 2)"
    ).replace("{_W}", _W)

    sql["stats_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL)
SELECT s.query_id, count(v)::BIGINT AS n_docs,
       round(min(v), 6) AS min_v, round(max(v), 6) AS max_v,
       round(sum(v), 6) AS sum_v, round(avg(v), 6) AS avg_v
FROM scored s JOIN vals USING (doc_id) GROUP BY 1
"""

    sql["histogram_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL)
SELECT s.query_id, (floor(v / {HIST_INTERVAL}) * {HIST_INTERVAL})::DOUBLE AS bucket,
       count(*)::BIGINT AS n_docs
FROM scored s JOIN vals USING (doc_id) GROUP BY 1, 2
"""

    sql["cardinality_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED}
SELECT s.query_id, count(DISTINCT d."{CARD_FIELD}")::BIGINT AS cardinality
FROM scored s JOIN documents d USING (doc_id)
WHERE d."{CARD_FIELD}" IS NOT NULL
GROUP BY 1
"""

    # PII redaction: the SAME injected text, the SAME sequential
    # count-then-replace chain (each pattern over the previous stage's
    # output); patterns live in the Java∩RE2 shared subset
    from igd_spark.trainprep import PII_PATTERNS as _PII

    _pii_chain = [
        "inj AS (SELECT doc_id, coalesce(text, '') || ' contact a' || doc_id"
        " || '@ex.com ip 10.0.' || (doc_id % 256)"
        " || '.7 ssn 123-45-6789 tel 555-867-5309' AS t FROM documents)"
    ]
    _prev = "inj"
    for _i, (_n, _pat, _tag) in enumerate(_PII):
        _pii_chain.append(
            f"s{_i} AS (SELECT doc_id,"
            f" len(regexp_extract_all(t, '{_pat}'))::BIGINT AS c{_i},"
            f" regexp_replace(t, '{_pat}', '{_tag}', 'g') AS t"
            f"{''.join(f', c{_j}' for _j in range(_i))}"
            f" FROM {_prev})"
        )
        _prev = f"s{_i}"
    _pii_sum = " + ".join(f"c{_i}" for _i in range(len(_PII)))
    sql["redact_pii"] = (
        "WITH " + ",\n".join(_pii_chain)
        + f"\nSELECT doc_id, t AS clean_text, ({_pii_sum})::BIGINT AS n_redacted"
        + f" FROM {_prev}\n"
    )

    # the _count API: match-set size per query
    sql["match_count"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED}
SELECT query_id, count(*)::BIGINT AS n_matched FROM scored GROUP BY 1
"""
    sql["match_count_indexed"] = sql["match_count"]

    # sort clause: match set ordered by a document field (desc, doc_id asc)
    sql["sort_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}" AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL),
ranked AS (
  SELECT s.query_id, s.doc_id, vals.v,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY vals.v DESC, s.doc_id ASC)::INT AS rank
  FROM scored s JOIN vals USING (doc_id))
SELECT query_id, rank, doc_id, v AS sort_value FROM ranked WHERE rank <= {K}
"""
    sql["sort_topk_indexed"] = sql["sort_topk"]

    # percentiles agg (exact path == ANSI percentile_cont): one aggregate
    # per requested percentile, long-format output
    _pct_parts = " UNION ALL ".join(
        f"SELECT query_id, {p}::DOUBLE AS pct, "
        f"round(quantile_cont(v, {p / 100.0}), 6)::DOUBLE AS value "
        f"FROM sv GROUP BY query_id"
        for p in PCT_LIST
    )
    sql["percentiles_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL),
sv AS (SELECT s.query_id, v FROM scored s JOIN vals USING (doc_id))
{_pct_parts}
"""

    # date_histogram (calendar day) over the synthetic deterministic ts;
    # DuckDB's date_trunc('day') yields DATE, so cast back to TIMESTAMP to
    # match Spark's timestamp bucket
    sql["date_histogram_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
tsv AS (SELECT doc_id, TIMESTAMP '2026-01-01 00:00:00'
               + (doc_id % {DH_HOUR_MOD}) * INTERVAL 1 HOUR AS ts
        FROM documents)
SELECT s.query_id, date_trunc('{DH_INTERVAL}', tsv.ts)::TIMESTAMP AS bucket,
       count(*)::BIGINT AS n_docs
FROM scored s JOIN tsv USING (doc_id) GROUP BY 1, 2
"""

    # auto_date_histogram: per-query finest-fitting calendar interval
    # (hour→year ladder, estimated buckets = span/interval < target), then
    # the date_histogram at that interval
    sql["auto_date_histogram_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
tsv AS (SELECT doc_id, TIMESTAMP '2026-01-01 00:00:00'
               + (doc_id % {DH_HOUR_MOD}) * INTERVAL 1 HOUR AS ts
        FROM documents),
sp AS (SELECT s.query_id, epoch(max(tsv.ts) - min(tsv.ts))::DOUBLE AS span
       FROM scored s JOIN tsv USING (doc_id) GROUP BY 1),
iv AS (SELECT query_id,
  CASE WHEN span / 3600.0 < {AUTODH_TARGET} THEN 'hour'
       WHEN span / 86400.0 < {AUTODH_TARGET} THEN 'day'
       WHEN span / 604800.0 < {AUTODH_TARGET} THEN 'week'
       WHEN span / 2592000.0 < {AUTODH_TARGET} THEN 'month'
       WHEN span / 7862400.0 < {AUTODH_TARGET} THEN 'quarter'
       ELSE 'year' END AS interval
  FROM sp)
SELECT s.query_id, iv.interval,
       (CASE iv.interval
          WHEN 'hour' THEN date_trunc('hour', tsv.ts)
          WHEN 'day' THEN date_trunc('day', tsv.ts)
          WHEN 'week' THEN date_trunc('week', tsv.ts)
          WHEN 'month' THEN date_trunc('month', tsv.ts)
          WHEN 'quarter' THEN date_trunc('quarter', tsv.ts)
          ELSE date_trunc('year', tsv.ts) END)::TIMESTAMP AS bucket,
       count(*)::BIGINT AS n_docs
FROM scored s JOIN tsv USING (doc_id) JOIN iv USING (query_id)
GROUP BY 1, 2, 3
"""
    sql["auto_date_histogram_agg_indexed"] = sql["auto_date_histogram_agg"]

    # pipeline aggs: window functions over the date_histogram parent series
    _dh_sub = f"({sql['date_histogram_agg']})"
    _w = "PARTITION BY query_id ORDER BY bucket"
    sql["derivative_agg"] = f"""
SELECT query_id, bucket, n_docs,
       n_docs::DOUBLE - lag(n_docs::DOUBLE) OVER ({_w}) AS derivative
FROM {_dh_sub} dh
"""
    sql["derivative_agg_indexed"] = sql["derivative_agg"]
    sql["cumulative_sum_agg"] = f"""
SELECT query_id, bucket, n_docs,
       sum(n_docs::DOUBLE) OVER ({_w}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumulative
FROM {_dh_sub} dh
"""
    sql["moving_fn_agg"] = f"""
SELECT query_id, bucket, n_docs,
       avg(n_docs::DOUBLE) OVER ({_w}
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS moving_avg
FROM {_dh_sub} dh
"""
    sql["serial_diff_agg"] = f"""
SELECT query_id, bucket, n_docs,
       n_docs::DOUBLE - lag(n_docs::DOUBLE, 2) OVER ({_w}) AS serial_diff
FROM {_dh_sub} dh
"""
    sql["bucket_selector_agg"] = f"""
SELECT query_id, bucket, n_docs FROM {_dh_sub} dh
WHERE n_docs >= {BSEL_MIN_DOCS}
"""
    sql["bucket_sort_agg"] = f"""
WITH ranked AS (
  SELECT query_id, bucket, n_docs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_docs DESC, bucket ASC)::INT AS pos
  FROM {_dh_sub} dh)
SELECT query_id, bucket, n_docs, pos FROM ranked WHERE pos <= {BSORT_SIZE}
"""
    # change_point: Welch t-scan over the day series; the metric is an
    # integer count, so the windowed sums are exact in double and every
    # derived IEEE expression matches Spark's bit-for-bit
    sql["change_point_agg"] = f"""
WITH dh AS ({_dh_sub}),
b AS (
  SELECT query_id, bucket, n_docs::DOUBLE AS v,
         row_number() OVER ({_w})::DOUBLE AS k,
         sum(n_docs::DOUBLE) OVER ({_w}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1,
         sum(n_docs::DOUBLE * n_docs::DOUBLE) OVER ({_w}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2,
         count(*) OVER (PARTITION BY query_id)::DOUBLE AS n,
         sum(n_docs::DOUBLE) OVER (PARTITION BY query_id) AS t1,
         sum(n_docs::DOUBLE * n_docs::DOUBLE) OVER (PARTITION BY query_id) AS t2,
         lead(bucket) OVER ({_w}) AS nxt
  FROM dh),
sc AS (
  SELECT query_id, nxt, bucket,
         s1 / k AS mp, (t1 - s1) / (n - k) AS ms,
         abs(s1 / k - (t1 - s1) / (n - k))
           / sqrt( (s2 / k - (s1 / k) * (s1 / k)) / k
                 + ((t2 - s2) / (n - k)
                    - ((t1 - s1) / (n - k)) * ((t1 - s1) / (n - k))) / (n - k)
                 + 1e-9 ) AS t
  FROM b WHERE k >= 2 AND n - k >= 2),
r AS (
  SELECT query_id, nxt AS change_bucket, round(t, 6) AS score,
         CASE WHEN ms > mp THEN 'increase'
              WHEN ms < mp THEN 'decrease'
              ELSE 'stationary' END AS direction,
         row_number() OVER (PARTITION BY query_id ORDER BY t DESC, bucket ASC) AS rn
  FROM sc)
SELECT query_id, change_bucket, score, direction FROM r WHERE rn = 1
"""
    sql["change_point_agg_indexed"] = sql["change_point_agg"]

    # unigram perplexity under the corpus MLE LM
    sql["unigram_perplexity"] = f"""
WITH {_TL}, {_TOKS}, {_POST},
cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM post GROUP BY 1),
tot AS (SELECT sum(cf)::DOUBLE AS total FROM cf)
SELECT p.doc_id, sum(p.tf)::BIGINT AS n_tokens,
       round(exp(-sum(p.tf * ln(cf.cf / tot.total)) / sum(p.tf)), 6)::DOUBLE AS ppl
FROM post p JOIN cf USING (term) CROSS JOIN tot
GROUP BY 1
"""

    # ClassicSimilarity TF-IDF: sqrt(tf) · (1+ln(N/(df+1)))² / sqrt(dl)
    sql["tfidf_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id,
         sum( sqrt(p.tf) * pow(1.0 + ln(cs.n_docs / (ts.df + 1.0)), 2)
              / sqrt(dl.dl) ) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["tfidf_topk_indexed"] = sql["tfidf_topk"]

    # LM Jelinek-Mercer: ln(1 + ((1-λ)·tf/dl) / (λ·cf/total))
    sql["lm_jm_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
cf AS (SELECT term, sum(tf)::DOUBLE AS cf FROM post GROUP BY 1),
tot AS (SELECT sum(dl)::DOUBLE AS total FROM dl),
scored AS (
  SELECT qt.query_id, p.doc_id,
         sum( ln(1.0 + (({1.0 - LMJM_LAMBDA}) * p.tf / dl.dl)
                        / ({LMJM_LAMBDA} * cf.cf / tot.total)) ) AS s
  FROM qterms qt JOIN post p USING (term) JOIN cf USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN tot
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["lm_jm_topk_indexed"] = sql["lm_jm_topk"]

    # DFI (standardized): e = (cf+1)·dl/(total+1); contrib log2(1+(tf−e)/√e)
    # only when tf > e.  Same 1/ln2 literal as the Spark plan.
    sql["dfi_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_QT},
cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM post GROUP BY 1),
tot AS (SELECT sum(dl)::BIGINT AS total FROM dl),
hits AS (
  SELECT qt.query_id, p.doc_id, p.tf,
         (cf.cf + 1.0) * dl.dl / (tot.total + 1) AS e
  FROM qterms qt JOIN post p USING (term) JOIN cf USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN tot),
scored AS (
  SELECT query_id, doc_id,
         sum(CASE WHEN tf > e
             THEN {INV_LN2!r} * ln(1.0 + (tf - e) / sqrt(e))
             ELSE 0.0 END) AS s
  FROM hits GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["dfi_topk_indexed"] = sql["dfi_topk"]

    # DFR PL2: tfn = tf·log2(1 + c·avgdl/dl), λ = cf/N, per-term weight
    # (tfn·log2(tfn/λ) + (λ−tfn)·log2(e) + ½log2(2π·tfn)) / (tfn+1), clamped ≥0
    sql["dfr_pl2_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_QT},
cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM post GROUP BY 1),
hits AS (
  SELECT qt.query_id, p.doc_id,
         p.tf * {INV_LN2!r} * ln(1.0 + {DFR_C!r} * cs.avgdl / dl.dl) AS tfn,
         cf.cf / cs.n_docs AS lam
  FROM qterms qt JOIN post p USING (term) JOIN cf USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs),
scored AS (
  SELECT query_id, doc_id,
         sum(greatest(0.0,
             {INV_LN2!r} * (tfn * ln(tfn / lam) + (lam - tfn)
                            + 0.5 * ln({TWO_PI!r} * tfn)) / (tfn + 1.0))) AS s
  FROM hits GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["dfr_pl2_topk_indexed"] = sql["dfr_pl2_topk"]

    # IB log-logistic: λ = (df+1)/(N+1), contrib = log2(1 + tfn/λ)
    sql["ib_ll_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
hits AS (
  SELECT qt.query_id, p.doc_id,
         p.tf * {INV_LN2!r} * ln(1.0 + {DFR_C!r} * cs.avgdl / dl.dl) AS tfn,
         (ts.df + 1.0) / (cs.n_docs + 1) AS lam
  FROM qterms qt JOIN post p USING (term) JOIN ts USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs),
scored AS (
  SELECT query_id, doc_id, sum({INV_LN2!r} * ln(1.0 + tfn / lam)) AS s
  FROM hits GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["ib_ll_topk_indexed"] = sql["ib_ll_topk"]

    # BM25+ / BM25L (Lv & Zhai 2011): lower-bounded tf saturation over the
    # engine's own idf; tfn = tf/(1−b+b·dl/avgdl), k1/b BASELINE-fixed
    _BM25V_IDF = (
        "ln((cs.n_docs - ts.df + 0.5) / (ts.df + 0.5) + 1.0)"
    )
    _BM25V_TFN = (
        f"p.tf / ({1.0 - BM25_B!r} + {BM25_B!r} * dl.dl / cs.avgdl)"
    )
    for _bv, _bexpr in (
        ("plus", f"({BM25_K1 + 1.0!r} * tfn / ({BM25_K1!r} + tfn) + {BM25P_DELTA!r})"),
        ("l", f"({BM25_K1 + 1.0!r} * (tfn + {BM25L_DELTA!r}) / ({BM25_K1!r} + tfn + {BM25L_DELTA!r}))"),
    ):
        sql[f"bm25_{_bv}_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
hits AS (
  SELECT qt.query_id, p.doc_id,
         {_BM25V_IDF} AS idf, {_BM25V_TFN} AS tfn
  FROM qterms qt JOIN post p USING (term) JOIN ts USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs),
scored AS (
  SELECT query_id, doc_id, sum(idf * {_bexpr}) AS s
  FROM hits GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
        sql[f"bm25_{_bv}_topk_indexed"] = sql[f"bm25_{_bv}_topk"]

    # Axiomatic F2 (Fang & Zhai 2005): tf/(tf + s + s·dl/avgdl) · growth,
    # growth = ((N+1)/df)^k for F2EXP, ln((N+1)/df) for F2LOG
    _AX_TFPART = (
        f"p.tf / (p.tf + {AX_S!r} + {AX_S!r} * dl.dl / cs.avgdl)"
    )
    for _axv, _axgrowth in (
        ("f2exp", f"pow((cs.n_docs + 1) / ts.df, {AX_K!r})"),
        ("f2log", "ln((cs.n_docs + 1) / ts.df)"),
    ):
        sql[f"axiomatic_{_axv}_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id,
         sum({_AX_TFPART} * {_axgrowth}) AS s
  FROM qterms qt JOIN post p USING (term) JOIN ts USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
        sql[f"axiomatic_{_axv}_topk_indexed"] = sql[f"axiomatic_{_axv}_topk"]

    # rare_terms: long-tail source values over the match set
    sql["rare_terms_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, source AS value FROM documents WHERE source IS NOT NULL)
SELECT s.query_id, value, count(*)::BIGINT AS n_docs
FROM scored s JOIN vals USING (doc_id)
GROUP BY 1, 2 HAVING count(*) <= {RARE_MAX_DC}
"""
    sql["rare_terms_agg_indexed"] = sql["rare_terms_agg"]

    # multi_terms: (lang, source) tuple buckets, count-desc/value-asc top-8
    sql["multi_terms_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
g AS (
  SELECT s.query_id, d.lang, d.source, count(*)::BIGINT AS n_docs
  FROM scored s JOIN documents d USING (doc_id)
  WHERE d.lang IS NOT NULL AND d.source IS NOT NULL
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT query_id, lang, source, n_docs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_docs DESC, lang ASC, source ASC)::INT AS rank
  FROM g)
SELECT query_id, rank, lang, source, n_docs FROM ranked WHERE rank <= 8
"""
    sql["multi_terms_agg_indexed"] = sql["multi_terms_agg"]

    # weighted_avg over n_chars with the deterministic synthetic weight
    sql["weighted_avg_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED}
SELECT s.query_id,
       round(sum(d."{STATS_VALUE_COL}"::DOUBLE * ({WAVG_WEIGHT}))
             / sum(({WAVG_WEIGHT})::DOUBLE), 6) AS weighted_avg,
       count(*)::BIGINT AS n_docs
FROM scored s JOIN documents d USING (doc_id)
WHERE d."{STATS_VALUE_COL}" IS NOT NULL
GROUP BY 1
"""
    sql["weighted_avg_agg_indexed"] = sql["weighted_avg_agg"]

    # has_child: parents (conv = doc_id div TURNS_PER_CONV) ranked by the
    # max matching-child score, min_children bound BEFORE ranking; rounding
    # happens after the roll-up (the Spark epilogue's discipline)
    sql["has_child"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
par AS (
  SELECT query_id, doc_id // {TURNS_PER_CONV} AS parent_id,
         max(s) AS s, count(*)::BIGINT AS n_children
  FROM scored GROUP BY 1, 2
  HAVING count(*) >= {HC_MIN_CHILDREN}),
ranked AS (
  SELECT query_id, parent_id, n_children, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, parent_id ASC)::INT AS rank
  FROM par)
SELECT query_id, rank, parent_id, n_children, score
FROM ranked WHERE rank <= {K}
"""
    sql["has_child_indexed"] = sql["has_child"]

    # has_parent: parent docs are the first turns re-keyed by conv id, BM25
    # runs over the PARENT corpus only (its own dl/df/avgdl); children
    # inherit the parent's rounded score
    _PTL = (
        f"tldocs AS (SELECT doc_id // {TURNS_PER_CONV} AS doc_id, "
        "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
        "x -> x <> '') AS tl FROM documents "
        f"WHERE doc_id % {TURNS_PER_CONV} = 0)"
    )
    sql["has_parent"] = f"""
WITH {_PTL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
ch AS (SELECT doc_id, doc_id // {TURNS_PER_CONV} AS parent_id FROM documents),
j AS (
  SELECT s.query_id, ch.doc_id, ch.parent_id, round(s.s, 6) AS score
  FROM scored s JOIN ch ON ch.parent_id = s.doc_id),
ranked AS (
  SELECT query_id, doc_id, parent_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM j)
SELECT query_id, rank, doc_id, parent_id, score
FROM ranked WHERE rank <= {K}
"""
    sql["has_parent_indexed"] = sql["has_parent"]

    # minimum_should_match: the boolean scorer's distinct-match count with a
    # >= threshold instead of the AND equality
    sql["msm_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s,
         count(DISTINCT p.term)::BIGINT AS n_matched
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored WHERE n_matched >= {MSM_MIN})
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)

    # field collapsing: group-head window (score desc, doc_id asc) below the
    # rank window, rounding BEFORE both windows
    sql["collapse_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
keyed AS (
  SELECT s.query_id, s.doc_id, d."{COLLAPSE_COL}" AS ckey,
         round(s.s, 6) AS score
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
heads AS (
  SELECT query_id, doc_id, ckey, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id, ckey
                                 ORDER BY score DESC, doc_id ASC) AS gr
    FROM keyed) WHERE gr = 1),
ranked AS (
  SELECT query_id, doc_id, ckey, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM heads)
SELECT query_id, rank, doc_id, ckey, score FROM ranked WHERE rank <= {K}
"""

    # highlighter: the snippets plan with the fragment assembled from three
    # substrings + literal tags (pure position arithmetic in both engines)
    sql["highlight"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
topk AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
    FROM scored) WHERE rank <= {K}),
matches AS (
  SELECT DISTINCT qt.query_id, p.doc_id, p.term
  FROM qterms qt JOIN post p USING (term)),
cand AS (
  SELECT m.query_id, t.rank, m.doc_id, m.term,
         strpos(lower(d.text), m.term)::INT AS pos, d.text
  FROM matches m
  JOIN topk t ON t.query_id = m.query_id AND t.doc_id = m.doc_id
  JOIN documents d ON d.doc_id = m.doc_id),
first AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
                               ORDER BY pos ASC, term ASC) AS rn
  FROM cand)
SELECT query_id, rank, doc_id, term, pos,
       substr(text, greatest(1, pos - {SNIPPET_WIDTH}),
              pos - greatest(1, pos - {SNIPPET_WIDTH}))
       || '<em>' || substr(text, pos, len(term)) || '</em>'
       || substr(text, pos + len(term), {SNIPPET_WIDTH}) AS fragment
FROM first WHERE rn = 1
"""
    sql["highlight_indexed"] = sql["highlight"]

    # completion suggester: prefix LIKE-expansion against the vocabulary,
    # ranked (df desc, term asc)
    _cqvals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in COMPLETE_QUERY_SET)
    sql["complete_terms"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_TS},
cq(query_id, prefix) AS (VALUES {_cqvals})
SELECT query_id, rank, term, df FROM (
  SELECT c.query_id, ts.term, ts.df::BIGINT AS df,
         row_number() OVER (PARTITION BY c.query_id
                            ORDER BY ts.df DESC, ts.term ASC)::INT AS rank
  FROM cq c JOIN ts ON ts.term LIKE c.prefix || '%')
WHERE rank <= {COMPLETE_N}
"""

    # terms_enum: alphabetical prefix enumeration with per-query keyset
    # cursor (terms STRICTLY AFTER after_term); NULL cursor = from the start
    _tevals = ", ".join(
        f"({q}::BIGINT, '{p}', " + (f"'{a}')" if a is not None else "NULL)")
        for q, p, a in TE_QUERY_SET
    )
    sql["terms_enum"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_TS},
tq(query_id, prefix, after_term) AS (VALUES {_tevals})
SELECT query_id, rank, term FROM (
  SELECT t.query_id, ts.term,
         row_number() OVER (PARTITION BY t.query_id
                            ORDER BY ts.term ASC)::INT AS rank
  FROM tq t JOIN ts ON ts.term LIKE t.prefix || '%'
  WHERE t.after_term IS NULL OR ts.term > t.after_term)
WHERE rank <= {TE_SIZE}
"""
    sql["terms_enum_indexed"] = sql["terms_enum"]

    # field_caps: schema-reflection half is deterministic (documents parquet
    # schema); the data-dependent half is per-field non-NULL counts
    sql["field_caps"] = """
SELECT * FROM (
  SELECT 'doc_id' AS field, 'long' AS es_type, false AS searchable,
         true AS aggregatable, count(doc_id)::BIGINT AS non_null_count
  FROM documents
  UNION ALL SELECT 'lang', 'keyword', true, true, count(lang)::BIGINT FROM documents
  UNION ALL SELECT 'n_chars', 'long', false, true, count(n_chars)::BIGINT FROM documents
  UNION ALL SELECT 'source', 'keyword', true, true, count(source)::BIGINT FROM documents
  UNION ALL SELECT 'text', 'text', true, false, count(text)::BIGINT FROM documents
) ORDER BY field
"""

    # validate_query: the expected parse verdicts are hand-derived from the
    # documented grammar and pinned as literals — the oracle's job here is
    # regression-pinning the parser's contract, not re-deriving it
    sql["validate_query"] = """
SELECT * FROM (VALUES
  (0::BIGINT, true,  4::INT, 0::INT, NULL::VARCHAR),
  (1::BIGINT, true,  2::INT, 0::INT, NULL::VARCHAR),
  (2::BIGINT, true,  0::INT, 3::INT, NULL::VARCHAR),
  (3::BIGINT, true,  0::INT, 0::INT, NULL::VARCHAR),
  (4::BIGINT, false, 0::INT, 0::INT, 'query has 10001 clauses (max 10000)')
) AS t(query_id, valid, n_clauses, n_dropped, error)
"""

    sql["significant_terms"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
m AS (SELECT DISTINCT query_id, doc_id FROM scored),
sizes AS (SELECT query_id, count(*)::BIGINT AS subset_size FROM m GROUP BY 1),
fg AS (
  SELECT m.query_id, p.term, count(*)::BIGINT AS fg_df
  FROM m JOIN post p USING (doc_id)
  GROUP BY 1, 2 HAVING count(*) >= {SIGTERMS_MIN_FG}),
sig AS (
  SELECT fg.query_id, fg.term, fg.fg_df, ts.df,
         (fg.fg_df::DOUBLE / sz.subset_size - ts.df::DOUBLE / cs.n_docs)
         * ((fg.fg_df::DOUBLE / sz.subset_size) / (ts.df::DOUBLE / cs.n_docs)) AS s
  FROM fg JOIN ts USING (term)
  JOIN sizes sz ON sz.query_id = fg.query_id CROSS JOIN cs),
ranked AS (
  SELECT query_id, term, fg_df, df, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, term ASC)::INT AS rank
  FROM sig WHERE s > 0.0)
SELECT query_id, rank, term, fg_df, df, score FROM ranked WHERE rank <= {SIGTERMS_K}
"""

    sql["top_hits_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
sc AS (SELECT query_id, doc_id, round(s, 6) AS score FROM scored),
hits AS (SELECT sc.query_id, sc.doc_id, sc.score, d."{FACET_COL}" AS facet
         FROM sc JOIN documents d USING (doc_id)),
counts AS (SELECT query_id, facet, count(*)::BIGINT AS n_docs
           FROM hits GROUP BY 1, 2),
buckets AS (
  SELECT query_id, facet,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_docs DESC, facet ASC)::INT AS facet_rank
  FROM counts),
bk AS (SELECT * FROM buckets WHERE facet_rank <= {TOPHITS_BUCKETS}),
h2 AS (
  SELECT h.query_id, h.facet, b.facet_rank, h.doc_id, h.score,
         row_number() OVER (PARTITION BY h.query_id, h.facet
                            ORDER BY h.score DESC, h.doc_id ASC)::INT AS hit_rank
  FROM hits h JOIN bk b ON b.query_id = h.query_id
                       AND b.facet IS NOT DISTINCT FROM h.facet)
SELECT query_id, facet, facet_rank, hit_rank, doc_id, score
FROM h2 WHERE hit_rank <= {TOPHITS_HITS}
"""

    sql["search_after"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, (rank - {K})::INT AS rank, doc_id, score
FROM ranked WHERE rank > {K} AND rank <= {2 * K}
"""

    sql["rescore_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
firstp AS (
  SELECT query_id, doc_id, round(s, 6) AS fs,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS r
  FROM scored),
win AS (SELECT query_id, doc_id, fs FROM firstp WHERE r <= {RESCORE_WINDOW}),
ctotal AS (SELECT sum(dl)::BIGINT AS total FROM dl),
lhits AS (
  SELECT qt.query_id, p.term, p.doc_id, p.tf,
         sum(p.tf) OVER (PARTITION BY qt.query_id, p.term) AS cf
  FROM qterms qt JOIN post p USING (term)),
lmd AS (
  SELECT h.query_id, h.doc_id,
         round(sum(greatest(0.0,
             ln(1.0 + h.tf / ({LMD_MU} * (h.cf::DOUBLE / t.total)))
             + ln({LMD_MU} / (dl.dl + {LMD_MU})))), 6) AS ls
  FROM lhits h JOIN dl ON h.doc_id = dl.doc_id CROSS JOIN ctotal t
  GROUP BY 1, 2),
comb AS (
  SELECT w.query_id, w.doc_id,
         round({RESCORE_QW} * w.fs + {RESCORE_RW} * coalesce(l.ls, 0.0), 6) AS score
  FROM win w LEFT JOIN lmd l ON l.query_id = w.query_id AND l.doc_id = w.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM comb)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""

    _rqvals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in REGEXP_QUERY_SET)
    sql["regexp_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
rq(query_id, pattern) AS (VALUES {_rqvals}),
expanded AS (
  SELECT DISTINCT r.query_id, ts.term, ts.df
  FROM rq r JOIN ts ON regexp_full_match(ts.term, lower(trim(r.pattern)))),
scored AS (
  SELECT e.query_id, p.doc_id,
         sum( ln((cs.n_docs - e.df + 0.5) / (e.df + 0.5) + 1.0)
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cs.avgdl)) ) AS s
  FROM expanded e JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["regexp_bm25_topk_indexed"] = sql["regexp_bm25_topk"]

    sql["term_vectors"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_TS}
SELECT p.doc_id, p.term, p.tf::INT AS tf, ts.df::BIGINT AS df, dl.dl::INT AS dl
FROM post p JOIN ts USING (term) JOIN dl ON p.doc_id = dl.doc_id
WHERE p.doc_id % {TV_MOD} = 0
"""

    # multi-field: each field gets its OWN tokenization/df/dl/avgdl chain
    # (Lucene per-field statistics), boosted per MF_FIELDS, summed per doc
    _mfvals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in MF_QUERY_SET)
    _mf_chains = []
    for _i, (_fcol, _boost) in enumerate(sorted(MF_FIELDS.items())):
        _mf_chains.append(f"""
tl{_i} AS (SELECT doc_id, list_filter(regexp_split_to_array(lower("{_fcol}"),
  '[^a-z0-9]+'), x -> x <> '') AS tl FROM documents),
toks{_i} AS (SELECT doc_id, unnest(tl) AS term FROM tl{_i}),
post{_i} AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks{_i} GROUP BY 1, 2),
dl{_i} AS (SELECT doc_id, len(tl)::INT AS dl FROM tl{_i}),
cs{_i} AS (SELECT count(*)::BIGINT AS n_docs,
           (sum(dl)::DOUBLE / count(*)) AS avgdl FROM dl{_i}),
ts{_i} AS (SELECT term, count(*)::BIGINT AS df FROM post{_i} GROUP BY 1),
scored{_i} AS (
  SELECT qt.query_id, p.doc_id,
         {_boost} * sum( ln((cs{_i}.n_docs - ts{_i}.df + 0.5)
                            / (ts{_i}.df + 0.5) + 1.0)
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * (1.0 - {B} + {B} * dl{_i}.dl / cs{_i}.avgdl)) ) AS s
  FROM qterms qt JOIN ts{_i} USING (term) JOIN post{_i} p USING (term)
  JOIN dl{_i} ON p.doc_id = dl{_i}.doc_id CROSS JOIN cs{_i}
  GROUP BY 1, 2)""")
    _mf_union = " UNION ALL ".join(
        f"SELECT * FROM scored{_j}" for _j in range(len(MF_FIELDS))
    )
    sql["multi_field_bm25_topk"] = f"""
WITH mq(query_id, query_text) AS (VALUES {_mfvals}),
qterms AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM mq),{",".join(_mf_chains)},
combined AS (
  SELECT query_id, doc_id, sum(s) AS s
  FROM ({_mf_union}) GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM combined)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""

    # dis_max / best_fields: the same per-field chains, combined as
    # max + tie_breaker * (sum - max) instead of most_fields' plain sum
    sql["dismax_bm25_topk"] = f"""
WITH mq(query_id, query_text) AS (VALUES {_mfvals}),
qterms AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM mq),{",".join(_mf_chains)},
combined AS (
  SELECT query_id, doc_id,
         max(s) + {DISMAX_TIE} * (sum(s) - max(s)) AS s
  FROM ({_mf_union}) GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM combined)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["dismax_bm25_topk_indexed"] = sql["dismax_bm25_topk"]

    sql["analyze"] = f"""
WITH {_TL}
SELECT doc_id, i - 1 AS pos, tl[i] AS token
FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)
WHERE doc_id % {ANALYZE_MOD} = 0
"""

    sql["span_first_match"] = f"""
WITH {_TL}, {_QT},
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
hits AS (
  SELECT qt.query_id, pp.doc_id
  FROM qterms qt JOIN pp USING (term) WHERE pp.pos < {SPAN_FIRST_END})
SELECT query_id, doc_id, count(*)::BIGINT AS n_hits FROM hits GROUP BY 1, 2
"""
    sql["span_first_match_indexed"] = sql["span_first_match"]

    sql["span_not_match"] = f"""
WITH {_TL}, {_QT},
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
inc AS (SELECT qt.query_id, pp.doc_id, pp.pos
        FROM qterms qt JOIN pp USING (term)),
exc AS (SELECT q.query_id, pp.doc_id, pp.pos
        FROM (SELECT DISTINCT query_id FROM qterms) q
        JOIN pp ON pp.term = '{SPAN_NOT_EXCLUDE}'),
keep AS (
  SELECT i.query_id, i.doc_id FROM inc i
  WHERE NOT EXISTS (
    SELECT 1 FROM exc e
    WHERE e.query_id = i.query_id AND e.doc_id = i.doc_id
      AND e.pos BETWEEN i.pos - {SPAN_NOT_PRE} AND i.pos + {SPAN_NOT_POST}))
SELECT query_id, doc_id, count(*)::BIGINT AS n_hits FROM keep GROUP BY 1, 2
"""
    sql["span_not_match_indexed"] = sql["span_not_match"]

    # sampler + terms: buckets over the best-scored sample (rounded-score
    # cut, doc_id tie-break); diversified adds the per-value cap first
    sql["sampler_terms_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, source AS value FROM documents WHERE source IS NOT NULL),
j AS (SELECT s.query_id, s.doc_id, round(s.s, 6) AS score, v.value
      FROM scored s JOIN vals v USING (doc_id)),
samp AS (SELECT query_id, doc_id, value,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS r
         FROM j)
SELECT query_id, value, count(*)::BIGINT AS n_docs
FROM samp WHERE r <= {SAMPLER_SIZE} GROUP BY 1, 2
"""
    sql["sampler_terms_agg_indexed"] = sql["sampler_terms_agg"]

    # percentile_ranks: exact cumulative fraction per cut point
    _pctr_cuts = ", ".join(str(v) for v in PCTR_VALUES)
    sql["percentile_ranks_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL),
cuts AS (SELECT unnest([{_pctr_cuts}])::DOUBLE AS value),
j AS (SELECT s.query_id, v FROM scored s JOIN vals USING (doc_id))
SELECT j.query_id, cuts.value,
       round(sum(CASE WHEN j.v <= cuts.value THEN 1 ELSE 0 END) * 100.0
             / count(*), 6)::DOUBLE AS rank_pct
FROM j CROSS JOIN cuts
GROUP BY 1, 2
"""
    sql["percentile_ranks_agg_indexed"] = sql["percentile_ranks_agg"]

    # extended_stats: population variance/stddev + avg ± 2σ bounds
    sql["extended_stats_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL)
SELECT s.query_id, count(v)::BIGINT AS n_docs,
       round(min(v), 6) AS min_v, round(max(v), 6) AS max_v,
       round(sum(v), 6) AS sum_v, round(avg(v), 6) AS avg_v,
       round(sum(v * v), 6) AS sum_sq,
       round(var_pop(v), 6) AS variance,
       round(stddev_pop(v), 6) AS std_dev,
       round(avg(v) + 2.0 * stddev_pop(v), 6) AS std_upper,
       round(avg(v) - 2.0 * stddev_pop(v), 6) AS std_lower
FROM scored s JOIN vals USING (doc_id) GROUP BY 1
"""
    sql["extended_stats_agg_indexed"] = sql["extended_stats_agg"]

    # simple_query_string: the clause table comes from the SAME parser the
    # operator uses (unit-pinned; the PII_PATTERNS precedent) but the DNF
    # EVALUATION below is written independently: per (query, group, doc)
    # every positive atom must match and no negated atom may, the score
    # sums positive contributions of satisfied groups
    from igd_spark.queryparse import parse_simple_query as _psq

    _sqs_rows = ", ".join(
        f"({q}::BIGINT, {gid}, '{term}', {str(neg).upper()})"
        for q, text in SIMPLE_QS_SET
        for gid, grp in enumerate(_psq(text))
        for term, neg in grp
    )
    sql["simple_query_string"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
cl(query_id, gid, term, neg) AS (VALUES {_sqs_rows}),
j AS (
  SELECT cl.query_id, cl.gid, p.doc_id, cl.term, cl.neg, {{_W}} AS w
  FROM cl JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs),
g AS (
  SELECT query_id, gid, doc_id,
         count(DISTINCT CASE WHEN NOT neg THEN term END) AS pos_matched,
         max(CASE WHEN neg THEN 1 ELSE 0 END) AS neg_hit,
         sum(CASE WHEN NOT neg THEN w ELSE 0.0 END) AS gscore
  FROM j GROUP BY 1, 2, 3),
nreq AS (SELECT query_id, gid, count(DISTINCT term) AS n_req
         FROM cl WHERE NOT neg GROUP BY 1, 2),
sat AS (SELECT g.query_id, g.doc_id, g.gscore
        FROM g JOIN nreq USING (query_id, gid)
        WHERE pos_matched = n_req AND neg_hit = 0),
sc AS (SELECT query_id, doc_id, sum(gscore) AS s FROM sat GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM sc)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)
    sql["simple_query_string_indexed"] = sql["simple_query_string"]

    # string_stats: length stats + base-2 Shannon entropy over the match
    # set's character distribution (string_split(s,'') splits to chars in
    # DuckDB exactly like Spark's split(s,'') minus the trailing empty)
    sql["string_stats_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
sv AS (SELECT doc_id, "{STRING_STATS_COL}"::VARCHAR AS s FROM documents
       WHERE "{STRING_STATS_COL}" IS NOT NULL),
j AS (SELECT sc.query_id, sv.s FROM scored sc JOIN sv USING (doc_id)),
base AS (SELECT query_id, count(*)::BIGINT AS n_docs,
         min(length(s))::BIGINT AS min_len, max(length(s))::BIGINT AS max_len,
         round(avg(length(s)), 6) AS avg_len FROM j GROUP BY 1),
chars AS (SELECT query_id, unnest(string_split(s, '')) AS ch FROM j),
cc AS (SELECT query_id, ch, count(*)::DOUBLE AS c FROM chars
       WHERE ch <> '' GROUP BY 1, 2),
tt AS (SELECT query_id, sum(c) AS t FROM cc GROUP BY 1),
ent AS (SELECT cc.query_id, round(-sum((c / t) * log2(c / t)), 6) AS entropy
        FROM cc JOIN tt USING (query_id) GROUP BY 1)
SELECT b.query_id, n_docs, min_len, max_len, avg_len,
       coalesce(entropy, 0.0) AS entropy
FROM base b LEFT JOIN ent USING (query_id)
"""
    sql["string_stats_agg_indexed"] = sql["string_stats_agg"]

    # scripted_metric: the IDENTICAL map expression runs in both engines
    # (the script_score shared-dialect contract); reduce=avg
    sql["scripted_metric_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
mapped AS (SELECT doc_id, ({SM_SCRIPT})::DOUBLE AS m FROM documents)
SELECT s.query_id, round(avg(m), 6) AS value
FROM scored s JOIN mapped USING (doc_id)
WHERE m IS NOT NULL GROUP BY 1
"""
    sql["scripted_metric_agg_indexed"] = sql["scripted_metric_agg"]

    # boxplot: exact linear-interpolated quartiles (quantile_cont ==
    # Spark percentile)
    sql["boxplot_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL),
sv AS (SELECT s.query_id, v FROM scored s JOIN vals USING (doc_id))
SELECT query_id,
       round(quantile_cont(v, 0.0), 6)::DOUBLE AS min_v,
       round(quantile_cont(v, 0.25), 6)::DOUBLE AS q1,
       round(quantile_cont(v, 0.5), 6)::DOUBLE AS q2,
       round(quantile_cont(v, 0.75), 6)::DOUBLE AS q3,
       round(quantile_cont(v, 1.0), 6)::DOUBLE AS max_v
FROM sv GROUP BY 1
"""
    sql["boxplot_agg_indexed"] = sql["boxplot_agg"]

    # median_absolute_deviation: exact two-pass median-of-deviations
    sql["median_absolute_deviation_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL),
sv AS (SELECT s.query_id, v FROM scored s JOIN vals USING (doc_id)),
med AS (SELECT query_id, quantile_cont(v, 0.5)::DOUBLE AS median_v
        FROM sv GROUP BY 1)
SELECT sv.query_id, round(med.median_v, 6)::DOUBLE AS median_v,
       round(quantile_cont(abs(sv.v - med.median_v), 0.5), 6)::DOUBLE AS mad
FROM sv JOIN med USING (query_id)
GROUP BY sv.query_id, med.median_v
"""
    sql["median_absolute_deviation_agg_indexed"] = sql["median_absolute_deviation_agg"]

    # matrix_stats over (n_chars, doc_id % MATRIX_Y_MOD): sample moments
    sql["matrix_stats_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS x,
                (doc_id % {MATRIX_Y_MOD})::DOUBLE AS y
         FROM documents WHERE "{STATS_VALUE_COL}" IS NOT NULL)
SELECT s.query_id, count(*)::BIGINT AS n_docs,
       round(avg(x), 6) AS mean_x, round(avg(y), 6) AS mean_y,
       round(var_samp(x), 6) AS var_x, round(var_samp(y), 6) AS var_y,
       round(covar_samp(x, y), 6) AS covariance,
       round(corr(x, y), 6) AS correlation
FROM scored s JOIN vals USING (doc_id) GROUP BY 1
"""
    sql["matrix_stats_agg_indexed"] = sql["matrix_stats_agg"]

    # top_metrics: metric value at the top-k sort rows (desc, doc_id tie)
    sql["top_metrics_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS x,
                (doc_id % {MATRIX_Y_MOD})::DOUBLE AS y
         FROM documents WHERE "{STATS_VALUE_COL}" IS NOT NULL),
j AS (SELECT s.query_id, s.doc_id, v.x, v.y,
             row_number() OVER (PARTITION BY s.query_id
                                ORDER BY v.x DESC, s.doc_id ASC)::INT AS rank
      FROM scored s JOIN vals v USING (doc_id))
SELECT query_id, rank, doc_id,
       round(x, 6) AS sort_v, round(y, 6) AS metric_v
FROM j WHERE rank <= 3
"""
    sql["top_metrics_agg_indexed"] = sql["top_metrics_agg"]

    # function_score random_score: the seeded md5-derived uniform both
    # engines compute bit-identically
    sql["random_score"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
r AS (
  SELECT query_id, doc_id,
         round((('0x' || substr(md5('{RNDSCORE_SEED}|' || doc_id::VARCHAR), 1, 15))::BIGINT
                / {float(2**60)}), 6)::DOUBLE AS score
  FROM scored),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM r)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["random_score_indexed"] = sql["random_score"]
    sql["sampler_terms_agg_diversified"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, source AS value FROM documents WHERE source IS NOT NULL),
j AS (SELECT s.query_id, s.doc_id, round(s.s, 6) AS score, v.value
      FROM scored s JOIN vals v USING (doc_id)),
dv AS (SELECT *, row_number() OVER (PARTITION BY query_id, value
                                    ORDER BY score DESC, doc_id ASC) AS vr
       FROM j),
samp AS (SELECT query_id, doc_id, value,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC) AS r
         FROM dv WHERE vr <= {DIV_MAX_PER_VALUE})
SELECT query_id, value, count(*)::BIGINT AS n_docs
FROM samp WHERE r <= {SAMPLER_SIZE} GROUP BY 1, 2
"""

    sql["rank_eval"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored),
res AS (SELECT query_id, rank, doc_id FROM ranked WHERE rank <= {K}),
jd AS (SELECT query_id, doc_id, (doc_id % 4)::INT AS grade FROM scored),
hit AS (
  SELECT r.query_id, r.rank, r.doc_id, j.grade
  FROM res r LEFT JOIN jd j ON j.query_id = r.query_id AND j.doc_id = r.doc_id),
perq AS (
  SELECT query_id, count(*)::BIGINT AS n_retrieved,
         sum(CASE WHEN grade >= 1 THEN 1 ELSE 0 END)::BIGINT AS n_rel_ret,
         min(CASE WHEN grade >= 1 THEN rank END) AS first_rel,
         sum(CASE WHEN grade IS NOT NULL
                  THEN (pow(2.0, grade) - 1.0) / log2(rank + 1.0)
                  ELSE 0.0 END) AS dcg
  FROM hit GROUP BY 1),
ideal AS (
  SELECT query_id, sum((pow(2.0, grade) - 1.0) / log2(ir + 1.0)) AS idcg
  FROM (SELECT query_id, grade, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY grade DESC, doc_id ASC) AS ir
        FROM jd)
  WHERE ir <= {K} GROUP BY 1),
tot AS (SELECT query_id, count(*)::BIGINT AS n_relevant
        FROM jd WHERE grade >= 1 GROUP BY 1)
SELECT p.query_id, p.n_retrieved, coalesce(t.n_relevant, 0) AS n_relevant,
       round(p.n_rel_ret::DOUBLE / p.n_retrieved, 6) AS "precision",
       round(CASE WHEN coalesce(t.n_relevant, 0) > 0
                  THEN p.n_rel_ret::DOUBLE / t.n_relevant ELSE 0.0 END, 6) AS recall,
       round(CASE WHEN p.first_rel IS NOT NULL
                  THEN 1.0 / p.first_rel ELSE 0.0 END, 6) AS mrr,
       round(CASE WHEN coalesce(i.idcg, 0.0) > 0.0
                  THEN p.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg
FROM perq p LEFT JOIN tot t ON t.query_id = p.query_id
LEFT JOIN ideal i ON i.query_id = p.query_id
"""

    sql["index_stats"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}
SELECT cs.n_docs, round(cs.avgdl, 6) AS avgdl,
       (SELECT sum(dl) FROM dl)::BIGINT AS sum_dl,
       (SELECT count(*) FROM ts)::BIGINT AS n_terms,
       (SELECT count(*) FROM post)::BIGINT AS n_postings
FROM cs
"""

    sql["more_like_this_indexed"] = sql["more_like_this"]
    sql["explain_scores_indexed"] = sql["explain_scores"]
    sql["stats_agg_indexed"] = sql["stats_agg"]
    sql["percentiles_agg_indexed"] = sql["percentiles_agg"]
    sql["date_histogram_agg_indexed"] = sql["date_histogram_agg"]
    sql["msm_bm25_topk_indexed"] = sql["msm_bm25_topk"]
    sql["collapse_topk_indexed"] = sql["collapse_topk"]
    sql["complete_terms_indexed"] = sql["complete_terms"]
    sql["histogram_agg_indexed"] = sql["histogram_agg"]
    sql["cardinality_agg_indexed"] = sql["cardinality_agg"]
    sql["significant_terms_indexed"] = sql["significant_terms"]
    sql["top_hits_agg_indexed"] = sql["top_hits_agg"]
    sql["search_after_indexed"] = sql["search_after"]
    sql["rescore_topk_indexed"] = sql["rescore_topk"]

    sql["bm25_topk_deleted"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored WHERE doc_id % {DEL_MOD} <> 0)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""

    _TLX = _TL.replace(
        "FROM documents)", f"FROM documents WHERE doc_id % {DEL_MOD} <> 0)"
    )
    sql["bm25_topk_expunged"] = f"""
WITH {_TLX}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""

    sql["function_score_decay"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
boosted AS (
  SELECT s.query_id, s.doc_id,
         s.s * coalesce(exp(-pow(d.n_chars - {DECAY_ORIGIN}, 2)
                   / (2.0 * {DECAY_SCALE} * {DECAY_SCALE})), 1.0) AS s
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM boosted)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""

    sql["distance_feature"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
boosted AS (
  SELECT s.query_id, s.doc_id,
         s.s + coalesce({DF_BOOST} * {DF_PIVOT}
                 / ({DF_PIVOT} + abs(d.n_chars - {DF_ORIGIN})), 0.0) AS s
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM boosted)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    # the indexed twin shares the oracle (rank identity through the index)
    sql["distance_feature_indexed"] = sql["distance_feature"]

    sql["terms_set"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id,
         sum( ln((cs.n_docs - ts.df + 0.5) / (ts.df + 0.5) + 1.0)
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * (1.0 - {B} + {B} * dl.dl / cs.avgdl)) ) AS s,
         count(DISTINCT p.term) AS m
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
hits AS (
  SELECT s.query_id, s.doc_id, s.s FROM scored s
  JOIN documents d ON d.doc_id = s.doc_id
  WHERE s.m >= 1 + d.doc_id % 3),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM hits)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["terms_set_indexed"] = sql["terms_set"]

    sql["rank_feature"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
boosted AS (
  SELECT s.query_id, s.doc_id,
         s.s + coalesce({RF_BOOST} * d.n_chars / (d.n_chars + {RF_PIVOT}), 0.0) AS s
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM boosted)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["rank_feature_indexed"] = sql["rank_feature"]

    _SCRIPT_ORACLE = SCRIPT_SCORE.replace("_score", "s.s")
    sql["script_score"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
ev AS (
  SELECT s.query_id, s.doc_id, ({_SCRIPT_ORACLE}) AS s
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
  WHERE ({_SCRIPT_ORACLE}) IS NOT NULL),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM ev)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["script_score_indexed"] = sql["script_score"]

    # the persisted-index ANN probes are rank-identical to the in-memory
    # operators by construction (embindex.py) — same oracle
    sql["embedding_lsh_ann_indexed"] = sql["embedding_lsh_ann"]
    sql["embedding_ivf_ann_indexed"] = sql["embedding_ivf_ann"]
    # half-build + appended batch must rank identically to the full build
    sql["embedding_ivf_ann_appended"] = sql["embedding_ivf_ann"]
    # per-field persisted indexes combine exactly like the corpus scan
    sql["multi_field_bm25_topk_indexed"] = sql["multi_field_bm25_topk"]

    # combined_fields (BM25F): weighted per-field tf/dl merged BEFORE
    # saturation; df on the merged postings (term in ANY field)
    _cf_chains = []
    for _i, (_fcol, _w) in enumerate(sorted(MF_FIELDS.items())):
        _cf_chains.append(f"""
ctl{_i} AS (SELECT doc_id, list_filter(regexp_split_to_array(lower("{_fcol}"),
  '[^a-z0-9]+'), x -> x <> '') AS tl FROM documents),
cpost{_i} AS (SELECT doc_id, term, {_w} * count(*) AS wtf
  FROM (SELECT doc_id, unnest(tl) AS term FROM ctl{_i}) GROUP BY doc_id, term),
cdl{_i} AS (SELECT doc_id, {_w} * len(tl) AS wdl FROM ctl{_i})""")
    _cf_post_union = " UNION ALL ".join(
        f"SELECT * FROM cpost{_j}" for _j in range(len(MF_FIELDS))
    )
    _cf_dl_union = " UNION ALL ".join(
        f"SELECT * FROM cdl{_j}" for _j in range(len(MF_FIELDS))
    )
    sql["combined_fields_bm25_topk"] = f"""
WITH mq(query_id, query_text) AS (VALUES {_mfvals}),
qterms AS (SELECT DISTINCT query_id, unnest(list_filter(
  regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM mq),{",".join(_cf_chains)},
cpost AS (SELECT doc_id, term, sum(wtf) AS tf FROM ({_cf_post_union}) GROUP BY 1, 2),
cdl AS (SELECT doc_id, sum(wdl) AS dl FROM ({_cf_dl_union}) GROUP BY 1),
ccs AS (SELECT count(*)::BIGINT AS n_docs,
               (sum(dl)::DOUBLE / count(*)) AS avgdl FROM cdl),
cts AS (SELECT term, count(*)::BIGINT AS df FROM cpost GROUP BY 1),
scored AS (
  SELECT qt.query_id, p.doc_id,
         sum( ln((ccs.n_docs - cts.df + 0.5) / (cts.df + 0.5) + 1.0)
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * (1.0 - {B} + {B} * cdl.dl / ccs.avgdl)) ) AS s
  FROM qterms qt JOIN cts USING (term) JOIN cpost p USING (term)
  JOIN cdl ON p.doc_id = cdl.doc_id CROSS JOIN ccs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["combined_fields_bm25_topk_indexed"] = sql["combined_fields_bm25_topk"]

    _pinvals = ", ".join(
        f"({q}::BIGINT, {p}, {d}::BIGINT)" for q, p, d in PIN_SET
    )
    sql["pinned_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
pins(query_id, pin_pos, doc_id) AS (VALUES {_pinvals}),
pinned AS (
  SELECT p.query_id, p.pin_pos::INT AS rank, p.doc_id, round(s.s, 6) AS score
  FROM pins p LEFT JOIN scored s
    ON s.query_id = p.query_id AND s.doc_id = p.doc_id),
np AS (SELECT query_id, count(*)::INT AS npin FROM pins GROUP BY 1),
org AS (
  SELECT s.query_id, s.doc_id, round(s.s, 6) AS score
  FROM scored s LEFT JOIN pins p
    ON p.query_id = s.query_id AND p.doc_id = s.doc_id
  WHERE p.doc_id IS NULL),
ranked AS (
  SELECT o.query_id,
         (row_number() OVER (PARTITION BY o.query_id
                             ORDER BY o.score DESC, o.doc_id ASC)
          + coalesce(np.npin, 0))::INT AS rank,
         o.doc_id, o.score
  FROM org o LEFT JOIN np ON np.query_id = o.query_id)
SELECT query_id, rank, doc_id, score
FROM (SELECT * FROM pinned UNION ALL SELECT * FROM ranked)
WHERE rank <= {K}
""".replace("{_W}", _W)
    sql["pinned_bm25_topk_indexed"] = sql["pinned_bm25_topk"]


    # ---- round-5 final tranche ----

    # t_test (Welch): conditional partial aggregates over the match set;
    # the t statistic, not the p-value (no exact Student CDF in either
    # engine's SQL — disclosed in the operator docstring)
    sql["t_test_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
proj AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v,
                ({TT_FILTER_A}) AS fa, ({TT_FILTER_B}) AS fb
         FROM documents WHERE "{STATS_VALUE_COL}" IS NOT NULL),
g AS (SELECT s.query_id,
             count(CASE WHEN fa THEN v END)::BIGINT AS n_a,
             count(CASE WHEN fb THEN v END)::BIGINT AS n_b,
             avg(CASE WHEN fa THEN v END) AS mean_a,
             avg(CASE WHEN fb THEN v END) AS mean_b,
             var_samp(CASE WHEN fa THEN v END) AS va,
             var_samp(CASE WHEN fb THEN v END) AS vb
      FROM scored s JOIN proj USING (doc_id) GROUP BY 1)
SELECT query_id, n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
       round(CASE WHEN n_a >= 2 AND n_b >= 2
                       AND sqrt(va / n_a + vb / n_b) > 0.0
                  THEN (mean_a - mean_b) / sqrt(va / n_a + vb / n_b) END,
             6) AS t_stat
FROM g
"""
    sql["t_test_agg_indexed"] = sql["t_test_agg"]

    # bucket_script / normalize: pipeline reshapes of the date_histogram
    # parent series — the shared-dialect script runs verbatim in both engines
    sql["bucket_script_agg"] = f"""
SELECT query_id, bucket, n_docs, round({BS_SCRIPT}, 6) AS value
FROM {_dh_sub} dh
"""
    sql["normalize_agg"] = f"""
SELECT query_id, bucket, n_docs,
       round(CASE WHEN sum(n_docs::DOUBLE) OVER (PARTITION BY query_id) <> 0.0
                  THEN n_docs::DOUBLE
                       / sum(n_docs::DOUBLE) OVER (PARTITION BY query_id)
             END, 6) AS normalized
FROM {_dh_sub} dh
"""

    # significant_text: significant_terms over the duplicate-injected corpus
    # with filter_duplicate_text (one representative per (query, md5(text)))
    _DUPTL = (
        "dup AS (SELECT d.doc_id, e.text FROM documents d "
        "JOIN documents e ON e.doc_id = d.doc_id - (d.doc_id % 2)), "
        "tldocs AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
        "'[^a-z0-9]+'), x -> x <> '') AS tl FROM dup)"
    )
    sql["significant_text_agg"] = f"""
WITH {_DUPTL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
m0 AS (SELECT DISTINCT query_id, doc_id FROM scored),
mh AS (SELECT m0.query_id, m0.doc_id,
              row_number() OVER (PARTITION BY m0.query_id,
                                              md5(coalesce(dup.text, ''))
                                 ORDER BY m0.doc_id) AS rn
       FROM m0 JOIN dup USING (doc_id)),
m AS (SELECT query_id, doc_id FROM mh WHERE rn = 1),
sizes AS (SELECT query_id, count(*)::BIGINT AS subset_size FROM m GROUP BY 1),
fg AS (
  SELECT m.query_id, p.term, count(*)::BIGINT AS fg_df
  FROM m JOIN post p USING (doc_id)
  GROUP BY 1, 2 HAVING count(*) >= {SIGTERMS_MIN_FG}),
sig AS (
  SELECT fg.query_id, fg.term, fg.fg_df, ts.df,
         (fg.fg_df::DOUBLE / sz.subset_size - ts.df::DOUBLE / cs.n_docs)
         * ((fg.fg_df::DOUBLE / sz.subset_size) / (ts.df::DOUBLE / cs.n_docs)) AS s
  FROM fg JOIN ts USING (term)
  JOIN sizes sz ON sz.query_id = fg.query_id CROSS JOIN cs),
ranked AS (
  SELECT query_id, term, fg_df, df, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, term ASC)::INT AS rank
  FROM sig WHERE s > 0.0)
SELECT query_id, rank, term, fg_df, df, score FROM ranked WHERE rank <= {SIGTERMS_K}
"""
    sql["significant_text_agg_indexed"] = sql["significant_text_agg"]

    # constant_score: match-only retrieval, fixed score, id-order ranking
    sql["constant_score"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT},
m AS (SELECT DISTINCT qt.query_id, p.doc_id
      FROM qterms qt JOIN post p USING (term)),
ranked AS (
  SELECT query_id, doc_id, {CS_BOOST}::DOUBLE AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY doc_id ASC)::INT AS rank
  FROM m)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["constant_score_indexed"] = sql["constant_score"]

    # match_bool_prefix: literal OR terms + capped last-token expansion,
    # BM25 with each matched term's own idf
    _mbpvals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in MBP_QUERY_SET)
    sql["match_bool_prefix"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS},
mq(query_id, query_text) AS (VALUES {_mbpvals}),
qtl AS (SELECT query_id, list_filter(regexp_split_to_array(lower(query_text),
        '[^a-z0-9]+'), x -> x <> '') AS tl FROM mq),
pt AS (SELECT query_id, i - 1 AS off, tl[i] AS term, len(tl) AS plen
       FROM (SELECT query_id, tl, unnest(generate_series(1, len(tl))) AS i FROM qtl)),
lits AS (SELECT DISTINCT query_id, term FROM pt WHERE off < plen - 1),
pre AS (SELECT query_id, term AS prefix FROM pt WHERE off = plen - 1),
vocab AS (SELECT DISTINCT term FROM toks),
expd AS (SELECT query_id, term FROM (
           SELECT p.query_id, v.term,
                  row_number() OVER (PARTITION BY p.query_id
                                     ORDER BY v.term) AS rn
           FROM pre p JOIN vocab v ON starts_with(v.term, p.prefix))
         WHERE rn <= {MBP_MAX_EXP}),
qe AS (SELECT DISTINCT query_id, term
       FROM (SELECT * FROM lits UNION ALL SELECT * FROM expd)),
scored AS (
  SELECT qe.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qe JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)
    sql["match_bool_prefix_indexed"] = sql["match_bool_prefix"]

    # resample_to_mix: fractions derived from counts + target IN SQL with
    # the identical IEEE-double operation order as mix_fractions (weights
    # normalised to exact binary doubles, so z == 1.0 drops out exactly)
    _mixvals = ", ".join(
        f"('{k}', {repr(v / sum(MIX_TARGET.values()))}::DOUBLE)"
        for k, v in MIX_TARGET.items()
    )
    sql["resample_to_mix"] = f"""
WITH cnt AS (SELECT source AS s, count(*)::DOUBLE AS n FROM documents
             WHERE source IS NOT NULL GROUP BY 1),
w(s, wz) AS (VALUES {_mixvals}),
t AS (SELECT min(n / wz) AS tt FROM cnt JOIN w USING (s)),
fr AS (SELECT s, wz * tt / n AS f FROM cnt JOIN w USING (s) CROSS JOIN t),
thr AS (SELECT s, floor(f * 1152921504606846976.0)::BIGINT AS thr FROM fr),
base AS (SELECT doc_id, source AS stratum,
                {_H60.format(expr=f"('{MIX_SEED}:' || doc_id::VARCHAR)")} AS u60
         FROM documents)
SELECT b.doc_id, b.stratum, b.u60
FROM base b JOIN thr ON thr.s = b.stratum WHERE b.u60 < thr.thr
"""


    # span_containing / span_within: big ordered pairs vs little occurrences
    _scvals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in SPANC_QUERY_SET)
    _SC_COMMON = f"""
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
sq(query_id, query_text) AS (VALUES {_scvals}),
sqtl AS (SELECT query_id, list_filter(regexp_split_to_array(lower(query_text),
         '[^a-z0-9]+'), x -> x <> '') AS tl FROM sq),
spt AS (SELECT query_id, i - 1 AS off, tl[i] AS term
        FROM (SELECT query_id, tl, unnest(generate_series(1, len(tl))) AS i FROM sqtl)),
b1 AS (SELECT query_id, term FROM spt WHERE off = 0),
b2 AS (SELECT query_id, term FROM spt WHERE off = 1),
lt AS (SELECT DISTINCT query_id, '{SPANC_LITTLE}' AS term FROM sq),
o1 AS (SELECT b1.query_id, pp.doc_id, pp.pos AS p1 FROM pp JOIN b1 USING (term)),
o2 AS (SELECT b2.query_id, pp.doc_id, pp.pos AS p2 FROM pp JOIN b2 USING (term)),
ol AS (SELECT lt.query_id, pp.doc_id, pp.pos FROM pp JOIN lt USING (term)),
spans AS (SELECT o1.query_id, o1.doc_id, o1.p1, o2.p2
          FROM o1 JOIN o2 ON o2.query_id = o1.query_id
                         AND o2.doc_id = o1.doc_id
                         AND o2.p2 > o1.p1
                         AND o2.p2 <= o1.p1 + {SPANC_SPAN})"""
    sql["span_containing"] = f"""
WITH {_TL}, {_SC_COMMON},
kept AS (SELECT s.query_id, s.doc_id FROM spans s
         WHERE EXISTS (SELECT 1 FROM ol
                       WHERE ol.query_id = s.query_id AND ol.doc_id = s.doc_id
                         AND ol.pos BETWEEN s.p1 AND s.p2))
SELECT query_id, doc_id, count(*)::BIGINT AS n_hits FROM kept GROUP BY 1, 2
"""
    sql["span_containing_indexed"] = sql["span_containing"]
    sql["span_within"] = f"""
WITH {_TL}, {_SC_COMMON},
kept AS (SELECT ol.query_id, ol.doc_id FROM ol
         WHERE EXISTS (SELECT 1 FROM spans s
                       WHERE s.query_id = ol.query_id AND s.doc_id = ol.doc_id
                         AND ol.pos BETWEEN s.p1 AND s.p2))
SELECT query_id, doc_id, count(*)::BIGINT AS n_hits FROM kept GROUP BY 1, 2
"""
    sql["span_within_indexed"] = sql["span_within"]

    # update_by_query: originals tombstoned, updated copies appended under
    # h60('upd|tag|' || old_id) ids. Pre-merge: BOTH versions weigh in the
    # stats (tldocs = union), tombstoned ids merely excluded from results.
    _UPD_NEWID = _H60.format(expr=f"('upd|{UPD_TAG}|' || doc_id::VARCHAR)")
    _TLU = f"""
m0 AS (SELECT DISTINCT doc_id FROM (
         SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text),
                '[^a-z0-9]+'), x -> x <> '')) AS term FROM documents)
       WHERE term = '{UPD_TERM}'),
corpus2 AS (SELECT doc_id, text FROM documents
            UNION ALL
            SELECT {_UPD_NEWID} AS doc_id, text || '{UPD_SUFFIX}' AS text
            FROM documents WHERE doc_id IN (SELECT doc_id FROM m0)),
tldocs AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
           '[^a-z0-9]+'), x -> x <> '') AS tl FROM corpus2)"""
    sql["bm25_topk_updated"] = f"""
WITH {_TLU}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored WHERE doc_id NOT IN (SELECT doc_id FROM m0))
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    # post-merge: stats recomputed over survivors + updated copies only
    _TLUC = _TLU.replace(
        "corpus2 AS (SELECT doc_id, text FROM documents",
        "corpus2 AS (SELECT doc_id, text FROM documents "
        "WHERE doc_id NOT IN (SELECT doc_id FROM m0)",
    )
    sql["bm25_topk_updated_compacted"] = f"""
WITH {_TLUC}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""


    # ---- round-5 continuation tranche oracles ----
    _M = ("m AS (SELECT DISTINCT qt.query_id, p.doc_id "
          "FROM qterms qt JOIN post p USING (term))")
    _TOOL = (f"t AS (SELECT doc_id, CASE WHEN doc_id % {MISSING_MOD} = 0 "
             f"THEN NULL ELSE 'tool' || (doc_id % 3)::VARCHAR END AS tool "
             f"FROM documents)")
    _TSV = (f"tsv AS (SELECT doc_id, TIMESTAMP '2026-01-01 00:00:00' "
            f"+ (doc_id % {DH_HOUR_MOD}) * INTERVAL 1 HOUR AS ts FROM documents)")

    sql["value_count_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT}, {_M}, {_TOOL}
SELECT m.query_id, count(t.tool)::BIGINT AS value_count
FROM m JOIN t USING (doc_id) WHERE t.tool IS NOT NULL GROUP BY 1
"""
    sql["value_count_agg_indexed"] = sql["value_count_agg"]

    sql["global_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT}, {_M}
SELECT query_id, count(*)::BIGINT AS n_matched,
       (SELECT count(*) FROM documents)::BIGINT AS n_global
FROM m GROUP BY 1
"""

    _drvals = ", ".join(
        "("
        + ("NULL::TIMESTAMP" if lo is None else f"TIMESTAMP '{lo}'")
        + ", "
        + ("NULL::TIMESTAMP" if hi is None else f"TIMESTAMP '{hi}'")
        + ")"
        for lo, hi in DR_RANGES
    )
    sql["date_range_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT}, {_M}, {_TSV},
r(range_from, range_to) AS (VALUES {_drvals}),
grid AS (SELECT DISTINCT query_id, range_from, range_to FROM q CROSS JOIN r),
cnt AS (SELECT m.query_id, r.range_from, r.range_to, count(*)::BIGINT AS c
        FROM m JOIN tsv USING (doc_id) JOIN r
          ON (r.range_from IS NULL OR tsv.ts >= r.range_from)
         AND (r.range_to IS NULL OR tsv.ts < r.range_to)
        GROUP BY 1, 2, 3)
SELECT g.query_id, g.range_from, g.range_to,
       coalesce(c.c, 0)::BIGINT AS n_docs
FROM grid g LEFT JOIN cnt c
  ON g.query_id = c.query_id
 AND g.range_from IS NOT DISTINCT FROM c.range_from
 AND g.range_to IS NOT DISTINCT FROM c.range_to
"""
    sql["date_range_agg_indexed"] = sql["date_range_agg"]

    _dh_sub2 = f"({sql['date_histogram_agg']})"
    sql["stats_bucket_agg"] = f"""
SELECT query_id, count(*)::BIGINT AS n_buckets,
       min(n_docs::DOUBLE) AS min_v, max(n_docs::DOUBLE) AS max_v,
       avg(n_docs::DOUBLE) AS avg_v, sum(n_docs::DOUBLE) AS sum_v
FROM {_dh_sub2} dh GROUP BY 1
"""
    _pctb_parts = " UNION ALL ".join(
        f"SELECT query_id, {p}::DOUBLE AS pct, "
        f"round(quantile_cont(n_docs::DOUBLE, {p / 100.0}), 6)::DOUBLE AS value "
        f"FROM dh GROUP BY query_id"
        for p in PCTB_LIST
    )
    sql["percentiles_bucket_agg"] = f"""
WITH dh AS {_dh_sub2}
{_pctb_parts}
"""
    sql["moving_percentiles_agg"] = f"""
SELECT query_id, bucket, n_docs,
       round(quantile_cont(n_docs::DOUBLE, {MVP_PCT / 100.0})
             OVER (PARTITION BY query_id ORDER BY bucket
                   ROWS BETWEEN {MVP_WINDOW} PRECEDING AND 1 PRECEDING),
             6) AS moving_pct
FROM {_dh_sub2} dh
"""
    sql["rate_agg"] = f"""
SELECT query_id, bucket, n_docs,
       round(n_docs::DOUBLE * (3600.0 / 86400.0), 6) AS rate
FROM {_dh_sub2} dh
"""

    sql["cumulative_cardinality_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_QT}, {_M}, {_TSV},
u AS (SELECT doc_id, 'u' || (doc_id % {CC_USER_MOD})::VARCHAR AS fv FROM documents),
mb AS (SELECT m.query_id, m.doc_id,
              date_trunc('{DH_INTERVAL}', tsv.ts)::TIMESTAMP AS bucket
       FROM m JOIN tsv USING (doc_id)),
parent AS (SELECT query_id, bucket, count(*)::BIGINT AS n_docs
           FROM mb GROUP BY 1, 2),
firsts AS (SELECT query_id, fv, min(bucket) AS fb
           FROM mb JOIN u USING (doc_id) GROUP BY 1, 2),
news AS (SELECT query_id, fb AS bucket, count(*)::BIGINT AS nn
         FROM firsts GROUP BY 1, 2)
SELECT p.query_id, p.bucket, p.n_docs,
       sum(coalesce(n.nn, 0)) OVER (PARTITION BY p.query_id ORDER BY p.bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS cumulative_cardinality
FROM parent p LEFT JOIN news n
  ON n.query_id = p.query_id AND n.bucket = p.bucket
"""
    sql["cumulative_cardinality_agg_indexed"] = sql["cumulative_cardinality_agg"]

    sql["exists_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_TOOL},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  WHERE p.doc_id IN (SELECT doc_id FROM t WHERE tool IS NOT NULL)
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)
    sql["exists_bm25_topk_indexed"] = sql["exists_bm25_topk"]

    _idslist = ", ".join(str(i) for i in IDS_SET)
    sql["ids_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({{_W}}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  WHERE p.doc_id IN ({_idslist})
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
""".replace("{_W}", _W)
    sql["ids_bm25_topk_indexed"] = sql["ids_bm25_topk"]

    _soalts = ", ".join(f"'{t}'" for t in SPANOR_ALTS.split())
    _sovals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in SPANC_QUERY_SET)
    sql["span_or_match"] = f"""
WITH {_TL},
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
sq(query_id, query_text) AS (VALUES {_sovals}),
sqtl AS (SELECT query_id, list_filter(regexp_split_to_array(lower(query_text),
         '[^a-z0-9]+'), x -> x <> '') AS tl FROM sq),
b1 AS (SELECT query_id, tl[1] AS term FROM sqtl WHERE len(tl) >= 1),
alts AS (SELECT DISTINCT query_id, unnest([{_soalts}]) AS term FROM sq),
o1 AS (SELECT b1.query_id, pp.doc_id, pp.pos AS p1 FROM pp JOIN b1 USING (term)),
o2 AS (SELECT alts.query_id, pp.doc_id, pp.pos AS p2 FROM pp JOIN alts USING (term)),
pairs AS (SELECT o1.query_id, o1.doc_id
          FROM o1 JOIN o2 ON o2.query_id = o1.query_id
                         AND o2.doc_id = o1.doc_id
                         AND o2.p2 > o1.p1
                         AND o2.p2 <= o1.p1 + {SPANC_SPAN})
SELECT query_id, doc_id, count(*)::BIGINT AS n_hits FROM pairs GROUP BY 1, 2
"""
    sql["span_or_match_indexed"] = sql["span_or_match"]



    _pstep = PASSAGE_CHUNK - PASSAGE_OVERLAP
    sql["passage_bm25_topk"] = f"""
WITH {_TL}, {_QT},
ch AS (SELECT doc_id, i AS chunk_id,
              tl[i * {_pstep} + 1 : i * {_pstep} + {PASSAGE_CHUNK}] AS ctl
       FROM (SELECT doc_id, tl,
                    unnest(generate_series(0,
                      CASE WHEN len(tl) <= 0 THEN -1
                           ELSE ceil(greatest(len(tl) - {PASSAGE_CHUNK}, 0)
                                     / {_pstep}::DOUBLE)::INT END)) AS i
             FROM tldocs)),
cpost AS (SELECT doc_id, chunk_id, term, count(*)::INT AS tf
          FROM (SELECT doc_id, chunk_id, unnest(ctl) AS term FROM ch)
          GROUP BY 1, 2, 3),
cdl AS (SELECT doc_id, chunk_id, len(ctl)::INT AS dl FROM ch),
ccs AS (SELECT count(*)::BIGINT AS n_chunks,
               (sum(dl)::DOUBLE / count(*)) AS avgdl FROM cdl),
cts AS (SELECT term, count(*)::BIGINT AS df FROM cpost GROUP BY 1),
scored AS (
  SELECT qt.query_id, p.doc_id, p.chunk_id,
         sum( ln((ccs.n_chunks - cts.df + 0.5) / (cts.df + 0.5) + 1.0)
              * p.tf * {K1 + 1.0}
              / (p.tf + {K1} * (1.0 - {B} + {B} * cdl.dl / ccs.avgdl)) ) AS s
  FROM qterms qt JOIN cts USING (term) JOIN cpost p USING (term)
  JOIN cdl ON p.doc_id = cdl.doc_id AND p.chunk_id = cdl.chunk_id
  CROSS JOIN ccs
  GROUP BY 1, 2, 3),
best AS (
  SELECT query_id, doc_id, chunk_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id, doc_id
                            ORDER BY round(s, 6) DESC, chunk_id ASC) AS rn
  FROM scored),
ranked AS (
  SELECT query_id, doc_id, chunk_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM best WHERE rn = 1)
SELECT query_id, rank, doc_id, chunk_id, score FROM ranked WHERE rank <= {K}
"""

    sql["passage_bm25_topk_indexed"] = sql["passage_bm25_topk"]

    sql["bigram_perplexity"] = f"""
WITH {_TL},
bg AS (SELECT doc_id, tl[i] AS w1, tl[i + 1] AS w2
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl) - 1)) AS i
             FROM tldocs)),
c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY 1)
SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams,
       round(exp(-sum(ln(c2.c2::DOUBLE / c1.c1)) / count(*)), 6)::DOUBLE AS ppl
FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY 1
"""

    _ho_thr = int(HOLDOUT_FRAC * float(1 << 60))
    _ho_h = _H60.format(expr=f"('{HOLDOUT_SEED}:' || doc_id::VARCHAR)")
    sql["train_holdout_split"] = f"""
SELECT doc_id,
       CASE WHEN {_ho_h} < {_ho_thr} THEN 'holdout' ELSE 'train' END AS split
FROM documents
"""



    _smvals = ", ".join(f"({q}::BIGINT, '{t}')" for q, t in SPANC_QUERY_SET)
    sql["span_multi_match"] = f"""
WITH {_TL},
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i FROM tldocs)),
sq(query_id, query_text) AS (VALUES {_smvals}),
sqtl AS (SELECT query_id, list_filter(regexp_split_to_array(lower(query_text),
         '[^a-z0-9]+'), x -> x <> '') AS tl FROM sq),
b1 AS (SELECT query_id, tl[1] AS term FROM sqtl WHERE len(tl) >= 1),
vocab AS (SELECT DISTINCT term FROM pp),
alts AS (SELECT DISTINCT sq.query_id, v.term
         FROM vocab v CROSS JOIN sq WHERE v.term LIKE '{SPANM_PREFIX}%'),
o1 AS (SELECT b1.query_id, pp.doc_id, pp.pos AS p1 FROM pp JOIN b1 USING (term)),
o2 AS (SELECT alts.query_id, pp.doc_id, pp.pos AS p2 FROM pp JOIN alts USING (term)),
pairs AS (SELECT o1.query_id, o1.doc_id
          FROM o1 JOIN o2 ON o2.query_id = o1.query_id
                         AND o2.doc_id = o1.doc_id
                         AND o2.p2 > o1.p1
                         AND o2.p2 <= o1.p1 + {SPANC_SPAN})
SELECT query_id, doc_id, count(*)::BIGINT AS n_hits FROM pairs GROUP BY 1, 2
"""
    sql["span_multi_match_indexed"] = sql["span_multi_match"]



    sql["significant_terms_chisq"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
m AS (SELECT DISTINCT query_id, doc_id FROM scored),
sizes AS (SELECT query_id, count(*)::BIGINT AS subset_size FROM m GROUP BY 1),
fg AS (
  SELECT m.query_id, p.term, count(*)::BIGINT AS fg_df
  FROM m JOIN post p USING (doc_id)
  GROUP BY 1, 2 HAVING count(*) >= {SIGTERMS_MIN_FG}),
cells AS (
  SELECT fg.query_id, fg.term, fg.fg_df, ts.df,
         fg.fg_df::DOUBLE AS a,
         sz.subset_size::DOUBLE - fg.fg_df AS b,
         ts.df::DOUBLE - fg.fg_df AS c,
         cs.n_docs::DOUBLE - sz.subset_size - (ts.df::DOUBLE - fg.fg_df) AS d,
         cs.n_docs::DOUBLE AS nn,
         fg.fg_df::DOUBLE / sz.subset_size AS fg_pct,
         ts.df::DOUBLE / cs.n_docs AS bg_pct
  FROM fg JOIN ts USING (term)
  JOIN sizes sz ON sz.query_id = fg.query_id CROSS JOIN cs),
sig AS (
  SELECT query_id, term, fg_df, df,
         nn * (a * d - b * c) * (a * d - b * c)
            / nullif((a + b) * (c + d) * (a + c) * (b + d), 0.0) AS s
  FROM cells WHERE fg_pct > bg_pct),
ranked AS (
  SELECT query_id, term, fg_df, df, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, term ASC)::INT AS rank
  FROM sig WHERE s IS NOT NULL)
SELECT query_id, rank, term, fg_df, df, score FROM ranked WHERE rank <= {SIGTERMS_K}
"""
    sql["significant_terms_chisq_indexed"] = sql["significant_terms_chisq"]



    sql["categorize_text"] = f"""
WITH {_TL},
cat AS (SELECT doc_id,
               array_to_string(list_transform(tl,
                 t -> CASE WHEN regexp_matches(t, '[0-9]') THEN '*' ELSE t END),
                 ' ') AS category
        FROM tldocs),
g AS (SELECT category, count(*)::BIGINT AS n_docs, min(doc_id) AS example_doc_id
      FROM cat WHERE category <> '' GROUP BY 1),
r AS (SELECT category, n_docs, example_doc_id,
             row_number() OVER (ORDER BY n_docs DESC, category ASC)::INT AS rank
      FROM g)
SELECT rank, category, n_docs, example_doc_id FROM r WHERE rank <= {CATTEXT_K}
"""



    sql["extended_stats_bucket_agg"] = f"""
SELECT query_id, count(*)::BIGINT AS n_buckets,
       min(n_docs::DOUBLE) AS min_v, max(n_docs::DOUBLE) AS max_v,
       round(avg(n_docs::DOUBLE), 6) AS avg_v,
       round(sum(n_docs::DOUBLE), 6) AS sum_v,
       round(sum(n_docs::DOUBLE * n_docs), 6) AS sum_sq,
       round(var_pop(n_docs::DOUBLE), 6) AS variance,
       round(stddev_pop(n_docs::DOUBLE), 6) AS std_dev
FROM {_dh_sub2} dh GROUP BY 1
"""

    _bcind = "[" + ", ".join(str(x) for x in BCORR_IND) + "]"
    sql["bucket_correlation_agg"] = f"""
WITH dh AS {_dh_sub2},
p AS (SELECT query_id, n_docs,
             row_number() OVER (PARTITION BY query_id ORDER BY bucket) AS pos
      FROM dh),
j AS (SELECT query_id, n_docs, ({_bcind})[pos] AS ind FROM p),
a AS (SELECT query_id, count(*)::BIGINT AS n_buckets,
             corr(n_docs::DOUBLE, ind) AS c
      FROM j GROUP BY 1)
SELECT query_id, n_buckets,
       CASE WHEN n_buckets = {len(BCORR_IND)} THEN round(c, 6) END AS corr
FROM a
"""

    sql["variable_width_histogram_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL),
mv AS (SELECT DISTINCT s.query_id, s.doc_id, v FROM scored s JOIN vals USING (doc_id)),
dv AS (SELECT query_id, v, count(*)::BIGINT AS n FROM mv GROUP BY 1, 2),
g AS (SELECT query_id, v, n,
             v - lag(v) OVER (PARTITION BY query_id ORDER BY v) AS gap
      FROM dv),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY gap DESC NULLS LAST, v ASC) AS gr
      FROM g),
c AS (SELECT *, CASE WHEN gap IS NOT NULL AND gr <= {VWH_BUCKETS - 1}
                     THEN 1 ELSE 0 END AS is_cut FROM r),
cl AS (SELECT *, sum(is_cut) OVER (PARTITION BY query_id ORDER BY v
                                   ROWS UNBOUNDED PRECEDING) AS cluster
       FROM c)
SELECT query_id, round(min(v), 6) AS b_min, round(max(v), 6) AS b_max,
       round(sum(v * n) / sum(n), 6) AS centroid, sum(n)::BIGINT AS n_docs
FROM cl GROUP BY query_id, cluster
"""
    sql["variable_width_histogram_agg_indexed"] = sql["variable_width_histogram_agg"]

    sql["frequent_item_sets_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
m AS (SELECT DISTINCT query_id, doc_id FROM scored),
sizes AS (SELECT query_id, count(*)::BIGINT AS msize,
                 greatest({FIS_MIN_SUPPORT},
                          ceil({FIS_MIN_SUPPORT_FRAC} * count(*))::BIGINT) AS floorv
          FROM m GROUP BY 1),
t AS (SELECT m.query_id, p.doc_id, p.term FROM m JOIN post p USING (doc_id)),
l1f AS (SELECT query_id, term, count(*)::BIGINT AS support
        FROM t GROUP BY 1, 2),
l1 AS (SELECT l1f.query_id, term, support
       FROM l1f JOIN sizes USING (query_id)
       WHERE support >= floorv
         AND support <= {FIS_MAX_SUPPORT_FRAC} * msize),
tf AS (SELECT t.query_id, t.doc_id, t.term
       FROM t JOIN l1 USING (query_id, term)),
p2d AS (SELECT a.query_id, a.doc_id, a.term AS t1, b.term AS t2
        FROM tf a JOIN tf b
          ON a.query_id = b.query_id AND a.doc_id = b.doc_id
         AND a.term < b.term),
l2 AS (SELECT g.query_id, t1, t2, support
       FROM (SELECT query_id, t1, t2, count(*)::BIGINT AS support
             FROM p2d GROUP BY 1, 2, 3) g
       JOIN sizes USING (query_id) WHERE support >= floorv),
p2f AS (SELECT p2d.query_id, p2d.doc_id, p2d.t1, p2d.t2
        FROM p2d JOIN l2 USING (query_id, t1, t2)),
p3d AS (SELECT p.query_id, p.doc_id, p.t1, p.t2, c.term AS t3
        FROM p2f p JOIN tf c
          ON p.query_id = c.query_id AND p.doc_id = c.doc_id
         AND c.term > p.t2),
l3 AS (SELECT g.query_id, t1, t2, t3, support
       FROM (SELECT query_id, t1, t2, t3, count(*)::BIGINT AS support
             FROM p3d GROUP BY 1, 2, 3, 4) g
       JOIN sizes USING (query_id) WHERE support >= floorv),
allsets AS (
  SELECT query_id, 2 AS size, [t1, t2] AS items, support FROM l2
  UNION ALL
  SELECT query_id, 3 AS size, [t1, t2, t3] AS items, support FROM l3),
ranked AS (
  SELECT query_id, size, items, support,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY support DESC, size ASC,
                                     array_to_string(items, ' ') ASC)::INT AS rank
  FROM allsets)
SELECT query_id, rank, size, items, support FROM ranked WHERE rank <= {FIS_K}
"""
    sql["frequent_item_sets_agg_indexed"] = sql["frequent_item_sets_agg"]

    _dsir_core = f"""
tldocs AS (SELECT doc_id, source, list_filter(regexp_split_to_array(lower(text),
  '[^a-z0-9]+'), x -> x <> '') AS tl FROM documents),
uni AS (SELECT doc_id, source, unnest(tl) AS gram FROM tldocs),
big AS (SELECT doc_id, source, tl[i] || ' ' || tl[i + 1] AS gram
        FROM (SELECT doc_id, source, tl,
                     unnest(generate_series(1, len(tl) - 1)) AS i FROM tldocs)),
grams AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
gb AS (SELECT doc_id, (source = '{DSIR_TARGET}') AS is_t,
              (('0x' || substr(md5(gram), 1, 15))::BIGINT % {DSIR_BUCKETS}) AS bucket
       FROM grams),
bc AS (SELECT bucket, count(*)::BIGINT AS c_r,
              sum(CASE WHEN is_t THEN 1 ELSE 0 END)::BIGINT AS c_t
       FROM gb GROUP BY 1),
tot AS (SELECT sum(c_r)::BIGINT AS t_r, sum(c_t)::BIGINT AS t_t FROM bc),
lr AS (SELECT bucket,
              ln((c_t + {DSIR_ALPHA}) / (t_t + {DSIR_ALPHA} * {DSIR_BUCKETS}))
            - ln((c_r + {DSIR_ALPHA}) / (t_r + {DSIR_ALPHA} * {DSIR_BUCKETS})) AS lr
       FROM bc CROSS JOIN tot),
w AS (SELECT gb.doc_id, count(*)::BIGINT AS n_feats,
             round(sum(lr.lr), 6) AS logw
      FROM gb JOIN lr USING (bucket) GROUP BY 1)"""

    sql["dsir_weights"] = f"""
WITH {_dsir_core}
SELECT doc_id, n_feats, logw FROM w
"""

    sql["dsir_select"] = f"""
WITH {_dsir_core},
ranked AS (SELECT doc_id, logw,
                  row_number() OVER (ORDER BY logw DESC, doc_id ASC)::INT AS rank
           FROM w)
SELECT rank, doc_id, logw FROM ranked WHERE rank <= {DSIR_SELECT_N}
"""

    sql["children_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
par AS (SELECT doc_id, doc_id // {TURNS_PER_CONV} AS parent_id FROM documents),
mp AS (SELECT DISTINCT s.query_id, par.parent_id
       FROM scored s JOIN par USING (doc_id)),
children AS (SELECT mp.query_id, par.doc_id
             FROM mp JOIN par USING (parent_id)),
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL)
SELECT c.query_id, count(*)::BIGINT AS n_children,
       round(sum(v), 6) AS sum_v, round(avg(v), 6) AS avg_v
FROM children c LEFT JOIN vals USING (doc_id)
GROUP BY 1
"""
    sql["children_agg_indexed"] = sql["children_agg"]

    sql["parent_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
par AS (SELECT doc_id, doc_id // {TURNS_PER_CONV} AS parent_id FROM documents),
mp AS (SELECT DISTINCT s.query_id, par.parent_id
       FROM scored s JOIN par USING (doc_id)),
pvals AS (SELECT doc_id // {TURNS_PER_CONV} AS parent_id,
                 "{STATS_VALUE_COL}"::DOUBLE AS v
          FROM documents
          WHERE doc_id % {TURNS_PER_CONV} = 0
            AND "{STATS_VALUE_COL}" IS NOT NULL)
SELECT mp.query_id, count(*)::BIGINT AS n_parents,
       round(sum(v), 6) AS sum_v, round(avg(v), 6) AS avg_v
FROM mp LEFT JOIN pvals USING (parent_id)
GROUP BY 1
"""
    sql["parent_agg_indexed"] = sql["parent_agg"]

    _SSTEM_CASE = (
        "CASE WHEN length(t) < 4 THEN t "
        "WHEN t LIKE '%ies' AND t NOT LIKE '%eies' AND t NOT LIKE '%aies' "
        "THEN substr(t, 1, length(t) - 3) || 'y' "
        "WHEN t LIKE '%es' AND t NOT LIKE '%aes' AND t NOT LIKE '%ees' "
        "AND t NOT LIKE '%oes' THEN substr(t, 1, length(t) - 1) "
        "WHEN t LIKE '%s' AND t NOT LIKE '%us' AND t NOT LIKE '%ss' "
        "THEN substr(t, 1, length(t) - 1) ELSE t END"
    )
    _STEM_TL = (
        "tldocs AS (SELECT doc_id, list_transform(list_filter("
        "regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), "
        f"t -> {_SSTEM_CASE}) AS tl FROM documents)"
    )
    _STEM_QT = (
        f"q(query_id, query_text) AS (VALUES {_QVALUES}), "
        "qterms AS (SELECT DISTINCT query_id, unnest(list_transform(list_filter("
        "regexp_split_to_array(lower(query_text), '[^a-z0-9]+'), x -> x <> ''), "
        f"t -> {_SSTEM_CASE})) AS term FROM q)"
    )
    sql["stemmed_bm25_topk"] = f"""
WITH {_STEM_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_STEM_QT},
scored AS (
  SELECT qt.query_id, p.doc_id, sum({_W}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, round(s, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(s, 6) DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""

    sql["proximity_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
base AS (
  SELECT qt.query_id, p.doc_id, sum({_W}) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
pp AS (SELECT doc_id, i - 1 AS pos, tl[i] AS term
       FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS i
             FROM tldocs)),
qpos AS (SELECT qt.query_id, pp.doc_id, pp.term, pp.pos
         FROM pp JOIN qterms qt USING (term)),
dmin AS (
  SELECT a.query_id, a.doc_id, a.term AS t1, b.term AS t2,
         min(abs(a.pos - b.pos)) AS dmin
  FROM qpos a JOIN qpos b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4),
prox AS (SELECT query_id, doc_id, sum(1.0 / (1.0 + dmin)) AS prox
         FROM dmin GROUP BY 1, 2),
scored AS (
  SELECT base.query_id, base.doc_id,
         round(base.s + {PROX_W} * coalesce(prox.prox, 0.0), 6) AS score
  FROM base LEFT JOIN prox USING (query_id, doc_id)),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM scored)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""

    sql["proximity_bm25_topk_indexed"] = sql["proximity_bm25_topk"]
    sql["stemmed_bm25_topk_indexed"] = sql["stemmed_bm25_topk"]

    sql["prf_bm25_topk"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT},
s1 AS (
  SELECT qt.query_id, p.doc_id, round(sum({_W}), 6) AS s
  FROM qterms qt JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY s DESC, doc_id ASC) AS rn
    FROM s1) WHERE rn <= {PRF_FB_DOCS}),
rm AS (
  SELECT fb.query_id, p.term, round(sum(p.tf::DOUBLE / dl.dl), 9) AS w
  FROM fb JOIN post p USING (doc_id) JOIN dl ON p.doc_id = dl.doc_id
  GROUP BY 1, 2),
rmx AS (
  SELECT rm.query_id, rm.term, rm.w
  FROM rm ANTI JOIN qterms USING (query_id, term)),
sel AS (
  SELECT query_id, term, w FROM (
    SELECT query_id, term, w,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY w DESC, term ASC) AS rn
    FROM rmx) WHERE rn <= {PRF_FB_TERMS}),
fbw AS (
  SELECT query_id, term,
         {1.0 - PRF_ORIG_W} * w / sum(w) OVER (PARTITION BY query_id) AS weight
  FROM sel),
nq AS (SELECT query_id, count(*)::BIGINT AS nq FROM qterms GROUP BY 1),
ow AS (SELECT qterms.query_id, term, {PRF_ORIG_W} / nq.nq AS weight
       FROM qterms JOIN nq USING (query_id)),
expq AS (SELECT * FROM ow UNION ALL SELECT * FROM fbw),
s2 AS (
  SELECT e.query_id, p.doc_id, round(sum(({_W}) * e.weight), 6) AS score
  FROM expq e JOIN ts USING (term) JOIN post p USING (term)
  JOIN dl ON p.doc_id = dl.doc_id CROSS JOIN cs
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC)::INT AS rank
  FROM s2)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {K}
"""
    sql["prf_bm25_topk_indexed"] = sql["prf_bm25_topk"]

    _rsmp_thr = int(RSMP_P * float(1 << 60))
    _rsmp_h = _H60.format(expr=f"('{RSMP_SEED}:' || doc_id::VARCHAR)")
    sql["random_sampler_agg"] = f"""
WITH {_TL}, {_TOKS}, {_POST}, {_DL}, {_CS}, {_TS}, {_QT}, {_SCORED},
m AS (SELECT DISTINCT query_id, doc_id FROM scored),
samp AS (SELECT query_id, doc_id FROM m WHERE {_rsmp_h} < {_rsmp_thr}),
vals AS (SELECT doc_id, "{STATS_VALUE_COL}"::DOUBLE AS v FROM documents
         WHERE "{STATS_VALUE_COL}" IS NOT NULL)
SELECT s.query_id, count(*)::BIGINT AS n_sampled,
       round(count(*) / {RSMP_P})::BIGINT AS n_docs_est,
       round(sum(v) / {RSMP_P}, 6) AS sum_v_est, round(avg(v), 6) AS avg_v
FROM samp s LEFT JOIN vals USING (doc_id)
GROUP BY 1
"""
    sql["random_sampler_agg_indexed"] = sql["random_sampler_agg"]

    return sql
