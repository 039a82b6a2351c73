"""Extended query language over the BM25 engine.

The reference engine answers one query shape: weighted overlap counts per
region set (src/igd_search.c:696-719 streams queries; hits accumulate at
src/igd_search.c:491).  A fulltext user of the grafted engine immediately
wants the classic Lucene-family query surface on top of ranked retrieval,
so this module adds, as pure-DataFrame compositions of the exact scorer
(the building blocks of `igd_spark.search.bm25_scores`: the one corpus
prologue `_corpus_parts` — postings, doc_stats, ONE stats job, query terms
split by the same conf that tokenized the docs, their idf join — and the
`_score_terms` aggregate):

* ``bool_bm25_topk``    — conjunctive (AND) matching with optional NOT
  exclusion terms, BM25-ranked.
* ``filtered_bm25_topk`` — BM25 restricted by an arbitrary document-
  attribute predicate (``lang = 'en'``, ``source LIKE ...``).  Lucene
  filter semantics: the predicate restricts WHICH docs may appear; it does
  NOT change idf / avgdl, which stay global-corpus quantities.
* ``prefix_bm25_topk``  — each query token is a term PREFIX, expanded
  against the term dictionary, then scored disjunctively (terms matched by
  two prefixes of the same query score once).
* ``group_bm25_topk``   — group-level ranking: roll turn-level scores up
  to a grouping column (``conv_id`` for transcripts — ``conv_bm25_topk``
  is the transcript-shaped alias — or ``source`` for the gate corpus) and
  rank groups per query.
* ``snippets``          — keyword-in-context extraction: for each top-k
  (query, doc) hit, a character window of the original text centred on the
  first occurrence of the earliest-occurring matched query term.
* ``near_match``        — proximity (NEAR/slop): all query terms within a
  token window; exact minimal cover span + qualifying-anchor count.
* ``boosted_bm25_topk`` — score × a numeric doc-attribute expression
  (Lucene boost queries; NULL boost = 1.0).
* ``more_like_this``    — seed docs' top tf·idf terms as a disjunctive
  query, self-excluded (the MoreLikeThis surface).

Each retrieval operator also has an index-backed ``*_indexed`` variant
running the identical semantics off a persisted `InvertedIndex`: the only
data touched is the query terms' posting/position blocks (shard partition
+ In(term_id) row-group pruning), and because blocks carry per-posting
document lengths, scoring needs ZERO corpus-sized joins — the corpus
table appears only for attribute predicates (pushdown-pruned narrow scan)
and snippet text fetch.  Rank-identity between each pair is gate- and
pytest-enforced.

Every operator is JVM-side Catalyst code (joins + hash aggregates + window
top-k): no Python UDFs outside the shared Arrow block-decode kernels, no
collects beyond the O(1) corpus-stats row and the pruned-scan prologues'
O(query terms) dictionary slices.

100 TB notes, per operator, are in the docstrings: the query side is always
broadcast; corpus-sized work is one postings scan plus fine-grained-key
shuffles (query_id, doc_id); the prefix expansion streams the vocab-sized
dictionary against a broadcast prefix list.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from igd_spark.config import DEFAULT_CONF, IndexConf
from igd_spark.scoring import (
    _BM25_VARIANT_DELTA,
    SIMILARITIES,
    SPARK_OPS,
    SimStats,
    bm25_weight_col,
    idf_col,
    index_sim_stats,
    similarity,
    variant_model,
)
from igd_spark.search import (
    _PROBE_BOUND,
    TOPK_SCHEMA,
    _Corpus,
    _corpus_parts,
    _df_bounded,
    _driver_route,
    _expand_run,
    _fit,
    _idf_join,
    _materialize_local_queries,
    _pos_bounded,
    _score_terms,
    bm25_scores,
    exact_bm25_topk,
    query_terms,
    rank_topk,
)
from igd_spark.stats import corpus_stats, doc_stats, term_stats
from igd_spark.textstats import bigram_counts
from igd_spark.tokenizer import postings, tokens_col


def _maybe_round(scored: DataFrame, round_dp: int | None) -> DataFrame:
    """Cross-engine rank-stability protocol (same as the gate's
    `_rank_rounded`): round the score BEFORE ranking so Spark and an oracle
    engine rank identical values.  ``None`` keeps raw doubles."""
    if round_dp is None:
        return scored
    return scored.withColumn("score", F.round("score", round_dp))


def _analyzed_qt(qt: DataFrame, conf: IndexConf) -> DataFrame:
    """Apply the conf analyzer to a (query_id, term) set.

    Lucene's stop-filter runs at query-ANALYSIS time too: for conjunctive
    semantics a MUST/AND stopword clause is DROPPED (the query behaves as
    if the clause were never written), not left in as an unsatisfiable
    requirement.  Disjunctive scorers don't need this (an analyzed-away
    term has no postings and contributes nothing either way), so only the
    conjunctive operators call it.  A query whose terms are ALL analyzed
    away matches nothing — the Lucene all-stopword contract."""
    if not conf.stopwords and conf.min_token_len <= 1:
        return qt
    from igd_spark.tokenizer import _analyzer_pred

    return qt.filter(_analyzer_pred(conf.stopwords, conf.min_token_len)(F.col("term")))


def _bool_epilogue(
    scored: DataFrame,
    nq: DataFrame,
    banned: DataFrame | None,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared AND-filter + NOT-exclusion + ranking of both boolean paths
    (DataFrame and indexed) — one copy so the rank-identity contract the
    gate asserts can't silently diverge.  ``scored`` carries n_matched;
    ``banned`` is the (query_id, doc_id) exclusion set or None."""
    hits = (
        scored.join(F.broadcast(nq), "query_id")
        .filter(F.col("n_matched") == F.col("n_required"))
        .select("query_id", "doc_id", "score")
    )
    if banned is not None:
        hits = hits.join(banned, ["query_id", "doc_id"], "left_anti")
    return rank_topk(_maybe_round(hits, round_dp), k)


def bool_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude_col: str | None = None,
    round_dp: int | None = None,
) -> DataFrame:
    """Conjunctive boolean retrieval, BM25-ranked.

    A doc qualifies iff it contains EVERY distinct term of ``query_text``
    (a query holding a corpus-absent term therefore matches nothing — the
    standard AND contract).  When ``exclude_col`` names a second text
    column, docs containing ANY of its terms are removed (NOT clause; a
    null / empty exclude text excludes nothing).  Qualifying docs keep
    their ordinary disjunctive BM25 score, so ranking is consistent with
    `exact_bm25_topk` restricted to the conjunctive hit set.

    Scale: the required-term count and the per-(query, doc) matched-term
    count ride the same hash aggregate the scorer already does (one extra
    countDistinct), and the NOT clause is a left-anti join on the
    fine-grained (query_id, doc_id) key, bounded by the excluded terms'
    postings × queries — no corpus-sized additional pass.
    """
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    # ALL distinct query terms, corpus-absent included — but analyzed-away
    # terms (stopwords / too-short under conf) are DROPPED, the Lucene
    # stop-filter contract: they must not make the AND unsatisfiable
    qt = _analyzed_qt(cp.qt, conf)
    nq = qt.groupBy("query_id").agg(F.countDistinct("term").alias("n_required"))
    scored = _score_terms(
        cp.post, cp.ds, cp.avgdl, _idf_join(qt, cp.ts, cp.n_docs), conf,
        extra_aggs=(F.countDistinct("term").alias("n_matched"),),
    )
    banned = None
    if exclude_col is not None:
        ex = query_terms(queries, conf, exclude_col)
        banned = (
            cp.post.join(F.broadcast(ex), "term")
            .select("query_id", "doc_id")
            .dropDuplicates(["query_id", "doc_id"])
        )
    return _bool_epilogue(scored, nq, banned, k, round_dp)


def filtered_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    where: Column | str,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """BM25 top-k over docs satisfying an attribute predicate.

    Lucene filter-query semantics: ``where`` (a Column or SQL string over
    the ``docs`` columns) restricts which docs may appear in results, but
    idf / n_docs / avgdl remain FULL-corpus statistics — a filter must not
    re-weight terms.  The predicate is pushed below the scoring aggregate
    (left-semi on doc_id against the filtered id set), so excluded docs
    never reach the score hash-agg; with a selective predicate the agg
    shrinks proportionally.  At 100 TB the filtered-id side is produced by
    the same parquet scan with the predicate pushed down to the reader.
    """
    cond = F.expr(where) if isinstance(where, str) else where
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    allowed = docs.filter(cond).select(F.col(id_col).alias("doc_id"))
    post_f = cp.post.join(allowed, "doc_id", "left_semi")
    scored = _score_terms(post_f, cp.ds, cp.avgdl, cp.qt_idf, conf)
    return rank_topk(_maybe_round(scored, round_dp), k)


def prefix_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Prefix (wildcard ``pre*``) retrieval: every token of ``query_text``
    is a term prefix, expanded against the corpus term dictionary; the
    union of expansions scores disjunctively with each matched term's own
    idf (the classic multi-term-query rewrite).  A term matched by two
    prefixes of one query scores once (dropDuplicates on (query_id, term)).

    Scale: expansion is a broadcast-nested-loop of the vocab-sized
    dictionary against the broadcast prefix list — vocab rows × a handful
    of prefixes, one pass, no shuffle.  The expanded term set itself is
    NOT force-broadcast into the scoring join (a hot prefix like "a*" can
    expand to a large vocab fraction, past any broadcast budget): the
    scorer join is left to Catalyst/AQE, which broadcasts small expansions
    on its own and falls back to a shuffle join for monster ones.  The
    scoring cost bound is the expanded terms' total df — the bound any
    wildcard engine accepts.
    """
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    prefixes = F.broadcast(cp.qt.withColumnRenamed("term", "prefix"))
    expanded = (
        _idf_join(
            prefixes, cp.ts, cp.n_docs, F.col("term").startswith(F.col("prefix"))
        )
        .select("query_id", "term", "idf")
        .dropDuplicates(["query_id", "term"])
    )
    scored = _score_terms(cp.post, cp.ds, cp.avgdl, expanded, conf)
    return rank_topk(_maybe_round(scored, round_dp), k)


def rrf_fuse(
    ranked_lists,
    k: int = 10,
    kappa: float = 60.0,
    round_dp: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009) — the
    standard hybrid-retrieval combiner: fuse any number of per-query
    ranked lists (each a DataFrame with query_id, doc_id, rank) into
    (query_id, rank, doc_id, score) with fused score
    Σ over lists containing the doc of 1/(kappa + rank).

    This is how lexical BM25 and vector ANN results combine into one
    hybrid ranking (fuse `exact_bm25_topk`/`search` output with
    `cosine_topk`/`ivf_ann_topk` output, doc keys aligned by the
    caller); rank-only fusion needs no score calibration between
    heterogeneous scorers, which is exactly why RRF is the default in
    hybrid engines.  A query present in only some lists fuses over
    those; a doc appearing twice in ONE list (caller bug) would count
    twice — feed top-k lists, which are per-query doc-distinct by
    construction.

    Scale: inputs are top-k lists — k × queries rows each — so the
    union + fine-keyed agg is query-sized, never corpus-sized.
    """
    lists = list(ranked_lists)
    if not lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if kappa <= 0:
        # kappa + rank could hit 0 (NULL contribution, silently skipped by
        # sum) or invert the ordering for kappa in (-1, 0)
        raise ValueError(f"kappa must be > 0, got {kappa}")
    contrib = F.lit(1.0) / (F.lit(float(kappa)) + F.col("rank"))
    parts = [
        r.select("query_id", "doc_id", contrib.alias("_c")) for r in lists
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "doc_id").agg(F.sum("_c").alias("score"))
    return rank_topk(_maybe_round(fused, round_dp), k)


def linear_fuse(
    scored_lists,
    weights=None,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """Score-based hybrid fusion with per-query min-max normalization —
    the ES ``linear`` retriever (``normalizer: minmax``) counterpart to
    `rrf_fuse`: each input list's scores are rescaled per query to
    [0, 1] via (s - min) / (max - min), then fused as the weighted sum
    Σ w_i · norm_i(doc).  A doc absent from a list contributes 0 for
    that list; when a (query, list) slice has max == min every present
    doc normalizes to 1.0 (all tied at the top — the convention that keeps a single-doc list from
    dividing by zero while still outranking absent docs).  Output
    (query_id, rank, doc_id, score), tie-break score desc / doc_id asc
    on the rounded score.

    Unlike RRF, linear fusion preserves score GAPS inside each list
    (a runaway lexical winner stays a runaway after fusion), which is
    why engines expose both: RRF when the scorers' scales can't be
    trusted, linear when relative magnitudes matter and weights encode
    trust.

    Scale: inputs are per-query top-k lists, so the min/max windows,
    union, and fused agg are all query-sized (k × |queries| rows) —
    never corpus-sized.
    """
    lists = list(scored_lists)
    if not lists:
        raise ValueError("linear_fuse needs at least one scored list")
    if weights is None:
        weights = [1.0] * len(lists)
    if len(weights) != len(lists):
        raise ValueError(
            f"{len(lists)} lists but {len(weights)} weights"
        )
    w = Window.partitionBy("query_id")
    parts = []
    for df, wt in zip(lists, weights):
        s = F.col("score").cast("double")
        smin = F.min(s).over(w)
        smax = F.max(s).over(w)
        norm = F.when(smax == smin, F.lit(1.0)).otherwise(
            (s - smin) / (smax - smin)
        )
        parts.append(
            df.select("query_id", "doc_id", s.alias("score")).select(
                "query_id",
                "doc_id",
                (F.lit(float(wt)) * norm).alias("_c"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "doc_id").agg(F.sum("_c").alias("score"))
    return rank_topk(_maybe_round(fused, round_dp), k)


def boosted_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    boost: Column | str,
    k: int = 10,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`boosted_bm25_topk` over a persisted index: scoring reads only the
    query terms' posting blocks; the ``docs`` table is touched ONLY for
    the (doc_id, boost-expression) projection joined to the sparse scored
    set — the group_bm25 join shape, a narrow pushdown scan at 100 TB."""
    bcol = F.expr(boost) if isinstance(boost, str) else boost
    scored = _indexed_scored(spark, idx, queries)
    bdf = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(bcol.cast("double"), F.lit(1.0)).alias("_boost"),
    )
    boosted = scored.join(bdf, "doc_id").select(
        "query_id", "doc_id", (F.col("score") * F.col("_boost")).alias("score")
    )
    return rank_topk(_maybe_round(boosted, round_dp), k)


def _feature_epilogue(
    scored: DataFrame,
    docs: DataFrame,
    feat: Column,
    id_col: str,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared tail of the feature-booster queries (distance_feature,
    rank_feature): join the sparse scored set to the (doc_id, feature)
    projection and ADD the feature.  A NULL feature contributes 0 (the ES
    contract: a doc missing the field simply gets no boost — it must not
    vanish from, or NULL-poison, the top-k)."""
    fdf = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(feat, F.lit(0.0)).alias("_feat"),
    )
    out = scored.join(fdf, "doc_id").select(
        "query_id", "doc_id", (F.col("score") + F.col("_feat")).alias("score")
    )
    return rank_topk(_maybe_round(out, round_dp), k)


def _distance_feature_col(field: str, origin: float, pivot: float, boost: float) -> Column:
    dist = F.abs(F.col(field).cast("double") - F.lit(float(origin)))
    return F.lit(float(boost)) * F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)


def _rank_feature_col(
    field: str,
    function: str,
    boost: float,
    pivot: float | None,
    scaling_factor: float,
    exponent: float,
) -> Column:
    """The three ES rank_feature score functions over a non-negative
    per-doc feature: saturation f/(f+pivot) (bounded [0,1)), log
    ln(scaling_factor + f) (unbounded, for wide-range features), sigmoid
    f^exp/(f^exp + pivot^exp) (tunable knee)."""
    f = F.col(field).cast("double")
    if function == "saturation":
        if pivot is None:
            raise ValueError("saturation requires pivot")
        feat = f / (f + F.lit(float(pivot)))
    elif function == "log":
        feat = F.log(F.lit(float(scaling_factor)) + f)
    elif function == "sigmoid":
        if pivot is None:
            raise ValueError("sigmoid requires pivot")
        e = float(exponent)
        feat = F.pow(f, e) / (F.pow(f, e) + F.lit(float(pivot) ** e))
    else:
        raise ValueError(f"unknown rank_feature function: {function!r}")
    return F.lit(float(boost)) * feat


def distance_feature_topk(
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``distance_feature`` query: final score = BM25 +
    boost × pivot / (pivot + |field − origin|) — the recency/proximity
    booster.  ADDITIVE, unlike function_score decay (boosted_bm25_topk ×
    multiplier): at dist = 0 the feature contributes exactly ``boost``, at
    dist = pivot exactly boost/2, and it decays hyperbolically — a far doc
    keeps its relevance score instead of being crushed toward 0.  Date
    fields: pass epoch seconds/millis as ``field`` values and origin/pivot
    in the same unit (ES's "7d" pivot is just a duration in millis).

    Scale: the feature rides a (doc_id, field) two-column pushdown scan
    joined to the sparse scored set on doc_id — the boosted/group join
    shape; nothing corpus-wide beyond that narrow projection."""
    scored = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    return _feature_epilogue(
        scored, docs, _distance_feature_col(field, origin, pivot, boost),
        id_col, k, round_dp,
    )


def distance_feature_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    field: str,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    k: int = 10,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`distance_feature_topk` over a persisted index: BM25 comes from the
    query terms' pruned posting blocks; ``docs`` is touched only for the
    narrow (doc_id, field) projection joined to the sparse scored set."""
    scored = _indexed_scored(spark, idx, queries)
    return _feature_epilogue(
        scored, docs, _distance_feature_col(field, origin, pivot, boost),
        id_col, k, round_dp,
    )


def _script_score_epilogue(
    scored: DataFrame,
    docs: DataFrame,
    script: str,
    id_col: str,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared tail of both script_score paths: expose the relevance score
    as ``_score``, evaluate the script expression over (_score, doc
    columns), rank on the result.  Rows where the script evaluates to NULL
    are dropped (the ES contract: a script must produce a number; a
    NULL-scoring doc cannot occupy a rank slot).  Catalyst prunes the doc
    scan to exactly the columns the expression references."""
    j = scored.select(
        "query_id", "doc_id", F.col("score").alias("_score")
    ).join(docs.withColumnRenamed(id_col, "doc_id"), "doc_id")
    out = j.select(
        "query_id", "doc_id", F.expr(script).cast("double").alias("score")
    ).filter(F.col("score").isNotNull())
    return rank_topk(_maybe_round(out, round_dp), k)


def script_score_topk(
    docs: DataFrame,
    queries: DataFrame,
    script: str,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``script_score`` query: the final score is an ARBITRARY
    numeric SQL expression over ``_score`` (the BM25 relevance) and the
    document columns — the general function_score escape hatch
    (boosted_bm25_topk is the multiplicative special case,
    distance_feature / rank_feature the additive ones).  The expression is
    Spark SQL (the sandbox's painless-script analog); because it is
    ANSI-ish, the SAME string runs on the DuckDB oracle.

    Scale: the script rides the scored-set join against a doc projection
    Catalyst prunes to the expression's referenced columns — no wide rows
    move unless the script asks for them."""
    scored = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    return _script_score_epilogue(scored, docs, script, id_col, k, round_dp)


def script_score_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    script: str,
    k: int = 10,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`script_score_topk` over a persisted index (pruned posting blocks +
    the expression-pruned doc projection)."""
    scored = _indexed_scored(spark, idx, queries)
    return _script_score_epilogue(scored, docs, script, id_col, k, round_dp)


def rank_feature_topk(
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    function: str = "saturation",
    pivot: float | None = None,
    boost: float = 1.0,
    scaling_factor: float = 1.0,
    exponent: float = 1.0,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``rank_feature`` query: BM25 + boost × S(feature), where S is
    saturation (f/(f+pivot)), log (ln(scaling_factor+f)) or sigmoid
    (f^exp/(f^exp+pivot^exp)) — static per-doc relevance signals
    (pagerank-ish quality, length priors) folded additively into the
    score.  NULL features contribute 0 (missing field ⇒ no boost).  Same
    narrow-projection join shape as distance_feature."""
    scored = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    feat = _rank_feature_col(field, function, boost, pivot, scaling_factor, exponent)
    return _feature_epilogue(scored, docs, feat, id_col, k, round_dp)


def rank_feature_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    field: str,
    function: str = "saturation",
    pivot: float | None = None,
    boost: float = 1.0,
    scaling_factor: float = 1.0,
    exponent: float = 1.0,
    k: int = 10,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`rank_feature_topk` over a persisted index (pruned posting blocks +
    the narrow feature projection)."""
    scored = _indexed_scored(spark, idx, queries)
    feat = _rank_feature_col(field, function, boost, pivot, scaling_factor, exponent)
    return _feature_epilogue(scored, docs, feat, id_col, k, round_dp)


def facet_counts_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    facet_col: str,
    k: int = 10,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`facet_counts` over a persisted index: the match set comes from the
    pruned posting blocks; ``docs`` contributes only the (doc_id, facet)
    projection."""
    scored = _indexed_scored(spark, idx, queries)
    fdf = docs.select(F.col(id_col).alias("doc_id"), F.col(facet_col).alias("facet"))
    return _facet_epilogue(scored, fdf, k, round_dp)


def _facet_epilogue(
    scored: DataFrame, fdf: DataFrame, k: int, round_dp: int | None
) -> DataFrame:
    """Shared facet roll-up of both facet paths — identical by
    construction.  asc_nulls_last matches the ANSI/DuckDB default so a
    NULL facet ranks the same cross-engine."""
    agg = (
        scored.join(fdf, "doc_id")
        .groupBy("query_id", "facet")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("score").alias("score"),
        )
    )
    agg = _maybe_round(agg, round_dp)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_docs"), F.asc_nulls_last("facet")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "facet", "n_docs", "score")
    )


# ---------------------------------------------------------------------------
# Alternative similarities (LM-Dirichlet, TF-IDF, LM Jelinek-Mercer, DFI,
# DFR-PL2, IB-LL, Axiomatic, BM25+/BM25L): one shared path per source. Each
# weight is written once, in scoring.SIMILARITIES; here it runs as a Catalyst
# expression over hits — (query_id, term, doc_id, tf, dl), EVERY posting of
# every matched query term, which is what makes the per-(query, term) window
# count and sum the true df and cf (deletes-consistent across paths: the
# indexed hits are the tombstone-filtered enumerated blocks).


def _sim_scored(
    hits: DataFrame,
    model: str,
    p: float,
    st: SimStats,
    restrict: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, score): ``model``'s weight summed per doc, df and
    cf from ONE (query_id, term) window over ``hits``.

    ``restrict`` ((query_id, doc_id) rows, e.g. a rescore window): applied
    AFTER the window — df/cf stay the true collection statistics — but
    BEFORE the per-doc aggregation, so only the restricted docs are
    grouped/shuffled. This is what bounds the rescore second pass by
    queries × window_size instead of the full match set."""
    w = Window.partitionBy("query_id", "term")
    # one posting row per (term, doc) by construction, so count == df
    h = hits.select(
        "*", F.count("*").over(w).alias("df"), F.sum("tf").over(w).alias("cf")
    )
    if restrict is not None:
        h = h.join(
            F.broadcast(restrict.select("query_id", "doc_id")),
            ["query_id", "doc_id"],
            "left_semi",
        )
    contrib = SIMILARITIES[model].weight(
        SPARK_OPS, F.col("tf"), F.col("dl"), F.col("df"), F.col("cf"), st, p
    )
    return h.groupBy("query_id", "doc_id").agg(F.sum(contrib).alias("score"))


def _sim_corpus_hits(
    docs: DataFrame,
    queries: DataFrame,
    conf: IndexConf,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, SimStats, _Corpus]:
    """(hits, stats, corpus) of a corpus scan: the hits joined from the
    `_corpus_parts` corpus, whose exact statistics are the stats."""
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    hits = (
        cp.post.join(F.broadcast(cp.qt), "term")
        .join(cp.ds, "doc_id")
        .select("query_id", "term", "doc_id", "tf", "dl")
    )
    return hits, SimStats(cp.n_docs, cp.avgdl, cp.sum_dl, conf.k1, conf.b), cp


def _sim_index_hits(spark, idx, queries, model: str) -> tuple[DataFrame, SimStats]:
    """(hits, stats) of a persisted index: hits from the enumerated pruned
    blocks (zero corpus joins), stats from the frozen corpus metadata."""
    from igd_spark.search import match_enumerate

    st = index_sim_stats(idx.meta, idx.conf, model)
    hits = match_enumerate(spark, idx, queries, with_dl=True).select(
        "query_id", "term", "doc_id", "tf", "dl"
    )
    return hits, st


def _sim_topk(model, p, docs, queries, k, conf, text_col, id_col, round_dp):
    """The corpus-scan `*_topk` of every alternative similarity."""
    similarity(model, p)
    hits, st, _ = _sim_corpus_hits(docs, queries, conf, text_col, id_col)
    return rank_topk(_maybe_round(_sim_scored(hits, model, p, st), round_dp), k)


def _sim_run(model: str, k: int, p: float, round_dp: int | None):
    """``run`` for the alternative-similarity driver routes: the Σdf bound,
    then LocalSearcher.score_n under sim_weigher(model, p)."""
    return _df_bounded(lambda ls, per_q: ls.score_n(
        per_q, k, round_dp=round_dp, weigh=ls.sim_weigher(model, p)))


def _sim_topk_indexed(model, p, spark, idx, queries, k, round_dp, engine):
    """The `*_topk_indexed` of every alternative similarity: the parameter
    check first (every engine fails alike), then the driver route, else the
    distributed plan."""
    similarity(model, p)
    routed = _driver_route(
        spark, idx, queries, engine, TOPK_SCHEMA, _sim_run(model, k, p, round_dp)
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    hits, st = _sim_index_hits(spark, idx, queries, model)
    return rank_topk(_maybe_round(_sim_scored(hits, model, p, st), round_dp), k)


def lm_dirichlet_topk(
    docs: DataFrame,
    queries: DataFrame,
    mu: float = 2000.0,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Language-model retrieval with Dirichlet-prior smoothing (Zhai &
    Lafferty 2001; the Lucene LMDirichletSimilarity surface) — the
    standard alternative similarity to BM25, better for short queries
    over long documents.  Score per doc = Σ over matched terms of
    max(0, ln(1 + tf/(μ·p(t|C))) + ln(μ/(dl+μ))), p(t|C) the term's
    collection frequency over total corpus tokens.

    Scale: identical plan shape to the BM25 scorer (postings ⋈ broadcast
    query terms ⋈ doc_stats → hash agg) plus one window exchange keyed
    (query_id, term) for the collection frequency — computed over the
    matched postings themselves (complete per matched term by
    construction), so no vocab-sized side agg.
    """
    return _sim_topk("lm_dir", mu, docs, queries, k, conf, text_col, id_col, round_dp)


def lm_dirichlet_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    mu: float = 2000.0,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`lm_dirichlet_topk` over a persisted index: only the query terms'
    posting blocks are read; tf, dl, AND the collection frequency all
    come from the enumerated blocks (every posting of a matched term is
    enumerated, so the per-(query, term) window sum is the exact cf);
    total corpus tokens from the index's persisted exact `sum_dl`.
    Zero corpus joins; rank-identity gate- and pytest-enforced."""
    return _sim_topk_indexed("lm_dir", mu, spark, idx, queries, k, round_dp, engine="spark")


def explain_scores(
    docs: DataFrame,
    queries: DataFrame,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Scoring breakdown (the Lucene Explanation surface) — one row per
    (query_id, doc_id, term) match with every BM25 ingredient exposed:
    (tf, dl, df, idf, weight), where weight is the term's contribution
    and sum(weight) over a (query, doc) group IS `bm25_scores`' score
    (pytest-pinned).  The debugging/audit view behind every ranked
    operator: why did this doc outrank that one.

    Scale: exactly the scorer's plan minus the final aggregate — the
    output is the sparse match set itself, bounded by the query terms'
    postings."""
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    j = cp.post.join(
        F.broadcast(cp.qt_idf.select("query_id", "term", "df", "idf")), "term"
    ).join(cp.ds, "doc_id")
    w = bm25_weight_col(F.col("idf"), "tf", "dl", cp.avgdl, conf.k1, conf.b)
    out = j.select(
        "query_id", "doc_id", "term", "tf", "dl", "df", "idf", w.alias("weight")
    )
    if round_dp is not None:
        out = out.withColumn("idf", F.round("idf", round_dp)).withColumn(
            "weight", F.round("weight", round_dp)
        )
    return out


def _wildcard_patterns(queries: DataFrame, text_col: str = "query_text") -> DataFrame:
    """(query_id, pattern) — like `query_terms` but tokens KEEP the ``*``
    (any run) and ``?`` (single char) wildcard metacharacters, which the
    standard tokenizer would strip."""
    toks = F.split(F.lower(F.col(text_col)), r"[^a-z0-9*?]+")
    return (
        queries.select(
            "query_id",
            F.explode(
                F.array_distinct(F.filter(toks, lambda x: x != F.lit("")))
            ).alias("pattern"),
        )
        .dropDuplicates(["query_id", "pattern"])
    )


def wildcard_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Wildcard retrieval (the Lucene WildcardQuery surface): every token
    of ``query_text`` is a pattern where ``*`` matches any character run
    and ``?`` exactly one character, anywhere in the term — ``ta*e``,
    ``quer?``, ``*tion``.  Patterns expand against the corpus term
    dictionary (translated to SQL LIKE ``%``/``_`` — identical semantics
    in every ANSI engine, so the oracle can't drift); the expansion union
    scores disjunctively with each matched term's own idf, a term matched
    by two patterns of one query scoring once — exactly the
    `prefix_bm25_topk` multi-term rewrite, of which prefix is the
    ``pre*`` special case.

    Scale: same story as prefix — expansion is a broadcast-nested-loop of
    the vocab-sized dictionary against the broadcast pattern list (a
    LEADING wildcard can't prune that scan; Lucene pays a reversed-term
    field for the same case — one narrow vocab pass here), and the
    scoring join is left to Catalyst/AQE because a hot pattern can expand
    past any broadcast budget.  Scoring cost is the expanded terms' total
    df, the bound every wildcard engine accepts.
    """
    cp = _corpus_parts(docs, None, conf, text_col, id_col)
    pats = _wildcard_patterns(queries).withColumn(
        "pat", F.translate("pattern", "*?", "%_")
    )
    expanded = (
        _idf_join(F.broadcast(pats), cp.ts, cp.n_docs, F.expr("term LIKE pat"))
        .select("query_id", "term", "idf")
        .dropDuplicates(["query_id", "term"])
    )
    scored = _score_terms(
        cp.post, cp.ds, cp.avgdl, expanded, conf, broadcast_terms=False
    )
    return rank_topk(_maybe_round(scored, round_dp), k)


def wildcard_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
    max_expanded_terms: int = 65_536,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`wildcard_bm25_topk` over a persisted index: patterns expand against
    the index's own dictionary, then only the expanded terms' posting
    blocks are read (same pruned scan and ``max_expanded_terms``
    driver-OOM guard as `prefix_bm25_topk_indexed`).  engine="auto" first
    tries the in-process driver route (pyarrow match_like probe — exact
    Spark `LIKE` parity — + LocalSearcher.score_n) under the same
    budgets; "driver" demands it; "spark" forces the distributed plan."""
    routed = _driver_route(
        spark, idx, queries, engine, TOPK_SCHEMA,
        _expand_run(True, k, round_dp, max_expanded_terms), telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    pats = _wildcard_patterns(queries).withColumn(
        "pat", F.translate("pattern", "*?", "%_")
    )
    expanded = (
        idx.dictionary.join(F.broadcast(pats), F.expr("term LIKE pat"))
        .select("query_id", "term")
        .dropDuplicates(["query_id", "term"])
    )
    exp_local = _collect_expansion(spark, expanded, max_expanded_terms, "wildcard")
    scored = _indexed_scored(spark, idx, queries, qterms=exp_local)
    return rank_topk(_maybe_round(scored, round_dp), k)


def _synonym_members(
    qterms: DataFrame, synonyms: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Shared group derivation of both synonym paths — (qgroups, members).

    ``qgroups``: (query_id, gkey) — the blended groups a query selects: a
    query term in the synonyms table selects its whole group (key
    ``g:<group>``); a term absent from it forms a singleton group
    (``t:<term>`` — the prefix namespaces real group names apart from
    terms).  ``members``: (query_id, gkey, term) — every member term of
    each selected group, INCLUDING members the query never typed (that is
    the point of SynonymQuery)."""
    syn = synonyms.select("term", "group")
    qg = qterms.join(F.broadcast(syn), "term", "left").select(
        "query_id",
        F.coalesce(
            F.concat(F.lit("g:"), "group"), F.concat(F.lit("t:"), "term")
        ).alias("gkey"),
        "term",
    )
    qgroups = qg.select("query_id", "gkey").distinct()
    gmembers = syn.select(F.concat(F.lit("g:"), "group").alias("gkey"), "term")
    singles = (
        qg.filter(F.col("gkey").startswith("t:")).select("gkey", "term").distinct()
    )
    members = (
        qgroups.join(F.broadcast(gmembers.unionByName(singles)), "gkey")
        .dropDuplicates(["query_id", "gkey", "term"])
    )
    return qgroups, members


def synonym_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    synonyms: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Synonym-blended retrieval (the Lucene SynonymQuery surface): terms
    in the same synonym group score as ONE pseudo-term — per doc, tf is
    the SUM of member tfs and df the MAX of member dfs (Lucene's blended
    statistics), so "customer" and a synonym "supplier" saturate together
    instead of double-counting as two independent terms.  ``synonyms`` is
    a (term, group) DataFrame; query terms absent from it behave exactly
    as in the plain scorer (singleton groups — with an empty synonyms
    table this operator IS `bm25_scores` + top-k, pytest-pinned).  A
    group with no member in the corpus matches nothing.

    Scale: the synonyms table is a query-side artifact (thousands of
    rows, broadcast); corpus-sized work is the same single postings join
    the plain scorer does, plus one extra fine-keyed hash agg level
    ((query, gkey, doc) before (query, doc)) — no new corpus passes.
    """
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    _, members = _synonym_members(cp.qt, synonyms)
    df_g = (
        members.join(cp.ts, "term")
        .groupBy("query_id", "gkey")
        .agg(F.max("df").alias("df"))
    )
    tf_g = (
        cp.post.join(F.broadcast(members), "term")
        .groupBy("query_id", "gkey", "doc_id")
        .agg(F.sum("tf").alias("tf"))
    )
    w = bm25_weight_col(F.col("idf"), "tf", "dl", cp.avgdl, conf.k1, conf.b)
    scored = (
        _idf_join(tf_g, F.broadcast(df_g), cp.n_docs, ["query_id", "gkey"])
        .join(cp.ds, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(w).alias("score"))
    )
    return rank_topk(_maybe_round(scored, round_dp), k)


def synonym_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    synonyms: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`synonym_bm25_topk` over a persisted index: only the member terms'
    posting blocks are read (pruned scan), group df comes from the index
    dictionary, and dl from the blocks — zero corpus joins.  Rank-identity
    with the DataFrame path is gate- and pytest-enforced."""
    from igd_spark.search import match_enumerate

    _, members = _synonym_members(query_terms(queries, idx.conf), synonyms)
    me = match_enumerate(
        spark, idx, queries, with_dl=True,
        terms=members.select("query_id", "term").distinct(),
    )
    df_g = (
        members.join(idx.dictionary.select("term", "df"), "term")
        .groupBy("query_id", "gkey")
        .agg(F.max("df").alias("df"))
    )
    tf_g = (
        me.join(F.broadcast(members), ["query_id", "term"])
        .groupBy("query_id", "gkey", "doc_id")
        .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"))
    )
    w = bm25_weight_col(
        idf_col(idx.n_docs, "df"), "tf", "dl", float(idx.avgdl),
        idx.conf.k1, idx.conf.b,
    )
    scored = (
        tf_g.join(F.broadcast(df_g), ["query_id", "gkey"])
        .groupBy("query_id", "doc_id")
        .agg(F.sum(w).alias("score"))
    )
    return rank_topk(_maybe_round(scored, round_dp), k)


def _group_epilogue(
    scored: DataFrame,
    groups: DataFrame,
    agg: str,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared doc→group roll-up + ranking of both group paths (DataFrame
    and indexed) — one copy so the rank-identity contract the gate asserts
    can't silently diverge.  Tie-break mirrors Q11: (score desc, group
    asc)."""
    if agg not in ("sum", "max"):
        raise ValueError(f"agg must be 'sum' or 'max', got {agg!r}")
    agg_fn = F.sum if agg == "sum" else F.max
    g = (
        scored.join(groups, "doc_id")
        .groupBy("query_id", "group")
        .agg(agg_fn("score").alias("score"))
    )
    g = _maybe_round(g, round_dp)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("group"))
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "group", "score")
    )


def group_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    group_col: str,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    agg: str = "sum",
    round_dp: int | None = None,
) -> DataFrame:
    """Group-level ranking: roll per-doc BM25 up to ``group_col`` and rank
    groups per query — (query_id, rank, group, score).  ``agg`` is ``sum``
    (total relevance mass in the group) or ``max`` (best single member).
    For transcripts the group is the conversation: a hit anywhere in a
    conversation ranks the whole conversation (`conv_bm25_topk`).

    Tie-break mirrors Q11: (score desc, group asc).

    Scale: scored is (query, doc) pairs — sparse, bounded by the query
    terms' postings; attaching the group is one join against the
    (doc_id, group) projection of the corpus (at 100 TB: columnar scan of
    two columns, shuffle keyed on doc_id), then a fine-keyed hash agg on
    (query_id, group).
    """
    scored = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    groups = docs.select(
        F.col(id_col).alias("doc_id"), F.col(group_col).alias("group")
    )
    return _group_epilogue(scored, groups, agg, k, round_dp)


def conv_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    agg: str = "sum",
    round_dp: int | None = None,
) -> DataFrame:
    """Conversation-level ranking for the transcript shape (north-star
    input: one doc = one (conv_id, turn_idx) turn): rank conversations by
    rolled-up turn scores."""
    return group_bm25_topk(
        docs, queries, "conv_id", k=k, conf=conf, agg=agg, round_dp=round_dp
    )


def snippets(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    width: int = 30,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: DataFrame | None = None,
) -> DataFrame:
    """Keyword-in-context snippets for the BM25 top-k —
    (query_id, rank, doc_id, term, pos, snippet).

    For each top-k (query, doc) hit: among the query terms the doc matched
    at TOKEN level (so every candidate term is guaranteed present), take
    the one whose first substring occurrence in lower(text) is earliest
    (tie → term asc, which covers one term being a prefix of another at
    the same position), and cut ``substr(text, max(1, pos - width),
    2*width + len(term))`` from the ORIGINAL text.  Positions are computed
    on lower(text), which is length-preserving for the ASCII corpus this
    targets (documented limit: locale-expanding lowercasings would shift
    positions).

    Scale: candidate terms per (query, doc) are bounded by query length;
    the only corpus-sized touch is the join fetching the top-k docs' text
    — k × queries rows against the (doc_id, text) projection.  Token-level
    term membership is tested on those fetched texts (array_contains over
    the tokenized window rows), NOT by re-tokenizing the corpus: when
    ``top`` is supplied (e.g. from the indexed scorer), no full corpus
    pass happens at all.
    """
    if top is None:
        top = exact_bm25_topk(
            docs, queries, k=k, conf=conf, text_col=text_col, id_col=id_col
        )
    qt = query_terms(queries, conf)
    texts = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    hits = top.select("query_id", "doc_id", "rank").join(texts, "doc_id")
    cand = hits.join(F.broadcast(qt), "query_id").filter(
        F.array_contains(tokens_col(F.col("_text"), conf.token_split_re), F.col("term"))
    )
    cand = cand.withColumn("pos", F.instr(F.lower(F.col("_text")), F.col("term")))
    w = Window.partitionBy("query_id", "doc_id").orderBy(F.asc("pos"), F.asc("term"))
    first = cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    start = F.greatest(F.lit(1), F.col("pos") - F.lit(width))
    length = F.lit(2 * width) + F.length("term")
    return first.select(
        "query_id",
        "rank",
        "doc_id",
        "term",
        "pos",
        F.substring(F.col("_text"), start, length).alias("snippet"),
    )


# ---------------------------------------------------------------------------
# Index-backed variants — the 100 TB path
# ---------------------------------------------------------------------------
#
# The DataFrame variants above re-tokenize ``docs`` per call: exact, simple,
# and the right oracle — but a full corpus scan per query batch.  The
# variants below run the same semantics over a persisted `InvertedIndex`:
# the only data touched is the query terms' posting blocks (shard partition
# pruning + In(term_id) row-group pruning, the same scan `search()` uses),
# and because the blocks carry per-posting document lengths (build.py packs
# dls next to tfs — the gdata_t.value analog, src/igd_base.h:45), scoring
# is a pure columnar expression: ZERO corpus-sized joins, no doc_stats
# table, no re-tokenize.  Rank-identity with the DataFrame variants is
# gate- and pytest-enforced.


def _indexed_scored(
    spark,
    idx,
    queries: DataFrame,
    qterms: DataFrame | None = None,
    extra_aggs: tuple[Column, ...] = (),
    allowed: DataFrame | None = None,
    qidf: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, score[, extras]) from pruned posting blocks only.

    ``qterms`` overrides the tokenized query text with an explicit
    (query_id, term) set (prefix expansion).  ``allowed`` (doc_id rows)
    is applied BELOW the scoring aggregate — excluded docs never reach
    the hash agg.  ``qidf`` overrides the per-(query, term) weight rows
    (query_id, term, idf) — fuzzy expansion folds its similarity boost
    into the idf, which is sound because the BM25 weight is linear in
    idf."""
    j = _indexed_contrib(spark, idx, queries, qterms=qterms, qidf=qidf,
                         allowed=allowed)
    return j.groupBy("query_id", "doc_id").agg(
        F.sum("_w").alias("score"), *extra_aggs
    )


def _indexed_contrib(
    spark,
    idx,
    queries,
    qterms: DataFrame | None = None,
    qidf: DataFrame | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """The ONE pruned-block scoring join every indexed scorer shares —
    match_enumerate rows (tf + dl decoded from the blocks) with the
    per-(query, term) weight applied as column ``_w``.  Keeping dl
    decode / pruning / weight semantics in a single place is what the
    indexed operators' gate-enforced rank-identity rests on (the parsed
    query language consumes this pre-aggregation, everything else goes
    through `_indexed_scored`'s final groupBy)."""
    from igd_spark.search import match_enumerate

    if qterms is None:
        qterms = query_terms(queries, idx.conf)
    me = match_enumerate(spark, idx, queries, with_dl=True, terms=qterms)
    if allowed is not None:
        me = me.join(allowed.select("doc_id"), "doc_id", "left_semi")
    if qidf is None:
        qidf = (
            idx.dictionary.join(F.broadcast(qterms.select("query_id", "term")), "term")
            .select("query_id", "term", idf_col(idx.n_docs, "df").alias("idf"))
        )
    j = me.join(F.broadcast(qidf), ["query_id", "term"])
    w = bm25_weight_col(
        F.col("idf"), "tf", "dl", float(idx.avgdl), idx.conf.k1, idx.conf.b
    )
    return j.withColumn("_w", w)


def bool_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    k: int = 10,
    exclude_col: str | None = None,
    round_dp: int | None = None,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`bool_bm25_topk` over a persisted index: AND + NOT with only the
    required/excluded terms' posting blocks scanned.  The NOT clause is a
    second pruned enumeration of the exclude terms — cost bounded by their
    df, never by the corpus.  engine="auto" first tries the in-process
    driver route (LocalSearcher.score_n's AND/NOT rule — zero Spark jobs,
    ms-scale warm)
    under the BM25 postings budgets; "driver" demands it; "spark" forces
    the distributed plan."""
    def run(ls, rows, max_post):
        per_q = ls.term_sets(rows, analyzed=True)
        per_ex = ls.term_sets([(q, e) for q, _, e in rows]) if exclude_col else {}
        # the Σdf bound covers the conjunctive AND the exclude terms' lists,
        # both of which the kernel reads
        cost = _fit(
            ls.batch_cost({q: ts | per_ex.get(q, set()) for q, ts in per_q.items()}),
            max_post, "batch postings",
        )
        return ls.score_n(per_q, k, round_dp=round_dp, and_not=per_ex), {
            "batch_cost_postings": cost,
        }

    routed = _driver_route(
        spark, idx, queries, engine, TOPK_SCHEMA, run, extra=exclude_col,
        telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries, exclude_col)
    qt = _analyzed_qt(query_terms(queries, idx.conf), idx.conf)
    nq = qt.groupBy("query_id").agg(F.countDistinct("term").alias("n_required"))
    scored = _indexed_scored(
        spark, idx, queries, qterms=qt,
        extra_aggs=(F.countDistinct("term").alias("n_matched"),),
    )
    banned = None
    if exclude_col is not None:
        from igd_spark.search import match_enumerate

        exq = queries.select("query_id", F.col(exclude_col).alias("query_text"))
        banned = (
            match_enumerate(spark, idx, exq)
            .select("query_id", "doc_id")
            .dropDuplicates(["query_id", "doc_id"])
        )
    return _bool_epilogue(scored, nq, banned, k, round_dp)


def filtered_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    where: Column | str,
    k: int = 10,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`filtered_bm25_topk` over a persisted index.  The attribute predicate
    still evaluates against the ``docs`` table (the index stores no doc
    attributes), but only as a one-column doc_id scan with the predicate
    pushed to parquet; the corpus text is never touched and idf/avgdl stay
    the index's global stats."""
    cond = F.expr(where) if isinstance(where, str) else where
    allowed = docs.filter(cond).select(F.col(id_col).alias("doc_id"))
    scored = _indexed_scored(spark, idx, queries, allowed=allowed)
    return rank_topk(_maybe_round(scored, round_dp), k)


def _collect_expansion(
    spark, exp: DataFrame, cap: int, what: str
) -> DataFrame:
    """Materialize a dictionary expansion ONCE as a local DataFrame.

    The indexed multi-term paths need the expansion three times (cap
    guard, the pruned scan's driver prologue, the scoring join); without
    this, the uncached expansion DAG — a vocab-sized scan, and for fuzzy
    the dominant SymSpell explode — re-executes per action.  The cap
    bounds driver memory, and the guard fails loudly instead of OOMing."""
    rows = exp.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what} expansion exceeds max_expanded_terms={cap}; raise the "
            f"cap or use the corpus-scan {what} path (distributed expansion)"
        )
    return spark.createDataFrame(rows, exp.schema)


def prefix_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
    max_expanded_terms: int = 65_536,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`prefix_bm25_topk` over a persisted index: prefixes expand against
    the index's own dictionary (vocab-sized scan vs a broadcast prefix
    list), then only the expanded terms' blocks are read.

    The pruned-scan machinery collects the expanded (term_id, n_salts)
    set to the driver to derive shard/row-group prune lists (the same
    prologue `search()` uses), so a hot prefix ("a*") expanding to a
    large vocab fraction would be a driver OOM, not a slow query:
    ``max_expanded_terms`` bounds it with a clear error instead.  Raise
    the cap deliberately, or use the corpus-scan `prefix_bm25_topk`
    (fully distributed expansion) for monster prefixes.

    engine="auto" first tries the in-process driver route (pyarrow
    starts_with probe of the dictionary + LocalSearcher.score_n)
    under search._expand_run's probe/expansion/postings bounds;
    "driver" demands it; "spark" forces the distributed plan."""
    routed = _driver_route(
        spark, idx, queries, engine, TOPK_SCHEMA,
        _expand_run(False, k, round_dp, max_expanded_terms), telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    prefixes = query_terms(queries, idx.conf).withColumnRenamed("term", "prefix")
    expanded = (
        idx.dictionary.join(
            F.broadcast(prefixes), F.col("term").startswith(F.col("prefix"))
        )
        .select("query_id", "term")
        .dropDuplicates(["query_id", "term"])
    )
    exp_local = _collect_expansion(spark, expanded, max_expanded_terms, "prefix")
    scored = _indexed_scored(spark, idx, queries, qterms=exp_local)
    return rank_topk(_maybe_round(scored, round_dp), k)


def group_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    doc_groups: DataFrame,
    k: int = 10,
    agg: str = "sum",
    group_col: str = "group",
    round_dp: int | None = None,
) -> DataFrame:
    """`group_bm25_topk` over a persisted index.  ``doc_groups`` is the
    (doc_id, group) mapping — for transcripts, the (doc_id, conv_id)
    projection of the corpus (two-column columnar scan at 100 TB); the
    scored side is sparse (query-term postings), so the join shuffles
    only hits plus the mapping, keyed on doc_id."""
    scored = _indexed_scored(spark, idx, queries)
    groups = doc_groups.select("doc_id", F.col(group_col).alias("group"))
    return _group_epilogue(scored, groups, agg, k, round_dp)


def snippets_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    width: int = 30,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`snippets` with the top-k produced by the index-backed scorer: the
    corpus table is touched ONLY to fetch the k × queries winning texts
    (doc_id-keyed join) — no full pass anywhere in the plan."""
    top = rank_topk(_maybe_round(_indexed_scored(spark, idx, queries), round_dp), k)
    return snippets(
        docs, queries, k=k, width=width, conf=idx.conf,
        text_col=text_col, id_col=id_col, top=top,
    )


# ---------------------------------------------------------------------------
# Proximity (NEAR / slop) retrieval
# ---------------------------------------------------------------------------


def _near_epilogue(occ: DataFrame, nq: DataFrame, window: int) -> DataFrame:
    """Shared epilogue of both proximity paths — identical results by
    construction (the phrase_match/_anchor_hits pattern).

    ``occ``: (query_id, doc_id, term, pos) occurrences of the query's
    terms.  An anchor is ANY occurrence position p; the window [p, p+w]
    is a hit when every required term occurs inside it, and its span is
    max over terms of (first occurrence in the window) − p.  The minimal
    qualifying window always starts at an occurrence of its earliest term,
    so min(span) over anchors is the exact minimal cover span.

    Cost: the anchor×occurrence join is quadratic in the query terms'
    occurrences PER DOC (never corpus-sized) — the same bound the phrase
    anchor join accepts; at 100 TB cap it by query-term df like every
    other query-side operator."""
    anchors = occ.select("query_id", "doc_id", F.col("pos").alias("p")).distinct()
    cand = occ.join(anchors, ["query_id", "doc_id"]).filter(
        (F.col("pos") >= F.col("p")) & (F.col("pos") <= F.col("p") + window)
    )
    per_term = cand.groupBy("query_id", "doc_id", "p", "term").agg(
        F.min("pos").alias("mn")
    )
    per_anchor = per_term.groupBy("query_id", "doc_id", "p").agg(
        F.count("*").alias("n_terms"), F.max("mn").alias("mx")
    )
    hits = per_anchor.join(F.broadcast(nq), "query_id").filter(
        F.col("n_terms") == F.col("n_required")
    )
    return hits.groupBy("query_id", "doc_id").agg(
        F.min(F.col("mx") - F.col("p")).cast("int").alias("min_span"),
        F.count("*").cast("long").alias("n_anchors"),
    )


def near_match(
    docs: DataFrame,
    queries: DataFrame,
    window: int = 8,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Proximity (Lucene NEAR / slop) retrieval, index-free —
    (query_id, doc_id, min_span, n_anchors).

    A doc matches when ALL the query's distinct terms co-occur within a
    token window of span ≤ ``window`` (positions from the same dense token
    stream phrase_match uses).  ``min_span`` is the exact minimal cover
    span; ``n_anchors`` the number of window start positions that cover
    every term.  A query with a corpus-absent term matches nothing; a
    single-term query matches every containing doc with min_span 0 and
    n_anchors = tf.

    This path re-derives positions from the corpus (right for one-off
    jobs); repeated proximity workloads should build with
    store_positions=True and use `near_match_indexed` (identical results,
    pruned position-block scan)."""
    from igd_spark.search import positional_postings

    qt = query_terms(queries, conf)
    nq = qt.groupBy("query_id").agg(F.countDistinct("term").alias("n_required"))
    pp = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    occ = pp.join(F.broadcast(qt), "term").select("query_id", "doc_id", "term", "pos")
    return _near_epilogue(occ, nq, window)


def near_match_indexed(
    spark,
    idx,
    queries: DataFrame,
    window: int = 8,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`near_match` against the persisted positional index: occurrences
    come from `positional_enumerate`'s shard/term-pruned block scan —
    only the query terms' position blocks are read, never the corpus.
    engine="auto" tries the in-process driver route (LocalSearcher.near_n
    — zero Spark jobs) under the positional footer bound
    (search._pos_bounded); "driver" demands it; "spark" forces the
    distributed plan."""
    from igd_spark.search import positional_enumerate

    routed = _driver_route(
        spark, idx, queries, engine,
        "query_id long, doc_id long, min_span int, n_anchors long",
        _pos_bounded(lambda ls, rows: ls.near_n(rows, window)),
        positional=True, telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    qt = query_terms(queries, idx.conf)
    nq = qt.groupBy("query_id").agg(F.countDistinct("term").alias("n_required"))
    occ = positional_enumerate(spark, idx, queries, terms=qt).select(
        "query_id", "doc_id", "term", "pos"
    )
    return _near_epilogue(occ, nq, window)


def boosted_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    boost: Column | str,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Document-boosted BM25 (the Lucene boost-query surface): the final
    score is bm25 × ``boost``, a numeric expression over the ``docs``
    columns (recency boosts, role weights — e.g. ``"CASE WHEN role = 'user'
    THEN 2.0 ELSE 1.0 END"`` for transcripts).  The boost multiplies the
    whole-document score AFTER term aggregation (it must not distort
    per-term saturation), and idf/avgdl stay global.

    Scale: the boost column rides the (doc_id, boost) projection of the
    corpus — a two-ish-column pushdown scan joined to the sparse scored
    set on doc_id, exactly the group_bm25 join shape.
    """
    bcol = F.expr(boost) if isinstance(boost, str) else boost
    scored = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    # a NULL boost means "no boost" (factor 1.0, the Lucene convention) —
    # without the coalesce, NULL scores would still occupy top-k rank slots
    bdf = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(bcol.cast("double"), F.lit(1.0)).alias("_boost"),
    )
    boosted = scored.join(bdf, "doc_id").select(
        "query_id", "doc_id", (F.col("score") * F.col("_boost")).alias("score")
    )
    return rank_topk(_maybe_round(boosted, round_dp), k)


def _seed_frame(spark, seed_ids, alias: str) -> DataFrame:
    """Normalize MoreLikeThis seed input (DataFrame with a doc_id column,
    one-column DataFrame, or iterable of ids) to a distinct one-column
    frame named ``alias`` — shared by both MLT paths."""
    if isinstance(seed_ids, DataFrame):
        if "doc_id" in seed_ids.columns:
            scol = "doc_id"
        elif len(seed_ids.columns) == 1:
            scol = seed_ids.columns[0]
        else:
            raise ValueError(
                "seed_ids DataFrame must have a doc_id column or exactly one "
                f"column, got {seed_ids.columns}"
            )
        return seed_ids.select(F.col(scol).alias(alias)).distinct()
    return spark.createDataFrame(
        [(int(s),) for s in seed_ids], f"{alias} long"
    ).distinct()


def more_like_this(
    docs: DataFrame,
    seed_ids,
    n_terms: int = 10,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Similar-document retrieval (the Lucene MoreLikeThis surface) —
    (query_id, rank, doc_id, score), where query_id is the seed doc's id.

    For each seed document: its top ``n_terms`` terms by tf·idf
    (idf = ln(n_docs/df), the `keywords_topk` convention; ties broken
    term asc — when ``round_dp`` is set the tf·idf is rounded before the
    selection window so two engines pick identical term sets) form a
    disjunctive query scored with ordinary BM25 over the whole corpus;
    the seed itself is excluded from its own results.

    ``seed_ids``: a DataFrame with a doc_id column, or an iterable of ids.

    Scale: seed term-vectors come from the seed docs' postings rows (a
    broadcast-semi-joined slice, |seeds| docs); everything downstream is
    the standard scorer plan bounded by the selected terms' df.  The seeds
    list is a query batch, not a corpus — millions of seeds means you want
    the all-pairs similarity operators (similarity.py), not MLT.
    """
    spark = docs.sparkSession
    seeds = _seed_frame(spark, seed_ids, "doc_id")
    cp = _corpus_parts(docs, None, conf, text_col, id_col)
    seed_post = cp.post.join(F.broadcast(seeds), "doc_id")
    kw = (
        seed_post.join(cp.ts, "term")
        .select(
            F.col("doc_id").alias("query_id"),
            "term",
            (F.col("tf") * F.log(F.lit(float(cp.n_docs)) / F.col("df"))).alias("tfidf"),
        )
    )
    if round_dp is not None:
        kw = kw.withColumn("tfidf", F.round("tfidf", round_dp))
    wk = Window.partitionBy("query_id").orderBy(F.desc("tfidf"), F.asc("term"))
    qt = (
        kw.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= n_terms)
        .select("query_id", "term")
    )
    qt_idf = _idf_join(qt, cp.ts, cp.n_docs)
    scored = _score_terms(cp.post, cp.ds, cp.avgdl, qt_idf, conf).filter(
        F.col("query_id") != F.col("doc_id")
    )
    return rank_topk(_maybe_round(scored, round_dp), k)


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) retrieval
# ---------------------------------------------------------------------------


def _deletion_variants(col: str, max_edits: int) -> Column:
    """array<string> of every string reachable from ``col`` by deleting up
    to ``max_edits`` characters (the string itself included) — the SymSpell
    candidate key set.  Guarantee used below: lev(a, b) <= d implies the
    d-deletion neighbourhoods of a and b intersect (align a and b under
    <= d edit ops; deleting each side's edited characters leaves the same
    common subsequence, <= d deletions per side), so an equi-join on
    variants is a SUPERSET of the true edit-distance matches and an exact
    `levenshtein` verify on candidates recovers exactly the scan-mode set.

    Pure Catalyst higher-order functions (transform/filter/flatten over a
    sequence) — no UDF, whole-stage-codegen'd."""
    expr = f"array({col})"
    for _ in range(max_edits):
        one_del = (
            "flatten(transform("
            f"filter({expr}, s -> length(s) > 0), "
            "s -> transform(sequence(1, length(s)), "
            "i -> concat(substr(s, 1, i - 1), substr(s, i + 1)))))"
        )
        expr = f"array_union({expr}, {one_del})"  # union is already distinct
    return F.expr(expr)


def fuzzy_expand(
    qterms: DataFrame,
    dictionary: DataFrame,
    max_edits: int = 1,
    mode: str = "deletes",
) -> DataFrame:
    """Expand query terms against a term dictionary by Levenshtein distance
    — (query_id, term, df, boost), one row per dictionary term within
    ``max_edits`` of ANY of the query's terms.

    ``boost`` is the classic Lucene fuzzy similarity
    ``1 - dist / min(len(query_term), len(term))``, floored at 0 (1.0 for
    an exact match); a dictionary term reached from several query terms
    of one query keeps its best (max) boost — max is order-independent,
    so the result is engine-deterministic.  Terms whose best boost is 0
    (dist >= the shorter length, e.g. a 1-char query term at max_edits=2)
    are DROPPED — they contribute nothing, and without the floor they
    would go negative and subtract score, which Lucene excludes.

    ``mode='deletes'`` (default, the scale path): SymSpell-style — both
    sides explode into <= ``max_edits``-deletion variants, candidates come
    from a hash EQUI-join on the variant key, then an exact JVM
    `levenshtein` verify.  Variant blow-up is |vocab| x O(len^d) rows in
    one narrow pass — no quadratic vocab x queries scan; for repeated
    fuzzy workloads persist the dictionary-side variant table once.
    ``mode='scan'`` is the brute-force broadcast-nested-loop (vocab x
    query-terms levenshtein evals) — the oracle shape, and exactly equal
    output by the superset+verify argument above (pytest-pinned).

    ``dictionary``: (term, df[, ...]) — `term_stats` output or
    `InvertedIndex.dictionary`.
    """
    cand = _fuzzy_candidates(qterms, dictionary, max_edits, mode)
    return (
        cand.groupBy("query_id", "term")
        .agg(F.max("boost").alias("boost"), F.max("df").alias("df"))
        .filter(F.col("boost") > 0.0)
    )


def _fuzzy_candidates(
    qterms: DataFrame,
    dictionary: DataFrame,
    max_edits: int,
    mode: str,
    qv: DataFrame | None = None,
) -> DataFrame:
    """(query_id, qterm, term, df, boost) — every dictionary term within
    ``max_edits`` of each query term, boost floored at 0 (shared by
    `fuzzy_expand` and `suggest_terms`).  ``qv`` optionally supplies the
    query-side deletion variants precomputed (and cached) by a compiled
    percolator — (query_id, qterm, variant) — so repeated micro-batches
    skip re-deriving them (mode="deletes" only)."""
    qt = qterms.select("query_id", F.col("term").alias("qterm"))
    dct = dictionary.select("term", "df")
    if mode == "scan":
        cand = dct.join(
            F.broadcast(qt),
            F.levenshtein(F.col("term"), F.col("qterm")) <= max_edits,
        )
    elif mode == "deletes":
        if qv is None:
            qv = qt.withColumn(
                "variant", F.explode(_deletion_variants("qterm", max_edits))
            )
        dv = dct.withColumn("variant", F.explode(_deletion_variants("term", max_edits)))
        cand = (
            dv.join(F.broadcast(qv), "variant")
            .dropDuplicates(["query_id", "qterm", "term"])
            .filter(F.levenshtein(F.col("term"), F.col("qterm")) <= max_edits)
        )
    else:
        raise ValueError(f"mode must be 'deletes' or 'scan', got {mode!r}")
    boost = F.greatest(
        F.lit(0.0),
        F.lit(1.0)
        - F.levenshtein(F.col("term"), F.col("qterm")).cast("double")
        / F.least(F.length("term"), F.length("qterm")).cast("double"),
    )
    return cand.select("query_id", "qterm", "term", "df").withColumn("boost", boost)


def suggest_terms(
    queries: DataFrame,
    dictionary: DataFrame,
    max_edits: int = 1,
    n: int = 3,
    mode: str = "deletes",
    round_dp: int | None = None,
) -> DataFrame:
    """Spell suggestions ("did you mean", the Lucene SpellChecker surface)
    — (query_id, qterm, rank, suggestion, boost, df): for every query
    term, the top ``n`` dictionary terms within ``max_edits`` Levenshtein
    distance, the term itself excluded, ranked by (similarity boost desc,
    df desc, suggestion asc) — the classic similarity-then-popularity
    order.  A query term with no in-distance neighbour yields no rows; a
    term already in the dictionary still gets suggestions (its
    neighbours), which callers typically surface only for absent terms.

    ``dictionary``: (term, df[, ...]) — `term_stats` output or
    `InvertedIndex.dictionary`.  Candidate generation and scale notes are
    `fuzzy_expand`'s (SymSpell deletes equi-join by default).
    """
    cand = _fuzzy_candidates(
        query_terms(queries, DEFAULT_CONF), dictionary, max_edits, mode
    )
    cand = cand.filter(
        (F.col("term") != F.col("qterm")) & (F.col("boost") > 0.0)
    )
    if round_dp is not None:
        cand = cand.withColumn("boost", F.round("boost", round_dp))
    w = Window.partitionBy("query_id", "qterm").orderBy(
        F.desc("boost"), F.desc("df"), F.asc("term")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select(
            "query_id", "qterm", "rank", F.col("term").alias("suggestion"),
            "boost", "df",
        )
    )


def fuzzy_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    max_edits: int = 1,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "deletes",
    round_dp: int | None = None,
) -> DataFrame:
    """Fuzzy retrieval (the Lucene FuzzyQuery surface): every query token
    expands to the corpus terms within ``max_edits`` Levenshtein distance;
    the union scores disjunctively, each matched term weighted by its own
    idf x the similarity boost (`fuzzy_expand`) — so "sparc joim" finds
    the "spark join" docs, exact matches outrank their typo neighbours,
    and a term with boost 0 (dist == shorter length) contributes nothing.

    Scale: the multi-term-query rewrite pattern of `prefix_bm25_topk` —
    expansion cost is the SymSpell equi-join (`fuzzy_expand`), scoring
    cost the expanded terms' total df.  The expanded set is bounded by
    query terms x their close vocab neighbours (small), so it broadcasts
    into the scoring join.
    """
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    exp = fuzzy_expand(cp.qt, cp.ts, max_edits=max_edits, mode=mode)
    qt_idf = exp.withColumn("idf", F.col("boost") * idf_col(cp.n_docs, "df"))
    scored = _score_terms(cp.post, cp.ds, cp.avgdl, qt_idf, conf)
    return rank_topk(_maybe_round(scored, round_dp), k)


def fuzzy_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    max_edits: int = 1,
    k: int = 10,
    mode: str = "deletes",
    round_dp: int | None = None,
    max_expanded_terms: int = 65_536,
) -> DataFrame:
    """`fuzzy_bm25_topk` over a persisted index: expansion runs against the
    index's own dictionary, then only the expanded terms' posting blocks
    are read (same pruned scan as `prefix_bm25_topk_indexed`, same
    ``max_expanded_terms`` driver-OOM guard on the prune-list prologue).
    Rank-identity with the DataFrame path is gate- and pytest-enforced."""
    qt = query_terms(queries, idx.conf)
    exp = fuzzy_expand(qt, idx.dictionary, max_edits=max_edits, mode=mode)
    exp_local = _collect_expansion(spark, exp, max_expanded_terms, "fuzzy")
    qidf = exp_local.select(
        "query_id", "term", (F.col("boost") * idf_col(idx.n_docs, "df")).alias("idf")
    )
    scored = _indexed_scored(
        spark, idx, queries, qterms=exp_local.select("query_id", "term"), qidf=qidf
    )
    return rank_topk(_maybe_round(scored, round_dp), k)


def facet_counts(
    docs: DataFrame,
    queries: DataFrame,
    facet_col: str,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Facet counts over each query's match set (the Lucene/Solr faceting
    surface) — (query_id, rank, facet, n_docs, score): group the docs
    matching >= 1 query term by ``facet_col``, count them, and carry the
    facet's total BM25 mass; top-k facets per query by (n_docs desc,
    facet asc) — an integer sort key, so ranking is float-free.

    Scale: the match set is sparse (bounded by the query terms' postings);
    attaching the facet is one join against the (doc_id, facet) corpus
    projection — the `group_bm25_topk` join shape, a two-column pushdown
    scan at 100 TB — then a fine-keyed hash agg on (query_id, facet).
    """
    scored = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    fdf = docs.select(F.col(id_col).alias("doc_id"), F.col(facet_col).alias("facet"))
    return _facet_epilogue(scored, fdf, k, round_dp)


def _search_after_epilogue(
    scored: DataFrame, after: DataFrame, k: int, round_dp: int | None
) -> DataFrame:
    """Shared keyset-cursor filter + top-k of both search_after paths —
    identical by construction (the facet-family discipline)."""
    scored = _maybe_round(scored, round_dp)
    cur = after.select(
        "query_id",
        F.col("after_score").cast("double").alias("_as"),
        F.col("after_doc_id").alias("_ad"),
    )
    j = scored.join(F.broadcast(cur), "query_id", "left")
    keep = (
        F.col("_as").isNull()
        | (F.col("score") < F.col("_as"))
        | ((F.col("score") == F.col("_as")) & (F.col("doc_id") > F.col("_ad")))
    )
    return rank_topk(j.filter(keep).select("query_id", "doc_id", "score"), k)


def _rescore_epilogue(
    first: DataFrame,
    hits: DataFrame,
    st: SimStats,
    mu: float,
    window_size: int,
    query_weight: float,
    rescore_weight: float,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared window-select + LMD-restricted-rescore + combine of both
    rescore paths — identical by construction.  The second pass is
    restricted to the window BEFORE its per-doc aggregation (via
    `_sim_scored(restrict=win)`), so pass-2 shuffle cost is bounded by
    queries × window_size, never the match set."""
    first = _maybe_round(first, round_dp)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    win = (
        first.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= window_size)
        .select("query_id", "doc_id", F.col("score").alias("_fs"))
    )
    second = _maybe_round(
        _sim_scored(hits, "lm_dir", mu, st, restrict=win), round_dp
    ).select("query_id", "doc_id", F.col("score").alias("_ls"))
    comb = win.join(second, ["query_id", "doc_id"], "left").select(
        "query_id",
        "doc_id",
        (
            F.lit(float(query_weight)) * F.col("_fs")
            + F.lit(float(rescore_weight)) * F.coalesce(F.col("_ls"), F.lit(0.0))
        ).alias("score"),
    )
    return rank_topk(_maybe_round(comb, round_dp), k)


def search_after_topk(
    docs: DataFrame,
    queries: DataFrame,
    after: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Keyset pagination — the ES ``search_after`` surface.  ``after`` is a
    cursor DataFrame (query_id, after_score, after_doc_id): for each query,
    return the next ``k`` docs STRICTLY after the cursor in ranking order
    (score desc, doc_id asc), i.e. score < after_score OR (score =
    after_score AND doc_id > after_doc_id).  A query with no cursor row
    gets page 1 (no restriction) — the ES first-request convention.
    Ranks restart at 1 within the page (the caller tracks the page offset).

    Unlike from/size deep paging, the filter composes with top-k pruning:
    page N costs the same as page 1 (no "skip 10·N rows" sort), which is
    the entire point of search_after at 100 TB — the cursor predicate is
    applied BEFORE the rank window, so the window input stays k-bounded
    per partition, never offset-bounded.

    Rounding protocol: scores are rounded (``round_dp``) BEFORE the cursor
    comparison and ranking, so a cursor captured from a previous page's
    (rounded) output always splits the order identically cross-engine.
    """
    return _search_after_epilogue(
        bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col),
        after, k, round_dp,
    )


def rescore_topk(
    docs: DataFrame,
    queries: DataFrame,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    mu: float = 2000.0,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Two-pass retrieval — the ES ``rescore`` surface: a cheap first pass
    (BM25) selects each query's top ``window_size`` docs; an expensive
    second scorer (LM Dirichlet, μ=``mu``) re-scores ONLY that window; the
    final rank is query_weight·bm25 + rescore_weight·lmd over the window
    (the ES total-score combination, docs outside the window never
    resurface).

    Scale: this is the standard cascade shape for expensive rankers — the
    second pass's cost is bounded by queries × window_size, independent of
    corpus size.  Here both passes share one postings scan (the LMD pass
    reuses the matched-postings frame, its collection frequencies computed
    over the match set per `_sim_scored`'s completeness argument); a more
    expensive reranker (cross-encoder UDF) would slot in at the same
    seam with the same bound.

    Rounding protocol (``round_dp``): first-pass scores are rounded BEFORE
    window selection, second-pass scores before combination, and the
    combined score before final ranking — three float boundaries, each
    resolved on rounded values so engines can't diverge on last-ulp noise.
    """
    hits, st, cp = _sim_corpus_hits(docs, queries, conf, text_col, id_col)
    first = _score_terms(cp.post, cp.ds, cp.avgdl, cp.qt_idf, conf)
    return _rescore_epilogue(
        first, hits, st, mu, window_size, query_weight, rescore_weight, k, round_dp
    )


def _regexp_patterns(queries: DataFrame, text_col: str = "query_text") -> DataFrame:
    """(query_id, pattern): the whole trimmed, lowercased query string is
    ONE regular expression — the Lucene RegexpQuery convention (a regex
    matches the ENTIRE term; anchoring is implicit)."""
    return queries.select(
        "query_id", F.lower(F.trim(F.col(text_col))).alias("pattern")
    ).filter(F.col("pattern") != "")


def regexp_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Regexp retrieval (the Lucene/ES RegexpQuery surface): each query's
    text is one regular expression matched against ENTIRE dictionary terms
    (Lucene's implicit anchoring — implemented as ``^(?:pat)$``); matching
    terms score disjunctively with their own idf, the
    `wildcard_bm25_topk` rewrite with regex in place of LIKE.

    Dialect note: Spark evaluates Java regex, oracle engines typically
    RE2/POSIX — callers should stay in the shared subset (literals,
    ``.``, ``[...]`` classes, ``|`` alternation, ``* + ?`` quantifiers,
    ``(...)`` groups); lookaround/backreferences are Java-only and
    explicitly out of contract.

    Scale: identical to wildcard — a broadcast-nested-loop of the
    vocab-sized dictionary against the broadcast pattern list (regex can't
    prune a term-ordered scan; Lucene walks its FST with the regex
    automaton, the analog of this one narrow vocab pass), then a scoring
    join sized by the expansion's total df, left to Catalyst/AQE.
    """
    cp = _corpus_parts(docs, None, conf, text_col, id_col)
    pats = _regexp_patterns(queries).withColumn(
        "pat", F.concat(F.lit("^(?:"), F.col("pattern"), F.lit(")$"))
    )
    expanded = (
        _idf_join(F.broadcast(pats), cp.ts, cp.n_docs, F.expr("term RLIKE pat"))
        .select("query_id", "term", "idf")
        .dropDuplicates(["query_id", "term"])
    )
    scored = _score_terms(
        cp.post, cp.ds, cp.avgdl, expanded, conf, broadcast_terms=False
    )
    return rank_topk(_maybe_round(scored, round_dp), k)


def regexp_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
    max_expanded_terms: int = 65_536,
) -> DataFrame:
    """`regexp_bm25_topk` over a persisted index: the regex runs against
    the index's own dictionary, then only the matched terms' posting
    blocks are read (same pruned scan and ``max_expanded_terms``
    driver-OOM guard as the other expansion-query indexed variants)."""
    pats = _regexp_patterns(queries).withColumn(
        "pat", F.concat(F.lit("^(?:"), F.col("pattern"), F.lit(")$"))
    )
    expanded = (
        idx.dictionary.join(F.broadcast(pats), F.expr("term RLIKE pat"))
        .select("query_id", "term")
        .dropDuplicates(["query_id", "term"])
    )
    exp_local = _collect_expansion(spark, expanded, max_expanded_terms, "regexp")
    scored = _indexed_scored(spark, idx, queries, qterms=exp_local)
    return rank_topk(_maybe_round(scored, round_dp), k)


def search_after_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    after: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`search_after_topk` off a persisted index: the disjunctive scored
    set comes from pruned posting blocks (zero corpus joins), then the same
    keyset-cursor filter + top-k.  Page N costs one pruned scan — identical
    to page 1, the search_after contract at 100 TB."""
    return _search_after_epilogue(
        _indexed_scored(spark, idx, queries), after, k, round_dp
    )


def rescore_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    mu: float = 2000.0,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`rescore_topk` off a persisted index: the BM25 first pass runs
    through the ONE shared indexed scoring join (`_indexed_scored`), the
    LM Dirichlet second pass over the pruned match_enumerate rows (exact
    cf via the per-(query, term) window, total tokens from the persisted
    sum_dl) — zero corpus joins, rank-identity with the corpus path
    gate-enforced."""
    hits, st = _sim_index_hits(spark, idx, queries, "lm_dir")
    # first pass through the ONE shared indexed scoring join
    # (_indexed_contrib) — never a private reimplementation
    first = _indexed_scored(spark, idx, queries)
    return _rescore_epilogue(
        first, hits, st, mu, window_size, query_weight, rescore_weight, k, round_dp
    )


def explain_scores_indexed(
    spark,
    idx,
    queries: DataFrame,
    round_dp: int | None = None,
) -> DataFrame:
    """`explain_scores` off a persisted index: the same per-(query, doc,
    term) BM25 ingredient breakdown, with tf/dl decoded from pruned posting
    blocks and df/idf from the dictionary sidecar — zero corpus joins.
    Rides `_indexed_contrib` (the ONE indexed scoring join), so the
    explained weights are BY CONSTRUCTION the ones every indexed scorer
    sums."""
    qt = query_terms(queries, idx.conf)
    qidf = (
        idx.dictionary.join(F.broadcast(qt.select("query_id", "term")), "term")
        .select(
            "query_id", "term", F.col("df").cast("long").alias("df"),
            idf_col(idx.n_docs, "df").alias("idf"),
        )
    )
    j = _indexed_contrib(spark, idx, queries, qterms=qt, qidf=qidf)
    out = j.select(
        "query_id", "doc_id", "term", "tf", "dl", "df", "idf",
        F.col("_w").alias("weight"),
    )
    if round_dp is not None:
        out = out.withColumn("idf", F.round("idf", round_dp)).withColumn(
            "weight", F.round("weight", round_dp)
        )
    return out


def more_like_this_indexed(
    spark,
    idx,
    docs: DataFrame,
    seed_ids,
    n_terms: int = 10,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`more_like_this` off a persisted index: seed term-vectors come from
    tokenizing ONLY the seed docs (left-semi BEFORE tokenization — the ES
    term-vectors fetch), df/idf from the dictionary sidecar, and the
    resulting disjunctive query runs through the shared indexed scorer
    (pruned blocks, zero corpus-sized joins).  ``docs`` supplies only the
    seed rows' text."""
    seeds = _seed_frame(spark, seed_ids, "_sid")
    seed_docs = docs.join(
        F.broadcast(seeds), docs[id_col] == seeds["_sid"], "left_semi"
    )
    seed_post = postings(seed_docs, text_col=text_col, id_col=id_col, conf=idx.conf)
    kw = seed_post.join(
        F.broadcast(
            idx.dictionary.select("term", "df").join(
                F.broadcast(seed_post.select("term").distinct()), "term"
            )
        ),
        "term",
    ).select(
        F.col("doc_id").alias("query_id"),
        "term",
        (F.col("tf") * F.log(F.lit(float(idx.n_docs)) / F.col("df"))).alias("tfidf"),
    )
    if round_dp is not None:
        kw = kw.withColumn("tfidf", F.round("tfidf", round_dp))
    wk = Window.partitionBy("query_id").orderBy(F.desc("tfidf"), F.asc("term"))
    qt = (
        kw.withColumn("_rn", F.row_number().over(wk))
        .filter(F.col("_rn") <= n_terms)
        .select("query_id", "term")
    )
    scored = _indexed_scored(spark, idx, None, qterms=qt).filter(
        F.col("query_id") != F.col("doc_id")
    )
    return rank_topk(_maybe_round(scored, round_dp), k)


def multi_field_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    fields: dict[str, float],
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Multi-field retrieval — the ES ``multi_match`` (``most_fields``) /
    BM25F-lite surface: each entry of ``fields`` (column → boost) is scored
    as its OWN BM25 field with its OWN df / dl / avgdl (Lucene keeps
    per-field statistics — a term's rarity in a short keyword field is not
    its rarity in the body), and the document's final score is
    Σ_f boost_f · bm25_f(q, d).  A doc matching in ANY field is a hit
    (most_fields semantics; best_fields would take greatest() instead —
    one-line variant).

    Scale: one postings/doc-stats pass PER FIELD (each a narrow projection
    scan — exactly what Lucene's per-field inverted indexes cost), then a
    union + fine-keyed (query_id, doc_id) hash agg; no corpus-sized joins
    beyond the per-field scorer plans.
    """
    if not fields:
        raise ValueError("fields must map at least one column to a boost")
    parts = []
    for fcol, boost in fields.items():
        s = bm25_scores(docs, queries, conf=conf, text_col=fcol, id_col=id_col)
        parts.append(
            s.select(
                "query_id", "doc_id",
                (F.col("score") * F.lit(float(boost))).alias("score"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    comb = u.groupBy("query_id", "doc_id").agg(F.sum("score").alias("score"))
    return rank_topk(_maybe_round(comb, round_dp), k)


def build_field_indexes(
    spark,
    docs: DataFrame,
    path: str,
    fields: dict[str, float],
    conf: IndexConf = DEFAULT_CONF,
    id_col: str = "doc_id",
    resume: bool = False,
) -> dict[str, tuple[object, float]]:
    """Build one persisted inverted index PER FIELD under
    ``<path>/field=<col>/`` — Lucene's per-field inverted index structure
    expressed as per-field segment subdirectories (each field keeps its OWN
    dictionary/df, doc_stats/dl and avgdl, which is exactly what
    multi-field scoring needs; the reference's single-axis layout is the
    one-field special case, src/igd_base.c:396-461).  Returns
    {field: (InvertedIndex, boost)} ready for multi_field_bm25_topk_indexed.
    Each sub-build is the standard stage-committed build (lineage, resume,
    existing-db guard) — a crashed multi-field build resumes per field."""
    from igd_spark.index import build_index

    out: dict[str, tuple[object, float]] = {}
    for fcol, boost in fields.items():
        sub = f"{path}/field={fcol}"
        fdocs = docs.select(F.col(id_col).alias("doc_id"), F.col(fcol).alias("text"))
        out[fcol] = (
            build_index(spark, fdocs, sub, conf=conf, resume=resume),
            float(boost),
        )
    return out


def open_field_indexes(
    spark, path: str, fields: dict[str, float]
) -> dict[str, tuple[object, float]]:
    """Open handles over a build_field_indexes layout."""
    from igd_spark.index import open_index

    return {
        fcol: (open_index(spark, f"{path}/field={fcol}"), float(boost))
        for fcol, boost in fields.items()
    }


def _field_route(
    spark,
    field_indexes: dict[str, tuple[object, float]],
    queries,
    k: int,
    round_dp: int | None,
    engine: str,
    combine,
    telemetry: dict | None = None,
) -> DataFrame | None:
    """Driver route of the PER-FIELD scorers (multi_field / dis_max over
    build_field_indexes layouts): one LocalSearcher per field index, each
    producing its FULL unrounded match map (score_n with k=None — a
    field's non-top-k doc can still win the combined rank) over its own
    term sets, combined in pandas, rounded-then-ranked with the shared
    tie-break.  Cost bound = Σ_fields per-field Σdf (each field's
    batch_cost is the same IO-free dictionary bound the search() route
    uses); the gate runs on the first field's conf.
    ``combine(pdf) -> pdf`` reduces the boosted per-field rows to one
    (query_id, doc_id, score) per pair."""
    import numpy as np
    import pandas as pd

    from igd_spark.local import _round_half_up_spark, local_searcher

    first_idx = next(iter(field_indexes.values()))[0]

    def run(_ls, rows, max_post):
        fields = []
        for idx, boost in field_indexes.values():
            ls = local_searcher(idx)
            fields.append((ls, ls.term_sets(rows), boost))
        total = _fit(
            sum(ls.batch_cost(per_q) for ls, per_q, _ in fields),
            max_post, "Σ per-field postings",
        )
        frames = []
        for ls, per_q, boost in fields:
            pdf = ls.score_n(per_q)
            if len(pdf):
                frames.append(pdf.assign(score=pdf["score"] * float(boost)))
        if not frames:
            return [], {"batch_cost_postings": total}
        comb = combine(pd.concat(frames, ignore_index=True))
        if round_dp is not None:
            comb = comb.assign(
                score=_round_half_up_spark(
                    comb["score"].to_numpy(dtype=np.float64), round_dp
                )
            )
        comb = comb.sort_values(
            ["query_id", "score", "doc_id"], ascending=[True, False, True]
        )
        comb = comb.assign(
            rank=(comb.groupby("query_id").cumcount() + 1).astype("int32")
        )
        comb = comb[comb["rank"] <= int(k)][["query_id", "rank", "doc_id", "score"]]
        return comb, {"batch_cost_postings": total}

    return _driver_route(
        spark, first_idx, queries, engine, TOPK_SCHEMA, run, telemetry=telemetry
    )


def _mf_sum_combine(pdf):
    return (
        pdf.groupby(["query_id", "doc_id"], as_index=False)
        .agg(score=("score", "sum"))
    )


def multi_field_bm25_topk_indexed(
    spark,
    field_indexes: dict[str, tuple[object, float]],
    queries: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`multi_field_bm25_topk` over PERSISTED per-field indexes
    (build_field_indexes): each field's contribution comes from its own
    pruned posting-block scan via the shared `_indexed_contrib` join — per
    query batch the cost is Σ_f (query terms' blocks in field f), never a
    corpus re-tokenize.  most_fields combination (boosted sum across
    fields) and the rank/tie-break discipline are identical to the
    corpus-scan variant, hence the same oracle.

    engine="auto" first tries the in-process per-field driver route
    (_field_route — one LocalSearcher per field, full match maps
    combined in pandas) under the summed per-field postings budgets;
    "driver" demands it; "spark" forces the distributed plan."""
    if not field_indexes:
        raise ValueError("field_indexes must contain at least one field")
    routed = _field_route(
        spark, field_indexes, queries, k, round_dp, engine,
        _mf_sum_combine, telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    parts = []
    for fcol, (idx, boost) in field_indexes.items():
        scored = _indexed_scored(spark, idx, queries)
        parts.append(
            scored.select(
                "query_id", "doc_id",
                (F.col("score") * F.lit(float(boost))).alias("score"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    comb = u.groupBy("query_id", "doc_id").agg(F.sum("score").alias("score"))
    return rank_topk(_maybe_round(comb, round_dp), k)


# ---------------------------------------------------------------------------
# minimum_should_match, field collapsing, dis_max, highlighting, completion
# ---------------------------------------------------------------------------


def _msm_epilogue(
    scored: DataFrame, msm: int, k: int, round_dp: int | None
) -> DataFrame:
    """Shared minimum_should_match filter + ranking of both paths (the
    `_bool_epilogue` discipline).  ``scored`` carries n_matched."""
    hits = scored.filter(F.col("n_matched") >= int(msm)).select(
        "query_id", "doc_id", "score"
    )
    return rank_topk(_maybe_round(hits, round_dp), k)


def msm_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    min_should_match: int = 2,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES/Lucene ``minimum_should_match`` contract on a bag of SHOULD
    terms: a doc qualifies iff it contains at least ``min_should_match``
    DISTINCT query terms, and qualifying docs keep their ordinary
    disjunctive BM25 score.  msm=1 degrades to `exact_bm25_topk`; msm =
    number of query terms degrades to `bool_bm25_topk`'s AND (both
    pytest-pinned).  Terms the analyzer removes don't count toward the
    requirement (they could never match — the stop-filter contract), but
    unlike the AND operator the requirement itself is the user's absolute
    number, as in Lucene's BooleanQuery.setMinimumNumberShouldMatch.

    Scale: the per-(query, doc) distinct-match count rides the scorer's
    existing hash aggregate (one extra countDistinct) — same plan as
    `bool_bm25_topk` minus the n_required broadcast join.
    """
    if min_should_match < 1:
        raise ValueError(f"min_should_match must be >= 1, got {min_should_match}")
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    scored = _score_terms(
        cp.post, cp.ds, cp.avgdl, cp.qt_idf, conf,
        extra_aggs=(F.countDistinct("term").alias("n_matched"),),
    )
    return _msm_epilogue(scored, min_should_match, k, round_dp)


def msm_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    min_should_match: int = 2,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`msm_bm25_topk` over pruned posting blocks — the distinct-match
    count aggregates the same `_indexed_contrib` join every indexed scorer
    shares; zero corpus joins."""
    if min_should_match < 1:
        raise ValueError(f"min_should_match must be >= 1, got {min_should_match}")
    scored = _indexed_scored(
        spark, idx, queries,
        extra_aggs=(F.countDistinct("term").alias("n_matched"),),
    )
    return _msm_epilogue(scored, min_should_match, k, round_dp)


def _terms_set_epilogue(
    scored: DataFrame,
    docs: DataFrame,
    msm_field: str,
    id_col: str,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared tail of both terms_set paths: join the per-DOC required-match
    count and keep docs whose distinct-match count meets it.  A NULL or
    missing requirement never matches (NULL comparison is false — the ES
    contract for docs without the minimum_should_match_field); a
    requirement larger than the query's term count simply never matches,
    as in ES (no clamping)."""
    req = docs.select(
        F.col(id_col).alias("doc_id"), F.col(msm_field).cast("int").alias("_req")
    )
    hits = (
        scored.join(req, "doc_id")
        .filter(F.col("n_matched") >= F.col("_req"))
        .select("query_id", "doc_id", "score")
    )
    return rank_topk(_maybe_round(hits, round_dp), k)


def terms_set_topk(
    docs: DataFrame,
    queries: DataFrame,
    msm_field: str,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``terms_set`` query: like minimum_should_match, but the
    required number of distinct matching terms is read PER DOCUMENT from
    ``msm_field`` (ES's minimum_should_match_field) — the "match if the doc
    itself says how many of these tags must hit" shape.  Qualifying docs
    keep their ordinary disjunctive BM25 score; a doc with requirement 1 is
    plain OR, with requirement = |terms| plain AND, per doc.

    Scale: the scorer's existing hash aggregate grows one countDistinct;
    the requirement rides a (doc_id, field) two-column pushdown projection
    joined to the SPARSE scored set — never a corpus-wide pass."""
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    scored = _score_terms(
        cp.post, cp.ds, cp.avgdl, cp.qt_idf, conf,
        extra_aggs=(F.countDistinct("term").alias("n_matched"),),
    )
    return _terms_set_epilogue(scored, docs, msm_field, id_col, k, round_dp)


def terms_set_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    msm_field: str,
    k: int = 10,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`terms_set_topk` over pruned posting blocks: BM25 + distinct-match
    count from the shared `_indexed_contrib` join; ``docs`` touched only
    for the (doc_id, requirement) projection."""
    scored = _indexed_scored(
        spark, idx, queries,
        extra_aggs=(F.countDistinct("term").alias("n_matched"),),
    )
    return _terms_set_epilogue(scored, docs, msm_field, id_col, k, round_dp)


def _collapse_epilogue(
    scored: DataFrame, keys: DataFrame, k: int, round_dp: int | None
) -> DataFrame:
    """Shared collapse of both paths: keep the best doc per (query,
    collapse key), then rank the group heads.  Rounding happens BEFORE the
    head window (cross-engine rank stability applies to BOTH windows).
    NULL keys form one group (SQL GROUP BY semantics; documented)."""
    scored = _maybe_round(scored, round_dp)
    hits = scored.join(keys, "doc_id")
    wg = Window.partitionBy("query_id", "ckey").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    heads = (
        hits.withColumn("_gr", F.row_number().over(wg))
        .filter(F.col("_gr") == 1)
        .drop("_gr")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        heads.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "ckey", "score")
    )


def collapse_topk(
    docs: DataFrame,
    queries: DataFrame,
    collapse_col: str,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``collapse`` (field collapsing) surface: BM25 top-k where at
    most ONE doc per distinct ``collapse_col`` value survives — the
    highest-scoring doc of each group (score desc, doc_id asc within the
    group, the Q11 tie-break), then ordinary top-k over the group heads.
    For transcripts, collapsing on conv_id yields "best turn per
    conversation" — the diversified result list `group_bm25_topk` ranks
    by aggregate mass instead.  Output: (query_id, rank, doc_id, ckey,
    score).

    Scale: one (doc_id, key) two-column projection joined to the sparse
    scored set, then two windows over it keyed (query_id[, ckey]) — the
    `group_bm25_topk` shape with a head-select instead of a sum.
    """
    scored = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    keys = docs.select(
        F.col(id_col).alias("doc_id"), F.col(collapse_col).alias("ckey")
    )
    return _collapse_epilogue(scored, keys, k, round_dp)


def collapse_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    doc_keys: DataFrame,
    k: int = 10,
    key_col: str = "ckey",
    round_dp: int | None = None,
) -> DataFrame:
    """`collapse_topk` over a persisted index.  ``doc_keys`` is the
    (doc_id, key) mapping — the two-column corpus projection; the scored
    side comes from pruned blocks, so the join shuffles hits plus the
    mapping only."""
    scored = _indexed_scored(spark, idx, queries)
    keys = doc_keys.select("doc_id", F.col(key_col).alias("ckey"))
    return _collapse_epilogue(scored, keys, k, round_dp)


def _dismax_epilogue(
    parts: list[DataFrame], tie_breaker: float, k: int, round_dp: int | None
) -> DataFrame:
    """Shared dis_max combine: score = max_f + tie_breaker · (Σ_f − max_f)
    over the per-field boosted scores."""
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    tie = F.lit(float(tie_breaker))
    comb = u.groupBy("query_id", "doc_id").agg(
        (F.max("score") + tie * (F.sum("score") - F.max("score"))).alias("score")
    )
    return rank_topk(_maybe_round(comb, round_dp), k)


def dismax_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    fields: dict[str, float],
    tie_breaker: float = 0.0,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``dis_max`` / ``multi_match best_fields`` surface: each field
    scores as its own BM25 (own df/dl/avgdl, boosted), and the document
    takes its BEST field's score plus ``tie_breaker`` × the other fields'
    scores — Lucene's DisjunctionMaxQuery.  tie_breaker=0 is pure best-
    field; tie_breaker=1 degrades to `multi_field_bm25_topk`'s most_fields
    sum (pytest-pinned).

    Scale: identical to `multi_field_bm25_topk` — one narrow projection
    scan per field, union, fine-keyed hash agg (max and sum both combine
    map-side).
    """
    if not fields:
        raise ValueError("fields must map at least one column to a boost")
    parts = [
        bm25_scores(docs, queries, conf=conf, text_col=fcol, id_col=id_col)
        .select(
            "query_id", "doc_id",
            (F.col("score") * F.lit(float(boost))).alias("score"),
        )
        for fcol, boost in fields.items()
    ]
    return _dismax_epilogue(parts, tie_breaker, k, round_dp)


def dismax_bm25_topk_indexed(
    spark,
    field_indexes: dict[str, tuple[object, float]],
    queries: DataFrame,
    tie_breaker: float = 0.0,
    k: int = 10,
    round_dp: int | None = None,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`dismax_bm25_topk` over persisted per-field indexes
    (build_field_indexes) — per-field pruned-block scans, the
    `multi_field_bm25_topk_indexed` plan with the dis_max combine; same
    engine="auto" driver route with the max + tie·rest reduction."""
    if not field_indexes:
        raise ValueError("field_indexes must contain at least one field")

    def _dm_combine(pdf):
        tie = float(tie_breaker)
        g = pdf.groupby(["query_id", "doc_id"], as_index=False).agg(
            mx=("score", "max"), sm=("score", "sum")
        )
        g["score"] = g["mx"] + tie * (g["sm"] - g["mx"])
        return g[["query_id", "doc_id", "score"]]

    routed = _field_route(
        spark, field_indexes, queries, k, round_dp, engine,
        _dm_combine, telemetry=telemetry,
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    parts = [
        _indexed_scored(spark, idx, queries)
        .select(
            "query_id", "doc_id",
            (F.col("score") * F.lit(float(boost))).alias("score"),
        )
        for fcol, (idx, boost) in field_indexes.items()
    ]
    return _dismax_epilogue(parts, tie_breaker, k, round_dp)


def highlight(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    width: int = 30,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: DataFrame | None = None,
) -> DataFrame:
    """The ES highlighter surface over `snippets`' window: the keyword-in-
    context cut with the matched term wrapped in ``pre_tag``/``post_tag``
    — (query_id, rank, doc_id, term, pos, fragment).  The wrapped span is
    the ORIGINAL text at the match position (case preserved inside the
    tags, as ES does), selected by the same earliest-occurrence rule as
    `snippets`; the fragment is assembled by position arithmetic (three
    substrings + the tags), NOT regex replacement, so any SQL engine
    reproduces it bit-for-bit.

    Scale: exactly `snippets` — the only corpus touch is fetching the
    top-k winners' texts; pass ``top`` from an indexed scorer and no
    corpus pass happens at all.
    """
    if top is None:
        top = exact_bm25_topk(
            docs, queries, k=k, conf=conf, text_col=text_col, id_col=id_col
        )
    qt = query_terms(queries, conf)
    texts = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    hits = top.select("query_id", "doc_id", "rank").join(texts, "doc_id")
    cand = hits.join(F.broadcast(qt), "query_id").filter(
        F.array_contains(tokens_col(F.col("_text"), conf.token_split_re), F.col("term"))
    )
    cand = cand.withColumn("pos", F.instr(F.lower(F.col("_text")), F.col("term")))
    w = Window.partitionBy("query_id", "doc_id").orderBy(F.asc("pos"), F.asc("term"))
    first = cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    start = F.greatest(F.lit(1), F.col("pos") - F.lit(width))
    tlen = F.length("term")
    frag = F.concat(
        F.substring(F.col("_text"), start, F.col("pos") - start),
        F.lit(pre_tag),
        F.substring(F.col("_text"), F.col("pos"), tlen),
        F.lit(post_tag),
        F.substring(F.col("_text"), F.col("pos") + tlen, F.lit(width)),
    )
    return first.select(
        "query_id", "rank", "doc_id", "term", "pos", frag.alias("fragment")
    )


def highlight_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    k: int = 10,
    width: int = 30,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`highlight` with the top-k from the index-backed scorer (the
    `snippets_indexed` discipline: corpus touched only for k × queries
    winning texts)."""
    top = rank_topk(_maybe_round(_indexed_scored(spark, idx, queries), round_dp), k)
    return highlight(
        docs, queries, k=k, width=width, pre_tag=pre_tag, post_tag=post_tag,
        conf=idx.conf, text_col=text_col, id_col=id_col, top=top,
    )


def complete_terms(
    queries: DataFrame,
    dictionary: DataFrame,
    n: int = 5,
    text_col: str = "query_text",
) -> DataFrame:
    """The ES completion-suggester surface at the term layer: for each
    query (whose text is a prefix being typed), the top ``n`` dictionary
    terms with that prefix ranked by popularity — (query_id, rank, term,
    df), order (df desc, term asc).  ``dictionary`` is `term_stats` output
    or `InvertedIndex.dictionary`, so completions come from the index
    sidecar (vocab-sized, never a corpus scan); empty/NULL prefixes yield
    no rows rather than the whole vocabulary.

    Scale: one broadcast of the (tiny) prefix set against the vocab-sized
    dictionary + a per-query window over the matches — the
    `prefix_bm25_topk` expansion with a rank epilogue instead of scoring.
    """
    pre = queries.select(
        "query_id", F.lower(F.trim(F.col(text_col))).alias("_prefix")
    ).filter(F.col("_prefix") != "")
    m = dictionary.select("term", "df").join(
        F.broadcast(pre), F.col("term").startswith(F.col("_prefix"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("df"), F.asc("term"))
    return (
        m.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select("query_id", "rank", "term", F.col("df").cast("long").alias("df"))
    )


def complete_terms_indexed(
    spark,
    idx,
    queries: DataFrame,
    n: int = 5,
    engine: str = "auto",
    telemetry: dict | None = None,
) -> DataFrame:
    """`complete_terms` over a persisted index's dictionary, with an
    in-process driver route: autocomplete fires per keystroke, so the
    latency floor matters more here than for any other operator.

    engine="auto" serves the batch driver-side when the dictionary fits
    the probe budget (parquet-footer row count vs
    ``IndexConf.driver_search_max_postings`` — the `_expand_run`
    probe bound, IO-free before the decision): one pyarrow starts_with
    read per uncached prefix set, ms-scale, zero Spark jobs, and the
    matched dictionary slice stays cached for the *scoring* routes (a
    completion followed by searching the completed term hits a warm
    cache).  "driver" demands the route (loud error on a budget miss);
    "spark" forces the distributed LIKE-expansion plan — identical
    output by construction (same dictionary, same (df desc, term asc)
    rank).  At 10^12 turns the vocabulary outgrows the driver budget and
    "auto" demotes to the distributed plan."""
    _COMPLETE_SCHEMA = "query_id long, rank int, term string, df long"

    def run(ls, rows, max_post):
        per_q = {qid: (txt or "").strip().lower() for qid, txt in rows}
        _fit(ls.probe_rows({p for p in per_q.values() if p}, like=False),
             max_post, _PROBE_BOUND)
        return ls.complete(per_q, n=n), {"engine": "driver"}

    routed = _driver_route(
        spark, idx, queries, engine, _COMPLETE_SCHEMA, run, telemetry=telemetry
    )
    if routed is not None:
        return routed
    queries = _materialize_local_queries(spark, queries)
    if telemetry is not None:
        telemetry["engine"] = "spark"
    return complete_terms(queries, idx.dictionary, n=n)


def terms_enum(
    queries: DataFrame,
    dictionary: DataFrame,
    size: int = 10,
    text_col: str = "query_text",
    after_col: str | None = None,
) -> DataFrame:
    """The ES ``_terms_enum`` API: for each query (whose text is a field
    prefix), up to ``size`` index terms with that prefix in ALPHABETICAL
    order — (query_id, rank, term), term asc.  Distinct from
    `complete_terms` (the completion suggester), which ranks by
    popularity (df desc): terms_enum is the paging enumeration shape —
    deterministic lexicographic order plus a ``search_after`` cursor so
    a caller can walk an arbitrarily large matching set size rows at a
    time.  ``after_col`` names an optional per-query cursor column in
    ``queries``: only terms STRICTLY AFTER that value are returned
    (NULL/absent = from the start), mirroring the request's
    ``search_after`` field.  The cursor is compared VERBATIM (binary
    collation, no lower/trim normalization — unlike the prefix): pass
    back exactly the last term of the previous page, as the ES keyset
    contract does; an uppercase or padded cursor compares below the
    lowercase vocabulary and silently restarts from page 1
    (property-pinned in tests/test_querylang_r5.py).  Empty/NULL
    prefixes yield no rows rather than the whole vocabulary (same guard
    as `complete_terms`).

    Scale: one broadcast of the (tiny) prefix set against the
    vocab-sized dictionary + a per-query window — never a corpus scan;
    the per-page cost is independent of how many pages were already
    read (keyset pagination, the `search_after_topk` discipline applied
    to the vocabulary).
    """
    cols = ["query_id", F.lower(F.trim(F.col(text_col))).alias("_prefix")]
    if after_col is not None:
        cols.append(F.col(after_col).alias("_after"))
    pre = queries.select(*cols).filter(
        F.col("_prefix").isNotNull() & (F.col("_prefix") != "")
    )
    m = dictionary.select("term").join(
        F.broadcast(pre), F.col("term").startswith(F.col("_prefix"))
    )
    if after_col is not None:
        m = m.filter(F.col("_after").isNull() | (F.col("term") > F.col("_after")))
    w = Window.partitionBy("query_id").orderBy(F.asc("term"))
    return (
        m.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(size))
        .select("query_id", "rank", "term")
    )


def terms_enum_indexed(
    spark,
    idx,
    queries: DataFrame,
    size: int = 10,
    after_col: str | None = None,
) -> DataFrame:
    """`terms_enum` over a persisted index's dictionary (delta-folded
    view) — identical output to the corpus-dictionary path by
    construction (same vocabulary, same term-asc order).  Reads ONLY the
    dictionary sidecar: zero posting-block or corpus IO, so a page costs
    one vocab-pruned scan regardless of index size."""
    return terms_enum(
        queries, idx.dictionary, size=size, after_col=after_col
    )


def did_you_mean(
    queries: DataFrame,
    dictionary: DataFrame,
    max_edits: int = 1,
    mode: str = "deletes",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "query_text",
) -> DataFrame:
    """Whole-query spelling correction (the ES phrase-suggester surface,
    collate-lite): every query token NOT in the dictionary is replaced by
    its best in-vocabulary neighbour within ``max_edits`` Levenshtein
    (ranked boost desc, df desc, term asc — `suggest_terms`' order); tokens
    already in the vocabulary, and tokens with no in-distance neighbour,
    pass through unchanged.  Output one row per query: (query_id,
    suggestion, n_changed) with the corrected tokens rejoined by single
    spaces in original token order (a query whose text analyzes to zero
    tokens yields no row).

    Unlike `suggest_terms` (per-term candidate lists), this is the "did
    you mean: <corrected query>" shape a search box shows; unlike the ES
    phrase suggester it does not re-rank candidate phrases by collation
    queries — corrections are per-token (the standard SymSpell compound
    shape).

    Scale: candidate generation is `_fuzzy_candidates`' SymSpell deletion
    EQUI-join (vocab explodes to ≤d-deletion variants once; never a
    vocab × queries theta scan); everything else is query-sized.  The
    correction for a token depends only on the dictionary, so repeated
    tokens across queries share the same join rows.
    """
    toks = queries.select(
        "query_id",
        F.posexplode(
            tokens_col(F.col(text_col), conf.token_split_re)
        ).alias("pos", "qterm"),
    )
    qt = toks.select("query_id", F.col("qterm").alias("term")).distinct()
    # OOV terms only — in-vocab tokens are already correct
    oov = qt.join(dictionary.select("term"), "term", "left_anti")
    cand = _fuzzy_candidates(oov, dictionary, max_edits, mode).filter(
        F.col("boost") > 0.0
    )
    w = Window.partitionBy("query_id", "qterm").orderBy(
        F.desc("boost"), F.desc("df"), F.asc("term")
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_id", "qterm", F.col("term").alias("_corr"))
    )
    j = toks.join(best, ["query_id", "qterm"], "left")
    ct = F.coalesce(F.col("_corr"), F.col("qterm"))
    ch = F.when(F.col("_corr").isNotNull(), 1).otherwise(0)
    per_tok = j.select("query_id", "pos", ct.alias("_ct"), ch.alias("_ch"))
    return per_tok.groupBy("query_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_ct"))),
                lambda x: x["_ct"],
            ),
        ).alias("suggestion"),
        F.sum("_ch").cast("long").alias("n_changed"),
    )


def phrase_suggest(
    queries: DataFrame,
    docs: DataFrame,
    dictionary: DataFrame,
    max_edits: int = 1,
    mode: str = "deletes",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "query_text",
    doc_text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Context-aware whole-query correction — the ES phrase suggester's
    defining step over `did_you_mean`: candidates are re-ranked by corpus
    BIGRAM support, so real-word errors get fixed ("deploy taemout" →
    "deploy timeout") and a rare-but-contextually-right word is NOT
    "corrected" into a frequent neighbour.  Per query-token position,
    candidates = dictionary terms within ``max_edits`` Levenshtein (an
    in-vocabulary token is its own candidate at similarity 1.0); the
    winner maximizes (bigram_support desc, similarity boost desc, df
    desc, term asc) where bigram_support = c(left_orig, cand) +
    c(cand, right_orig), the corpus counts of the candidate next to the
    token's ORIGINAL neighbours (missing neighbour or unseen bigram
    contributes 0 — a 1-token query degrades to `did_you_mean`'s
    similarity-then-popularity order).  Because only the token itself can
    carry similarity 1.0, an in-vocabulary token is replaced only when a
    neighbour has STRICTLY more bigram support — the confidence≥1 gate of
    the ES suggester.  A token with no candidate at all passes through.
    Output one row per query with >=1 analyzed token: (query_id,
    suggestion, n_changed), tokens rejoined in original order.

    Scale: candidate generation is the SymSpell deletion EQUI-join
    (`_fuzzy_candidates`, never vocab × queries); bigram scoring is two
    fine-keyed hash joins of the (positions × candidates)-sized frame
    against the bigram count table (bigram-vocab-sized, the same agg
    `bigram_perplexity` runs); the final pick is one query-sized window.
    All JVM — no Python, no collects.
    """
    toks = queries.select(
        "query_id",
        F.posexplode(tokens_col(F.col(text_col), conf.token_split_re)).alias(
            "pos", "qterm"
        ),
    ).filter(F.col("qterm") != "")
    wq = Window.partitionBy("query_id").orderBy("pos")
    ctx = toks.withColumn("lft", F.lag("qterm").over(wq)).withColumn(
        "rgt", F.lead("qterm").over(wq)
    )
    qt = toks.select("query_id", F.col("qterm").alias("term")).distinct()
    cand = _fuzzy_candidates(qt, dictionary, max_edits, mode).filter(
        F.col("boost") > 0.0
    )
    pc = ctx.join(cand, ["query_id", "qterm"], "left")
    # corpus bigram counts over the same analyzed stream every scorer uses —
    # the ONE shared derivation (textstats.bigram_counts), honoring this
    # conf's analyzer regex via the tokens override
    dt = F.filter(
        tokens_col(F.coalesce(F.col(doc_text_col), F.lit("")), conf.token_split_re),
        lambda t: t != F.lit(""),
    )
    c2 = bigram_counts(docs, doc_text_col, tokens=dt)
    cl = c2.select(
        F.col("w1").alias("lft"), F.col("w2").alias("term"), F.col("c2").alias("_cl")
    )
    cr = c2.select(
        F.col("w1").alias("term"), F.col("w2").alias("rgt"), F.col("c2").alias("_cr")
    )
    scored = (
        pc.join(cl, ["lft", "term"], "left")
        .join(cr, ["term", "rgt"], "left")
        .withColumn(
            "_sup",
            F.coalesce("_cl", F.lit(0)) + F.coalesce("_cr", F.lit(0)),
        )
    )
    wp = Window.partitionBy("query_id", "pos").orderBy(
        F.desc("_sup"), F.desc("boost"), F.desc("df"), F.asc("term")
    )
    best = scored.withColumn("_rn", F.row_number().over(wp)).filter(F.col("_rn") == 1)
    ct = F.coalesce(F.col("term"), F.col("qterm"))
    return (
        best.select(
            "query_id",
            "pos",
            ct.alias("_ct"),
            F.when(ct != F.col("qterm"), 1).otherwise(0).alias("_ch"),
        )
        .groupBy("query_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "_ct"))),
                    lambda x: x["_ct"],
                ),
            ).alias("suggestion"),
            F.sum("_ch").cast("long").alias("n_changed"),
        )
    )


def match_count(
    docs: DataFrame,
    queries: DataFrame,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``_count`` API: (query_id, n_matched) — the size of each
    query's disjunctive match set (the same set every aggregation and the
    scorer rank over).  A query matching nothing yields no row (callers
    coalesce to 0).

    Scale: the scorer's plan with the final agg keyed query_id only —
    output rows = number of queries, fully map-side combinable.
    """
    m = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    return m.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_matched")
    )


def match_count_indexed(spark, idx, queries: DataFrame) -> DataFrame:
    """`match_count` from pruned posting blocks — zero corpus work."""
    m = _indexed_scored(spark, idx, queries)
    return m.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_matched")
    )


def _sort_epilogue(
    m: DataFrame, vals: DataFrame, k: int, ascending: bool
) -> DataFrame:
    hits = m.select("query_id", "doc_id").join(vals, "doc_id")
    order = F.asc("v") if ascending else F.desc("v")
    w = Window.partitionBy("query_id").orderBy(order, F.asc("doc_id"))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", F.col("v").alias("sort_value"))
    )


def sort_topk(
    docs: DataFrame,
    queries: DataFrame,
    sort_col: str,
    k: int = 10,
    ascending: bool = False,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES ``sort`` clause: top-k of the match set ordered by a document
    FIELD instead of relevance — (query_id, rank, doc_id, sort_value),
    ties broken doc_id asc (the Q11 discipline applied to field sorts).
    NULL-valued docs are dropped (ES puts them last/first by option; the
    engine's contract is the common missing="_last" + omitted tail).
    "newest matching turns" is `sort_topk(docs, q, "ts")`.

    Scale: the match set joins a (doc_id, value) two-column projection and
    one window per query — same shape as `collapse_topk` minus the group
    head select.
    """
    m = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    vals = docs.select(
        F.col(id_col).alias("doc_id"), F.col(sort_col).alias("v")
    ).filter(F.col("v").isNotNull())
    return _sort_epilogue(m, vals, k, ascending)


def sort_topk_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    sort_col: str,
    k: int = 10,
    ascending: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """`sort_topk` with the match set from pruned index blocks; ``docs``
    supplies only the (doc_id, value) projection."""
    m = _indexed_scored(spark, idx, queries)
    vals = docs.select(
        F.col(id_col).alias("doc_id"), F.col(sort_col).alias("v")
    ).filter(F.col("v").isNotNull())
    return _sort_epilogue(m, vals, k, ascending)


# ---------------------------------------------------------------------------
# Hit-context fetch (transcript inner window)
# ---------------------------------------------------------------------------


def _context_epilogue(
    top: DataFrame,
    docs: DataFrame,
    window: int,
    conv_col: str,
    turn_col: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared neighbor fetch: hits × offsets equi-joined back to the corpus
    on (conversation, turn + offset)."""
    key = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(conv_col).alias("_conv"),
        F.col(turn_col).alias("_turn"),
    )
    hits = key.join(F.broadcast(top.select("query_id", "rank", "doc_id")), "doc_id")
    ctx = hits.withColumn(
        "offset", F.explode(F.sequence(F.lit(-window), F.lit(window)))
    ).withColumn("_ctx_turn", F.col("_turn") + F.col("offset"))
    nbr = docs.select(
        F.col(conv_col).alias("_conv"),
        F.col(turn_col).alias("_ctx_turn"),
        F.col(id_col).alias("ctx_doc_id"),
        F.col(text_col).alias("ctx_text"),
    )
    out = nbr.join(
        F.broadcast(
            ctx.select("query_id", "rank", "doc_id", "offset", "_conv", "_ctx_turn")
        ),
        ["_conv", "_ctx_turn"],
    )
    return out.select("query_id", "rank", "doc_id", "offset", "ctx_doc_id", "ctx_text")


def context_turns(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    window: int = 1,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: DataFrame | None = None,
) -> DataFrame:
    """Surrounding-turn fetch for the transcript shape (north-star input:
    one doc = one (conv_id, turn_idx) turn): for each BM25 top-k hit,
    return the hit turn plus its ±``window`` neighbors WITHIN the same
    conversation — (query_id, rank, doc_id, offset, ctx_doc_id, ctx_text).
    This is the "show the hit in conversational context" read an agent-
    transcript / RAG user issues after every search (the reference's
    enumerate-overlaps analog, src/igd_search.c:537-620: hits expand to
    the covering region rows; here they expand to neighboring turns).

    Neighbors that would fall outside the conversation (turn < 0 or past
    the last turn) are simply absent — an equi-join non-match, not a NULL
    row.  offset = 0 returns the hit turn itself, so every hit contributes
    at least one row.

    Scale: the hit side is k × |queries| rows — always broadcast.  The
    corpus is touched twice, both as narrow projections with the broadcast
    on the small side: once on doc_id to recover the hit's (conv, turn)
    key, once on (conv, turn) to fetch the ≤ (2·window+1) neighbor texts.
    No range join, no window function, no per-conversation grouping — at
    100 TB both probes are Bloom/DPP-prunable broadcast hash joins.
    """
    if top is None:
        top = exact_bm25_topk(
            docs, queries, k=k, conf=conf, text_col=text_col, id_col=id_col
        )
    return _context_epilogue(top, docs, window, conv_col, turn_col, text_col, id_col)


def context_turns_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    window: int = 1,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`context_turns` with the top-k from the persisted index: the corpus
    appears only in the two hit-sized broadcast probes (key recovery +
    neighbor text fetch) — no full pass, no re-tokenize."""
    top = rank_topk(_maybe_round(_indexed_scored(spark, idx, queries), round_dp), k)
    return _context_epilogue(top, docs, window, conv_col, turn_col, text_col, id_col)


# ---------------------------------------------------------------------------
# Boosting query (positive clause demoted by a negative clause)
# ---------------------------------------------------------------------------


def _boosting_epilogue(
    scored: DataFrame,
    demoted: DataFrame,
    negative_boost: float,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared demotion + ranking of both boosting paths: docs in the
    ``demoted`` (query_id, doc_id) set keep their positive score × the
    negative_boost factor."""
    out = scored.join(
        demoted.withColumn("_neg", F.lit(True)), ["query_id", "doc_id"], "left"
    )
    score = F.when(
        F.col("_neg"), F.col("score") * F.lit(float(negative_boost))
    ).otherwise(F.col("score"))
    return rank_topk(
        _maybe_round(out.select("query_id", "doc_id", score.alias("score")), round_dp),
        k,
    )


def boosting_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    negative_boost: float = 0.5,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    negative_col: str = "negative_text",
    round_dp: int | None = None,
) -> DataFrame:
    """The Lucene/ES ``boosting`` query: docs are matched and scored by the
    positive clause (``query_text``, ordinary disjunctive BM25); any doc
    ALSO containing a term of the negative clause (``negative_col``) keeps
    its rank eligibility but has its score multiplied by
    ``negative_boost`` (0 < nb < 1 demotes — the "relevant but about the
    wrong sense" downranking ES exposes; a NULL/empty negative clause
    demotes nothing).  Unlike the NOT arm of `bool_bm25_topk`, demoted
    docs stay in the result set.

    Scale: exactly the disjunctive scorer's plan plus one left join
    against the negative terms' match set — bounded by the negative
    terms' postings × queries, never a second corpus pass (the postings
    frame is shared).
    """
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    scored = _score_terms(cp.post, cp.ds, cp.avgdl, cp.qt_idf, conf)
    neg = query_terms(queries, conf, negative_col)
    demoted = (
        cp.post.join(F.broadcast(neg), "term")
        .select("query_id", "doc_id")
        .dropDuplicates(["query_id", "doc_id"])
    )
    return _boosting_epilogue(scored, demoted, negative_boost, k, round_dp)


def boosting_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    negative_boost: float = 0.5,
    k: int = 10,
    negative_col: str = "negative_text",
    round_dp: int | None = None,
) -> DataFrame:
    """`boosting_bm25_topk` over a persisted index: the negative clause is
    a second pruned enumeration of its terms' posting blocks (cost bounded
    by their df), joined left against the positive scores — no corpus
    table anywhere in the plan."""
    from igd_spark.search import match_enumerate

    scored = _indexed_scored(spark, idx, queries)
    exq = queries.select("query_id", F.col(negative_col).alias("query_text"))
    demoted = (
        match_enumerate(spark, idx, exq)
        .select("query_id", "doc_id")
        .dropDuplicates(["query_id", "doc_id"])
    )
    return _boosting_epilogue(scored, demoted, negative_boost, k, round_dp)


# ---------------------------------------------------------------------------
# combined_fields (BM25F): fields merged into one synthetic field
# ---------------------------------------------------------------------------


def _union_all(parts: list[DataFrame]) -> DataFrame:
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u


def combined_fields_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    fields: dict[str, float],
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``combined_fields`` query — BM25F: unlike ``most_fields``
    (`multi_field_bm25_topk`, per-field BM25 scores summed), the fields
    are merged into ONE synthetic field BEFORE saturation:

        tf(t, d)  = Σ_f  w_f · tf_f(t, d)
        dl(d)     = Σ_f  w_f · dl_f(d)        (avgdl from these dls)
        df(t)     = |{d : t in ANY field of d}|
        score     = Σ_t idf(df) · BM25(tf, dl)

    so a term spread across several fields saturates once (most_fields
    over-counts it once per field) — the principled cross-field scorer
    (Robertson et al.'s BM25F, the ES combined_fields contract with
    per-field ``^boost`` as w_f).

    Scale: one postings/doc-stats pass per field (narrow projection
    scans), one (doc_id, term) hash agg to merge, then exactly the plain
    scorer's plan; no corpus-sized joins beyond the per-field passes.
    """
    if not fields:
        raise ValueError("fields must map at least one column to a weight")
    posts, dls = [], []
    for fcol, w in fields.items():
        p = postings(docs, text_col=fcol, id_col=id_col, conf=conf)
        posts.append(
            p.select("doc_id", "term", (F.col("tf") * F.lit(float(w))).alias("wtf"))
        )
        d = doc_stats(docs, text_col=fcol, id_col=id_col, conf=conf)
        dls.append(d.select("doc_id", (F.col("dl") * F.lit(float(w))).alias("wdl")))
    post = _union_all(posts).groupBy("doc_id", "term").agg(F.sum("wtf").alias("tf"))
    ds = _union_all(dls).groupBy("doc_id").agg(F.sum("wdl").alias("dl"))
    cs = corpus_stats(ds).collect()[0]
    n_docs, avgdl = int(cs["n_docs"]), float(cs["avgdl"] or 0.0)
    qt_idf = _idf_join(query_terms(queries, conf), term_stats(post), n_docs)
    scored = _score_terms(post, ds, avgdl, qt_idf, conf)
    return rank_topk(_maybe_round(scored, round_dp), k)


def combined_fields_bm25_topk_indexed(
    spark,
    field_indexes: dict[str, tuple[object, float]],
    queries: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`combined_fields_bm25_topk` over PERSISTED per-field indexes
    (build_field_indexes).  Per field, the query terms' posting blocks are
    enumerated (pruned scans); weighted tfs merge on (query_id, term,
    doc_id).  The combined df of a query term is the distinct-doc count of
    that union — exact, and computed only over the query terms' blocks.
    Combined dls come from the indexes' own doc_stats tables (weighted
    union — narrow index-internal two-column scans; all fields must cover
    the same doc set, which build_field_indexes guarantees by projecting
    one corpus), and avgdl = Σ_f w_f · avgdl_f for the same reason.  No
    corpus table anywhere in the plan; rank-identity with the corpus
    variant is gate-enforced.
    """
    from igd_spark.search import match_enumerate

    if not field_indexes:
        raise ValueError("field_indexes must contain at least one field")
    qt = query_terms(queries, next(iter(field_indexes.values()))[0].conf)
    parts, dls = [], []
    n_docs, avgdl, conf = None, 0.0, None
    for fcol, (idx, w) in field_indexes.items():
        me = match_enumerate(spark, idx, queries, terms=qt)
        parts.append(
            me.select(
                "query_id", "term", "doc_id",
                (F.col("tf") * F.lit(float(w))).alias("wtf"),
            )
        )
        dls.append(
            idx.doc_stats.select(
                "doc_id", (F.col("dl") * F.lit(float(w))).alias("wdl")
            )
        )
        n_docs, avgdl, conf = idx.n_docs, avgdl + float(w) * float(idx.avgdl), idx.conf
    post = (
        _union_all(parts)
        .groupBy("query_id", "term", "doc_id")
        .agg(F.sum("wtf").alias("tf"))
    )
    ts = post.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    ds = _union_all(dls).groupBy("doc_id").agg(F.sum("wdl").alias("dl"))
    qidf = _idf_join(qt, ts, n_docs).select("query_id", "term", "idf")
    j = post.join(F.broadcast(qidf), ["query_id", "term"]).join(ds, "doc_id")
    w_col = bm25_weight_col(F.col("idf"), "tf", "dl", avgdl, conf.k1, conf.b)
    scored = j.groupBy("query_id", "doc_id").agg(F.sum(w_col).alias("score"))
    return rank_topk(_maybe_round(scored, round_dp), k)


# ---------------------------------------------------------------------------
# Pinned query (promoted ids ranked first)
# ---------------------------------------------------------------------------


def _pinned_epilogue(
    scored: DataFrame,
    pins: DataFrame,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared promotion of both pinned paths: pins (query_id, pin_pos,
    doc_id) occupy ranks 1..P in pin order — matching or not (score NULL
    when the pinned doc doesn't match the query); organic results follow
    at P+1.. with the pinned ids excluded, under the usual tie-break."""
    sc = _maybe_round(scored, round_dp)
    pinned = (
        F.broadcast(pins)
        .join(sc, ["query_id", "doc_id"], "left")
        .select(
            "query_id", F.col("pin_pos").cast("int").alias("rank"),
            "doc_id", "score",
        )
    )
    npin = pins.groupBy("query_id").agg(F.count("*").cast("int").alias("_np"))
    org = sc.join(F.broadcast(pins.select("query_id", "doc_id")),
                  ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    org = (
        org.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(npin), "query_id", "left")
        .select(
            "query_id",
            (F.col("_rn") + F.coalesce(F.col("_np"), F.lit(0))).cast("int").alias("rank"),
            "doc_id", "score",
        )
    )
    return pinned.unionByName(org).filter(F.col("rank") <= k)


def pinned_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    pins: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``pinned`` query: per query, an editorially promoted id list
    (``pins``: query_id, pin_pos, doc_id) occupies the top ranks in its
    given order — the pinned docs need not match the query at all (score
    is NULL then) — and organic BM25 results follow below, with the pinned
    ids removed from the organic stream (no doc appears twice).

    Scale: the pin list is editorial — tiny, always broadcast; the organic
    stream is exactly the plain scorer's plan plus one broadcast anti-join
    and a per-query count; the rank offset join is query-sized.
    """
    scored = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    return _pinned_epilogue(scored, pins, k, round_dp)


def pinned_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    pins: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`pinned_bm25_topk` with the organic stream from pruned index blocks
    — the pin joins touch only query-sized frames."""
    return _pinned_epilogue(_indexed_scored(spark, idx, queries), pins, k, round_dp)


# ---------------------------------------------------------------------------
# Parent/child join queries — the ES/Lucene join field (has_child,
# has_parent).  The transcript shape IS parent/child data: conversations
# are parents keyed by conv_id, turns are their children (the reference's
# one level of structure is the per-dataset grouping of regions,
# src/igd_create.c:346-433; Lucene's join field generalizes it to scored
# parent/child retrieval).


def _has_child_epilogue(
    scored: DataFrame,
    parents: DataFrame,
    score_mode: str,
    min_children: int,
    max_children: int | None,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    modes = {"max": F.max, "sum": F.sum, "avg": F.avg, "min": F.min}
    if score_mode not in modes and score_mode != "none":
        raise ValueError(
            f"score_mode must be one of {sorted(modes) + ['none']}, got {score_mode!r}"
        )
    agg_fn = modes.get(score_mode, F.max)
    g = (
        scored.join(parents, "doc_id")
        .groupBy("query_id", "parent_id")
        .agg(
            agg_fn("score").alias("score"),
            F.count("*").cast("long").alias("n_children"),
        )
        .filter(F.col("n_children") >= min_children)
    )
    if max_children is not None:
        g = g.filter(F.col("n_children") <= max_children)
    if score_mode == "none":
        # filter context: constant score, deterministic id order (ES
        # returns parents with score 0 in this mode)
        g = g.withColumn("score", F.lit(0.0))
    g = _maybe_round(g, round_dp)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("parent_id"))
    return (
        g.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "parent_id", "n_children", "score")
    )


def has_child_topk(
    docs: DataFrame,
    queries: DataFrame,
    parent_col: str = "conv_id",
    k: int = 10,
    score_mode: str = "max",
    min_children: int = 1,
    max_children: int | None = None,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``has_child`` query: rank PARENTS whose children match the
    (BM25) inner query — (query_id, rank, parent_id, n_children, score).
    ``score_mode`` folds the matching children's scores into the parent
    score (max / sum / avg / min, or ``none`` for the unscored filter
    context, where every surviving parent carries score 0 and ranks by
    id).  ``min_children`` / ``max_children`` bound the number of MATCHING
    children a parent needs, tested BEFORE ranking (the ES contract).
    Tie-break mirrors Q11: (score desc, parent_id asc) on scores rounded
    before ranking.

    For transcripts: "conversations in which at least m turns mention X".
    `conv_bm25_topk` is the degenerate sum/no-bounds case of this.

    Scale: the scored side is sparse (query-term postings); the parent key
    rides a two-column (doc_id, parent) projection joined on doc_id; the
    roll-up is a fine-keyed (query_id, parent) hash agg with map-side
    combine.  Nothing touches unmatched children.
    """
    scored = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    parents = docs.select(
        F.col(id_col).alias("doc_id"), F.col(parent_col).alias("parent_id")
    )
    return _has_child_epilogue(
        scored, parents, score_mode, min_children, max_children, k, round_dp
    )


def has_child_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    doc_parents: DataFrame,
    k: int = 10,
    score_mode: str = "max",
    min_children: int = 1,
    max_children: int | None = None,
    parent_col: str = "parent_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`has_child_topk` with the child match set from pruned index blocks;
    ``doc_parents`` is the (doc_id, parent) mapping projection."""
    scored = _indexed_scored(spark, idx, queries)
    parents = doc_parents.select("doc_id", F.col(parent_col).alias("parent_id"))
    return _has_child_epilogue(
        scored, parents, score_mode, min_children, max_children, k, round_dp
    )


def _has_parent_epilogue(
    parent_scored: DataFrame,
    children: DataFrame,
    score: bool,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    ps = _maybe_round(
        parent_scored.withColumnRenamed("doc_id", "parent_id"), round_dp
    )
    if not score:
        ps = ps.withColumn("score", F.lit(0.0))
    j = children.join(ps, "parent_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "parent_id", "score")
    )


def has_parent_topk(
    parent_docs: DataFrame,
    child_docs: DataFrame,
    queries: DataFrame,
    parent_col: str = "conv_id",
    k: int = 10,
    score: bool = True,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``has_parent`` query: return CHILD docs whose parent matches
    the (BM25) inner query — (query_id, rank, doc_id, parent_id, score).
    ``parent_docs`` is the parent table keyed by ``parent_col`` with its
    own ``text_col`` (the scored side); ``child_docs`` carries
    (``id_col``, ``parent_col``).  With ``score=True`` every child
    inherits its parent's score (the ES ``score: true`` mode); with
    ``score=False`` (the ES default) the parent match is a filter and
    children rank deterministically by id at score 0.  Tie-break:
    (score desc, doc_id asc) on parent scores rounded before the join.

    For transcripts: "turns inside conversations whose opening/summary
    matches X" — the parent frame is whatever conversation-level document
    you maintain (first turn, title, rolling summary).

    Scale: parents score sparsely (their own postings); the child fetch is
    ONE equi-join of the (child, parent) two-column projection against the
    sparse matched-parent set — semi-join-shaped, Bloom/DPP-prunable at
    100 TB, and the per-parent fanout is conversation length, never
    corpus-scale.
    """
    parent_scored = bm25_scores(
        parent_docs, queries, conf=conf, text_col=text_col, id_col=parent_col
    )
    children = child_docs.select(
        F.col(id_col).alias("doc_id"), F.col(parent_col).alias("parent_id")
    )
    return _has_parent_epilogue(parent_scored, children, score, k, round_dp)


def has_parent_topk_indexed(
    spark,
    parent_idx,
    queries: DataFrame,
    child_parents: DataFrame,
    k: int = 10,
    score: bool = True,
    parent_col: str = "parent_id",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`has_parent_topk` with the parent match set from a persisted index
    built OVER THE PARENT TABLE (doc_id = parent key — the per-type index
    Lucene keeps for the join field); ``child_parents`` is the
    (child, parent) mapping projection."""
    parent_scored = _indexed_scored(spark, parent_idx, queries)
    children = child_parents.select(
        F.col(id_col).alias("doc_id"), F.col(parent_col).alias("parent_id")
    )
    return _has_parent_epilogue(parent_scored, children, score, k, round_dp)


# ---------------------------------------------------------------------------
# Additional similarities — Lucene's other stock scorers: ClassicSimilarity
# (the pre-BM25 TF-IDF default), LM Jelinek-Mercer, DFI, DFR-PL2, IB-LL,
# Axiomatic and BM25+/BM25L.  Each public pair is one call into the shared
# `_sim_topk` / `_sim_topk_indexed` path with its scoring.SIMILARITIES model:
# the LM-Dirichlet plan shape, only the per-posting weight changes.


def tfidf_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Classic TF-IDF retrieval (Lucene ClassicSimilarity, the pre-6.0
    default similarity): score = Σ_t sqrt(tf)·(1+ln(N/(df+1)))²/sqrt(dl).
    Kept for parity with corpora ranked under the old default; BM25
    (`exact_bm25_topk`) is the better-calibrated modern scorer.

    Scale: the BM25 scorer's exact plan plus one window exchange keyed
    (query_id, term) for df — computed over the matched postings
    themselves, no vocab-sized side agg."""
    return _sim_topk("tfidf", 0.0, docs, queries, k, conf, text_col, id_col, round_dp)


def tfidf_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """`tfidf_topk` over a persisted index: tf, dl, and df all come from
    the enumerated pruned blocks; N from the index's corpus metadata.
    Zero corpus joins.  engine="auto" serves small batches from the
    in-process kernel (rank-identical, pytest-enforced); "spark" forces
    the distributed plan, "driver" demands the route."""
    return _sim_topk_indexed("tfidf", 0.0, spark, idx, queries, k, round_dp, engine)


def lm_jelinek_mercer_topk(
    docs: DataFrame,
    queries: DataFrame,
    lam: float = 0.1,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Language-model retrieval with Jelinek-Mercer (linear interpolation)
    smoothing — Lucene LMJelinekMercerSimilarity; λ≈0.1 suits short
    (title-like) queries, λ≈0.7 verbose ones (Zhai & Lafferty 2001).

    Scale: identical plan to `lm_dirichlet_topk` — one window exchange on
    (query_id, term) for cf over the matched postings."""
    return _sim_topk("lm_jm", lam, docs, queries, k, conf, text_col, id_col, round_dp)


def lm_jelinek_mercer_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    lam: float = 0.1,
    k: int = 10,
    round_dp: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """`lm_jelinek_mercer_topk` over a persisted index — enumerated pruned
    blocks supply tf/dl/cf, metadata the exact total token count.  Same
    engine routing as `tfidf_topk_indexed`."""
    return _sim_topk_indexed("lm_jm", lam, spark, idx, queries, k, round_dp, engine)


def dfi_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Divergence-from-independence retrieval (Lucene DFISimilarity,
    standardized independence): score = Σ_t [tf > e]·log2(1+(tf−e)/√e),
    e = (cf+1)·dl/(total+1).  Parameter-free — the recommended similarity
    when no tuning data exists; unlike BM25 it needs no k1/b and
    penalizes nothing below the independence expectation.

    Scale: identical plan to `lm_dirichlet_topk` — postings ⋈ broadcast
    query terms ⋈ doc_stats, one window exchange on (query_id, term) for
    cf over the matched postings, no vocab-sized side agg."""
    return _sim_topk("dfi", 0.0, docs, queries, k, conf, text_col, id_col, round_dp)


def dfi_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """`dfi_topk` over a persisted index — enumerated pruned blocks supply
    tf/dl/cf, metadata the exact total token count.  Same engine routing
    as `tfidf_topk_indexed`."""
    return _sim_topk_indexed("dfi", 0.0, spark, idx, queries, k, round_dp, engine)


def dfr_pl2_topk(
    docs: DataFrame,
    queries: DataFrame,
    c: float = 1.0,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """DFR PL2 retrieval (divergence from randomness: Poisson model,
    Laplace after-effect, H2 length normalization — Amati & van
    Rijsbergen 2002, the Terrier default).  ``c`` is the H2 length-
    normalization strength (1.0 standard).

    Scale: same plan as `lm_dirichlet_topk` — one (query_id, term) window
    exchange for cf over the matched postings."""
    return _sim_topk("pl2", c, docs, queries, k, conf, text_col, id_col, round_dp)


def dfr_pl2_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    c: float = 1.0,
    k: int = 10,
    round_dp: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """`dfr_pl2_topk` over a persisted index — enumerated pruned blocks
    supply tf/dl/cf; N and avgdl from the frozen corpus metadata.  Same
    engine routing as `tfidf_topk_indexed`."""
    return _sim_topk_indexed("pl2", c, spark, idx, queries, k, round_dp, engine)


def ib_ll_topk(
    docs: DataFrame,
    queries: DataFrame,
    c: float = 1.0,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Information-based retrieval (Lucene IBSimilarity: log-logistic
    distribution, λ from document frequency, H2 normalization — Clinchant
    & Gaussier, SIGIR 2010): score = Σ_t log2(1 + tfn/λ) with
    tfn = tf·log2(1 + c·avgdl/dl) and λ = (df+1)/(N+1).

    Scale: same plan shape; the window statistic is a COUNT instead of a
    SUM — still one (query_id, term) exchange over matched postings."""
    return _sim_topk("ib_ll", c, docs, queries, k, conf, text_col, id_col, round_dp)


def ib_ll_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    c: float = 1.0,
    k: int = 10,
    round_dp: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """`ib_ll_topk` over a persisted index — enumerated pruned blocks
    supply tf/dl/df; N and avgdl from the frozen corpus metadata.  Same
    engine routing as `tfidf_topk_indexed`."""
    return _sim_topk_indexed("ib_ll", c, spark, idx, queries, k, round_dp, engine)


def axiomatic_topk(
    docs: DataFrame,
    queries: DataFrame,
    variant: str = "f2exp",
    k_exp: float = 0.35,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Axiomatic retrieval (Fang & Zhai 2005): score = Σ_t
    tf/(tf + s + s·dl/avgdl) · growth(N, df) with s=0.5;
    ``variant``: "f2exp" → growth = ((N+1)/df)^k_exp (0.35 standard),
    "f2log" → growth = ln((N+1)/df).  The similarity derived from
    retrieval axioms rather than a probabilistic model — Lucene's
    AxiomaticF2EXP / AxiomaticF2LOG.

    Scale: same plan as `ib_ll_topk` — one (query_id, term) window COUNT
    exchange over the matched postings, no vocab-sized side agg."""
    model = variant_model("ax", variant)
    return _sim_topk(model, k_exp, docs, queries, k, conf, text_col, id_col, round_dp)


def axiomatic_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    variant: str = "f2exp",
    k_exp: float = 0.35,
    k: int = 10,
    round_dp: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """`axiomatic_topk` over a persisted index — enumerated pruned blocks
    supply tf/dl/df; N and avgdl from the frozen corpus metadata.  Same
    engine routing as `tfidf_topk_indexed` (the scalar slot carries
    F2EXP's k; F2LOG ignores it)."""
    model = variant_model("ax", variant)
    return _sim_topk_indexed(model, k_exp, spark, idx, queries, k, round_dp, engine)


def bm25_variant_topk(
    docs: DataFrame,
    queries: DataFrame,
    variant: str = "plus",
    delta: float | None = None,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """BM25+ / BM25L retrieval (Lv & Zhai 2011).  ``variant``: "plus"
    (per-match contribution floor δ, default 1.0 — fixes BM25 scoring a
    long document with one match below a short document with none) or
    "l" (saturation shift δ, default 0.5).  k1/b come from ``conf``
    (BASELINE-fixed, same as the flagship scorer).

    Scale: same plan as `ib_ll_topk` — one (query_id, term) window COUNT
    exchange over the matched postings."""
    model = variant_model("bm25", variant)
    delta = _BM25_VARIANT_DELTA[variant] if delta is None else delta
    return _sim_topk(model, delta, docs, queries, k, conf, text_col, id_col, round_dp)


def bm25_variant_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    variant: str = "plus",
    delta: float | None = None,
    k: int = 10,
    round_dp: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """`bm25_variant_topk` over a persisted index — enumerated pruned
    blocks supply tf/dl/df; N and avgdl from the frozen corpus metadata;
    k1/b from the index's own conf.  Same engine routing as
    `tfidf_topk_indexed` (the scalar slot carries δ)."""
    model = variant_model("bm25", variant)
    delta = _BM25_VARIANT_DELTA[variant] if delta is None else delta
    return _sim_topk_indexed(model, delta, spark, idx, queries, k, round_dp, engine)


def _random_score_epilogue(
    m: DataFrame, seed: int, k: int, round_dp: int | None
) -> DataFrame:
    from igd_spark.hashing import h60_seeded_col

    r = h60_seeded_col(seed, F.col("doc_id").cast("string")) / F.lit(
        float(2**60)
    )
    scored = m.select("query_id", "doc_id").withColumn(
        "score", r.cast("double")
    )
    return rank_topk(_maybe_round(scored, round_dp), k)


def random_score_topk(
    docs: DataFrame,
    queries: DataFrame,
    seed: int = 0,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``function_score`` ``random_score`` mode: matched docs
    ranked by a SEEDED deterministic uniform in [0, 1) — same seed, same
    order, on any engine (the md5-derived h60 both the Spark side and the
    SQL oracle compute).  This is also the training-data sampler's "give
    me a reproducible random slice of the matches": top-k under a random
    score IS a uniform sample without replacement.

    Scale: the match set is sparse; the score is one hash expression —
    no RNG state, no shuffle beyond the ranking window."""
    m = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    return _random_score_epilogue(m, seed, k, round_dp)


def random_score_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    seed: int = 0,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`random_score_topk` with the match set from pruned index blocks."""
    return _random_score_epilogue(_indexed_scored(spark, idx, queries), seed, k, round_dp)


# ---------------------------------------------------------------------------
# constant_score / match_bool_prefix — the remaining ES query-DSL shapes.


def _constant_score_epilogue(
    m: DataFrame, boost: float, k: int
) -> DataFrame:
    hits = m.select("query_id", "doc_id").distinct().withColumn(
        "score", F.lit(float(boost))
    )
    return rank_topk(hits, k)


def constant_score_topk(
    docs: DataFrame,
    queries: DataFrame,
    boost: float = 1.0,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ES/Lucene ``constant_score`` query: every matched doc scores
    exactly ``boost`` — scoring machinery (tf, idf, norms) is bypassed.
    This is the filter-context-as-a-query shape users reach for when
    relevance must not influence ordering (ranking degrades to the
    doc_id tie-break, so the result set is a deterministic "first k
    matches"), and the cacheable building block Lucene rewrites
    multi-term queries into.

    Scale: matching is the same broadcast term join as BM25 but the plan
    DROPS the doc-stats join and the weight arithmetic — a match-only
    semi-join shape; the distinct is the usual sparse fine-keyed agg."""
    post = postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    m = post.join(F.broadcast(query_terms(queries, conf)), "term")
    return _constant_score_epilogue(m, boost, k)


def constant_score_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    boost: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """`constant_score_topk` off pruned posting blocks (match set only —
    the per-posting BM25 arithmetic in the shared kernel is spent, but no
    corpus table is touched at all)."""
    m = _indexed_scored(spark, idx, queries)
    return _constant_score_epilogue(m, boost, k)


def match_bool_prefix_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    max_expansions: int = 50,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``match_bool_prefix`` query — the other search-as-you-type
    shape: the input's LAST token is a term PREFIX, every earlier token an
    ordinary OR term clause (``match_phrase_prefix`` without the position
    constraint).  The prefix expands against the ANALYZED vocabulary
    capped at ``max_expansions`` in term order (the Lucene TermsEnum
    contract, shared with match_phrase_prefix); literal terms and
    expansions score disjunctively, each with its own idf, a term matched
    both literally and by expansion scoring once.

    Scale: the expansion is the prefix_bm25_topk broadcast-nested-loop
    over the vocab-sized dictionary; the cap bounds the scoring join's
    term set at queries × max_expansions rows — broadcastable by
    construction, unlike the uncapped prefix operator."""
    from igd_spark.search import _cap_expansions, _phrase_prefix_parts
    from igd_spark.tokenizer import _analyzer_pred

    cp = _corpus_parts(docs, None, conf, text_col, id_col)
    literals, prefixes, _ = _phrase_prefix_parts(queries, conf.token_split_re)
    pred = _analyzer_pred(conf.stopwords, conf.min_token_len)
    vocab = cp.post.select("term").filter(pred(F.col("term"))).distinct()
    exp = _cap_expansions(
        vocab.join(F.broadcast(prefixes), F.col("term").startswith(F.col("prefix"))),
        max_expansions,
    )
    qterms = (
        literals.select("query_id", "term")
        .unionByName(exp.select("query_id", "term"))
        .dropDuplicates(["query_id", "term"])
    )
    qt_idf = _idf_join(qterms, cp.ts, cp.n_docs)
    scored = _score_terms(cp.post, cp.ds, cp.avgdl, qt_idf, conf)
    return rank_topk(_maybe_round(scored, round_dp), k)


def match_bool_prefix_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    k: int = 10,
    max_expansions: int = 50,
    round_dp: int | None = None,
) -> DataFrame:
    """`match_bool_prefix_topk` over a persisted index: the prefix expands
    against the index dictionary (vocab-sized scan), then only the literal
    + expanded terms' blocks are read.  The expansion cap bounds the
    pruned-scan prologue's driver set at queries × max_expansions rows, so
    no separate expansion budget is needed."""
    from igd_spark.search import _cap_expansions, _phrase_prefix_parts

    literals, prefixes, _ = _phrase_prefix_parts(queries, idx.conf.token_split_re)
    exp = _cap_expansions(
        idx.dictionary.join(
            F.broadcast(prefixes), F.col("term").startswith(F.col("prefix"))
        ).select("query_id", "term", F.col("offset")),
        max_expansions,
    )
    qterms = (
        literals.select("query_id", "term")
        .unionByName(exp.select("query_id", "term"))
        .dropDuplicates(["query_id", "term"])
    )
    exp_local = _collect_expansion(
        spark, qterms, 65_536, "match_bool_prefix"
    )
    scored = _indexed_scored(spark, idx, queries, qterms=exp_local)
    return rank_topk(_maybe_round(scored, round_dp), k)


def exists_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    field: str,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``exists`` query as a filter context: BM25 top-k restricted
    to docs whose ``field`` is non-NULL (the "has metadata" guard every
    structured-search UI puts in front of retrieval).  A special case of
    `filtered_bm25_topk`, kept as its own surface because engines expose
    it as its own query type and because IS NOT NULL pushes to the parquet
    reader as a null-count stats prune — row groups that are all-NULL for
    the field are skipped without decoding."""
    return filtered_bm25_topk(
        docs, queries, F.col(field).isNotNull(), k=k, conf=conf,
        text_col=text_col, id_col=id_col, round_dp=round_dp,
    )


def exists_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    docs: DataFrame,
    field: str,
    k: int = 10,
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`exists_bm25_topk` over a persisted index: scores come from pruned
    postings blocks; the existence test is a one-column null-pruned scan
    of ``docs`` semi-joined below the score agg."""
    return filtered_bm25_topk_indexed(
        spark, idx, queries, docs, F.col(field).isNotNull(), k=k,
        id_col=id_col, round_dp=round_dp,
    )


def _ids_frame(spark, ids) -> DataFrame:
    if isinstance(ids, DataFrame):
        return ids.select(F.col(ids.columns[0]).cast("long").alias("doc_id"))
    ids = [int(i) for i in ids]
    if not ids:
        raise ValueError("ids must be a non-empty id list")
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def ids_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    ids,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """The ES ``ids`` query in filter context: BM25 top-k over an explicit
    candidate id list (re-rank a shortlist someone else produced — a
    vector retriever, an editorial set, a previous page).  ``ids`` is a
    Python list or a one-column DataFrame.  Corpus statistics stay global,
    like every filter.

    Scale: the id set broadcasts (it is query-sized by definition) and
    semi-joins the postings BELOW the score agg, so scoring work is
    O(|ids| x query terms), independent of corpus size."""
    allowed = _ids_frame(docs.sparkSession, ids)
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    post_f = cp.post.join(F.broadcast(allowed), "doc_id", "left_semi")
    scored = _score_terms(post_f, cp.ds, cp.avgdl, cp.qt_idf, conf)
    return rank_topk(_maybe_round(scored, round_dp), k)


def ids_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    ids,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`ids_bm25_topk` over a persisted index — the cheapest indexed
    filter there is: no docs-table scan at all, just the broadcast id set
    semi-joined against the pruned blocks."""
    allowed = _ids_frame(spark, ids)
    scored = _indexed_scored(spark, idx, queries, allowed=allowed)
    return rank_topk(_maybe_round(scored, round_dp), k)


def passage_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    chunk_tokens: int = 64,
    overlap: int = 16,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Passage retrieval (max-passage doc ranking) — the RAG / long-doc
    answer to "BM25 over whole transcripts drowns the needle": docs are
    split into fixed-size overlapping token windows (`chunk_documents`),
    each chunk scores as its own mini-document against CHUNK-level
    statistics (df over chunks, chunk avgdl — the standard passage-index
    design), a doc is represented by its BEST chunk (max score, chunk_id
    asc tie-break on the rounded score), and docs rank by that.  Output
    (query_id, rank, doc_id, chunk_id, score) — chunk_id tells the caller
    WHICH window to stuff into the prompt, which is the operator's whole
    point.

    Scale: chunking is a zero-shuffle JVM array transform; the chunk
    corpus is ~n_tokens/step rows per doc and scores through the exact
    same one-shuffle hash-agg plan as `exact_bm25_topk` (broadcast query
    terms); best-chunk + doc ranking are two windows over the query-sized
    scored set.  For repeated workloads, build a persisted index over the
    chunk frame (build_index accepts any (id, text) frame) and search that
    — this operator defines the semantics and the one-off path."""
    from pyspark.sql import types as _T

    from igd_spark.trainprep import chunk_documents

    id_type = docs.schema[id_col].dataType
    if not isinstance(id_type, (_T.LongType, _T.IntegerType, _T.ShortType)):
        raise ValueError(
            f"passage_bm25_topk needs an integral {id_col!r} (got "
            f"{id_type.simpleString()}): doc ids are reconstructed from the "
            f"composite chunk key with a long cast, which would silently "
            f"NULL string ids — hash them first (assign_doc_ids)"
        )
    chunks = chunk_documents(
        docs, chunk_tokens=chunk_tokens, overlap=overlap,
        text_col=text_col, id_col=id_col,
    )
    ck = chunks.select(
        F.concat_ws(
            "#", F.col("doc_id").cast("string"), F.col("chunk_id").cast("string")
        ).alias("ckey"),
        "chunk_text",
    )
    cp = _corpus_parts(ck, queries, conf, "chunk_text", "ckey")
    scored = _maybe_round(
        _score_terms(cp.post, cp.ds, cp.avgdl, cp.qt_idf, conf), round_dp
    )
    parts = F.split(F.col("doc_id"), "#")
    split_back = scored.select(
        "query_id",
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).cast("int").alias("chunk_id"),
        "score",
    )
    return _passage_epilogue(split_back, k)


def _passage_epilogue(scored: DataFrame, k: int) -> DataFrame:
    """Shared max-passage tail: (query_id, doc_id, chunk_id, score) chunk
    scores → best chunk per doc (score desc, chunk_id asc) → doc top-k
    (score desc, doc_id asc).  Both corpus and indexed passage paths end
    here, which is what their gate-enforced rank identity rests on."""
    wbest = Window.partitionBy("query_id", "doc_id").orderBy(
        F.desc("score"), F.asc("chunk_id")
    )
    best = (
        scored.withColumn("_rn", F.row_number().over(wbest))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    wrank = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        best.withColumn("rank", F.row_number().over(wrank).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "chunk_id", "score")
    )


def build_passage_index(
    spark,
    docs: DataFrame,
    path: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    resume: bool = False,
):
    """Persist the passage layout `passage_bm25_topk` defines: chunk the
    corpus once, give every chunk the content-addressed 60-bit id
    h60(doc_id#chunk_id), build the standard inverted index over the
    CHUNK corpus under ``<path>/chunks`` (stage-committed, resumable, the
    same lineage discipline as any build), and write the (cid, doc_id,
    chunk_id) mapping under ``<path>/chunkmap``.  Repeated passage
    workloads then prune posting blocks instead of re-chunking +
    re-tokenizing the corpus per query batch — the same persist-vs-rescan
    trade the reference's `.igd` exists for (src/igd_base.c:396-461).
    Returns the opened chunk-level InvertedIndex."""
    from igd_spark.hashing import h60_col
    from igd_spark.index import build_index
    from igd_spark.trainprep import chunk_documents

    chunks = chunk_documents(
        docs, chunk_tokens=chunk_tokens, overlap=overlap,
        text_col=text_col, id_col=id_col,
    )
    ck = chunks.select(
        h60_col(
            F.concat_ws(
                "#", F.col("doc_id").cast("string"),
                F.col("chunk_id").cast("string"),
            )
        ).alias("cid"),
        "doc_id",
        "chunk_id",
        "chunk_text",
    )
    import os

    # mirror build_index's existing-db guard BEFORE touching the chunkmap:
    # a refused rebuild must not leave a new map next to the old index
    # (stale cid -> (doc, chunk) resolution would be silently wrong)
    if not resume and os.path.exists(os.path.join(path, "chunks", "_meta.json")):
        raise FileExistsError(
            f"passage index already exists at {path}; pass resume=True"
        )
    mpath = f"{path}/chunkmap"
    if not (resume and _local_exists(mpath)):
        ck.select("cid", "doc_id", "chunk_id").write.mode("overwrite").parquet(mpath)
    return build_index(
        spark, ck, f"{path}/chunks", conf=conf, text_col="chunk_text",
        id_col="cid", resume=resume,
    )


def _local_exists(path: str) -> bool:
    """Local-filesystem existence probe — the same sandbox stand-in the
    index lineage markers use (index.py documents the parquet +
    atomic-rename mapping to Iceberg); on an object store, swap for the
    catalog/FileIO existence check alongside the rest of that mapping."""
    import os

    return os.path.exists(path)


def open_passage_index(spark, path: str):
    """(chunk InvertedIndex, chunkmap DataFrame) for a layout written by
    `build_passage_index`."""
    from igd_spark.index import open_index

    return open_index(spark, f"{path}/chunks"), spark.read.parquet(
        f"{path}/chunkmap"
    )


def passage_bm25_topk_indexed(
    spark,
    idx,
    chunkmap: DataFrame,
    queries: DataFrame,
    k: int = 10,
    round_dp: int | None = None,
) -> DataFrame:
    """`passage_bm25_topk` over a persisted passage index
    (`build_passage_index`): chunk scores come from pruned posting blocks
    (chunk-level df/dl/avgdl are the index's own stats, by construction),
    the (cid → doc_id, chunk_id) resolution is one fine-keyed join against
    the chunkmap table, and the shared max-passage epilogue ranks.  The
    corpus text is never in the plan.

    Scale: the scored set is match-set-sized (bounded by the query terms'
    chunk postings); the chunkmap join is a fine-key hash join AQE sizes
    on its own — at 100 TB the map is chunk-count rows of 3 integers,
    bucketable by cid if the join ever dominates."""
    scored = _maybe_round(_indexed_scored(spark, idx, queries), round_dp)
    cm = chunkmap.select(
        F.col("cid"),
        F.col("doc_id").alias("_pdoc"),
        F.col("chunk_id").alias("_pchunk"),
    )
    joined = scored.join(cm, scored["doc_id"] == cm["cid"]).select(
        "query_id",
        F.col("_pdoc").alias("doc_id"),
        F.col("_pchunk").alias("chunk_id"),
        "score",
    )
    return _passage_epilogue(joined, k)


# ---------------------------------------------------------------------------
# Analyzer-variant retrieval + pseudo-relevance feedback.


def stemmed_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """BM25 over the S-stemmed analyzer chain (Harman 1991): plural
    variants conflate into one index term ('table'/'tables' → 'table',
    'query'/'queries' → 'query'), so a query matches every inflection and
    df/dl/idf are computed over the STEMMED vocabulary — the Lucene
    analyzer contract (one analyzer, applied to both the corpus and the
    query side).

    Implementation: both sides' text is normalized to its stemmed token
    stream (`tokenizer.stem_text_col`) and handed to the unchanged exact
    scorer — stemmed tokens re-tokenize to themselves, so this IS BM25
    over stemmed postings with zero changes to the scoring kernel, the
    same seam the stopword analyzer uses.  Scale: adds one projection
    (per-token `when` chain, whole-stage codegen) ahead of the standard
    one-shuffle scoring plan."""
    from igd_spark.tokenizer import stem_text_col

    sd = docs.withColumn(text_col, stem_text_col(text_col))
    sq = queries.select(
        "query_id", stem_text_col("query_text").alias("query_text")
    )
    scored = bm25_scores(sd, sq, conf=conf, text_col=text_col, id_col=id_col)
    if round_dp is not None:
        scored = scored.withColumn("score", F.round("score", round_dp))
    return rank_topk(scored, k)


def prf_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 5,
    orig_weight: float = 0.6,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Pseudo-relevance feedback (the RM3 shape, Lavrenko & Croft 2001 /
    Abdul-Jaleel et al. 2004): run the query, assume the top ``fb_docs``
    are relevant, estimate a relevance model from them, and re-score with
    the interpolated expanded query.

    Deterministic spec (everything tie-broken and rounded so two engines
    agree):

    1. First pass: exact BM25; feedback set = top ``fb_docs`` per query
       on (round(score, 6) desc, doc_id asc).
    2. Relevance model: w(t|q) = Σ_{d ∈ fb} tf(t, d) / dl(d) (the uniform-
       prior MLE over the feedback docs).  Original query terms are
       excluded; the top ``fb_terms`` survive on (w desc, term asc) and
       are normalized to Σ = 1.
    3. Expanded query: each ORIGINAL term carries weight
       orig_weight / |q_terms|; each feedback term carries
       (1 − orig_weight) · w_norm.  Second pass scores
       Σ_t weight_t · bm25_t(d) over the expanded term set and ranks
       top-k on the rounded score.

    Output (query_id, rank, doc_id, score).  A query with no feedback
    docs (zero first-pass hits) produces no rows — no hits means no
    evidence to expand from.

    Scale: two passes of the standard sparse scoring plan (postings ⋈
    broadcast query terms); the feedback-doc set is (queries × fb_docs)
    rows and the expanded term table (queries × (|q| + fb_terms)) rows —
    both broadcast-sized by construction; the relevance-model estimation
    joins postings against the TINY feedback-doc set (semi-join-shaped,
    never corpus-wide)."""
    if fb_docs <= 0 or fb_terms < 0:
        raise ValueError(
            f"need fb_docs > 0 and fb_terms >= 0, got ({fb_docs}, {fb_terms})"
        )
    if not 0.0 < orig_weight <= 1.0:
        raise ValueError(f"orig_weight must be in (0, 1], got {orig_weight}")
    cp = _corpus_parts(docs, queries, conf, text_col, id_col)
    post, ds, qt = cp.post, cp.ds, cp.qt

    def _pass(qterms: DataFrame) -> DataFrame:
        """(query_id, term, weight) → weighted per-doc BM25 sum."""
        qd = _idf_join(qterms, cp.ts, cp.n_docs)
        sc = (
            post.join(
                F.broadcast(qd.select("query_id", "term", "idf", "weight")),
                "term",
            )
            .join(ds, "doc_id")
        )
        w = bm25_weight_col(F.col("idf"), "tf", "dl", cp.avgdl, conf.k1, conf.b)
        return sc.groupBy("query_id", "doc_id").agg(
            F.sum(w * F.col("weight")).alias("score")
        )

    # pass 1: uniform weights (plain BM25), rounded rank, feedback set
    s1 = _pass(qt.withColumn("weight", F.lit(1.0))).withColumn(
        "score", F.round("score", 6)
    )
    wfb = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    fb = (
        s1.withColumn("rn", F.row_number().over(wfb))
        .filter(F.col("rn") <= int(fb_docs))
        .select("query_id", "doc_id")
    )
    # relevance model over the feedback docs, original terms excluded
    rm = (
        post.join(fb, "doc_id")
        .join(ds, "doc_id")
        .groupBy("query_id", "term")
        # rounded to 9 dp before ranking: the sum's association order is
        # engine-dependent and the fb_terms cutoff must not flip on a ulp
        .agg(F.round(F.sum(F.col("tf") / F.col("dl")), 9).alias("w"))
        .join(qt.withColumn("orig", F.lit(1)), ["query_id", "term"], "left_anti")
    )
    wrm = Window.partitionBy("query_id").orderBy(F.desc("w"), F.asc("term"))
    sel = (
        rm.withColumn("rn", F.row_number().over(wrm))
        .filter(F.col("rn") <= int(fb_terms))
    )
    wsum = Window.partitionBy("query_id")
    fb_terms_df = sel.select(
        "query_id",
        "term",
        (
            F.lit(1.0 - orig_weight) * F.col("w") / F.sum("w").over(wsum)
        ).alias("weight"),
    )
    n_orig = qt.groupBy("query_id").agg(F.count("*").alias("nq"))
    orig_terms_df = qt.join(F.broadcast(n_orig), "query_id").select(
        "query_id",
        "term",
        (F.lit(float(orig_weight)) / F.col("nq")).alias("weight"),
    )
    expanded = orig_terms_df.unionByName(fb_terms_df)
    s2 = _pass(expanded)
    if round_dp is not None:
        s2 = s2.withColumn("score", F.round("score", round_dp))
    return rank_topk(s2, k)


def proximity_bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    prox_weight: float = 2.0,
    conf: IndexConf = DEFAULT_CONF,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """Term-proximity-boosted BM25 (the MinDist feature of Tao & Zhai
    2007, "An exploration of proximity measures in information
    retrieval"): documents where the query's terms occur CLOSE TOGETHER
    outrank bag-of-words ties —

        score(d, q) = bm25(d, q)
                    + prox_weight · Σ_{pairs a<b ⊆ q, both in d}
                          1 / (1 + mindist_ab(d))

    where mindist is the smallest absolute token-position gap between any
    occurrence of a and any occurrence of b.  Single-term queries and
    docs holding only one of a pair's terms contribute no boost (pure
    BM25 falls out).  Deterministic: the boost is exact arithmetic over
    integer positions; ranking on the rounded sum, (score desc, doc_id
    asc).

    Scale: positions for QUERY terms only (broadcast semi-join against
    the positional stream — the same pruned slice every span operator
    reads); the pair join is per (query, doc) between two position lists
    bounded by per-doc term frequency; min/sum are map-side combinable.
    At 10^12 turns this rides the persisted positional index exactly like
    phrase/NEAR (`_pruned_position_blocks`) — the corpus variant here is
    the one-off/streaming shape."""
    from igd_spark.search import positional_postings

    if prox_weight < 0.0:
        raise ValueError(f"prox_weight must be >= 0, got {prox_weight}")
    base = bm25_scores(docs, queries, conf=conf, text_col=text_col, id_col=id_col)
    qt = query_terms(queries, conf)
    pp = positional_postings(docs, text_col=text_col, id_col=id_col, conf=conf)
    qpos = pp.join(
        F.broadcast(qt.select("query_id", "term").distinct()), "term"
    ).select("query_id", "doc_id", "term", "pos")
    return _prox_epilogue(base, qpos, prox_weight, k, round_dp)


def _prox_epilogue(
    base: DataFrame,
    qpos: DataFrame,
    prox_weight: float,
    k: int,
    round_dp: int | None,
) -> DataFrame:
    """Shared MinDist boost: ``base`` = (query_id, doc_id, score) BM25,
    ``qpos`` = (query_id, doc_id, term, pos) positions of QUERY terms
    only — identical arithmetic for the corpus and indexed paths."""
    a, b = qpos.alias("a"), qpos.alias("b")
    dmin = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.query_id").alias("query_id"),
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.term").alias("t1"),
            F.col("b.term").alias("t2"),
        )
        .agg(F.min(F.abs(F.col("a.pos") - F.col("b.pos"))).alias("dmin"))
    )
    prox = dmin.groupBy("query_id", "doc_id").agg(
        F.sum(F.lit(1.0) / (F.lit(1.0) + F.col("dmin"))).alias("prox")
    )
    out = base.join(prox, ["query_id", "doc_id"], "left").select(
        "query_id",
        "doc_id",
        (
            F.col("score")
            + F.lit(float(prox_weight)) * F.coalesce(F.col("prox"), F.lit(0.0))
        ).alias("score"),
    )
    if round_dp is not None:
        out = out.withColumn("score", F.round("score", round_dp))
    return rank_topk(out, k)


def proximity_bm25_topk_indexed(
    spark,
    idx,
    queries: DataFrame,
    k: int = 10,
    prox_weight: float = 2.0,
    round_dp: int | None = None,
) -> DataFrame:
    """`proximity_bm25_topk` off the persisted index: BM25 from pruned
    posting blocks (`_indexed_scored`) and positions from the pruned
    positional blocks (`positional_enumerate`) — only the query terms'
    blocks are read on either side; the corpus text is never in the
    plan."""
    from igd_spark.search import positional_enumerate

    if prox_weight < 0.0:
        raise ValueError(f"prox_weight must be >= 0, got {prox_weight}")
    base = _indexed_scored(spark, idx, queries)
    qt = query_terms(queries, idx.conf)
    qpos = positional_enumerate(spark, idx, queries, terms=qt).select(
        "query_id", "doc_id", "term", "pos"
    )
    return _prox_epilogue(base, qpos, prox_weight, k, round_dp)


def prf_bm25_topk_indexed(
    spark,
    idx,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 5,
    orig_weight: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int | None = None,
) -> DataFrame:
    """`prf_bm25_topk` off the persisted index.  Pass 1 scores from
    pruned posting blocks (`_indexed_scored`); the relevance model
    re-analyzes ONLY the feedback documents (queries × fb_docs rows —
    the significant_text hits-re-analysis contract, so the corpus text
    is read for feedback docs alone); pass 2 re-scores through the same
    pruned-block join with the RM3 interpolation weights folded into the
    per-(query, term) idf (the `qidf` seam — sound because the BM25
    summand is linear in idf).  Rank-identical to the corpus variant by
    construction: same floors, same 9-dp relevance-model rounding, same
    tie-breaks."""
    from igd_spark.stats import doc_stats as _ds_fn

    if fb_docs <= 0 or fb_terms < 0:
        raise ValueError(
            f"need fb_docs > 0 and fb_terms >= 0, got ({fb_docs}, {fb_terms})"
        )
    if not 0.0 < orig_weight <= 1.0:
        raise ValueError(f"orig_weight must be in (0, 1], got {orig_weight}")
    qt = query_terms(queries, idx.conf)
    s1 = _indexed_scored(spark, idx, queries).withColumn(
        "score", F.round("score", 6)
    )
    wfb = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    fb = (
        s1.withColumn("rn", F.row_number().over(wfb))
        .filter(F.col("rn") <= int(fb_docs))
        .select("query_id", "doc_id")
    )
    fb_ids = fb.select("doc_id").distinct()
    fbd = docs.join(
        fb_ids.withColumnRenamed("doc_id", "_fid"),
        docs[id_col] == F.col("_fid"),
        "left_semi",
    )
    post_fb = postings(fbd, text_col=text_col, id_col=id_col, conf=idx.conf)
    ds_fb = _ds_fn(fbd, text_col=text_col, id_col=id_col, conf=idx.conf)
    rm = (
        post_fb.join(fb, "doc_id")
        .join(ds_fb.select("doc_id", "dl"), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.round(F.sum(F.col("tf") / F.col("dl")), 9).alias("w"))
        .join(qt, ["query_id", "term"], "left_anti")
    )
    wrm = Window.partitionBy("query_id").orderBy(F.desc("w"), F.asc("term"))
    sel = rm.withColumn("rn", F.row_number().over(wrm)).filter(
        F.col("rn") <= int(fb_terms)
    )
    wsum = Window.partitionBy("query_id")
    fbw = sel.select(
        "query_id",
        "term",
        (F.lit(1.0 - orig_weight) * F.col("w") / F.sum("w").over(wsum)).alias(
            "weight"
        ),
    )
    n_orig = qt.groupBy("query_id").agg(F.count("*").alias("nq"))
    ow = qt.join(F.broadcast(n_orig), "query_id").select(
        "query_id",
        "term",
        (F.lit(float(orig_weight)) / F.col("nq")).alias("weight"),
    )
    expanded = ow.unionByName(fbw)
    qidf = (
        idx.dictionary.join(
            F.broadcast(expanded), "term"
        ).select(
            "query_id",
            "term",
            (idf_col(idx.n_docs, "df") * F.col("weight")).alias("idf"),
        )
    )
    s2 = _indexed_scored(
        spark, idx, queries,
        qterms=expanded.select("query_id", "term"), qidf=qidf,
    )
    if round_dp is not None:
        s2 = s2.withColumn("score", F.round("score", round_dp))
    return rank_topk(s2, k)
